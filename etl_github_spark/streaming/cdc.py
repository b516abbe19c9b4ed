"""Change-data-capture apply: stream a (op, key, payload, seq) change
log into the lakehouse table with exactly-once semantics.

`stream_merge_sink` handles the upsert-only world; real CDC feeds
(Debezium-shaped) also carry DELETES and per-key ordering, and applying
them naively breaks in four ways this module exists to prevent:

* intra-batch ordering — a batch may hold I→U→D for one key; only the
  LATEST op per key (by the monotone ``seq``) may apply, and an earlier
  update must never resurrect a later delete;
* delete semantics — a tombstone must remove the row (and a tombstone
  for an absent key is a no-op, not an error);
* redelivery — the checkpoint re-hands a crashed batch to
  ``foreachBatch``; merge and delete are both idempotent under re-apply,
  so at-least-once delivery still yields exactly-once table state;
* partition-changing updates — an update may move a row to a NEW
  partition value, and a partition-pruned merge would leave the stale
  copy alive in the old one. The default apply scope is key-wide
  (purge-then-merge); ``partition_stable=True`` opts into the pruned
  fast path when the layout guarantees keys never move.

Scale shape: each micro-batch collapses to one row per key (window over
the batch, which is small by definition), then applies ONE fused
partition-pruned COW cycle (victim discovery → survivor set → dynamic
partition overwrite) — cost bounded by the partitions the batch
touches, never the table.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..io.sink import cluster_for_write

#: change-log op codes (Debezium-style: create/update collapse to upsert)
UPSERT_OPS = ("I", "U")
DELETE_OP = "D"


def _latest_per_key(batch_df: DataFrame, key_cols, seq_col: str) -> DataFrame:
    """Collapse a change batch to its latest row per key (by the
    monotone ``seq``), materialized once — the batch feeds several
    downstream actions and would otherwise re-shuffle per action.

    Two change rows for the same key carrying the SAME winning seq is
    an upstream contract violation (the change-log seq is the total
    order): picking either silently would make the applied table state
    run-dependent, so it raises instead — the same conflicting-batch
    guard :func:`~etl_github_spark.io.sink.scd2_apply` applies. Both
    window specs share the key partitioning, so the probe costs no
    extra shuffle."""
    wk = Window.partitionBy(*key_cols)
    w = wk.orderBy(F.desc(seq_col))
    top_dups = F.sum(
        (F.col(seq_col) == F.max(seq_col).over(wk)).cast("int")
    ).over(wk)
    latest = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__top_dups", top_dups)
        .where(F.col("__rn") == 1)
        .localCheckpoint()
    )
    clash = latest.where(F.col("__top_dups") > 1).limit(1).collect()
    if clash:
        key_vals = {c: clash[0][c] for c in key_cols}
        raise ValueError(
            f"cdc batch has multiple change rows with the same winning "
            f"{seq_col} for key {key_vals!r}; the change-log sequence "
            "must totally order intra-key changes"
        )
    return latest.drop("__rn", "__top_dups")


def _has_data(path: str) -> bool:
    """True when the table dir holds at least one non-artifact entry
    (underscore = committer markers, dot = local-FS checksum files)."""
    return os.path.isdir(path) and any(
        not e.startswith(("_", ".")) for e in os.listdir(path)
    )


def apply_cdc_batch(
    batch_df: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    partition_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
    partition_stable: bool = False,
) -> None:
    """Apply one change-log batch to the table at ``path``.

    Collapses to the latest op per key, then deletes tombstoned keys
    and merges surviving upserts (payload columns = everything except
    the op/seq bookkeeping). Idempotent: re-applying the same batch
    leaves the table unchanged.

    ``partition_stable`` picks the supersede scope. The DEFAULT
    (False) is key-wide and always correct: an update may CHANGE the
    partition column (Debezium updates can touch any column), so stale
    copies of the key are removed from EVERY partition (a scan to find
    victims — the rewrite stays pruned) before the merge, and
    tombstones likewise hunt the key wherever it lives. When the
    caller can guarantee the partition value is an immutable function
    of the key (the usual event-time layout), ``partition_stable=True``
    skips the victim scan and applies everything partition-pruned —
    the cheap path, opted into rather than silently assumed.
    """
    if not batch_df.columns:
        return
    latest = _latest_per_key(batch_df, key_cols, seq_col)
    ups = latest.where(F.col(op_col).isin(*UPSERT_OPS)).drop(op_col, seq_col)
    spark = batch_df.sparkSession
    if not _has_data(path):
        # first batch bootstraps the table from the upserts alone
        # (overwrite, not errorifexists: a crashed first attempt may
        # have left an artifact-only dir — same rule as stream_merge_sink)
        ups.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        return
    # FUSED apply (r13, guide §2.4 "remove shuffles outright" / §1.2
    # step 1): tombstone delete, key-wide supersede and merge previously
    # ran as up to THREE separate COW cycles per batch (each with its
    # own victim scan, emptiness probes, counts and rewrite — ~13 jobs,
    # the affected partitions read and rewritten up to three times).
    # One change batch is one logical transformation of the affected
    # partitions, so compute the survivor set once and rewrite once.
    # Semantics are unchanged and remain idempotent: only the latest op
    # per key applies, a tombstone removes the key wherever it lives, an
    # upsert replaces every prior copy of its key (partition-moving
    # updates lose their stale copy because the OLD partition is in the
    # affected set), absent-key deletes are no-ops, and re-applying the
    # same batch deletes-then-reinserts identical rows (a fixpoint).
    victims = latest.select(*key_cols).distinct()  # tombstoned ∪ superseded
    if partition_stable:
        # layout guarantees keys never move: the batch's own partition
        # values bound the rewrite — no victim scan needed.
        parts_df = latest.select(partition_col).distinct()
    else:
        # key-wide: find every partition any batch key currently lives
        # in (one pruned scan, victims broadcast), plus the partitions
        # the upserts land in.
        hit = (
            spark.read.parquet(path)
            .join(F.broadcast(victims), list(key_cols))
            .select(partition_col)
        )
        parts_df = hit.unionByName(ups.select(partition_col)).distinct()
    parts = [r[0] for r in parts_df.collect()]
    if not parts:
        return  # no key present anywhere, nothing to insert
    current = spark.read.parquet(path).where(F.col(partition_col).isin(parts))
    keep = current.join(F.broadcast(victims), list(key_cols), "left_anti")
    merged = keep.unionByName(ups.select(*keep.columns))
    # Dynamic overwrite only replaces partitions PRESENT in `merged`; a
    # partition whose every row was deleted must be removed explicitly.
    # Partition values can surface
    # as date objects on the read path but strings on the request path —
    # compare by directory-name form.
    kept_parts = {
        str(r[0]) for r in merged.select(partition_col).distinct().collect()
    }
    (
        cluster_for_write(merged, (partition_col,), key_cols[0])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    for p in parts:
        if str(p) not in kept_parts:
            shutil.rmtree(
                Path(path) / f"{partition_col}={p}", ignore_errors=True
            )


def stream_cdc_apply(
    changes: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...],
    partition_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
    partition_stable: bool = False,
) -> StreamingQuery:
    """Run the change-log stream into the table via ``foreachBatch``.

    ``Trigger.AvailableNow`` drains the backlog then stops — the same
    backfill-then-steady-state contract as the ingest pipeline; a
    long-lived deployment swaps in a processing-time trigger unchanged.
    See :func:`apply_cdc_batch` for the ``partition_stable`` contract
    (default handles partition-changing updates correctly).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            batch_df,
            path,
            key_cols,
            partition_col,
            seq_col=seq_col,
            op_col=op_col,
            partition_stable=partition_stable,
        )

    return (
        changes.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_scd2_sink(
    changes: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_col: str,
    attr_cols: tuple[str, ...],
    seq_col: str = "seq",
) -> StreamingQuery:
    """Stream attribute updates into an SCD Type 2 dimension: every
    micro-batch collapses to the latest value per key (by ``seq``) and
    folds through :func:`~etl_github_spark.io.sink.scd2_apply`, so the
    dimension accumulates FULL HISTORY as the stream flows — the
    slowly-changing-dimension maintenance loop (customer tier changes,
    catalog recategorizations) as a checkpointed streaming job.

    The version stamp is the batch's max ``seq`` — derived from the
    DATA, not the batch id, so a redelivered batch stamps identically
    and scd2_apply's unchanged-value no-op rule makes the re-apply
    idempotent (exactly-once history on at-least-once delivery).
    """
    from ..io.sink import scd2_apply

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        from ..io.sink import recover_table

        # repair any crashed scd2_apply swap BEFORE probing emptiness: a
        # crash between its two renames leaves the live dir absent with
        # the only copy in __old — bootstrapping over that would destroy
        # the accumulated history on redelivery
        recover_table(path)
        latest = _latest_per_key(batch_df, (key_col,), seq_col)
        head = latest.agg(F.max(seq_col).alias("v")).first()
        if head["v"] is None:
            return  # batch held only null seqs — nothing stampable
        ups = latest.select(key_col, *attr_cols)
        if not _has_data(path):
            boot = (
                ups.withColumn("valid_from", F.lit(int(head["v"])).cast("long"))
                .withColumn("valid_to", F.lit(None).cast("long"))
                .withColumn("is_current", F.lit(1))
            )
            boot.write.mode("overwrite").parquet(path)
            return
        scd2_apply(
            latest.sparkSession, path, ups, key_col, attr_cols, version=int(head["v"])
        )

    return (
        changes.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
