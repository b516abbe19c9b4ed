"""Change-data-capture apply: stream a (op, key, payload, seq) change
log into a Delta table with exactly-once semantics.

An upsert-only feed is the special case whose ops are all ``I``/``U``;
real CDC feeds (Debezium-shaped) also carry DELETES and per-key
ordering, and applying them naively breaks in four ways this module
exists to prevent:

* intra-batch ordering — a batch may hold I→U→D for one key; only the
  LATEST op per key (by the monotone ``seq``) may apply, and an earlier
  update must never resurrect a later delete;
* delete semantics — a tombstone must remove the row (and a tombstone
  for an absent key is a no-op, not an error);
* redelivery — the checkpoint re-hands a crashed batch to
  ``foreachBatch``; merge and delete are both idempotent under re-apply,
  so at-least-once delivery still yields exactly-once table state;
* partition-changing updates — an update may move a row to a NEW
  partition value; the merge's key scan spans every partition, so the
  stale copy in the old one is DV-deleted with the rest.

Scale shape: each micro-batch collapses to one row per key (window over
the batch, which is small by definition), then applies as ONE Delta
commit through :func:`~etl_github_spark.io.delta_log.merge_delta_dv`
(upserts as the merge source, tombstones as its ``deletes``) — cost
O(batch + matching rows), no data file rewritten. The SCD2 dimension
apply lives here too and commits the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..io.delta_log import _next_version, merge_delta_dv, read_delta, write_delta

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
    guard :func:`scd2_apply` applies. Both
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


def apply_cdc_batch(
    batch_df: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    partition_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Apply one change-log batch to the Delta table at ``path``.

    Collapses to the latest op per key; the surviving upserts (payload
    columns = everything except the op/seq bookkeeping) are the merge
    source and the tombstoned keys its ``deletes``, so the whole batch
    is ONE commit. The key scan spans every partition: an upsert
    replaces each live copy of its key wherever it lives (a
    partition-moving update leaves no stale copy) and a tombstone
    removes the key everywhere. Idempotent: re-applying the same batch
    leaves the table's rows unchanged. The first batch on a path with
    no committed version creates the table from its upserts alone,
    partitioned by ``partition_col``.
    """
    if not batch_df.columns:
        return
    latest = _latest_per_key(batch_df, key_cols, seq_col)
    ups = latest.where(F.col(op_col).isin(*UPSERT_OPS)).drop(op_col, seq_col)
    if _next_version(path) == 0:
        write_delta(ups, path, partition_by=(partition_col,))
        return
    merge_delta_dv(
        batch_df.sparkSession,
        path,
        ups,
        on=key_cols,
        deletes=latest.where(F.col(op_col) == DELETE_OP),
    )


def stream_cdc_apply(
    changes: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...],
    partition_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> StreamingQuery:
    """Run the change-log stream into the table via ``foreachBatch``.

    ``Trigger.AvailableNow`` drains the backlog then stops — the same
    backfill-then-steady-state contract as the ingest pipeline; a
    long-lived deployment swaps in a processing-time trigger unchanged.
    Each micro-batch is one :func:`apply_cdc_batch` commit.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            batch_df, path, key_cols, partition_col, seq_col=seq_col, op_col=op_col
        )

    return (
        changes.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def scd2_apply(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    attr_cols: tuple[str, ...],
    version: int,
) -> dict:
    """Slowly-Changing-Dimension Type 2 apply: fold an attribute-update
    batch into a versioned Delta dimension table that keeps FULL
    HISTORY — each key carries one ``is_current=1`` row plus a closed
    row per past value, bounded by ``valid_from``/``valid_to`` version
    stamps. An update must CLOSE the current row (set valid_to, drop
    currency) *and* INSERT the new one, while an update that matches
    the current attributes exactly must be a NO-OP (idempotent
    re-sends and unchanged-value churn don't bloat history).

    Table layout: ``key, attrs…, valid_from, valid_to (NULL = open),
    is_current``. A batch key with NO open row is a brand-new
    dimension member: it inserts a current row (nothing to close).
    The closed versions of the changed open rows plus the new open
    rows are applied as ONE :func:`merge_delta_dv` on
    ``(key_col, "valid_from")``: each closing row replaces its open
    row through a deletion vector, each new row is an insert — cost
    O(batch + changed rows), one commit, no dimension rewrite. A batch
    that changes nothing commits nothing.

    Returns {"closed": n, "inserted": n} for audit logs (new keys count
    as inserted, not closed).
    """
    cur = read_delta(spark, path)
    up = updates.select(key_col, *attr_cols).distinct()
    dup = up.groupBy(key_col).count().where(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"scd2_apply: conflicting attribute rows for key "
            f"{dup[0][0]!r} in one batch; resolve to one value per key first"
        )
    open_rows = cur.where(F.col("is_current") == 1).select(
        key_col, *[F.col(a).alias(f"__cur_{a}") for a in attr_cols], "valid_from"
    )
    # changed = no open row (brand-new member) or an attribute differs;
    # materialized once: feeds the guard and both halves of the source
    changed_pred = F.col("valid_from").isNull()
    for a in attr_cols:
        changed_pred = changed_pred | ~F.col(a).eqNullSafe(F.col(f"__cur_{a}"))
    changed = up.join(open_rows, key_col, "left").where(changed_pred).localCheckpoint()
    # version-regression guard: closing an open row stamped at
    # valid_from >= version would write valid_to <= valid_from — a
    # silently corrupt history interval. The streaming path orders
    # batches via the checkpoint, so this only trips direct callers
    # replaying an out-of-order (or same-version, different-attrs)
    # batch; raise rather than corrupt.
    stale = changed.where(F.col("valid_from") >= version).limit(1).collect()
    if stale:
        raise ValueError(
            f"scd2_apply: version {version} is not after the open row for "
            f"key {stale[0][key_col]!r} (valid_from="
            f"{stale[0]['valid_from']}); batches must be applied in "
            "increasing version order"
        )
    to_close = changed.where(F.col("valid_from").isNotNull()).select(
        key_col,
        *[F.col(f"__cur_{a}").alias(a) for a in attr_cols],
        "valid_from",
        F.lit(version).cast("long").alias("valid_to"),
        F.lit(0).alias("is_current"),
    )
    opened = changed.select(
        key_col,
        *attr_cols,
        F.lit(version).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    out = merge_delta_dv(
        spark, path, to_close.unionByName(opened), on=(key_col, "valid_from")
    )
    return {"closed": out["updated"], "inserted": out["inserted"]}


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
    folds through :func:`scd2_apply`, so the dimension accumulates
    FULL HISTORY as the stream flows — the slowly-changing-dimension
    maintenance loop (customer tier changes, catalog recategorizations)
    as a checkpointed streaming job. The first batch on a path with no
    committed version creates the Delta table with every key open.

    The version stamp is the batch's max ``seq`` — derived from the
    DATA, not the batch id, so a redelivered batch stamps identically
    and scd2_apply's unchanged-value no-op rule makes the re-apply
    idempotent (exactly-once history on at-least-once delivery).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        latest = _latest_per_key(batch_df, (key_col,), seq_col)
        head = latest.agg(F.max(seq_col).alias("v")).first()
        if head["v"] is None:
            return  # batch held only null seqs — nothing stampable
        ups = latest.select(key_col, *attr_cols)
        if _next_version(path) == 0:
            boot = (
                ups.withColumn("valid_from", F.lit(int(head["v"])).cast("long"))
                .withColumn("valid_to", F.lit(None).cast("long"))
                .withColumn("is_current", F.lit(1))
            )
            write_delta(boot, path)
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
