"""Lakehouse sinks: date-partitioned append/overwrite + compaction + vacuum.

The reference writes Delta tables via ``write_deltalake(mode="append",
partition_by="date")``, rewrites query results wholesale, and compacts +
vacuums after each batch (preprocess.py:165-206,226-230). Spark-side the
same contract is ``df.write.mode(...).partitionBy("date")`` over Parquet:
delta-spark is not installable in this environment (see ARCHITECTURE.md
§storage), so the storage layer is Parquet-only by design — same layout,
same append/overwrite semantics; the ``_delta_log`` transaction features
degrade to directory semantics, with :func:`vacuum_table` providing the
``vacuum(retention_hours=0)`` analog (orphan staging-artifact reaping).

The reference's append+retry design can double-append on retry
(preprocess.py:261; SURVEY.md §7 risk register); Spark task retries plus
atomic job commit make a single ``write`` per batch idempotent-safe, so
no retry loop appears here by design.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_FORMAT = "parquet"

# Suffixes of staging directories produced by compact_table's two-phase
# rewrite; a crash between phases leaves one behind for vacuum to reap.
_STAGING_SUFFIXES = ("__compacting", "__old")


def cluster_for_write(
    df: DataFrame, part_cols: tuple[str, ...], id_col: str
) -> DataFrame:
    """Cluster rows by the write-partition column(s) (salted by a hash
    of ``id_col``) before a ``partitionBy`` sink, so output file count
    tracks DATA VOLUME instead of ``tasks × partition-values`` (guide
    §6 "coalesce on write"): a W-task upstream frame otherwise writes
    up to W files into EVERY partition directory. The keyed repartition
    has no explicit count, so AQE coalesces the exchange by bytes — at
    fixture scale one or two write tasks (one file per partition dir);
    at 100 TB the ``pmod(xxhash64(id), defaultParallelism)`` salt keeps
    partition-value × salt keys spread so no single writer owns a whole
    partition (guide §2.5 synthetic-key spread). Layout-only: readers
    see the same rows. Shared by the lakehouse COW rewrites here and
    both persisted index stores (io/lsh_store, io/ivf_store)."""
    from pyspark.sql import functions as F

    w = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(
        *[F.col(c) for c in part_cols], F.pmod(F.xxhash64(id_col), F.lit(w))
    )


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = ("date",),
) -> None:
    """Append/overwrite a date-partitioned table (S4/S6)."""
    w = df.write.format(_FORMAT).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Delta/Parquet-layout table scan (S5)."""
    return spark.read.format(_FORMAT).load(path)


def read_table_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-aware scan: `mergeSchema` unions the columns of
    every file footer so a table whose later appends ADDED columns reads
    as one frame (missing values null) — the Delta `mergeSchema=true`
    behavior on the parquet layout. Costs a footer read per file at
    planning time; use the plain scan when the schema is known-stable.
    Column REMOVAL/retyping still needs a rewrite (compact_table) —
    same as Delta, which only auto-merges additive changes.
    """
    return spark.read.option("mergeSchema", "true").format(_FORMAT).load(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed managed-table writer: pre-shuffles once so later equi-joins
    and aggregations on ``bucket_cols`` are shuffle-free — the 100 TB
    answer to repeated fact-fact joins (e.g. lineitem ⋈ orders on the
    order key)."""
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_table_sorted(
    df: DataFrame,
    path: str,
    sort_cols: tuple[str, ...],
    n_files: int | None = None,
) -> None:
    """Range-clustered writer: global range partitioning on
    ``sort_cols`` + a sort within each output task, so every parquet
    file (and row group) covers a narrow, disjoint key range.

    Parquet footers store per-column min/max; a reader filtering on the
    sort key then skips every file whose range misses the predicate —
    at 100 TB this is the difference between scanning the lake and
    scanning a handful of files (the Delta Z-ORDER intent, single-key
    form, with no table format required). Cost: one range-exchange at
    write time, amortized over every subsequent selective read.
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def merge_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_col: str = "date",
) -> None:
    """Copy-on-write MERGE (upsert): rows matching ``key_cols`` are
    replaced by ``updates``, new keys are inserted — the one lakehouse
    verb append/overwrite can't express (a Delta ``MERGE INTO`` analog
    for the Parquet layout).

    Scale shape: only the partitions *touched by the updates* are read
    and rewritten. The affected-partition list is a tiny driver collect
    (distinct partition values of the update batch — bounded by the
    batch, not the table); the anti-join removes superseded rows within
    those partitions only, and the write uses dynamic partition
    overwrite so untouched partitions' files are never listed, read, or
    replaced. Cost is O(|affected partitions|), not O(|table|) — at
    100 TB with daily partitions and an hourly update batch, that is
    the difference between rewriting gigabytes and rewriting the lake.
    """
    from pyspark.sql import functions as F

    # MERGE semantics: multiple update rows for one key is ambiguous
    # (Delta's MERGE errors on multiple matches; silently inserting every
    # copy would duplicate keys). Callers with versioned batches collapse
    # to latest-per-key first (stream_merge_sink does).
    dup = (
        updates.groupBy(*key_cols)
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"merge_table: updates batch has multiple rows for key "
            f"{dict(zip(key_cols, dup[0][:-1]))}; collapse to one row per "
            f"key (e.g. latest version) before merging"
        )
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    current = spark.read.parquet(path).where(F.col(partition_col).isin(parts))
    keep = current.join(
        updates.select(*key_cols).distinct(), list(key_cols), "left_anti"
    )
    merged = keep.unionByName(updates.select(*keep.columns))
    (
        cluster_for_write(merged, (partition_col,), key_cols[0])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def compact_table(
    spark: SparkSession,
    path: str,
    max_records_per_file: int = 50_000_000,
    zorder_cols: tuple[str, ...] = (),
) -> None:
    """Small-file compaction (S7, preprocess.py:199-206).

    Hourly appends create 24 small files/day — at 100 TB an uncompacted
    table turns scans into metadata storms, which is exactly why the
    reference compacts after every ingest batch (Delta OPTIMIZE there;
    coalesced rewrite here).

    ``repartition("date")`` hash-clusters each date partition into one
    task (dates spread across ``spark.sql.shuffle.partitions`` tasks, so
    a year of dates compacts in parallel), and ``maxRecordsPerFile``
    splits any oversized date back into bounded files — per-partition
    file-count control without funnelling the whole table through one
    task. The swap is rename-aside (old → ``__old``, new → live, reap
    old): the table path is missing only between two metadata renames,
    not for the whole rewrite. A crash mid-swap leaves a ``__old`` /
    ``__compacting`` staging dir that :func:`vacuum_table` reaps.

    ``zorder_cols`` re-clusters rows within each date partition by the
    Morton key while compacting (the Delta ``OPTIMIZE ZORDER BY`` combo:
    one rewrite buys both fewer files and multi-column footer-stat
    pruning) — the write already rewrites every row, so the clustering
    sort is marginal cost.
    """
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    # Recover from a prior crashed compaction BEFORE starting: a stale
    # __old would make shutil.move(path, old) nest the live table INSIDE
    # it (shutil.move into an existing dir is a move-into, not a
    # replace), corrupting the layout; a stale __compacting is an
    # incomplete rewrite and is always safe to discard.
    recover_table(path)
    df = spark.read.parquet(path)
    w = df.repartition("date")
    if zorder_cols:
        w = w.withColumn("__zkey", zorder_key(zorder_cols)).sortWithinPartitions(
            "date", "__zkey"
        ).drop("__zkey")
    (
        w.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("date")
        .parquet(tmp)
    )
    # rename-aside swap (local/HDFS rename semantics; an object store
    # would use a transactional table format instead)
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)


def recover_table(path: str) -> str | None:
    """Repair the layout after a crashed :func:`compact_table` swap.

    Crash states and their repair (the swap is: write tmp → move live
    aside to ``__old`` → move tmp to live → reap ``__old``):

    * live missing + ``__old`` present → the crash hit between the two
      renames; ``__old`` holds the ONLY copy of committed data, so it is
      **restored** to the table path (never deleted).
    * live present + ``__old`` present → crash after the swap, before
      the reap; ``__old`` is a superseded copy and is removed.
    * ``__compacting`` present → an incomplete rewrite (never became
      live); always safe to discard.

    Returns a description of the recovery action taken, or None.
    """
    root = Path(path)
    old = root.with_name(root.name + "__old")
    tmp = root.with_name(root.name + "__compacting")
    action = None
    if old.exists():
        if not root.exists():
            shutil.move(str(old), str(root))
            action = f"restored {old} -> {root}"
        else:
            shutil.rmtree(old)
            action = f"reaped superseded {old}"
    if tmp.exists():
        shutil.rmtree(tmp)
        action = (action + "; " if action else "") + f"discarded incomplete {tmp}"
    return action


def vacuum_table(path: str) -> list[str]:
    """Reap orphaned write artifacts (the ``vacuum(retention_hours=0)``
    analog for the Parquet layout; preprocess.py:205).

    A killed Spark overwrite leaves ``_temporary/`` committer staging
    trees; a crash inside :func:`compact_table`'s swap leaves
    ``<table>__compacting`` / ``<table>__old`` siblings. None are
    referenced by a successful read, but at 100 TB they are real storage
    cost and confuse recursive listings. Returns the paths removed.

    Safety (Delta's VACUUM never deletes committed data, neither does
    this): staging siblings go through :func:`recover_table` first, so a
    ``__old`` that holds the only copy of the table (crash between the
    swap renames) is restored to the table path, never reaped.
    """
    root = Path(path)
    removed: list[str] = []
    # repair a half-finished compaction swap before touching siblings:
    # reaps superseded copies, restores an orphaned-live __old
    action = recover_table(path)
    if action:
        removed.append(action)
    # committer staging trees anywhere under the table
    for tmp_dir in root.rglob("_temporary"):
        if tmp_dir.is_dir():
            removed.append(str(tmp_dir))
            shutil.rmtree(tmp_dir)
    # stray in-flight task files (never committed, so not part of any read)
    for tmp_file in root.rglob("*.tmp"):
        removed.append(str(tmp_file))
        tmp_file.unlink()
    return removed


def zorder_key(cols: tuple[str, ...], bits: int = 21):
    """Morton (Z-order) key: interleaves the low ``bits`` of each
    non-negative integer column into one long, so rows close in EVERY
    key dimension land close in the one-dimensional sort order.

    Pure bitwise column expression (whole-stage codegen; no UDF):
    bit b of column j becomes bit b*ncols+j of the key. ``bits`` * ncols
    must stay < 63; 21 bits × 2 cols resolves ~2M distinct values per
    dimension — coarser high bits still cluster correctly when a domain
    exceeds that (Z-order needs relative, not exact, locality).
    """
    from pyspark.sql import functions as F

    n = len(cols)
    assert n * bits < 63, "interleaved key must fit a signed long"
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + j))
    return z


def write_table_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: tuple[str, ...],
    n_files: int | None = None,
    bits: int = 21,
) -> None:
    """Z-order clustered writer — the multi-column generalization of
    :func:`write_table_sorted` (the Delta ``OPTIMIZE ZORDER BY`` intent,
    no table format required).

    Single-key range clustering gives perfect skipping on the sort key
    and NONE on the others (every file spans the full secondary-key
    range). Interleaving the key bits instead makes each file cover a
    small hyper-rectangle of the key space, so parquet footer min/max
    prune files for predicates on ANY clustered column — the property
    that matters when a 100 TB table serves several access paths. Cost
    is identical to the sorted writer: one range exchange at write time.
    """
    key = zorder_key(zorder_cols, bits).alias("__zkey")
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(n, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


_BLOOM_BITS = 8192  # 1 KiB sidecar per (file, column)
_BLOOM_K = 6


def _bloom_positions(value, m: int = _BLOOM_BITS, k: int = _BLOOM_K):
    """k bit positions for a value, from md5 of its canonical str form —
    stable across processes/engines (no PYTHONHASHSEED dependence)."""
    import hashlib as _hashlib

    digest = _hashlib.md5(str(value).encode("utf-8")).digest()
    for i in range(k):
        chunk = digest[2 * i : 2 * i + 3]
        yield int.from_bytes(chunk, "big") % m


def analyze_table(path: str, bloom_cols: tuple[str, ...] = ()) -> dict:
    """ANALYZE analog: collect per-file row counts and per-column
    min/max from the parquet FOOTERS (no data read) and persist them to
    ``<path>/_stats.json`` (underscore prefix: invisible to Spark
    scans). This is the add-action statistics side of the Delta
    transaction log rebuilt from the open footer metadata — the input
    `prune_files` (and any manifest-building incremental job) needs for
    file skipping without touching data pages.

    Stat values are canonicalized before persisting: JSON-native scalars
    stay as-is, everything else (timestamps/dates/decimals) becomes its
    ``str()`` form — identical to the JSON round-trip — so pruning
    behaves the same whether the manifest exists or not. Note Spark's
    default INT96 timestamp encoding carries no footer min/max; write
    with ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`` to
    make time columns prunable.
    """
    import glob as _glob
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq

    def _canon(v):
        # Canonical comparable form for footer min/max values: JSON-native
        # scalars pass through; timestamps/dates/decimals become str(v) —
        # exactly what json.dump(default=str) would emit — so the manifest
        # path (JSON round-trip) and the direct in-memory path compare
        # identically in prune_files.
        if v is None or isinstance(v, (bool, int, float, str)):
            return v
        return str(v)

    stats: dict[str, dict] = {}
    for f in sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    ):
        md = _pq.ParquetFile(f).metadata
        cols: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                c = row_group.column(ci)
                st = c.statistics
                if st is None or not st.has_min_max:
                    continue
                name = c.path_in_schema
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn, mx = mn.decode("utf-8", "replace"), mx.decode("utf-8", "replace")
                mn, mx = _canon(mn), _canon(mx)
                prev = cols.get(name)
                if prev is None:
                    cols[name] = [mn, mx]
                else:
                    cols[name] = [min(prev[0], mn), max(prev[1], mx)]
        entry: dict = {"rows": md.num_rows, "columns": cols}
        if bloom_cols:
            # Bloom sidecars need the column VALUES, not just footers —
            # one single-column read per indexed column (the same cost a
            # Delta bloom-filter index pays at OPTIMIZE time). 1 KiB of
            # bits per (file, column); equality pruning via
            # `prune_files_eq` gets min/max-independent file skipping
            # for high-cardinality point lookups.
            blooms: dict[str, str] = {}
            pf = _pq.ParquetFile(f)
            avail = {c.path_in_schema for rg in range(md.num_row_groups)
                     for c in [md.row_group(rg).column(ci)
                               for ci in range(md.row_group(rg).num_columns)]}
            for bc in bloom_cols:
                if bc not in avail:
                    continue
                bits = bytearray(_BLOOM_BITS // 8)
                col_vals = pf.read(columns=[bc]).column(bc)
                for v in col_vals.unique().to_pylist():
                    if v is None:
                        continue
                    for pos in _bloom_positions(_canon(v)):
                        bits[pos // 8] |= 1 << (pos % 8)
                blooms[bc] = bytes(bits).hex()
            if blooms:
                entry["bloom"] = blooms
        stats[_os.path.relpath(f, path)] = entry
    out = {"files": stats, "n_files": len(stats),
           "n_rows": sum(v["rows"] for v in stats.values())}
    with open(_os.path.join(path, "_stats.json"), "w") as fh:
        _json.dump(out, fh, indent=1, default=str)
    return out


def prune_files(path: str, col: str, lo, hi) -> list[str]:
    """Manifest-level file skipping: return the table files whose
    footer [min, max] for ``col`` intersects [lo, hi]. Conservative by
    construction: files without stats for the column, files appended to
    the table AFTER ``analyze_table`` wrote the manifest (present on
    disk but absent from ``_stats.json``), and files whose stats are
    not comparable with [lo, hi] are all KEPT. Reads ``_stats.json`` if
    `analyze_table` ran, else the footers directly. Stat values are
    canonicalized (timestamps/dates/decimals → their ``str()`` form) so
    both paths compare identically; pass ``lo``/``hi`` in the same form
    (numbers for numeric columns, strings — e.g. ISO dates — for
    everything else). The 100 TB move this enables: an incremental job
    plans its file list from statistics alone — zero data IO for
    fully-pruned files, independent of (and composable with) Spark's
    own row-group pushdown.
    """
    import glob as _glob
    import json as _json
    import os as _os

    stats_path = _os.path.join(path, "_stats.json")
    if _os.path.exists(stats_path):
        with open(stats_path) as fh:
            stats = _json.load(fh)["files"]
    else:
        stats = analyze_table(path)["files"]
    keep = []
    for rel, meta in stats.items():
        rng = meta["columns"].get(col)
        try:
            prunable = rng is not None and (rng[1] < lo or rng[0] > hi)
        except TypeError:
            # stats and bounds are of incomparable types (e.g. string
            # stats vs numeric bounds) — never drop a file on a type
            # mismatch.
            prunable = False
        if not prunable:
            keep.append(_os.path.join(path, rel))
    # Reconcile against the on-disk listing: a file appended after the
    # manifest was written has no stats row, and silently excluding it
    # would drop rows from any plan built on this list.
    for f in _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True):
        if _os.path.relpath(f, path) not in stats:
            keep.append(f)
    return sorted(keep)


def prune_files_eq(path: str, col: str, value) -> list[str]:
    """Equality file skipping via the bloom sidecars written by
    ``analyze_table(path, bloom_cols=(col, …))``: return the files that
    POSSIBLY contain ``value`` in ``col``. Min/max ranges are useless
    for point lookups on high-cardinality unclustered columns (every
    file's range spans the key); the bloom answers "definitely absent"
    per file with ~(1/2)^k false-positive odds per k-bit probe.

    Conservative like `prune_files`: a file without a bloom for the
    column (not indexed, appended after analyze, statless) is KEPT, so
    false negatives are impossible and a plan built on this list never
    drops rows. Pass ``value`` in the same canonical form the stats
    use (numbers for numerics, str for everything else).
    """
    import glob as _glob
    import json as _json
    import os as _os

    stats_path = _os.path.join(path, "_stats.json")
    if not _os.path.exists(stats_path):
        return sorted(
            _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    with open(stats_path) as fh:
        stats = _json.load(fh)["files"]
    keep = []
    for rel, meta in stats.items():
        bloom_hex = meta.get("bloom", {}).get(col)
        if bloom_hex is None:
            keep.append(_os.path.join(path, rel))
            continue
        bits = bytes.fromhex(bloom_hex)
        if all(
            bits[pos // 8] & (1 << (pos % 8)) for pos in _bloom_positions(value)
        ):
            keep.append(_os.path.join(path, rel))
    for f in _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True):
        if _os.path.relpath(f, path) not in stats:
            keep.append(f)
    return sorted(keep)


def scd2_apply(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    attr_cols: tuple[str, ...],
    version: int,
) -> dict:
    """Slowly-Changing-Dimension Type 2 apply: fold an attribute-update
    batch into a versioned dimension table that keeps FULL HISTORY —
    each key carries one ``is_current=1`` row plus a closed row per past
    value, bounded by ``valid_from``/``valid_to`` version stamps. The
    dimension verb MERGE can't express: an update must CLOSE the
    current row (set valid_to, drop currency) *and* INSERT the new one,
    while an update that matches the current attributes exactly must be
    a NO-OP (idempotent re-sends and unchanged-value churn don't bloat
    history).

    Table layout: ``key, attrs…, valid_from, valid_to (NULL = open),
    is_current``. A batch key with NO existing row is a brand-new
    dimension member: it inserts a current row (nothing to close). The
    whole dimension is rewritten per batch — correct for
    dimension-sized tables (the SCD2 use case); a fact-scale SCD2
    would partition by key range and ride the partition-pruned COW path
    like :func:`merge_table`. The rewrite uses the same crash-safe
    rename-aside swap as :func:`compact_table` (``__compacting`` /
    ``__old`` staging, repaired by :func:`recover_table`) — at no point
    is the live directory the only copy.

    Returns {"closed": n, "inserted": n} for audit logs (new keys count
    as inserted, not closed).
    """
    from pyspark.sql import functions as F

    recover_table(path)  # repair any prior crashed swap first
    cur = spark.read.parquet(path)
    up = updates.select(key_col, *attr_cols).distinct()
    dup = up.groupBy(key_col).count().where(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"scd2_apply: conflicting attribute rows for key "
            f"{dup[0][0]!r} in one batch; resolve to one value per key first"
        )
    open_rows = cur.where(F.col("is_current") == 1)
    closed_rows = cur.where(F.col("is_current") == 0)
    # changed = open row whose attrs differ from the update for its key
    diff_pred = None
    for a in attr_cols:
        p = ~F.col(f"cur.{a}").eqNullSafe(F.col(f"up.{a}"))
        diff_pred = p if diff_pred is None else (diff_pred | p)
    joined = open_rows.alias("cur").join(
        F.broadcast(up.alias("up")), F.col(f"cur.{key_col}") == F.col(f"up.{key_col}")
    )
    # materialize once: consumed by the count and three downstream joins
    changed_keys = (
        joined.where(diff_pred)
        .select(F.col(f"cur.{key_col}").alias(key_col))
        .localCheckpoint()
    )
    # brand-new members: batch keys with no open row at all
    new_keys = up.select(key_col).join(
        open_rows.select(key_col), key_col, "left_anti"
    ).localCheckpoint()
    n_changed = changed_keys.count()
    n_new = new_keys.count()
    if n_changed == 0 and n_new == 0:
        return {"closed": 0, "inserted": 0}
    # close: stamp valid_to, drop currency — only for changed keys
    to_close = (
        open_rows.join(F.broadcast(changed_keys), key_col)
        .withColumn("valid_to", F.lit(version).cast("long"))
        .withColumn("is_current", F.lit(0))
    )
    # version-regression guard: closing an open row stamped at
    # valid_from >= version would write valid_to <= valid_from — a
    # silently corrupt history interval. The streaming path orders
    # batches via the checkpoint, so this only trips direct callers
    # replaying an out-of-order (or same-version, different-attrs)
    # batch; raise rather than corrupt.
    stale = to_close.where(F.col("valid_from") >= version).limit(1).collect()
    if stale:
        raise ValueError(
            f"scd2_apply: version {version} is not after the open row for "
            f"key {stale[0][key_col]!r} (valid_from="
            f"{stale[0]['valid_from']}); batches must be applied in "
            "increasing version order"
        )
    untouched_open = open_rows.join(F.broadcast(changed_keys), key_col, "left_anti")
    insert_keys = changed_keys.unionByName(new_keys)
    inserts = (
        up.join(F.broadcast(insert_keys), key_col)
        .withColumn("valid_from", F.lit(version).cast("long"))
        .withColumn("valid_to", F.lit(None).cast("long"))
        .withColumn("is_current", F.lit(1))
    )
    cols = cur.columns
    out = (
        closed_rows.select(*cols)
        .unionByName(to_close.select(*cols))
        .unionByName(untouched_open.select(*cols))
        .unionByName(inserts.select(*cols))
    )
    # crash-safe rename-aside swap (compact_table's pattern): write the
    # new version to __compacting, move live aside to __old, promote,
    # reap — recover_table repairs every intermediate crash state.
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    out.write.mode("overwrite").parquet(tmp)
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return {"closed": n_changed, "inserted": n_changed + n_new}
