"""Lakehouse sinks: plain date-partitioned writers, readers and
footer-stats file skipping.

The reference writes Delta tables via ``write_deltalake(mode="append",
partition_by="date")``, rewrites query results wholesale, and compacts +
vacuums after each batch (preprocess.py:165-206,226-230). Here the
plain append/overwrite contract is ``df.write.mode(...).partitionBy("date")``
over Parquet (delta-spark is not installable in this environment, see
ARCHITECTURE.md §storage). Every mutation of an EXISTING table —
MERGE, DELETE, OPTIMIZE, VACUUM, SCD2 and CDC applies — commits through
the from-scratch Delta log in :mod:`etl_github_spark.io.delta_log`,
whose commit protocol is the only crash-safety story: files staged
without a commit are invisible and ``vacuum_delta`` reaps them.

The reference's append+retry design can double-append on retry
(preprocess.py:261; SURVEY.md §7 risk register); Spark task retries plus
atomic job commit make a single ``write`` per batch idempotent-safe, so
no retry loop appears here by design.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

_FORMAT = "parquet"


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
    see the same rows. Shared by both persisted index stores
    (io/lsh_store, io/ivf_store)."""
    from pyspark.sql import functions as F

    w = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(
        *[F.col(c) for c in part_cols], F.pmod(F.xxhash64(id_col), F.lit(w))
    )


def write_sidecar(dest: str, obj) -> None:
    """Publish a JSON sidecar atomically: dump to ``<dest>.tmp``, then
    ``os.replace`` it over ``dest``, so a reader (or a crash mid-dump)
    sees the previous sidecar or the new one, never a truncated file.
    Used by both index stores and the materialized views."""
    tmp = dest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, dest)


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
    Column REMOVAL/retyping still needs a full rewrite — same as Delta,
    which only auto-merges additive changes.
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
