"""End-to-end GH Archive ingest: manifest → parse → extract → sink.

The reference hand-schedules per-file futures with retries and barriers
(workflow, preprocess.py:247-266). Spark-first, the whole thing is one
declarative plan per table over the full file list: partition-per-file
parallelism, retries, and barriers are the engine's job (SURVEY.md §3).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..io.sink import write_table
from .extract import EXTRACTORS, parse_raw_lines

_HOUR = dt.timedelta(hours=1)


def list_files(
    start: dt.datetime,
    stop: dt.datetime,
    template: str = "https://data.gharchive.org/{:%Y-%m-%d-}{}.json.gz",
) -> list[str]:
    """Hourly file manifest for [start, stop] (preprocess.py:193-196).

    Inclusive of the stop hour, matching the reference's
    ``pd.date_range(start, stop)``: with ``stop = floor(now) - 1h``
    (parse_start_stop) the last fully-published hour is ingested in the
    same run, not deferred to the next one. GH Archive names hours
    without zero-padding ("2024-02-29-3.json.gz").
    """
    out = []
    t = start.replace(minute=0, second=0, microsecond=0)
    while t <= stop:
        out.append(template.format(t, t.hour))
        t += _HOUR
    return out


def fetch_to_landing(
    spark: SparkSession,
    urls: list[str],
    landing_dir: str,
    timeout: float = 60.0,
    max_retries: int = 3,
) -> list[str]:
    """Parallel HTTP(S) fetch of the hourly manifest into a landing dir.

    ``spark.read.text`` has no https filesystem, so the reference's
    direct-streaming scan of ``https://data.gharchive.org/...json.gz``
    (preprocess.py:144-147) becomes a two-step production path here:
    fetch-to-landing (this function, one executor task per URL — the
    same per-file parallelism the reference gets from client.map) then
    :func:`read_raw` over the landed files.

    Each download writes ``<name>.part`` then renames — a killed run
    never leaves a truncated file under a final name, and re-runs are
    idempotent (existing files are skipped, so resuming a partial fetch
    only pulls what's missing). Failures retry with backoff inside the
    task; a URL that still fails after ``max_retries`` raises and fails
    the job (matching the reference's retries= semantics). The landing
    dir must be storage every executor can reach (shared FS / object
    store on a real cluster).

    Returns the local landed paths in manifest order.
    """
    import os

    os.makedirs(landing_dir, exist_ok=True)

    def _fetch_one(url: str) -> str:
        import os
        import time
        import urllib.request

        name = url.rstrip("/").rsplit("/", 1)[-1]
        dest = os.path.join(landing_dir, name)
        if os.path.exists(dest):  # idempotent re-run
            return dest
        part = dest + ".part"
        last: Exception | None = None
        for attempt in range(max_retries):
            try:
                with urllib.request.urlopen(url, timeout=timeout) as resp, open(
                    part, "wb"
                ) as out:
                    while True:
                        chunk = resp.read(1 << 20)
                        if not chunk:
                            break
                        out.write(chunk)
                os.replace(part, dest)  # atomic publish
                return dest
            except Exception as exc:  # noqa: BLE001 - retry any transport error
                last = exc
                time.sleep(min(2**attempt, 30))
        raise RuntimeError(f"fetch failed after {max_retries} tries: {url}") from last

    sc = spark.sparkContext
    return sc.parallelize(urls, max(1, len(urls))).map(_fetch_one).collect()


def split_landing(
    spark: SparkSession,
    paths: list[str],
    out_dir: str,
    shard_bytes: int = 64 << 20,
) -> list[str]:
    """Decompress-split non-splittable ``.json.gz`` landing files into
    plain-text shards — the scale path for the single-file straggler.

    A gzip stream cannot be seek-split, so ``spark.read.text`` gives ONE
    task per .gz file no matter how large it is (read_raw's documented
    property; at 100× data a lone 5 GB hour becomes the stage straggler
    while 31 executors idle). This pass decodes each file ONCE — one
    task per file, the same per-file parallelism as the fetch
    (preprocess.py:260's unit) — and writes ~``shard_bytes`` plain-text
    shards on line boundaries; every downstream scan then splits at
    ``spark.sql.files.maxPartitionBytes`` like any other text input.
    The sequential decode is paid once; the six extractor scans, re-runs,
    and backfills all parallelize after it.

    Idempotent and atomic like fetch_to_landing: shards write as
    ``.part`` then rename, a ``_SUCCESS`` marker publishes the directory,
    and a re-run that finds the marker returns the existing shards
    without re-decoding. Returns all shard paths in manifest order.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _split_one(path: str) -> list[str]:
        import gzip
        import os

        name = os.path.basename(path)
        base = name[:-3] if name.endswith(".gz") else name
        dest = os.path.join(out_dir, base)
        marker = os.path.join(dest, "_SUCCESS")
        if os.path.exists(marker):  # idempotent re-run: already published
            return [
                os.path.join(dest, f)
                for f in sorted(os.listdir(dest))
                if f.startswith("part-")
            ]
        os.makedirs(dest, exist_ok=True)
        opener = gzip.open if name.endswith(".gz") else open
        shards: list[str] = []

        def _publish(body: bytes) -> None:
            final = os.path.join(dest, f"part-{len(shards):05d}.json")
            tmp = final + ".part"
            with open(tmp, "wb") as out:
                out.write(body)
            os.replace(tmp, final)  # atomic publish per shard
            shards.append(final)

        # chunked decode, cut on the LAST newline of each ~shard_bytes
        # block: a per-line Python loop makes the sequential decode as
        # slow as the single-task parse it exists to parallelize (the
        # round-10 gz probe measured the win asymptoting at ~1.3x); one
        # read + one rfind + one write per shard keeps the decode at
        # zlib speed, so the win grows with file size as intended.
        # Pending bytes live in a LIST of chunks, joined only when a
        # newline finally appears: prepending leftover to every read
        # (`leftover + chunk`) re-copies the whole accumulated buffer
        # per shard_bytes read, so one oversized line of length L costs
        # O(L^2/shard_bytes) byte copies; searching just the new chunk
        # and joining once keeps the oversized-line path linear.
        pending: list[bytes] = []
        with opener(path, "rb") as src:
            while True:
                chunk = src.read(shard_bytes)
                if not chunk:
                    break
                cut = chunk.rfind(b"\n")
                if cut == -1:  # no newline in this block — keep buffering
                    pending.append(chunk)
                    continue
                pending.append(chunk[: cut + 1])
                _publish(b"".join(pending))
                pending = [chunk[cut + 1 :]] if cut + 1 < len(chunk) else []
        if pending:
            tail = b"".join(pending)
            _publish(tail if tail.endswith(b"\n") else tail + b"\n")
        with open(marker, "w"):
            pass
        return shards

    sc = spark.sparkContext
    nested = sc.parallelize(paths, max(1, len(paths))).map(_split_one).collect()
    return [p for shard_list in nested for p in shard_list]


def read_raw(spark: SparkSession, paths: list[str]) -> DataFrame:
    """NDJSON(.gz) scan (S1/S2): gzip decoded by extension; one partition
    per gz file (gzip is not splittable — same per-file parallelism the
    reference gets from client.map, preprocess.py:260). Plain-text files
    split at spark.sql.files.maxPartitionBytes."""
    return spark.read.text(paths)


def extract_tables(events: DataFrame) -> Iterator[tuple[str, DataFrame]]:
    """Parsed events (:func:`~.extract.parse_raw_lines`) → the six
    normalized DataFrames, yielded as ``(table, frame)`` pairs one at a
    time: planning the six frames is driver-side analysis (~0.6 s on a
    4-core VM), so a writer that submits each frame as it arrives
    overlaps that planning with the first writes (:func:`ingest_raw`).
    ``dict(extract_tables(events))`` gives them all at once.

    The events plan is reused by all six extractors; Spark scans the
    input once per action, so callers ingesting all tables should
    ``.persist()`` the parsed frame first, as :func:`ingest_raw` does
    (gha.ipynb cell 23's shared-scan idiom, SURVEY.md §4)."""
    for name, fn in EXTRACTORS.items():
        yield name, fn(events)


def ingest_files(
    spark: SparkSession,
    paths: list[str],
    outdir: str,
    mode: str = "append",
) -> dict[str, str]:
    """Read hourly NDJSON files and append all six tables to ``outdir``
    (the landed-file ingest: :func:`read_raw` → :func:`ingest_raw`)."""
    return ingest_raw(spark, read_raw(spark, paths), outdir, mode=mode)


def ingest_raw(
    spark: SparkSession,
    raw: DataFrame,
    outdir: str,
    mode: str = "append",
) -> dict[str, str]:
    """Ingest a raw-lines frame (from :func:`read_raw`) and append all
    six tables to ``outdir``.

    One cached parse feeds six partitioned writes — the Spark shape of
    process_file + write_delta (preprocess.py:143-175). The six writes
    are submitted concurrently (:func:`write_concurrently`), each as soon
    as its frame is planned, and no action materializes the cache first:
    whichever write reaches a partition first parses it into the cache,
    and Spark's block lock makes the other writes wait for that block
    instead of parsing it again, so each raw line is parsed once. The
    scheduler interleaves the six jobs' tasks and their write/commit
    latencies overlap.

    A failure anywhere in the parse fails every write: each one needs
    every cached partition, so a bad input file appends nothing.
    """
    from pyspark import StorageLevel

    events = parse_raw_lines(raw).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out = {name: f"{outdir}/{name}" for name in EXTRACTORS}
        write_concurrently(
            spark,
            ((df, out[name], mode, ("date",)) for name, df in extract_tables(events)),
        )
        return out
    finally:
        events.unpersist()


def write_concurrently(
    spark: SparkSession, writes: Iterable[tuple[DataFrame, str, str, tuple[str, ...]]]
) -> None:
    """Run independent :func:`~..io.sink.write_table` calls, given as
    ``(df, path, mode, partition_by)`` tuples, as concurrent Spark jobs
    from driver threads, submitting each as ``writes`` yields it. The
    threads inherit the caller's local properties, so a job group or
    description the caller set covers every write. Returns when all
    writes have finished; if any failed, raises the error of the first
    failed one in submission order."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    # with pinned threads off (PYSPARK_PIN_THREAD=false) PySpark returns
    # the session itself: job groups are then not per-thread anyway
    write = wrap(write_table) if callable(wrap) else write_table
    # the widest caller writes one table per extractor
    with ThreadPoolExecutor(max_workers=len(EXTRACTORS)) as ex:
        futs = [ex.submit(write, *args) for args in writes]
        for f in futs:
            f.result()


def ingest_urls(
    spark: SparkSession,
    urls: list[str],
    landing_dir: str,
    outdir: str,
    mode: str = "append",
    split_shard_bytes: int | None = None,
) -> dict[str, str]:
    """Production entry point for the real GH Archive source:
    manifest URLs → :func:`fetch_to_landing` → :func:`ingest_files`.
    Compose with :func:`list_files` / ``incremental.parse_start_stop``
    for the steady-state hourly loop (preprocess.py:247-266).

    ``split_shard_bytes`` opts into the decompress-split scale path
    (:func:`split_landing`): landed .gz files are exploded once into
    plain-text shards of roughly that size, so the parse stage
    parallelizes within a single large hour instead of assigning the
    whole file to one task (the 100× straggler documented on
    read_raw)."""
    paths = fetch_to_landing(spark, urls, landing_dir)
    if split_shard_bytes:
        import os

        paths = split_landing(
            spark, paths, os.path.join(landing_dir, "_split"), split_shard_bytes
        )
    return ingest_files(spark, paths, outdir, mode=mode)
