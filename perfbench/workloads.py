"""The benchmark workloads.

Each runs closed-loop with one client: the next operation is issued only
after the previous one returned. Every timed sample counts. Inputs are
generated from the seed (cached per seed, outside any timing); outputs
are checked outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import shutil
import statistics
import time
from pathlib import Path

from . import gen
from .harness import Run, dir_stats, layer_of, note, rows_hash, start_session

# A run does a fixed amount of timed work, set from --seconds at these
# nominal costs (a 4-core host), so two builds compared at the same
# --seconds do the same work however fast they are.
GHA_HOUR_NOMINAL_S = 2.0
QUERY_PASS_NOMINAL_S = 50.0

# gha_hourly
GHA_EVENTS_PER_HOUR = 2000
GHA_BACKFILL_HOURS = 4
GHA_WARMUP_HOUR = -1  # the hour before the archive window, ingested by the warm-up

# query_mix
QUERY_SF = 0.01
HEAVY_BASE_SF = 0.005
HEAVY_REPLICAS = 10
#: one registered query per query module (`queries.graph` is measured by
#: the heavy knn query), and one per lake table layer: the Delta log and
#: the versioned manifests
QUERY_MIX = (
    "flagship_popular_user_clicks",
    "q3_shipping_priority",
    "q1_pricing_summary",
    "join_fact_fact_revenue",
    "text_word_freq",
    "lake_delta_checkpoint",
    "lake_versioned_timetravel",
    "stream_hourly_counts_replay",
)
HEAVY_QUERIES = ("dedup_embedding_cosine", "cluster_dbscan_embeddings", "graph_knn_degree_curve")
#: the all-pairs queries, whose DuckDB oracles are quadratic (30 s each at
#: 2,500 vectors): they are checked against them at QUERY_SF instead
ALL_PAIRS = HEAVY_QUERIES[:2]
IVF_PARAMS = {"k": 8, "m": 16, "ksub": 64}
IVF_NPROBE = 3
IVF_PROBES = 1  # seeded probe vectors, asked after the write, the append and compaction


def _units(seconds: float, nominal_s: float) -> int:
    return max(1, round(seconds / nominal_s))


def _setup(run: Run, work: Path, event_log: Path | None, warm_up):
    """One cold set-up: launch the JVM and start the session, then run
    the workload's untimed warm-up; setup_s covers both."""
    t0 = time.perf_counter()
    spark = start_session(work, event_log)
    run.session_start_s = time.perf_counter() - t0
    warm_up(spark)
    run.setup_s = time.perf_counter() - t0
    note(f"set-up done: session {run.session_start_s:.3f} s, with warm-up {run.setup_s:.3f} s")
    return spark


# --------------------------------------------------------------------------
# gha_hourly


def _ensure_hours(landing: Path, seed: int, hours) -> dict[int, int]:
    """Generate any missing hour files; {hour: raw NDJSON bytes}."""
    manifest = landing / "raw_bytes.json"
    raw = {int(k): v for k, v in json.loads(manifest.read_text()).items()} if manifest.exists() else {}
    missing = [h for h in hours if h not in raw or not gen.gha_hour_path(landing, h).exists()]
    if missing:
        raw.update(gen.write_gha_hours(landing, seed, missing, GHA_EVENTS_PER_HOUR))
        manifest.write_text(json.dumps(raw))
    return {h: raw[h] for h in hours}


def gha_hourly(run: Run, work: Path, cache: Path, seed: int, seconds: float, event_log):
    from etl_github_spark.gha import incremental, pipeline
    from etl_github_spark.gha import queries as gha_queries

    landing = cache / f"gha-{seed}"
    end = GHA_BACKFILL_HOURS + _units(seconds, GHA_HOUR_NOMINAL_S)
    raw = _ensure_hours(landing, seed, range(GHA_WARMUP_HOUR, end))

    def warm_up(spark):
        # an hour into a lake of its own: the first ingest and the first
        # analytics pay the JVM's compilation and first-job costs
        wlake, wout = str(work / "warmup" / "lake"), str(work / "warmup" / "out")
        pipeline.ingest_files(spark, [str(gen.gha_hour_path(landing, GHA_WARMUP_HOUR))], wlake)
        gha_queries.run_analytics(spark, wlake, wout)

    spark = _setup(run, work, event_log, warm_up)

    lake, out = str(work / "lake"), str(work / "out")
    span = run.tracer.span
    run.timed_start = time.time()
    t0 = time.perf_counter()

    backfill = [str(gen.gha_hour_path(landing, h)) for h in range(GHA_BACKFILL_HOURS)]

    def _backfill():
        with span("gha.pipeline"):
            pipeline.ingest_files(spark, backfill, lake)

    run.op("backfill", _backfill)
    if run.ops["backfill"]:
        events = GHA_BACKFILL_HOURS * GHA_EVENTS_PER_HOUR
        run.report["backfill_events_per_s"] = (events / run.ops["backfill"][0], "events/s")

    template = f"{landing}/{gen.GHA_TEMPLATE}"

    def _refresh(hour: int):
        with span("gha.incremental"):
            now = gen.GHA_EPOCH + dt.timedelta(hours=hour + 1, minutes=1)
            start, stop = incremental.parse_start_stop(spark, f"{lake}/comment", now=now)
            files = pipeline.list_files(start, stop, template=template)
        if files != [str(gen.gha_hour_path(landing, hour))]:
            raise RuntimeError(f"hour {hour}: manifest resolved to {files}")
        with span("gha.pipeline"):
            pipeline.ingest_files(spark, files, lake)
        with span("gha.queries"):
            gha_queries.run_analytics(spark, lake, out)

    for hour in range(GHA_BACKFILL_HOURS, end):
        run.op("hour_refresh", _refresh, hour)
    run.timed_wall_s = time.perf_counter() - t0
    run.timed_end = time.time()
    run.latency_report("hour_refresh", run.ops["hour_refresh"])
    note(f"timed phase done: {end - GHA_BACKFILL_HOURS} hours")

    files, size = dir_stats(Path(lake))
    run.layer["io.sink.lake_files"] = files
    run.layer["io.sink.lake_bytes"] = size
    raw_in = sum(raw[h] for h in range(end))
    run.report["lake_bytes_per_raw_byte"] = (size / raw_in, "ratio")

    _check_gha(run, spark, lake, out, [gen.gha_hour_path(landing, h) for h in range(end)])
    note("output checks done")
    return spark


def _check_gha(run: Run, spark, lake: str, out: str, files: list[Path]) -> None:
    """Six-table row counts and both analytics results against DuckDB
    ``read_json`` over the same files, with the registered parity SQL."""
    import duckdb

    from etl_github_spark.io.sink import read_table
    from etl_github_spark.queries import gha_parity
    from etl_github_spark.queries.registry import QUERIES
    from tests.oracle_harness import rows_to_multiset

    listing = "[" + ", ".join(f"'{p}'" for p in files) + "]"

    def sql(name: str) -> str:
        return QUERIES[name].sql.replace(f"'{gha_parity.FIXTURE}'", listing)

    con = duckdb.connect()
    try:
        tables = {"commit": "commits", "create": "creates", "pr": "prs",
                  "comment": "comments", "watch": "watches", "fork": "forks"}
        for table, suffix in tables.items():
            want = con.sql(f"SELECT count(*) FROM ({sql('gha_extract_' + suffix)})").fetchone()[0]
            got = read_table(spark, f"{lake}/{table}").count()
            run.check(f"lake table {table}", [] if got == want else [f"rows {got} != {want}"])
        for kind in ("commits", "comments"):
            rel = con.sql(sql(f"gha_keyword_{kind}"))
            want = rows_to_multiset(rel.columns, rel.fetchall())
            df = read_table(spark, f"{out}/dask/{kind}")
            got = rows_to_multiset(df.columns, [tuple(r) for r in df.collect()])
            errs = [] if got == want else [f"{sum((got - want).values())} extra, {sum((want - got).values())} missing rows"]
            run.check(f"analytics {kind}", errs)
    finally:
        con.close()


# --------------------------------------------------------------------------
# query_mix


def _base_tables(cache: Path, seed: int, sf: float) -> Path:
    dest = cache / f"tables-{seed}" / f"sf{sf}"
    if not (dest / "_SUCCESS").exists():
        gen.write_base_tables(dest, seed, sf)
        (dest / "_SUCCESS").touch()
    return dest


def _registered_call(run: Run, spark, name: str, sf: str):
    """One registered query: build the frame, (traced) force the physical
    plan, then execute and collect it. Returns (schema, rows)."""
    from etl_github_spark.queries.registry import QUERIES

    fn = QUERIES[name].fn
    layer = layer_of(fn)
    with run.tracer.span(layer):
        t0 = time.perf_counter()
        df = fn(spark, sf)
        t1 = time.perf_counter()
        if run.traced:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rows = df.collect()
    run.layer[f"{layer}.build_s"] += t1 - t0
    run.layer[f"{layer}.plan_s"] += t2 - t1
    return df.schema, rows


# --------------------------------------------------------------------------
# heavy operators on the scaled corpus (part of query_mix)


def _heavy_corpus(cache: Path, seed: int) -> Path:
    base = _base_tables(cache, seed, HEAVY_BASE_SF)
    dest = base.parent / f"sf{HEAVY_BASE_SF}x{HEAVY_REPLICAS}"
    if not (dest / "_SUCCESS").exists():
        gen.write_scaled_corpus(base, dest, seed, HEAVY_REPLICAS)
        (dest / "_SUCCESS").touch()
    return dest


def _probe_vectors(corpus: Path, seed: int) -> list[list[float]]:
    import pyarrow.parquet as pq

    emb = pq.read_table(corpus / "embeddings.parquet", columns=["embedding"])["embedding"]
    rows = random.Random(seed).sample(range(len(emb)), IVF_PROBES)
    return [emb[i].as_py() for i in rows]


def _heavy_pass(run: Run, spark, corpus: Path, scratch: Path, probes) -> tuple[dict[str, list], float]:
    """One timed pass over the heavy operators. Returns each step's
    outputs, (schema, rows) per call, and the pass's index-build time."""
    from pyspark.sql import functions as F

    from etl_github_spark.io import ivf_store, lsh_store
    from etl_github_spark.io.tables import load_table
    from etl_github_spark.queries.scale_paths import fit_ivfpq

    sf = str(corpus)
    out: dict[str, list] = {}
    build_s = 0.0

    def op(kind, layer, fn, *args):
        nonlocal build_s
        with run.tracer.span(layer):
            t = time.perf_counter()
            res = run.op(kind, fn, *args)
            if kind == "index_build":
                build_s += time.perf_counter() - t
        return res

    def collect(df):
        return df.schema, [tuple(r) for r in df.collect()]

    def probe(step):
        out[step] = [
            op("probe", "io.ivf_store", lambda q=q: collect(
                ivf_store.ivfpq_probe_topk(spark, ivf, q, nprobe=IVF_NPROBE, topk=10)))
            for q in probes
        ]

    for name in HEAVY_QUERIES:
        out[name] = [run.op("heavy_query", _registered_call, run, spark, name, sf)]

    parts = spark.sparkContext.defaultParallelism
    emb = load_table(spark, sf, "embeddings").repartition(parts)
    base = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    ivf = str(scratch / "ivf")
    fitted = op("index_build", "queries.scale_paths", fit_ivfpq, base, *IVF_PARAMS.values())
    if fitted is not None:
        op("index_build", "io.ivf_store", ivf_store.write_ivfpq_store, base, ivf, *fitted)
        probe("probe_written")
        op("store_maintenance", "io.ivf_store", ivf_store.append_embeddings_ivfpq, spark, rest, ivf)
        probe("probe_appended")
        out["ivf_compact"] = [op("store_maintenance", "io.ivf_store", ivf_store.compact_ivfpq_store, spark, ivf)]
        probe("probe_compacted")  # compaction must not change the answers

    docs = load_table(spark, sf, "documents").repartition(parts)
    lsh = str(scratch / "lsh")
    op("index_build", "io.lsh_store", lsh_store.write_bands_store, docs.where(F.col("doc_id") % 2 == 0), lsh)
    op("store_maintenance", "io.lsh_store", lsh_store.append_bands_store, docs.where(F.col("doc_id") % 2 == 1), lsh)
    out["lsh_compact"] = [op("store_maintenance", "io.lsh_store", lsh_store.compact_bands_store, spark, lsh)]
    # an appended store answers as a full rebuild would
    out["store_neardup_pairs"] = [
        op("store_query", "io.lsh_store", lambda: collect(lsh_store.store_neardup_pairs(spark, lsh)))
    ]
    shutil.rmtree(scratch, ignore_errors=True)
    return out, build_s


def _hashes(outputs: dict[str, list]) -> dict[str, list[str]]:
    return {k: [rows_hash(r[1]) if isinstance(r, tuple) else repr(r) for r in v] for k, v in outputs.items()}


def _check_oracle(run: Run, spark, sf: str, what: str, qname: str, result) -> None:
    """One collected output, (schema, rows), against the DuckDB oracle of
    registered query ``qname``, with the canonical multiset comparison of
    ``tests/oracle_harness.compare``; with ``result`` None, the query is
    called here, untimed, through ``compare`` itself."""
    from etl_github_spark.queries.registry import QUERIES
    from tests.oracle_harness import compare, duck_connection, rows_to_multiset

    sql = QUERIES[qname].sql
    try:
        if result is None:
            errs = compare(spark, sf, qname, QUERIES[qname].fn, sql)
        else:
            schema, rows = result
            con = duck_connection(sf)
            try:
                rel = con.sql(sql)
                cols, want = rel.columns, rows_to_multiset(rel.columns, rel.fetchall())
            finally:
                con.close()
            got = rows_to_multiset(schema.names, [tuple(r) for r in rows])
            if sorted(schema.names) != sorted(cols):
                errs = [f"columns {sorted(schema.names)} != {sorted(cols)}"]
            elif got != want:
                errs = [f"{sum((got - want).values())} extra, {sum((want - got).values())} missing rows"]
            else:
                errs = []
    except Exception as e:  # noqa: BLE001 - a check that cannot run is a failed check
        errs = [f"{type(e).__name__}: {e}"]
    run.check(what, errs)


def _check_heavy(run: Run, spark, corpus: Path, small_sf: str, passes: list[dict[str, list]]) -> None:
    first = _hashes(passes[0])
    for i, outputs in enumerate(passes):
        h = _hashes(outputs)
        errs = [f"{k}: differs from pass 0" for k in first if h.get(k) != first[k]]
        if h.get("probe_appended") != h.get("probe_compacted"):
            errs.append("IVF-PQ probes changed across compaction")
        for step in ("ivf_compact", "lsh_compact"):
            stats = outputs.get(step, [None])[0]
            if not stats or stats["files_after"] >= stats["files_before"]:
                errs.append(f"{step} did not reduce files: {stats}")
        run.check(f"heavy pass {i}", errs)

    # the registered oracles that stay cheap at this size (the all-pairs ones do not);
    # the LSH store answers dedup_minhash_lsh
    for step, qname in (("graph_knn_degree_curve", "graph_knn_degree_curve"),
                        ("store_neardup_pairs", "dedup_minhash_lsh")):
        result = passes[0].get(step, [None])[0]
        if result is None:
            run.check(f"{step} vs {qname} oracle", ["no output"])
        else:
            _check_oracle(run, spark, str(corpus), f"{step} vs {qname} oracle", qname, result)
    for qname in ALL_PAIRS:
        _check_oracle(run, spark, small_sf, f"{qname} at sf{QUERY_SF}", qname, None)


def query_mix(run: Run, work: Path, cache: Path, seed: int, seconds: float, event_log):
    """One pass is the registered queries at QUERY_SF in a seeded order,
    then the heavy operators on the scaled corpus in a fixed order.

    There is no warm-up pass: the set-up runs the flagship query once,
    which pays the JVM's shared warm-up, so the first timed pass measures
    each other query's first call in the session."""
    from etl_github_spark.queries.registry import QUERIES

    sf = str(_base_tables(cache, seed, QUERY_SF))
    corpus = _heavy_corpus(cache, seed)
    flagship = QUERIES[QUERY_MIX[0]].fn
    spark = _setup(run, work, event_log, lambda s: flagship(s, sf).collect())
    passes = _units(seconds, QUERY_PASS_NOMINAL_S)
    probes = _probe_vectors(corpus, seed)
    rnd = random.Random(seed)
    order = list(QUERY_MIX)
    outputs: dict = {}
    heavy: list[dict[str, list]] = []
    index_build_s: list[float] = []

    run.timed_start = time.time()
    t0 = time.perf_counter()
    for _ in range(passes):
        rnd.shuffle(order)
        for name in order:
            out = run.op("query", _registered_call, run, spark, name, sf)
            if out is not None:
                outputs.setdefault(name, out)
        note(f"pass {len(heavy) + 1}: registered queries done")
        outs, build_s = _heavy_pass(run, spark, corpus, work / f"pass{len(heavy)}", probes)
        heavy.append(outs)
        index_build_s.append(build_s)
        note(f"pass {len(heavy)}: heavy operators done")
    run.timed_wall_s = time.perf_counter() - t0
    run.timed_end = time.time()

    for name, result in outputs.items():
        _check_oracle(run, spark, sf, name, name, result)
    _check_heavy(run, spark, corpus, sf, heavy)
    note("output checks done")
    run.latency_report("query", run.ops["query"])
    run.latency_report("heavy_query", run.ops["heavy_query"])
    run.latency_report("probe", run.ops["probe"])
    run.report["index_build_s"] = (statistics.median(index_build_s), "s")
    return spark


WORKLOADS = {"gha_hourly": gha_hourly, "query_mix": query_mix}
