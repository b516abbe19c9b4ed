"""Embedding-index freshness capstone (VERDICT r11 task 7a): the
end-to-end "ingest a batch → both persisted indexes reflect it"
contract under ONE driver hash.

A training-data platform maintains TWO persisted indexes over the same
ingest stream — the LSH band store for near-dup hygiene
(`io/lsh_store.py`) and the IVF-PQ store for similarity retrieval
(`io/ivf_store.py`). Each store's lifecycle is already pinned in
isolation (`dedup_lsh_store_*`, `sim_ivfpq_store_*`); what was missing
is the FRESHNESS story across both: after an append, do subsequent
judge/retrieve calls actually see the new documents? This capstone
composes the real store operators in ingest order — build base index,
append a batch, then ask a question whose ANSWER depends on the
appended rows being visible — and hashes both answers together.

Why the hash pins freshness: the LSH judge runs a THIRD split of the
corpus against the post-append index; its oracle replays the judgment
against the union (base + appended) — so an append that dropped rows,
hit the wrong directory, or wasn't visible to the reader yields
different max-agreement for every batch doc whose nearest neighbour
lives in the appended half, breaking the hash. Likewise the ANN probe's
oracle is the FULL-corpus top-k: appended vectors missing from the
store's parquet would vanish from the top-k rows.

Reference semantics: the reference's corpus is append-only hourly
batches (preprocess.py:169-175 appends to Delta); this capstone states
the index-maintenance contract that keeps dedup/similarity answers
consistent with that growing corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import minhash as mh
from ..session import local_frame
from ._util import T, par
from .registry import query


def _freshness_sql() -> str:
    """DuckDB twin: the 3-way-split store judgment (batch = doc_id%3==2
    against corpus doc_id%3<2 — the post-append index) UNION ALL the
    full-corpus IVF-PQ probe (same fit-sample identity as
    `sim_ivfpq_store_upsert`: vec_id%4==0 ⊂ evens, so build-even +
    append-odd replays the full-corpus fit bit for bit)."""
    from .scale_paths import _ivfpq_residual_sql

    return f"""
    WITH lsh AS (
      SELECT 'lsh_judge' AS stage, doc_id AS id,
             CAST(max_agree AS DOUBLE) AS score, kept AS flag
      FROM ({mh.judge_sql("doc_id % 3 = 2", "doc_id % 3 < 2")})
    ),
    ann AS (
      SELECT 'ann_topk' AS stage, vec_id AS id, approx_d2 AS score,
             CAST(NULL AS BOOLEAN) AS flag
      FROM ({_ivfpq_residual_sql()})
    )
    SELECT * FROM lsh UNION ALL SELECT * FROM ann
    """


@query(
    "pipeline_index_freshness",
    sql=_freshness_sql(),
    tags=("capstone", "storage", "incremental", "dedup", "similarity"),
)
def pipeline_index_freshness(spark, sf_dir):
    """Ingest-batch freshness across BOTH persisted indexes, one hash:

    LSH side — build the band store from doc_id%3==0, `append` the
    %3==1 batch (sidecar-validated, fit-free), then judge the %3==2
    batch against the POST-append store. The oracle judges against the
    full {0,1} corpus, so every verdict whose nearest neighbour sits in
    the appended third proves the append is visible to the reader.

    ANN side — build the IVF-PQ store from even vec_ids (fit-sample
    identity keeps the oracle exact), `append` the odds encoded with
    the STORED codebooks, probe top-10 for the vec_id=0 query. Appended
    vectors must be retrievable or the top-k rows change.

    Output: (stage, id, score, flag) — stage='lsh_judge' rows carry
    (doc_id, max_agree AS DOUBLE, kept); stage='ann_topk' rows carry
    (vec_id, approx_d2, NULL). Store roots are temp dirs per call; the
    store operators themselves are the production ones benchmarked
    post-build in bench.py.
    """
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from ..io.ivf_store import (
        append_embeddings_ivfpq,
        ivfpq_probe_topk,
        write_ivfpq_store,
    )
    from ..io.lsh_store import (
        append_bands_store,
        store_judge_docs,
        write_bands_store,
    )
    from .scale_paths import _ivfpq_base_fit

    docs = par(T(spark, sf_dir, "documents"))
    lsh_path = tempfile.mkdtemp(prefix="fresh_lsh_")
    ann_path = tempfile.mkdtemp(prefix="fresh_ann_")

    # The two index lifecycles are INDEPENDENT (different source tables,
    # different store roots, and no session conf write on either path —
    # query code never writes conf). Running them as two concurrent
    # driver-submitted job chains (guide §2.6 "overlap independent
    # jobs") lets each half's serial driver work (sidecar writes,
    # collects, fit-round combines) back-fill the other's idle
    # executors; FIFO scheduling keeps each chain's internal order.
    # (Job descriptions are thread-local only under PySpark's default
    # pinned-thread mode — on a non-pinned deployment the labels could
    # cross-leak between the chains; cosmetic either way.) Output order
    # stays deterministic: rows are concatenated lsh-then-ann AFTER
    # both futures complete.
    def _lsh_half():
        spark.sparkContext.setJobDescription("freshness: LSH store half")
        write_bands_store(docs.where(F.col("doc_id") % 3 == 0), lsh_path)
        append_bands_store(docs.where(F.col("doc_id") % 3 == 1), lsh_path)
        judge = store_judge_docs(
            spark, lsh_path, docs.where(F.col("doc_id") % 3 == 2)
        )
        return [
            ("lsh_judge", r["doc_id"], float(r["max_agree"]), r["kept"])
            for r in judge.collect()
        ]

    def _ann_half():
        spark.sparkContext.setJobDescription("freshness: IVF-PQ store half")
        base, rest, centroids, books, q_raw = _ivfpq_base_fit(
            spark, sf_dir, 8, 16, 64
        )
        write_ivfpq_store(base, ann_path, centroids, books)
        append_embeddings_ivfpq(spark, rest, ann_path)
        topk = ivfpq_probe_topk(spark, ann_path, q_raw, nprobe=3, topk=10)
        return [
            ("ann_topk", r["vec_id"], r["approx_d2"], None)
            for r in topk.collect()
        ]

    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            lsh_fut = pool.submit(_lsh_half)
            ann_fut = pool.submit(_ann_half)
            lsh_rows = lsh_fut.result()
            ann_rows = ann_fut.result()
    finally:
        shutil.rmtree(lsh_path, ignore_errors=True)
        shutil.rmtree(ann_path, ignore_errors=True)
    return local_frame(
        spark, lsh_rows + ann_rows, "stage string, id long, score double, flag boolean"
    )
