"""Streaming deduplication: exact dedup over an unbounded stream.

The batch dedup operators (queries/dedup.py) assume the corpus is
finite; a training-data ingest pipeline sees documents arrive
continuously and must drop re-crawls/re-posts on the fly. Spark-native
that is ``dropDuplicates`` under an event-time watermark: state is the
set of keys seen inside the watermark horizon, pruned by the engine, so
memory is bounded by (arrival rate × watermark) instead of the full
history — the only formulation that survives at 100 TB/day.

:func:`stream_dedup_exact` is ``dropDuplicates([key, bucket])`` keyed
by (key, truncated event time): a duplicate arriving within the same
bucket is dropped; one arriving in a later bucket re-emits.
Deterministic state size, at-most-one emission per bucket. The corpus
variants below judge arriving documents against a landed corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..minhash import agreement, band_rows, verdict


def stream_dedup_exact(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "created_at",
    watermark: str = "1 hour",
    bucket: str = "hour",
) -> DataFrame:
    """First occurrence per (keys, event-time bucket); duplicates within
    the bucket are dropped, state pruned past the watermark.

    The bucket is a ``date_trunc`` unit, not ``F.window()``: the window
    function mints a *second* event-time column, which streaming
    dedup rejects ("more than one event time column"); a truncated
    timestamp is an ordinary column and keys the state just as well.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .withColumn("__w", F.date_trunc(bucket, F.col(ts_col)))
        .dropDuplicates([*keys, "__w"])
        .drop("__w")
    )


def stream_dedup_against_corpus(
    docs: DataFrame,
    corpus_fp: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental corpus building: drop arriving documents whose
    content fingerprint already exists in the landed corpus, AND dedup
    the stream against itself, so a batch-built corpus stays
    exact-duplicate-free as new crawls stream in.

    Two-layer design, both layers bounded:

    - corpus layer: stream-static LEFT ANTI against the fingerprint
      table (one md5 per landed doc — O(corpus) ROWS even though each
      row is small, so no forced broadcast hint: tens of GB pinned in
      every executor at 100 TB is the OOM class the clustering
      de-broadcast removed. AQE broadcasts when the frame actually fits
      under autoBroadcastJoinThreshold and shuffle-hash-joins keyed by
      fp otherwise — the planner, not the code, makes the size call).
      The static side is re-resolved per micro-batch, so a compaction
      that refreshes the fingerprint table is picked up without
      restarting the stream.
    - in-stream layer: ``dropDuplicates`` on the fingerprint (under the
      caller's watermark when an event-time column exists — bounded
      state; global state otherwise, the documented batch-backfill
      mode).

    The fingerprint is md5 of the raw text — the same key
    `queries/dedup.py::dedup_exact_*` and the batch fingerprint ops use,
    so batch corpus and stream agree on what "duplicate" means.
    """
    fp = docs.withColumn("__fp", F.md5(F.col(text_col)))
    if ts_col is not None:
        fp = fp.withWatermark(ts_col, watermark)
    fresh = fp.join(
        corpus_fp.select(F.col("fp").alias("__fp")),
        "__fp",
        "left_anti",
    )
    return fresh.dropDuplicates(["__fp"]).drop("__fp")


def stream_neardup_against_corpus(
    docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_sigs: DataFrame,
) -> DataFrame:
    """Streaming NEAR-duplicate detection against a landed corpus — the
    fuzzy sibling of :func:`stream_dedup_against_corpus`'s exact-md5
    layer: each arriving document is judged against the corpus's banded
    MinHash index, the judgment a batch `dedup_minhash_lsh` would make.

    Per arriving doc (map-side, no state): 32-component md5/affine
    MinHash signature + 8×4 band buckets via the SHARED
    `etl_github_spark/minhash.py` expressions — identical to the
    batch family, so batch index and stream agree on what "near-dup"
    means. The static index arrives as TWO frames, exactly the
    `io/lsh_store.py` layout: ``corpus_bands`` is the SKINNY
    (doc_id, band, bucket) rows and ``corpus_sigs`` the (doc_id, sig)
    table stored once per doc. Stream-static LEFT OUTER join of the
    stream's band rows to the skinny bands on (band, bucket) finds
    collisions FIRST; a second stream-static LEFT OUTER join attaches
    the corpus signature by doc id — so only *colliding* corpus docs'
    signatures move through the plan, never 8 signature copies per
    corpus band row (both frames re-resolve per micro-batch like the
    exact layer; no broadcast hint — the planner sizes them). Signature
    agreement is counted per colliding (doc, corpus doc) row, then ONE
    stateful max-aggregation per doc yields the verdict row:
    ``(doc_id, max_agree, kept)`` with kept ⇔ max_agree·2 < 32 (the
    integer form of est_jaccard < 0.5). The verdict is deterministic —
    the corpus is static and no in-stream survivor choice exists — so
    it replays exactly in a SQL oracle (`stream_neardup_replay`).

    (No candidate-distinct before the sig join as in the batch store
    path: ``dropDuplicates`` on a stream is a second stateful operator;
    the max-aggregation already absorbs a pair colliding in several
    bands, at the cost of ≤ n_bands sig-compare rows per pair.)

    State at scale: one (doc, running max) per in-flight doc; bounded
    by the watermark horizon when the stream carries event time
    (append mode), or by the replay window in the bounded/backfill
    mode used here. Docs with <3 tokens carry no signature and emit no
    verdict (both engines replay the filter).
    """
    return _judge(docs, corpus_bands, corpus_sigs)


def stream_neardup_against_corpus_eventtime(
    docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_sigs: DataFrame,
    ts_col: str = "created_at",
    delay: str = "1 hour",
    window_len: str = "1 hour",
) -> DataFrame:
    """Append-mode sibling of :func:`stream_neardup_against_corpus` for
    UNBOUNDED streams: the per-doc max-agreement aggregation runs under
    an event-time watermark, so its state store holds only the docs
    whose windows the watermark has not yet closed — bounded by the
    late-data horizon, not by stream length (the complete-mode sibling
    holds one row per doc forever, fine for bounded replays only).

    Same banding, collision, and verdict arithmetic as the bounded
    form (the shared `minhash.band_rows` expressions, skinny static bands
    + a separate (doc_id, sig) table joined only for colliding corpus
    docs, the c_sig-IS-NULL agreement guard, kept ⇔ max_agree·2 < 32);
    the stream's timestamp rides through the map-side banding
    (``carry``) and the verdict is emitted once per (window, doc) when
    the watermark passes the window end — the standard Structured
    Streaming append contract, so the sink sees each verdict exactly
    once.

    State at scale: stateOperators.numRowsTotal ≤ docs in open windows
    (pinned by `tests/test_streaming_dedup.py`); eviction is by
    watermark, so a 100 TB/day stream holds hours of state, not days.
    """
    verdicts = _judge(docs, corpus_bands, corpus_sigs, ts_col, delay, window_len)
    return verdicts.select(
        "doc_id", F.col("win.start").alias("window_start"), "max_agree", "kept"
    )


def _judge(
    docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_sigs: DataFrame,
    ts_col: str | None = None,
    delay: str | None = None,
    window_len: str | None = None,
) -> DataFrame:
    """The body both near-dup judges share: map-side banding of the
    stream (`minhash.band_rows`, ``ts_col`` carried and watermarked when
    given), stream-static LEFT OUTER collision with the skinny corpus
    bands, a second one attaching the colliding corpus doc's signature,
    the agreement per row, and the per-doc `minhash.verdict` — keyed by
    doc_id, or by (event-time window ``win``, doc_id) when ``ts_col`` is
    given."""
    carry = (ts_col,) if ts_col else ()
    sb = band_rows(docs, with_sig=True, carry=carry)
    if ts_col:
        sb = sb.withWatermark(ts_col, delay)
    cb = corpus_bands.select(
        F.col("doc_id").alias("c_doc"),
        F.col("band").alias("band"),
        F.col("bucket").alias("bucket"),
    )
    cs = corpus_sigs.select(
        F.col("doc_id").alias("c_doc"), F.col("sig").alias("c_sig")
    )
    # Unmatched left-outer rows carry a NULL c_sig. Guard on the column
    # itself, not coalesce(size(...), 0): under legacy non-ANSI sessions
    # (spark.sql.ansi.enabled=false) size() of a NULL array returns -1,
    # not NULL, so the coalesce never fires and a collision-free doc
    # would replay max_agree=-1 while the oracle emits 0.
    j = (
        sb.join(cb, ["band", "bucket"], "left_outer")
        .join(cs, "c_doc", "left_outer")
        .select(
            "doc_id",
            *carry,
            F.when(F.col("c_sig").isNull(), F.lit(0))
            .otherwise(agreement("sig", "c_sig"))
            .alias("agree"),
        )
    )
    keys = [F.window(ts_col, window_len).alias("win")] if ts_col else []
    return j.groupBy(*keys, F.col("doc_id")).agg(*verdict(F.max("agree")))
