"""Physical LSH band-index store: the persisted, fit-free sibling of
`io/ivf_store.py` for the banded-MinHash near-dup family.

`dedup_minhash_lsh` demonstrates the *algorithm* — signatures, 8×4 band
buckets, bucket-local candidate join — recomputed from raw text on
every call. At 100 TB the production shape is an INDEX: shingle, hash,
and band each document ONCE, persist the band rows, and answer every
later near-dup question (corpus self-dedup, new-batch judging,
incremental ingest) from the store. This module is that storage half:

- ``bands/`` — (doc_id, band, bucket) Delta table PARTITIONED BY
  band: 8 skinny rows per document, the self-join input. Band
  partitioning keeps compaction and the candidate join's co-location
  unit aligned with the banding itself.
- ``sigs/`` — (doc_id, sig) Delta table PARTITIONED BY ``sbucket =
  pmod(hash(doc_id), 16)``: the 32-component signature stored ONCE per
  document (not 8× through the band explode), attached to candidate
  pairs only when an agreement estimate is needed — the same cand +
  sig-join shape the family's SQL oracle states. The hash-bucket
  partitioning exists for COMPACTION: OPTIMIZE bins files per
  partition, so the 16 buckets rewrite as 16 parallel tasks, never a
  single O(corpus) task.
- ``_lsh_index.json`` — the family sidecar (n_hashes, band count, rows
  per band, family name, sig bucket count). The hash family itself is
  the module-constant md5/affine chain of `etl_github_spark/minhash.py`
  (shared with the batch AND streaming paths), so unlike the IVF
  store there is nothing to fit: the sidecar exists to REFUSE appends
  from a mismatched family/layout, the drift that would silently
  corrupt an index. Published by `io.sink.write_sidecar` (temp file +
  ``os.replace``) so a crash mid-dump can never leave a truncated
  sidecar (a JSONDecodeError instead of the designed family-mismatch
  refusal).

Both tables are written, appended, read and compacted through the
Delta log (`io/delta_log.py`): every reader scans exactly the files the
log names, so a crashed write or compaction — staged files with no
commit — is invisible, and `vacuum_delta` reaps it. There is no
recovery step of the store's own.

Append is embarrassingly incremental — banding is per-row map-side
work, so a new batch pays one scan + one partitioned append commit per
table and the appended index is BIT-IDENTICAL to a full rebuild (no
refit identity to argue, unlike IVF-PQ; `dedup_lsh_store_upsert` pins
it under the driver hash). Compaction is `optimize_delta` on each
table; see :func:`compact_bands_store`.

Reference semantics: the dedup contract is the reference's corpus
hygiene concern re-expressed as a persisted index (see SURVEY.md §2.9);
the store layout itself is the standard FAISS/Delta "fit-free inverted
index + sidecar metadata" pattern.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import minhash as mh
from .delta_log import optimize_delta, read_delta, snapshot_files, write_delta
from .sink import cluster_for_write, write_sidecar

_SIG_BUCKETS = 16


def _family_meta() -> dict:
    return {
        "family": "md5-affine",
        "n_hashes": mh.N_HASHES,
        "band_size": mh.BAND_SIZE,
        "n_bands": mh.N_HASHES // mh.BAND_SIZE,
        "sig_buckets": _SIG_BUCKETS,
    }


def _commit_bands(docs: DataFrame, path: str, mode: str) -> None:
    """Band ``docs`` once (`minhash.split_bands`) and commit the rows to
    ``bands/`` and ``sigs/`` (with its ``sbucket`` partition column),
    each clustered by `io.sink.cluster_for_write` so a write lands one
    file per partition (measured at sf0.1: 256 band + 508 sig files per
    store build → 24, append 9.1 s → 2.5 s)."""
    bands, sigs = mh.split_bands(docs)
    sigs = sigs.withColumn("sbucket", F.pmod(F.hash("doc_id"), F.lit(_SIG_BUCKETS)))
    for name, frame, part in (("bands", bands, "band"), ("sigs", sigs, "sbucket")):
        write_delta(
            cluster_for_write(frame, (part,), "doc_id"),
            os.path.join(path, name),
            mode=mode,
            partition_by=(part,),
        )


def write_bands_store(docs: DataFrame, path: str) -> None:
    """Build the index: band + sign the corpus once, commit ``bands/``
    partitioned by band, ``sigs/`` partitioned by hash bucket, and
    write the family sidecar. One scan of the corpus, map-side banding,
    two partitioned commits."""
    _commit_bands(docs, path, "overwrite")
    write_sidecar(os.path.join(path, "_lsh_index.json"), _family_meta())


def read_lsh_index(path: str) -> dict:
    with open(os.path.join(path, "_lsh_index.json")) as fh:
        return json.load(fh)


def _check_family(path: str) -> None:
    meta = read_lsh_index(path)
    if meta != _family_meta():
        raise ValueError(
            f"LSH store family mismatch: store={meta} runtime={_family_meta()}"
        )


def _read_sigs(spark: SparkSession, path: str) -> DataFrame:
    """(doc_id, sig) from the bucketed ``sigs/`` table — the ``sbucket``
    partition column is a physical-layout detail and never leaves the
    reader."""
    return read_delta(spark, os.path.join(path, "sigs")).select("doc_id", "sig")


def append_bands_store(docs: DataFrame, path: str) -> None:
    """Incremental index maintenance: band a NEW document batch with the
    stored family and append. Banding is fit-free, so append-then-query
    is bit-identical to a full rebuild over the union — the property
    `dedup_lsh_store_upsert` driver-hashes. Refuses a store whose
    sidecar disagrees with the module's family constants (an index
    built under different banding would silently miss duplicates)."""
    _check_family(path)
    _commit_bands(docs, path, "append")


def compact_bands_store(spark: SparkSession, path: str) -> dict:
    """OPTIMIZE for the band index: steady-state appends leave one small
    file per batch in every partition; `optimize_delta` on ``bands/``
    and then ``sigs/`` bin-packs each ``band`` and ``sbucket``
    partition into one file (up to its target size), one parallel
    Spark job and one ``dataChange: false`` commit per table — sigs
    compaction is 16 concurrent bucket rewrites, never one O(corpus)
    task. Readers see each table's old files or its new ones, never a
    mix. Refuses a mismatched-family store (same guard as append/judge
    — compacting a legacy layout would otherwise die mid-rewrite with
    bands/ done and sigs/ untouched). The replaced files stay on disk
    for time travel until `vacuum_delta` reaps them at its default
    retention. Returns {"files_before": n, "files_after": m}, counted
    from the live snapshots of both tables."""
    _check_family(path)
    tables = [os.path.join(path, name) for name in ("bands", "sigs")]

    def _count():
        return sum(len(snapshot_files(t)) for t in tables)

    before = _count()
    for t in tables:
        optimize_delta(spark, t)
    return {"files_before": before, "files_after": _count()}


def store_neardup_pairs(spark: SparkSession, path: str) -> DataFrame:
    """Answer the corpus near-dup question PURELY from the store — no
    text, no re-shingling, no re-hashing: bucket-local self-join of the
    skinny ``bands/`` rows for candidates, then two ``sigs/`` joins
    attach the signatures for the agreement estimate (est >= 0.5 via
    the integer compare). Exactly `dedup_minhash_lsh`'s output — the
    store is an execution strategy, not a semantics change, so the SAME
    oracle SQL hashes both."""
    cand = mh.collisions(read_delta(spark, os.path.join(path, "bands"))).distinct()
    return mh.est_pairs(cand, _read_sigs(spark, path))


def store_judge_docs(spark: SparkSession, path: str, docs: DataFrame) -> DataFrame:
    """Judge an incoming document batch against the persisted index —
    the batch twin of `streaming/dedup.py::stream_neardup_against_
    corpus`, answered from the STORE instead of an in-plan corpus
    banding. Verdict ``(doc_id, max_agree, kept)`` with kept ⇔
    max_agree·2 < n_hashes — the identical verdict arithmetic (and the
    identical SQL oracle) as the streaming path, so stream, batch, and
    store agree on what "near-dup" means. Refuses a mismatched-family
    store like the append path.

    Join order is the scale contract (same shape as
    :func:`store_neardup_pairs`): the batch's SKINNY band rows
    collision-join the store's SKINNY ``bands/`` on (band, bucket),
    candidates reduce to DISTINCT (doc_id, c_doc) pairs, and only THEN
    does ``sigs/`` attach — one signature per *colliding corpus doc*,
    not 8 copies per corpus band row shuffled for docs that never
    collide. Collision-free batch docs re-enter via a left-outer join
    of the batch's own signature table against the per-doc maxima
    (agree = 0, kept = true)."""
    _check_family(path)
    inc_bands, inc_sigs = mh.split_bands(docs)
    store_bands = read_delta(spark, os.path.join(path, "bands")).select(
        F.col("doc_id").alias("c_doc"), "band", "bucket"
    )
    cand = (
        inc_bands.join(store_bands, ["band", "bucket"])
        .select("doc_id", "c_doc")
        .distinct()
    )
    store_sigs = _read_sigs(spark, path).select(
        F.col("doc_id").alias("c_doc"), F.col("sig").alias("c_sig")
    )
    hits = (
        cand.join(store_sigs, "c_doc")
        .join(inc_sigs, "doc_id")
        .select("doc_id", mh.agreement("sig", "c_sig").alias("agree"))
        .groupBy("doc_id")
        .agg(F.max("agree").alias("agree"))
    )
    return (
        inc_sigs.select("doc_id")
        .join(hits, "doc_id", "left_outer")
        .select("doc_id", *mh.verdict(F.coalesce(F.col("agree"), F.lit(0))))
    )


def store_delta_pairs(spark: SparkSession, path: str, docs: DataFrame) -> DataFrame:
    """Incremental near-dup pair maintenance: ONLY the pairs that touch
    an arriving batch — batch×store collisions plus batch-internal
    collisions — never a recompute of the store's own self-join. This
    is how a 100 TB corpus keeps a duplicate-pair (or dup-graph) table
    current: the full `store_neardup_pairs` self-join is a once-ever
    bootstrap; every later batch pays O(batch band rows + collisions),
    and `delta ∪ previous-pairs = pairs(store ∪ batch)` exactly
    (pinned by pytest) because banding is fit-free.

    Same join discipline as :func:`store_judge_docs`: skinny band rows
    collide first, candidates reduce to DISTINCT ordered (doc_a,
    doc_b), signatures attach once per candidate pair from the union
    of `sigs/` and the batch's own signature frame. Output schema and
    threshold are exactly `store_neardup_pairs`'s (est_jaccard >= 0.5),
    so downstream consumers cannot tell delta rows from bootstrap
    rows. Assumes batch doc_ids are disjoint from the store's (the
    append contract)."""
    _check_family(path)
    inc_bands, inc_sigs = mh.split_bands(docs)
    store_bands = read_delta(spark, os.path.join(path, "bands")).select(
        F.col("doc_id").alias("s_doc"), "band", "bucket"
    )
    cross = (
        inc_bands.join(store_bands, ["band", "bucket"])
        .select(
            F.least("doc_id", "s_doc").alias("doc_a"),
            F.greatest("doc_id", "s_doc").alias("doc_b"),
        )
    )
    cand = cross.unionByName(mh.collisions(inc_bands)).distinct()
    return mh.est_pairs(cand, _read_sigs(spark, path).unionByName(inc_sigs))

