"""Persisted LSH band-index store (io/lsh_store.py): layout, sidecar
family validation, incremental append identity, compaction."""

from __future__ import annotations

import glob
import os

from etl_github_spark.io.delta_log import read_delta, snapshot_files
from etl_github_spark.io.lsh_store import (
    _SIG_BUCKETS,
    append_bands_store,
    compact_bands_store,
    read_lsh_index,
    store_neardup_pairs,
    write_bands_store,
)

from .conftest import SF_SMALL


def _docs(spark):
    from etl_github_spark.io.tables import load_table

    return load_table(spark, SF_SMALL, "documents")


def test_store_layout_and_sidecar(spark, tmp_path):
    """bands/ is partitioned by band (8 dirs), sigs/ is partitioned by
    hash bucket and holds one row per banded doc, and the sidecar
    records the md5/affine family + sig bucket count."""
    path = str(tmp_path / "store")
    docs = _docs(spark)
    write_bands_store(docs, path)
    band_dirs = sorted(glob.glob(os.path.join(path, "bands", "band=*")))
    assert len(band_dirs) == 8
    sig_dirs = sorted(glob.glob(os.path.join(path, "sigs", "sbucket=*")))
    assert 1 < len(sig_dirs) <= _SIG_BUCKETS
    meta = read_lsh_index(path)
    assert meta["family"] == "md5-affine"
    assert meta["n_hashes"] == 32 and meta["band_size"] == 4
    assert meta["sig_buckets"] == _SIG_BUCKETS
    n_sigs = read_delta(spark, os.path.join(path, "sigs")).count()
    n_banded = docs.where("size(split(text, ' ')) >= 3").count()
    assert n_sigs == n_banded
    # every banded doc contributes exactly 8 band rows
    n_bands = read_delta(spark, os.path.join(path, "bands")).count()
    assert n_bands == 8 * n_sigs


def test_append_equals_full_rebuild(spark, tmp_path):
    """Fit-free index: build-half + append-half must equal the full
    build bit for bit (pairs AND estimates)."""
    docs = _docs(spark)
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    write_bands_store(docs, full)
    write_bands_store(docs.where("doc_id % 2 = 0"), inc)
    append_bands_store(docs.where("doc_id % 2 = 1"), inc)
    rows_full = sorted(tuple(r) for r in store_neardup_pairs(spark, full).collect())
    rows_inc = sorted(tuple(r) for r in store_neardup_pairs(spark, inc).collect())
    assert rows_full == rows_inc and rows_full


def test_append_refuses_family_mismatch(spark, tmp_path):
    """A sidecar that disagrees with the runtime family constants must
    refuse the append — a mixed-family index silently misses dups."""
    import json

    import pytest

    path = str(tmp_path / "store")
    docs = _docs(spark)
    write_bands_store(docs, path)
    meta = read_lsh_index(path)
    meta["band_size"] = 8  # a 4x8 layout store
    with open(os.path.join(path, "_lsh_index.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="family mismatch"):
        append_bands_store(docs.limit(1), path)


def test_compaction_reduces_files_and_preserves_results(spark, tmp_path):
    """After two appends each band partition holds >=3 live files;
    compaction must bring every band AND sig-bucket partition to one
    live file without changing a single pair or estimate — and sigs
    must NOT collapse to a single global file (the coalesce(1)
    anti-pattern: one task rewriting an O(corpus) table)."""
    path = str(tmp_path / "store")
    docs = _docs(spark)
    write_bands_store(docs.where("doc_id % 3 = 0"), path)
    append_bands_store(docs.where("doc_id % 3 = 1"), path)
    append_bands_store(docs.where("doc_id % 3 = 2"), path)
    before = sorted(tuple(r) for r in store_neardup_pairs(spark, path).collect())
    stats = compact_bands_store(spark, path)
    assert stats["files_after"] < stats["files_before"]

    def live_dirs(table):
        return [f.split("/")[0] for f in snapshot_files(os.path.join(path, table))]

    bands, sigs = live_dirs("bands"), live_dirs("sigs")
    assert sorted(bands) == [f"band={b}" for b in range(8)]
    assert len(sigs) > 1  # bucketed rewrite, not one global file
    assert len(sigs) == len(set(sigs)) and all(d.startswith("sbucket=") for d in sigs)
    assert stats["files_after"] == len(bands) + len(sigs)
    after = sorted(tuple(r) for r in store_neardup_pairs(spark, path).collect())
    assert before == after


def test_store_judge_agrees_with_streaming_verdicts(spark, tmp_path):
    """Judging a batch from the store must reproduce the streaming
    path's verdicts row for row (same family, same kept rule), and a
    family-mismatched store must refuse to judge."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from etl_github_spark.io.lsh_store import store_judge_docs
    from etl_github_spark.minhash import band_rows
    from etl_github_spark.streaming.dedup import stream_neardup_against_corpus

    docs = _docs(spark)
    corpus = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    path = str(tmp_path / "store")
    write_bands_store(corpus, path)
    from_store = sorted(
        tuple(r) for r in store_judge_docs(spark, path, batch).collect()
    )
    crows = band_rows(corpus, with_sig=True)
    streaming = sorted(
        tuple(r)
        for r in stream_neardup_against_corpus(
            batch,
            crows.select("doc_id", "band", "bucket"),
            crows.where(F.col("band") == 0).select("doc_id", "sig"),
        ).collect()
    )
    assert from_store == streaming and from_store

    meta = read_lsh_index(path)
    meta["n_hashes"] = 64
    with open(os.path.join(path, "_lsh_index.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="family mismatch"):
        store_judge_docs(spark, path, batch.limit(1))


def test_store_judge_plan_joins_sigs_above_collision(spark, tmp_path):
    """The scale contract from VERDICT r11: store signatures must attach
    AFTER the (band, bucket) collision join reduces candidates to
    distinct (doc_id, c_doc) pairs — never replicated onto every corpus
    band row before the join. Pins the plan shape: a distinct-Aggregate
    over (doc_id, c_doc) exists, and the sigs/ scan is its SIBLING
    (appears after it in the tree print), i.e. sigs join above the
    collision join."""
    from etl_github_spark.io.lsh_store import store_judge_docs

    docs = _docs(spark)
    path = str(tmp_path / "store")
    write_bands_store(docs.where("doc_id % 2 = 0"), path)
    out = store_judge_docs(spark, path, docs.where("doc_id % 2 = 1"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    agg_idx = [
        i
        for i, ln in enumerate(lines)
        if "Aggregate" in ln and "doc_id" in ln and "c_doc" in ln
    ]
    assert agg_idx, f"no distinct (doc_id, c_doc) Aggregate in plan:\n{plan}"
    # the sigs/ scan is the only Relation carrying the sbucket column
    sig_idx = [
        i for i, ln in enumerate(lines) if "Relation" in ln and "sbucket" in ln
    ]
    assert sig_idx, f"no sigs relation in plan:\n{plan}"
    # tree print order: the pre-aggregated candidate subtree (which owns
    # the bands scans) precedes its sigs-join sibling scans
    assert min(agg_idx) < min(sig_idx), (
        "sigs scan is below the collision join (sig replication):\n" + plan
    )


def test_index_freshness_appends_are_visible(spark):
    """The freshness capstone's core claim, asserted directly: appended
    rows are visible to post-append reads. LSH side — every banded
    %3==2 doc gets a verdict against the {0,1} store and near-dups of
    the APPENDED (%3==1) third are flagged; ANN side — the top-k can
    retrieve odd (appended) vec_ids."""
    from etl_github_spark.queries.freshness import pipeline_index_freshness

    rows = pipeline_index_freshness(spark, SF_SMALL).collect()
    lsh = {r["id"]: (r["score"], r["flag"]) for r in rows if r["stage"] == "lsh_judge"}
    ann = [r["id"] for r in rows if r["stage"] == "ann_topk"]
    docs = _docs(spark)
    n_banded = docs.where(
        "doc_id % 3 = 2 AND size(split(text, ' ')) >= 3"
    ).count()
    assert len(lsh) == n_banded and all(k % 3 == 2 for k in lsh)
    assert len(ann) == 10
    assert any(v % 2 == 1 for v in ann), "appended (odd) vectors not retrievable"


def test_delta_pairs_union_bootstrap_equals_full(spark, tmp_path):
    """The incremental-maintenance identity: delta(store, batch) ∪
    bootstrap-pairs(store) must equal pairs(store ∪ batch) exactly —
    rows and estimates — because banding is fit-free. A dropped
    collision class (batch-internal or batch×store) or a double-counted
    pair breaks this."""
    from etl_github_spark.io.lsh_store import store_delta_pairs

    docs = _docs(spark)
    base, full = str(tmp_path / "base"), str(tmp_path / "full")
    write_bands_store(docs.where("doc_id % 2 = 0"), base)
    write_bands_store(docs, full)
    bootstrap = [
        tuple(r) for r in store_neardup_pairs(spark, base).collect()
    ]
    delta = [
        tuple(r)
        for r in store_delta_pairs(
            spark, base, docs.where("doc_id % 2 = 1")
        ).collect()
    ]
    expect = sorted(
        tuple(r) for r in store_neardup_pairs(spark, full).collect()
    )
    assert sorted(bootstrap + delta) == expect and delta and bootstrap


def test_delta_pairs_plan_joins_sigs_above_collision(spark, tmp_path):
    """store_delta_pairs must follow the same scale discipline as the
    judge path: collision joins over skinny band rows reduce to a
    distinct candidate set BEFORE any signature attaches."""
    from etl_github_spark.io.lsh_store import store_delta_pairs

    docs = _docs(spark)
    path = str(tmp_path / "store")
    write_bands_store(docs.where("doc_id % 2 = 0"), path)
    out = store_delta_pairs(spark, path, docs.where("doc_id % 2 = 1"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    agg_idx = [
        i
        for i, ln in enumerate(lines)
        if "Aggregate" in ln and "doc_a" in ln and "doc_b" in ln
    ]
    assert agg_idx, f"no distinct (doc_a, doc_b) Aggregate in plan:\n{plan}"
    sig_idx = [
        i for i, ln in enumerate(lines) if "Relation" in ln and "sbucket" in ln
    ]
    assert sig_idx, f"no sigs relation in plan:\n{plan}"
    assert min(agg_idx) < min(sig_idx), (
        "sigs scan is below the collision join (sig replication):\n" + plan
    )


def test_crashed_store_write_is_invisible_and_vacuumed(spark, tmp_path):
    """A store write that crashed before its commit leaves staged part
    files and a ``.stage-*`` dir in the table. Both stores read only
    what the log names, so neither `store_neardup_pairs` nor
    `ivfpq_probe_topk` sees the staged rows (duplicates that would add
    pairs and neighbours), and `vacuum_delta` reaps exactly them."""
    from pyspark.sql import functions as F

    from etl_github_spark.io.delta_log import _stage_files, vacuum_delta
    from etl_github_spark.io.ivf_store import ivfpq_probe_topk

    from .test_ivf_store import _build_ivfpq

    lsh = str(tmp_path / "store")
    write_bands_store(_docs(spark), lsh)
    ivf, q_raw = _build_ivfpq(spark, tmp_path)

    def answers():
        return (
            sorted(tuple(r) for r in store_neardup_pairs(spark, lsh).collect()),
            [tuple(r) for r in ivfpq_probe_topk(spark, ivf, q_raw).collect()],
        )

    before = answers()
    staged = {}
    for table, id_col, part in (
        (os.path.join(lsh, "bands"), "doc_id", "band"),
        (os.path.join(lsh, "sigs"), "doc_id", "sbucket"),
        (ivf, "vec_id", "cell"),
    ):
        dup = read_delta(spark, table).withColumn(id_col, F.col(id_col) + 10**9)
        adds = _stage_files(dup, table, (), partition_by=(part,))
        stage = os.path.join(table, ".stage-crashed")
        os.makedirs(stage)
        open(os.path.join(stage, "part-00000.parquet"), "wb").close()
        staged[table] = sorted(a["path"] for a in adds) + [".stage-crashed"]
        assert adds and os.path.isdir(stage)

    assert answers() == before
    for table, paths in staged.items():
        assert vacuum_delta(table, retention_seconds=0) == sorted(paths)
    assert answers() == before
