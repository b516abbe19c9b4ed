"""Physical IVF store: partition-pruned probes must touch only the
probed cells' committed files and return exactly the in-plan probe's
result."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from .conftest import SF_SMALL


def write_embeddings_ivfpq(res, path, centroids, books) -> None:
    """The two-pass IVF-PQ store build the fused `write_ivfpq_store` is
    pinned bit-identical to: ``res`` is the residual frame
    (`queries.scale_paths.residual_frame`), PQ-encoded and committed
    with the same sidecar."""
    from etl_github_spark.io.ivf_store import _commit_codes, _write_ivfpq_sidecar
    from etl_github_spark.queries.scale_paths import pq_encode

    _commit_codes(
        pq_encode(res.select("vec_id", "cell", "embedding"), books), path, "overwrite"
    )
    _write_ivfpq_sidecar(path, centroids, books)


def _build_ivfpq(spark, tmp_path):
    from etl_github_spark.io.tables import load_table
    from etl_github_spark.queries.scale_paths import (
        lloyd_fit,
        pq_fit,
        residual_frame,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    centroids = lloyd_fit(emb, k=8, iters=3)
    res = residual_frame(spark, emb, centroids)
    books = pq_fit(res.select("vec_id", "embedding"), m=16, ksub=64)
    path = str(tmp_path / "ivfpq")
    write_embeddings_ivfpq(res, path, centroids, books)
    q_raw = emb.where(F.col("vec_id") == 0).first()["embedding"]
    return path, q_raw


def test_ivfpq_store_probe_matches_in_plan_query(spark, tmp_path):
    """The store-backed probe (fit persisted via sidecar, codes read
    from cell-partitioned parquet) must reproduce the in-plan
    sim_ivfpq_residual_topk result exactly — same index, same ADC
    tables, same codes, same fold order."""
    from etl_github_spark.io.ivf_store import ivfpq_probe_topk
    from etl_github_spark.queries.registry import QUERIES

    path, q_raw = _build_ivfpq(spark, tmp_path)
    got = [tuple(r) for r in ivfpq_probe_topk(spark, path, q_raw).collect()]
    want = [
        tuple(r)
        for r in QUERIES["sim_ivfpq_residual_topk"].fn(spark, SF_SMALL).collect()
    ]
    assert got == want


def test_ivfpq_store_probe_prunes_partitions(spark, tmp_path):
    """The code-table scan must carry the cell predicate as a
    PartitionFilter: bytes touched scale with nprobe, not corpus."""
    from etl_github_spark.io.ivf_store import ivfpq_probe_topk

    path, q_raw = _build_ivfpq(spark, tmp_path)
    probed = ivfpq_probe_topk(spark, path, q_raw, nprobe=3)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain("formatted")
    plan = buf.getvalue()
    part_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in part_line

    # behavioral proof: corrupt a COMMITTED file of a non-probed cell —
    # a pruned scan never opens it, while a full snapshot scan fails.
    import pytest
    from etl_github_spark.io.delta_log import read_delta, snapshot_files
    from etl_github_spark.io.ivf_store import probe_cells, read_ivfpq_index

    centroids, _ = read_ivfpq_index(path)
    probe = set(probe_cells(centroids, q_raw, 3))
    files = {int(f.split("/")[0].split("=")[1]): f for f in snapshot_files(path)}
    assert len(files) > 3
    victim = files[sorted(set(files) - probe)[0]]
    with open(f"{path}/{victim}", "wb") as fh:
        fh.write(b"not a parquet file")

    assert ivfpq_probe_topk(spark, path, q_raw, nprobe=3).count() == 10
    with pytest.raises(Exception):
        read_delta(spark, path).count()


def test_ivfpq_index_sidecar_roundtrips_exactly(spark, tmp_path):
    """json round-trips doubles exactly: the read-back index must be
    bit-identical to the fitted one (probe choice + ADC tables replay)."""
    from etl_github_spark.io.ivf_store import read_ivfpq_index
    from etl_github_spark.io.tables import load_table
    from etl_github_spark.queries.scale_paths import (
        lloyd_fit,
        pq_fit,
        residual_frame,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    centroids = lloyd_fit(emb, k=8, iters=3)
    res = residual_frame(spark, emb, centroids)
    books = pq_fit(res.select("vec_id", "embedding"), m=16, ksub=64)
    path = str(tmp_path / "ivfpq_rt")
    write_embeddings_ivfpq(res, path, centroids, books)
    rc, rb = read_ivfpq_index(path)
    assert [[float(v) for v in c] for c in centroids] == rc
    assert [[[float(v) for v in w] for w in s] for s in books] == rb


def test_ivfpq_append_with_stored_index_matches_full_build(spark, tmp_path):
    """The FAISS add() lifecycle: build from the even half, append the
    odd half encoded with the STORED index — the resulting store must
    contain the full corpus and probe identically to a full-corpus
    build (fit-sample identity: vec_id % 4 == 0 is a subset of the
    evens, so both fits see the same sample)."""
    from etl_github_spark.io.delta_log import read_delta
    from etl_github_spark.io.ivf_store import (
        append_embeddings_ivfpq,
        ivfpq_probe_topk,
    )
    from etl_github_spark.io.tables import load_table
    from etl_github_spark.queries.scale_paths import (
        lloyd_fit,
        pq_fit,
        residual_frame,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    n_all = emb.count()
    base = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    q_raw = emb.where(F.col("vec_id") == 0).first()["embedding"]

    centroids = lloyd_fit(base, k=8, iters=3)
    res_base = residual_frame(spark, base, centroids)
    books = pq_fit(res_base.select("vec_id", "embedding"), m=16, ksub=64)
    p_inc = str(tmp_path / "inc")
    write_embeddings_ivfpq(res_base, p_inc, centroids, books)
    append_embeddings_ivfpq(spark, rest, p_inc)

    # full-corpus build for comparison (same fits by the sample identity)
    c_full = lloyd_fit(emb, k=8, iters=3)
    res_full = residual_frame(spark, emb, c_full)
    b_full = pq_fit(res_full.select("vec_id", "embedding"), m=16, ksub=64)
    p_full = str(tmp_path / "full")
    write_embeddings_ivfpq(res_full, p_full, c_full, b_full)

    assert read_delta(spark, p_inc).count() == n_all
    got = [tuple(r) for r in ivfpq_probe_topk(spark, p_inc, q_raw).collect()]
    want = [tuple(r) for r in ivfpq_probe_topk(spark, p_full, q_raw).collect()]
    assert got == want


def test_ivfpq_compact_reduces_files_and_preserves_probe(spark, tmp_path):
    """OPTIMIZE for the code store: after an append leaves multiple
    files per cell, compaction must rewrite to one file per cell and
    change NOTHING about probe results or row counts."""
    from etl_github_spark.io.ivf_store import (
        append_embeddings_ivfpq,
        compact_ivfpq_store,
        ivfpq_probe_topk,
    )
    from etl_github_spark.io.tables import load_table

    # reuse the even/odd lifecycle: build from evens, append odds
    emb = load_table(spark, SF_SMALL, "embeddings")
    base = emb.where(F.col("vec_id") % 2 == 0)
    from etl_github_spark.queries.scale_paths import (
        lloyd_fit,
        pq_fit,
        residual_frame,
    )

    centroids = lloyd_fit(base, k=8, iters=3)
    res = residual_frame(spark, base, centroids)
    books = pq_fit(res.select("vec_id", "embedding"), m=16, ksub=64)
    path = str(tmp_path / "store")
    write_embeddings_ivfpq(res, path, centroids, books)
    append_embeddings_ivfpq(
        spark, emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"), path
    )

    from etl_github_spark.io.delta_log import read_delta, snapshot_files

    q_raw = emb.where(F.col("vec_id") == 0).first()["embedding"]
    n = read_delta(spark, path).count()
    want = [tuple(r) for r in ivfpq_probe_topk(spark, path, q_raw).collect()]

    stats = compact_ivfpq_store(spark, path)
    assert stats["files_after"] < stats["files_before"]

    # exactly one live file per cell, and the counts are the snapshot's
    cells = [f.split("/")[0] for f in snapshot_files(path)]
    assert len(cells) == len(set(cells)) == stats["files_after"]

    assert read_delta(spark, path).count() == n
    got = [tuple(r) for r in ivfpq_probe_topk(spark, path, q_raw).collect()]
    assert got == want


def test_fused_fit_and_encode_bit_identical_to_unfused_chain(spark):
    """r14 fusion pins: `fit_ivfpq` (one persisted sample, shared init
    collect, driver-side PQ init residuals) must reproduce the unfused
    lloyd_fit → residual_frame → pq_fit chain bit for bit, and the
    fused `residual_encode` kernel must emit exactly the codes of
    residual_frame → pq_encode."""
    import numpy as np

    from etl_github_spark.io.tables import load_table
    from etl_github_spark.queries.scale_paths import (
        fit_ivfpq,
        lloyd_fit,
        pq_encode,
        pq_fit,
        residual_encode,
        residual_frame,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    c_old = lloyd_fit(emb, k=8, iters=3)
    res = residual_frame(spark, emb, c_old)
    b_old = pq_fit(res.select("vec_id", "embedding"), m=16, ksub=64)
    c_new, b_new = fit_ivfpq(emb, k=8, m=16, ksub=64)
    assert np.array_equal(np.asarray(c_old), np.asarray(c_new))
    assert np.array_equal(np.asarray(b_old), np.asarray(b_new))

    two_pass = {
        r["vec_id"]: (tuple(r["codes"]), r["cell"])
        for r in pq_encode(res.select("vec_id", "cell", "embedding"), b_old)
        .select("vec_id", "codes", "cell")
        .collect()
    }
    fused = {
        r["vec_id"]: (tuple(r["codes"]), r["cell"])
        for r in residual_encode(emb, c_old, b_old).collect()
    }
    assert fused == two_pass

    # the probed-cells variant drops exactly the non-probed rows
    probe = [0, 3]
    sub = {
        r["vec_id"]: (tuple(r["codes"]), r["cell"])
        for r in residual_encode(emb, c_old, b_old, cells=probe).collect()
    }
    assert sub == {k: v for k, v in two_pass.items() if v[1] in probe}


def test_write_ivfpq_store_matches_two_pass_write(spark, tmp_path):
    """`write_ivfpq_store` (fused raw-input build) must lay down the
    same rows and the same sidecar as `write_embeddings_ivfpq` over the
    separately materialized residual frame."""
    from etl_github_spark.io.delta_log import read_delta
    from etl_github_spark.io.ivf_store import (
        read_ivfpq_index,
        write_ivfpq_store,
    )
    from etl_github_spark.io.tables import load_table
    from etl_github_spark.queries.scale_paths import fit_ivfpq, residual_frame

    emb = load_table(spark, SF_SMALL, "embeddings")
    centroids, books = fit_ivfpq(emb, k=8, m=16, ksub=64)
    p_old = str(tmp_path / "two_pass")
    p_new = str(tmp_path / "fused")
    write_embeddings_ivfpq(residual_frame(spark, emb, centroids), p_old,
                           centroids, books)
    write_ivfpq_store(emb, p_new, centroids, books)

    def rows(p):
        return {
            r["vec_id"]: (tuple(r["codes"]), r["cell"])
            for r in read_delta(spark, p).collect()
        }

    assert rows(p_new) == rows(p_old)
    assert read_ivfpq_index(p_new) == read_ivfpq_index(p_old)


def test_ivfpq_sidecar_dump_failure_keeps_previous_index(tmp_path, monkeypatch):
    """The sidecar is published by temp file + rename: a dump that dies
    partway leaves the previous index readable, never a truncated one."""
    import json

    import pytest
    from etl_github_spark.io.ivf_store import _write_ivfpq_sidecar, read_ivfpq_index

    path = str(tmp_path)
    _write_ivfpq_sidecar(path, [[0.5, 1.0]], [[[0.25]]])

    def torn_dump(obj, fh):
        fh.write('{"centroids": [[')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        _write_ivfpq_sidecar(path, [[9.0, 9.0]], [[[9.0]]])
    monkeypatch.undo()
    assert read_ivfpq_index(path) == ([[0.5, 1.0]], [[[0.25]]])
