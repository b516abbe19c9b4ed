"""The seeded input generators: the same seed gives byte-identical inputs."""

from __future__ import annotations

import gzip
import json
from pathlib import Path

from perfbench import gen


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _build(root: Path, seed: int) -> dict[str, bytes]:
    gen.write_gha_hours(root / "gha", seed, range(-1, 2), n_events=60)
    gen.write_base_tables(root / "base", seed, sf=0.001)
    gen.write_scaled_corpus(root / "base", root / "x3", seed, replicas=3)
    return _tree_bytes(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _build(tmp_path / "a", seed=7)
    b = _build(tmp_path / "b", seed=7)
    assert a.keys() == b.keys()
    assert a == b
    c = _build(tmp_path / "c", seed=8)
    assert all(a[k] != c[k] for k in a if k.endswith(".gz") or "documents" in k)


def test_gha_hour_shape(tmp_path):
    raw = gen.write_gha_hours(tmp_path, seed=1, hours=range(1), n_events=200)
    path = gen.gha_hour_path(tmp_path, 0)
    assert path.name == "2024-02-29-0.json.gz"
    data = gzip.decompress(path.read_bytes())
    assert len(data) == raw[0]
    lines = data.decode().splitlines()
    events = [json.loads(x) for x in lines if x.startswith("{")]
    assert len(events) == 200 and len(lines) == 201  # plus one malformed line
    assert all(e["created_at"].startswith("2024-02-29T00:") for e in events)
    assert {e["type"] for e in events} == set(gen._TYPE_WEIGHTS)


def test_scaled_corpus_replicates_with_offsets(tmp_path):
    import pyarrow.parquet as pq

    gen.write_base_tables(tmp_path / "base", seed=3, sf=0.001)
    gen.write_scaled_corpus(tmp_path / "base", tmp_path / "x4", seed=3, replicas=4)
    for t in ("documents", "embeddings", "events", "orders", "lineitem"):
        base = pq.read_table(tmp_path / "base" / f"{t}.parquet")
        big = pq.read_table(tmp_path / "x4" / f"{t}.parquet")
        assert big.num_rows == 4 * base.num_rows
    ids = pq.read_table(tmp_path / "x4" / "embeddings.parquet")["vec_id"].to_pylist()
    assert len(set(ids)) == len(ids)
