"""Seeded input generators for the benchmark workloads.

Everything here is pure Python / NumPy / PyArrow, so inputs are built
without Spark and the same seed always gives byte-identical files:

* :func:`write_gha_hours` lands GH-Archive-shaped hourly ``.json.gz``
  files (event templates from ``tests/gha_fixture.EVENTS``);
* :func:`write_base_tables` writes the ten fixture-shaped tables the
  registered queries read (one parquet file each, one row group);
* :func:`write_scaled_corpus` grows a base corpus N× with the
  ``tools_build_scale_probe.py`` recipe: replicas with offset keys, a
  suffix token per document replica and a cyclic rotation per embedding
  replica, with the seed picking the tokens and the rotations.
"""

from __future__ import annotations

import copy
import datetime as dt
import gzip
import json
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.gha_fixture import EVENTS, MALFORMED

# --------------------------------------------------------------------------
# GH Archive hours

#: first hour of the generated archive (the reference's default start)
GHA_EPOCH = dt.datetime(2024, 2, 29, tzinfo=dt.timezone.utc)
#: GH Archive's file naming, for ``gha.pipeline.list_files``
GHA_TEMPLATE = "{:%Y-%m-%d-}{}.json.gz"

# The traffic shape below is assumed, not measured on real archive hours:
# the event-type mix, the actor and repo counts, the Zipf exponent and
# the keyword share are round values that give a run non-empty but small
# analytics outputs. The README reports the selectivities they produce.
_TYPE_WEIGHTS = {
    "PushEvent": 45,
    "WatchEvent": 20,
    "IssueCommentEvent": 12,
    "CreateEvent": 10,
    "PullRequestEvent": 8,
    "ForkEvent": 5,
}
_WORDS = (
    "fix add update refactor test docs bump merge remove parallel array "
    "scheduler worker graph cluster dataframe memory task shuffle perf "
    "release build ci lint typo api cache io parquet json"
).split()
_KEYWORDS = (" dask", " Dask", " DASK")
#: share of commit messages and comments that carry the analytics keyword
KEYWORD_SHARE = 0.02
_N_ACTORS = 3000
_N_REPOS = 1500
_ZIPF_S = 1.1


def _templates() -> dict[str, dict]:
    """First fixture event of each type, keyed by type."""
    out: dict[str, dict] = {}
    for ev in EVENTS:
        out.setdefault(ev["type"], ev)
    return out


def _repo_name(rank: int) -> str:
    # ~3% of repos live in the project's own org, which the analytics exclude
    return f"dask/r{rank}" if rank % 33 == 7 else f"org{rank % 97}/repo{rank}"


def _actor(rnd: random.Random) -> str:
    n = rnd.randrange(_N_ACTORS)
    return f"ci-bot{n}" if n % 20 == 0 else f"user{n}"


def _text(rnd: random.Random, lo: int, hi: int) -> str:
    words = [rnd.choice(_WORDS) for _ in range(rnd.randint(lo, hi))]
    if rnd.random() < KEYWORD_SHARE:
        words.insert(rnd.randrange(len(words) + 1), rnd.choice(_KEYWORDS).strip())
        # the keyword must follow a space (" dask"), never start the text
        if words[0] in ("dask", "Dask", "DASK"):
            words.insert(0, "use")
    return " ".join(words)


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def gha_hour_lines(seed: int, hour: int, n_events: int) -> list[str]:
    """NDJSON lines of one generated hour (``hour`` counts from
    :data:`GHA_EPOCH`). Repos are Zipf-skewed so the popularity filter
    keeps a realistic minority; one malformed line per hour exercises the
    corrupt-record path."""
    rnd = random.Random(f"gha:{seed}:{hour}")
    tpl = _templates()
    types = list(_TYPE_WEIGHTS)
    cum_types = np.cumsum([_TYPE_WEIGHTS[t] for t in types]).tolist()
    cum_repos = np.cumsum(1.0 / np.arange(1, _N_REPOS + 1) ** _ZIPF_S).tolist()
    start = GHA_EPOCH + dt.timedelta(hours=hour)
    secs = sorted(rnd.randint(1, 3599) for _ in range(n_events))
    lines = []
    for s in secs:
        kind = rnd.choices(types, cum_weights=cum_types)[0]
        ev = copy.deepcopy(tpl[kind])
        ev["created_at"] = _iso(start + dt.timedelta(seconds=s))
        ev["actor"]["login"] = _actor(rnd)
        ev["repo"]["name"] = _repo_name(rnd.choices(range(_N_REPOS), cum_weights=cum_repos)[0])
        p = ev["payload"]
        earlier = _iso(start - dt.timedelta(minutes=rnd.randint(1, 10_000)))
        if kind == "PushEvent":
            p["commits"] = [
                {"sha": f"{rnd.getrandbits(64):016x}", "message": _text(rnd, 2, 12)}
                for _ in range(rnd.choice((0, 1, 1, 1, 2, 2, 3, 4)))
            ]
        elif kind == "CreateEvent":
            p["ref_type"] = rnd.choice(("branch", "tag", "repository"))
            p["ref"] = None if p["ref_type"] == "repository" else f"feat-{rnd.randrange(999)}"
            p["description"] = None if rnd.random() < 0.5 else _text(rnd, 2, 8)
        elif kind == "PullRequestEvent":
            p["action"] = rnd.choice(("opened", "closed", "reopened"))
            p["number"] = rnd.randrange(1, 50_000)
            pr = p["pull_request"]
            pr["title"] = _text(rnd, 2, 8)
            pr["body"] = None if rnd.random() < 0.3 else _text(rnd, 5, 30)
            pr["user"]["login"] = _actor(rnd)
            pr["created_at"] = earlier
        elif kind == "IssueCommentEvent":
            issue = p["issue"]
            issue["number"] = rnd.randrange(1, 50_000)
            issue["title"] = _text(rnd, 2, 8)
            issue["user"]["login"] = _actor(rnd)
            issue["created_at"] = earlier
            p["comment"]["body"] = _text(rnd, 3, 40)
            p["comment"]["author_association"] = rnd.choice(
                ("NONE", "MEMBER", "CONTRIBUTOR", "OWNER")
            )
        lines.append(json.dumps(ev))
    lines.insert(rnd.randrange(len(lines) + 1), MALFORMED[1])
    return lines


def gha_hour_path(landing: Path, hour: int) -> Path:
    t = GHA_EPOCH + dt.timedelta(hours=hour)
    return landing / GHA_TEMPLATE.format(t, t.hour)


def write_gha_hours(
    landing: Path, seed: int, hours: range, n_events: int
) -> dict[int, int]:
    """Land ``hours`` as gzip NDJSON files; returns {hour: raw NDJSON
    bytes}. ``mtime=0`` keeps the gzip header free of the write time."""
    landing.mkdir(parents=True, exist_ok=True)
    raw = {}
    for h in hours:
        data = ("\n".join(gha_hour_lines(seed, h, n_events)) + "\n").encode()
        gha_hour_path(landing, h).write_bytes(gzip.compress(data, 6, mtime=0))
        raw[h] = len(data)
    return raw


# --------------------------------------------------------------------------
# fixture-shaped tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["red", "blue", "small", "hot", "old", "big", "green", "dark"]
_PNOUN = ["plate", "widget", "ring", "rod", "anvil", "gear", "valve", "bolt"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_DOC_WORDS = (
    "a the scan column window order sort part agg value line key join merge "
    "group query vector hash slow stream filter fast batch spark table small "
    "data big customer row"
).split()
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
EMB_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """True 2-decimal values stored as double (the queries' fixed-point
    sums rely on that)."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng, start: str, stop: str, n: int, unit: str) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(stop, "D")
    width = int((hi - lo) / np.timedelta64(1, "D")) + 1
    d = lo + rng.integers(0, width, n).astype("timedelta64[D]")
    return pa.array(d.astype(f"datetime64[{unit}]"))


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def base_table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TPC-H-shaped tables
    scale linearly; documents and embeddings have a floor of 250)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(10, int(15_000 * sf)),
        "documents": max(250, int(50_000 * sf)),
        "embeddings": max(250, int(20_000 * sf)),
    }


def write_base_tables(dest: Path, seed: int, sf: float) -> None:
    """The ten fixture tables (TESTDATA.md schema) at scale ``sf``."""
    dest.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = base_table_rows(sf)
    i32 = pa.int32()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    }), dest / "region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }), dest / "nation.parquet")

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    }), dest / "customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }), dest / "supplier.parquet")

    npart = n["part"]
    _write(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
    }), dest / "part.parquet")

    no = n["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no, "ms"),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    }), dest / "orders.parquet")

    lines = rng.integers(1, 8, no)  # 1..7 lines per order, 4 on average
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl, "ms"),
    }), dest / "lineitem.parquet")

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, ne).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), dest / "events.parquet")

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(_DOC_WORDS, k)))
    _write(pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), dest / "documents.parquet")

    nv = n["embeddings"]
    x = rng.standard_normal((nv, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    }), dest / "embeddings.parquet")


# --------------------------------------------------------------------------
# N× corpus (tools_build_scale_probe.py recipe)


def _replicate(t: pa.Table, replicas: int, fn) -> pa.Table:
    return pa.concat_tables([t] + [fn(i) for i in range(1, replicas)])


def _offset(t: pa.Table, cols: dict[str, int]) -> pa.Table:
    for c, off in cols.items():
        idx = t.schema.get_field_index(c)
        t = t.set_column(idx, c, pc.add(t[c], pa.scalar(off, t[c].type)))
    return t


def write_scaled_corpus(src: Path, dest: Path, seed: int, replicas: int) -> None:
    """Grow the base corpus at ``src`` ``replicas``× into ``dest``.

    documents: replicas are near-duplicates of their base document (a
    seeded suffix token each); embeddings: cyclic rotations by seeded
    offsets (norms and pairwise statistics kept); events, orders and
    lineitem: offset keys, so the purchase graph becomes ``replicas``
    disjoint copies; dimension tables are copied as-is."""
    dest.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, replicas])
    tokens = [f"repl{t}" for t in rng.integers(0, 1_000_000, replicas)]
    rotations = rng.permutation(np.arange(1, EMB_DIM))[:replicas]

    def read(name):
        return pq.read_table(src / f"{name}.parquet")

    docs = read("documents")
    off = pc.max(docs["doc_id"]).as_py() + 1

    def doc_replica(i):
        text = pc.binary_join_element_wise(docs["text"], pa.scalar(tokens[i]), " ")
        return pa.table({
            "doc_id": pc.add(docs["doc_id"], i * off),
            "text": text,
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pc.utf8_length(text).cast(pa.int64()),
        })

    _write(_replicate(docs, replicas, doc_replica), dest / "documents.parquet")

    emb = read("embeddings")
    voff = pc.max(emb["vec_id"]).as_py() + 1
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)

    def emb_replica(i):
        rot = np.roll(vecs, -int(rotations[i % len(rotations)]), axis=1)
        return pa.table({
            "vec_id": pc.add(emb["vec_id"], i * voff),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(rot.ravel()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": emb["label"],
        })

    _write(_replicate(emb, replicas, emb_replica), dest / "embeddings.parquet")

    ev = read("events")
    eoff = pc.max(ev["event_id"]).as_py() + 1
    uoff = pc.max(ev["user_id"]).as_py() + 1
    _write(_replicate(ev, replicas, lambda i: _offset(
        ev, {"event_id": i * eoff, "user_id": i * uoff})), dest / "events.parquet")

    orders, li = read("orders"), read("lineitem")
    ooff = pc.max(orders["o_orderkey"]).as_py() + 1
    coff = pc.max(orders["o_custkey"]).as_py() + 1
    soff = pc.max(li["l_suppkey"]).as_py() + 1
    poff = pc.max(li["l_partkey"]).as_py() + 1
    _write(_replicate(orders, replicas, lambda i: _offset(
        orders, {"o_orderkey": i * ooff, "o_custkey": i * coff})), dest / "orders.parquet")
    _write(_replicate(li, replicas, lambda i: _offset(
        li, {"l_orderkey": i * ooff, "l_suppkey": i * soff, "l_partkey": i * poff}
    )), dest / "lineitem.parquet")

    for t in ("region", "nation", "customer", "supplier", "part"):
        _write(read(t), dest / f"{t}.parquet")
