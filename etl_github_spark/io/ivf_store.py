"""Physical IVF-PQ vector store: a cell-partitioned Delta table + pruned probes.

`sim_ivf_kmeans_topk` demonstrates the IVF *algorithm* with an in-plan
cell filter; this module is the *storage* half of its 100 TB story:
vectors are PQ-encoded once and committed to a Delta table
(`io/delta_log.py`) partitioned by coarse-quantizer cell, so a probe is
a PARTITION-PRUNED scan of nprobe cells — the other (corpus −
nprobe/k) fraction of the data is never opened or read. The store is
read through `read_delta`, which names exactly the committed files and
derives ``cell`` from their hive paths; `ivfpq_probe_topk` filters on
it, and the plan's PartitionFilters (asserted in tests) proves bytes
touched scales with nprobe, not corpus size.

Writes, appends and compaction are Delta commits: a crashed write or
compaction leaves staged files no commit names, which no probe reads
and `vacuum_delta` reaps. There is no recovery step of the store's own.

Index metadata is the k×dim coarse centroid matrix (see
`queries.scale_paths.lloyd_fit`) plus the PQ codebooks, stored beside
the table as the ``_ivfpq_index.json`` sidecar, published atomically
by `io.sink.write_sidecar`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .delta_log import optimize_delta, read_delta, snapshot_files, write_delta
from .sink import cluster_for_write, write_sidecar


def probe_cells(centroids, q_vec, nprobe: int) -> list[int]:
    """The nprobe nearest cells to the query — left-fold distances,
    (dist, cell) tie-break, matching the query-side oracle contract."""
    dq = []
    for cell, c in enumerate(centroids):
        d = 0.0
        for qi, ci in zip(q_vec, c):
            t = float(qi) - float(ci)
            d += t * t
        dq.append((d, cell))
    return [cell for _, cell in sorted(dq)[:nprobe]]


def _commit_codes(coded: DataFrame, path: str, mode: str) -> None:
    """One Delta commit of (vec_id, codes, cell) rows, partitioned by
    cell and clustered so each write lands one file per cell."""
    write_delta(
        cluster_for_write(coded.select("vec_id", "codes", "cell"), ("cell",), "vec_id"),
        path,
        mode=mode,
        partition_by=("cell",),
    )


def write_ivfpq_store(raw: DataFrame, path: str, centroids, books) -> None:
    """Build the residual IVF-PQ store — the FAISS IndexIVFPQ layout
    re-expressed as a lakehouse table — straight from RAW (vec_id,
    embedding) vectors: each residual (vec − assigned coarse centroid)
    is PQ-encoded to m small ints and committed as (vec_id, codes) rows
    of a Delta table PARTITIONED BY cell, with an ``_ivfpq_index.json``
    sidecar holding the k×dim coarse centroids and the (m, ksub, dsub)
    codebooks — the entire index metadata. Fit once, write once, query
    many: a probe never re-fits and never touches the raw vectors.

    Assign, residual-quantize, and PQ-encode run as ONE Arrow kernel pass
    (`queries.scale_paths.residual_encode`), so the build never
    materializes a corpus-sized residual frame and each 256-byte
    embedding crosses the Python boundary exactly once (guide §4.2).
    Store layout, sidecar, and every stored byte are identical to the
    two-pass form (`queries.scale_paths.residual_frame`, then
    `pq_encode`), which the tests keep as the reference."""
    from ..queries.scale_paths import residual_encode

    _commit_codes(residual_encode(raw, centroids, books), path, "overwrite")
    _write_ivfpq_sidecar(path, centroids, books)


def _write_ivfpq_sidecar(path: str, centroids, books) -> None:
    write_sidecar(
        os.path.join(path, "_ivfpq_index.json"),
        {
            "centroids": [[float(v) for v in c] for c in centroids],
            "books": [[[float(v) for v in code] for code in sub] for sub in books],
        },
    )


def append_embeddings_ivfpq(spark: SparkSession, new_vecs: DataFrame, path: str) -> None:
    """Incremental IVF-PQ maintenance — the FAISS ``add()`` shape: encode
    a NEW vector batch with the STORED index (sidecar centroids +
    codebooks, no refit) and append its codes to the cell partitions as
    one Delta commit. This is the steady-state ingest path: the index
    is fitted once on a representative corpus and every later batch
    pays only one assignment + encode kernel pass and a partitioned
    append — at 100 TB the append touches exactly the cells the batch
    lands in. ``new_vecs`` is (vec_id, embedding) RAW vectors;
    residuals are formed against the stored coarse centroids exactly
    like the build path — assign + residual-quantize + encode fused
    into one Arrow pass (`queries.scale_paths.residual_encode`, r14)."""
    from ..queries.scale_paths import residual_encode

    centroids, books = read_ivfpq_index(path)
    _commit_codes(residual_encode(new_vecs, centroids, books), path, "append")


def compact_ivfpq_store(spark: SparkSession, path: str) -> dict:
    """OPTIMIZE for the IVF-PQ store: steady-state appends leave each
    cell with one small file per batch, and probe cost degrades from
    "read nprobe files" to "open nprobe × batches tiny files" (the
    classic small-file problem). `optimize_delta` bin-packs each cell's
    files into one (up to its target size) in one Spark job and
    publishes the rewrite as ONE ``dataChange: false`` commit, so a
    concurrent probe sees either the old files or the new ones, never
    a half-written cell. The sidecar index is untouched — compaction
    moves bytes, never semantics. The replaced files stay on disk for
    time travel until `vacuum_delta` reaps them at its default
    retention. Returns {"files_before": n, "files_after": m}, counted
    from the live snapshot."""
    before = len(snapshot_files(path))
    optimize_delta(spark, path)
    return {"files_before": before, "files_after": len(snapshot_files(path))}


def read_ivfpq_index(path: str):
    """(centroids, books) from the store sidecar. Python json round-trips
    doubles exactly (repr-based), so the read-back index is bit-identical
    to the fitted one — probe choice and ADC tables replay exactly."""
    with open(os.path.join(path, "_ivfpq_index.json")) as fh:
        idx = json.load(fh)
    return idx["centroids"], idx["books"]


def ivfpq_probe_topk(
    spark: SparkSession,
    path: str,
    q_raw,
    nprobe: int = 3,
    topk: int = 10,
) -> DataFrame:
    """Answer a query purely from the IVF-PQ store — no fit, no raw
    vectors: read the sidecar index, pick the nprobe nearest cells and
    build the per-cell ADC tables driver-side (nprobe·m·ksub doubles of
    metadata), then a PARTITION-PRUNED scan of the probed cells' files
    + the m-fold ADC score + TakeOrderedAndProject. Bytes touched scale
    with nprobe/k of the corpus at m bytes per row."""
    from ..queries.scale_paths import adc_score_topk, residual_adc_tables

    centroids, books = read_ivfpq_index(path)
    m, ksub = len(books), len(books[0])
    probe = probe_cells(centroids, q_raw, nprobe)
    tab = residual_adc_tables(q_raw, centroids, books, probe, m, ksub)
    coded = read_delta(spark, path).where(F.col("cell").isin(probe))
    return adc_score_topk(coded, probe, tab, m, topk=topk)
