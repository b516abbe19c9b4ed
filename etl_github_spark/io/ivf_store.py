"""Physical IVF-PQ vector store: cell-partitioned parquet + pruned probes.

`sim_ivf_kmeans_topk` demonstrates the IVF *algorithm* with an in-plan
cell filter; this module is the *storage* half of its 100 TB story:
vectors are PQ-encoded once and written partitioned by coarse-quantizer
cell, so a probe is a PARTITION-PRUNED scan of nprobe directories — the
other (corpus − nprobe/k) fraction of the data is never listed, opened,
or read. Spark's partition discovery turns ``cell=<id>`` directories
into a partition column; `ivfpq_probe_topk` filters on it, and the
plan's PartitionFilters (asserted in tests) proves bytes-touched scales
with nprobe, not corpus size.

Index metadata is the k×dim coarse centroid matrix (see
`queries.scale_paths.lloyd_fit`) plus the PQ codebooks, stored beside
the data as JSON — the same "stats sidecar" pattern as
`sink.analyze_table`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lsh_store import _cluster_for_write, recover_compaction  # noqa: F401
# Shared swap recovery: compact_ivfpq_store uses the same deferred-delete
# directory swap; after a crash mid-compaction run
# recover_compaction(store_path) — correct HERE because ``cell=*`` lives
# directly under the IVF store root. The adjacent LSH store partitions
# live one level down: run it on <store>/bands AND <store>/sigs there
# (see recover_compaction's docstring).


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


def write_embeddings_ivfpq(res: DataFrame, path: str, centroids, books) -> None:
    """Write the residual IVF-PQ store — the FAISS IndexIVFPQ layout
    re-expressed as a lakehouse table: ``res`` is the residual frame
    (`queries.scale_paths.residual_frame`: vec_id, cell, embedding =
    vec − assigned coarse centroid); each residual is PQ-encoded to m
    small ints and written as (vec_id, codes) parquet PARTITIONED BY
    cell, with an ``_ivfpq_index.json`` sidecar holding the k×dim
    coarse centroids and the (m, ksub, dsub) codebooks — the entire
    index metadata. Fit once, write once, query many: a probe never
    re-fits and never touches the raw vectors.

    Scale shape: one scan + one Arrow encode pass (the `cell` column
    rides through the kernel — no re-attach join) + one partitioned
    shuffle-free sink; stored rows are m bytes of codes instead of 256
    bytes of float32×64."""
    from ..queries.scale_paths import pq_encode

    _cluster_for_write(
        pq_encode(res.select("vec_id", "cell", "embedding"), books).select(
            "vec_id", "codes", "cell"
        ),
        "cell",
        "vec_id",
    ).write.partitionBy("cell").mode("overwrite").parquet(path)
    _write_ivfpq_sidecar(path, centroids, books)


def write_ivfpq_store(raw: DataFrame, path: str, centroids, books) -> None:
    """Build the residual IVF-PQ store straight from RAW (vec_id,
    embedding) vectors — the r14 fused form of
    :func:`write_embeddings_ivfpq`: assign, residual-quantize, and
    PQ-encode run as ONE Arrow kernel pass
    (`queries.scale_paths.residual_encode`), so the build never
    materializes a corpus-sized residual frame and each 256-byte
    embedding crosses the Python boundary exactly once (guide §4.2).
    Store layout, sidecar, and every stored byte are identical to the
    two-pass form (kernel A/B'd bit-identical at sf0.1)."""
    from ..queries.scale_paths import residual_encode

    _cluster_for_write(
        residual_encode(raw, centroids, books).select("vec_id", "codes", "cell"),
        "cell",
        "vec_id",
    ).write.partitionBy("cell").mode("overwrite").parquet(path)
    _write_ivfpq_sidecar(path, centroids, books)


def _write_ivfpq_sidecar(path: str, centroids, books) -> None:
    with open(os.path.join(path, "_ivfpq_index.json"), "w") as fh:
        json.dump(
            {
                "centroids": [[float(v) for v in c] for c in centroids],
                "books": [
                    [[float(v) for v in code] for code in sub] for sub in books
                ],
            },
            fh,
        )


def append_embeddings_ivfpq(spark: SparkSession, new_vecs: DataFrame, path: str) -> None:
    """Incremental IVF-PQ maintenance — the FAISS ``add()`` shape: encode
    a NEW vector batch with the STORED index (sidecar centroids +
    codebooks, no refit) and append its codes to the cell partitions.
    This is the steady-state ingest path: the index is fitted once on a
    representative corpus and every later batch pays only one assignment
    + encode kernel pass and a partitioned append — at 100 TB the
    append touches exactly the cell directories the batch lands in.
    ``new_vecs`` is (vec_id, embedding) RAW vectors; residuals are formed
    against the stored coarse centroids exactly like the build path —
    assign + residual-quantize + encode fused into one Arrow pass
    (`queries.scale_paths.residual_encode`, r14)."""
    from ..queries.scale_paths import residual_encode

    centroids, books = read_ivfpq_index(path)
    _cluster_for_write(
        residual_encode(new_vecs, centroids, books).select(
            "vec_id", "codes", "cell"
        ),
        "cell",
        "vec_id",
    ).write.partitionBy("cell").mode("append").parquet(path)


def compact_ivfpq_store(spark: SparkSession, path: str) -> dict:
    """OPTIMIZE for the IVF-PQ store: steady-state appends leave each
    ``cell=<id>`` directory with one small file per batch, and probe
    cost degrades from "read nprobe files" to "open nprobe × batches
    tiny files" (the classic small-file problem). Rewrite every cell to
    ONE file: read the store, one shuffle keyed by cell, atomic
    directory swap (write to ``<path>/_compact_tmp``, then swap per
    cell) so a concurrent probe never sees a half-written cell. The
    sidecar index is untouched — compaction moves bytes, never
    semantics. Idempotent after a crash: runs
    :func:`recover_compaction` first, so a prior interrupted run's
    ``*.old`` / ``_compact_tmp`` leftovers are healed instead of being
    partition-discovered back into the rewrite (stale rows) or nesting
    the new output. Returns {"files_before": n, "files_after": m}."""
    import glob
    import os
    import shutil

    recover_compaction(path)

    def _count():
        return len(glob.glob(os.path.join(path, "cell=*", "*.parquet")))

    before = _count()
    tmp = os.path.join(path, "_compact_tmp")
    # hash-repartition BY CELL (not to 1): each cell lands wholly in one
    # task → exactly one output file per cell, while the rewrite itself
    # stays parallel across cells — the shape that survives a store with
    # thousands of cells.
    (
        spark.read.parquet(path)
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(tmp)
    )
    # Deferred-delete swap (same crash-recovery contract as the LSH
    # store's `_compact_partitioned`): every .old survives until ALL
    # cells have swapped, so a crash mid-loop leaves each cell's rows
    # in exactly one of <dir> (new) or <dir>.old (pre-compaction);
    # `recover_compaction` restores the .old of any missing dir.
    olds = []
    for cdir in sorted(glob.glob(os.path.join(tmp, "cell=*"))):
        dest = os.path.join(path, os.path.basename(cdir))
        old = dest + ".old"
        shutil.move(dest, old)  # every tmp cell exists in the store
        shutil.move(cdir, dest)  # atomic publish per cell
        olds.append(old)
    for old in olds:
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return {"files_before": before, "files_after": _count()}


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
    metadata), then a PARTITION-PRUNED scan of the probed ``cell=<id>``
    directories + the m-fold ADC score + TakeOrderedAndProject. Bytes
    touched scale with nprobe/k of the corpus at m bytes per row."""
    from ..queries.scale_paths import adc_score_topk, residual_adc_tables

    centroids, books = read_ivfpq_index(path)
    m, ksub = len(books), len(books[0])
    probe = probe_cells(centroids, q_raw, nprobe)
    tab = residual_adc_tables(q_raw, centroids, books, probe, m, ksub)
    coded = spark.read.parquet(path).where(F.col("cell").isin(probe))
    return adc_score_topk(coded, probe, tab, m, topk=topk)
