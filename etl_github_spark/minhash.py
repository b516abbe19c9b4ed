"""Banded MinHash over the md5/affine family — the one near-dup hash
family of the engine, in Spark and in its DuckDB oracle twin.

    shingle id  x  = first 60 bits of md5(shingle) mod p    (both engines)
    h_i(x)         = (a_i * x + b_i) mod p,  p = 2^31 - 1
    band bucket    = the band's BAND_SIZE signature components, joined by ","

a_i/b_i are fixed splitmix-derived constants, so Spark and DuckDB compute
bit-identical signatures, bands, candidates and agreement counts; every
MinHash query is therefore replayed whole by its oracle.

Every consumer composes the steps below — the batch queries
(`queries/dedup.py`, `queries/clustering.py`), the persisted band index
(`io/lsh_store.py`), the streaming judges (`streaming/dedup.py`) and
their replays (`queries/streaming_bridge.py`, `queries/freshness.py`):

- :func:`band_rows` — shingle → id → signature → band buckets, pure
  map-side column expressions (batch frames and streaming sources alike);
- :func:`split_bands` — the skinny ``(doc_id, band, bucket)`` rows and
  the once-per-doc ``(doc_id, sig)`` table, cut from one banding pass;
- :func:`collisions` — the band self-collision join;
- :func:`agreement` / :func:`est_jaccard` / :func:`near` /
  :func:`est_pairs` — signature agreement, its k/32 estimate, and the
  ``est_jaccard >= 0.5`` tail;
- :func:`verdict` — a batch doc's ``(max_agree, kept)`` from its maximum
  agreement against a corpus.

The ``*_sql`` / ``*_cte`` functions state the same steps for DuckDB.
The module imports nothing from the engine, so `io/` and `streaming/`
depend on it without reaching into `queries/`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

N_HASHES = 32
BAND_SIZE = 4  # 8 bands × 4 rows
MERSENNE_P = 2**31 - 1


def affine_coeffs(n: int = N_HASHES, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs via splitmix64 — shared literal
    constants for the Spark and DuckDB sides (the Bloom sketches in
    `queries/curation.py` and `queries/joins.py` draw theirs from other
    seeds)."""
    out = []
    x = seed & (2**64 - 1)
    for _ in range(n):
        pair = []
        for _ in range(2):
            x = (x + 0x9E3779B97F4A7C15) & (2**64 - 1)
            z = x
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
            z ^= z >> 31
            pair.append(z % MERSENNE_P)
        a, b = pair
        out.append((a if a > 0 else 1, b))
    return out


AFFINE = affine_coeffs()


def words() -> Column:
    """The engine's whitespace tokenizer: ``split(text, " ")``, the same
    split DuckDB's ``string_split(text, ' ')`` makes."""
    return F.split(F.col("text"), " ")


def shingle_strings(words_col, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> column: ``arrays_zip``
    of n shifted slices of the token array and one ``transform`` pass.
    Callers must pre-filter ``size(words) >= n`` so the slice length
    stays positive (ANSI mode)."""
    m = F.size(words_col) - (n - 1)
    z = F.arrays_zip(*[F.slice(words_col, 1 + k, m) for k in range(n)])
    return F.array_distinct(
        F.transform(z, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]))
    )


def shingle_ids(words_col) -> Column:
    """array<long> of the distinct trigram shingles' ids: the first 60
    bits of md5(shingle) mod p (DuckDB twin: the ``xm`` CTE of
    :func:`shingle_ids_cte`)."""
    p = F.lit(MERSENNE_P).cast("long")
    return F.transform(
        shingle_strings(words_col),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % p,
    )


def band_rows(
    docs: DataFrame,
    with_sig: bool = False,
    band_size: int = BAND_SIZE,
    carry: tuple = (),
) -> DataFrame:
    """(doc_id[, *carry][, sig], band, bucket) banded-MinHash rows — pure
    map-side column expressions (shingle → id → N_HASHES affine
    min-hashes → band buckets, ``band_size`` rows per band), so the same
    helper serves batch frames and streaming sources: nothing here
    shuffles, collects, or checkpoints. ``carry`` columns ride through
    untouched (the event-time judge threads its timestamp this way).
    Docs with fewer than 3 tokens carry no signature and are filtered
    (both engines replay the filter). Batch callers that self-join the
    result should localCheckpoint it themselves."""
    p = F.lit(MERSENNE_P).cast("long")

    def _h(a: int, b: int):
        # closure (not default-arg lambda: Spark reads lambda arity)
        return lambda x: (F.lit(a) * x + F.lit(b)) % p

    sig = F.array(*[F.array_min(F.transform("xs", _h(a, b))) for a, b in AFFINE])
    n_bands = N_HASHES // band_size
    c = list(carry)
    return (
        docs.select("doc_id", *c, words().alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", *c, shingle_ids(F.col("w")).alias("xs"))
        .select("doc_id", *c, sig.alias("sig"))
        .select(
            "doc_id",
            *c,
            "sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.concat_ws(
                                ",",
                                *[F.col("sig")[b * band_size + r] for r in range(band_size)],
                            ).alias("bucket"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(
            "doc_id",
            *c,
            *(["sig"] if with_sig else []),
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


def split_bands(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(bands, sigs) for ``docs`` from ONE checkpointed banding pass:
    ``bands`` is the skinny (doc_id, band, bucket) rows, ``sigs`` the
    (doc_id, sig) table holding each signature once instead of once per
    band row — the layout of `io/lsh_store.py` and of the streaming
    judges' static corpus side."""
    rows = band_rows(docs, with_sig=True).localCheckpoint(eager=False)
    return (
        rows.select("doc_id", "band", "bucket"),
        rows.where(F.col("band") == 0).select("doc_id", "sig"),
    )


def collisions(bands: DataFrame, *cols: str) -> DataFrame:
    """The band self-collision join: one (doc_a, doc_b[, <c>_a, <c>_b …])
    row per (band, bucket) two docs share, doc_a < doc_b — bucket-local,
    never all-pairs. A pair colliding in several bands appears once per
    band; callers distinct it."""
    a, b = bands.alias("a"), bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in cols],
    )


def agreement(a: str, b: str) -> Column:
    """Number of signature components on which array columns ``a`` and
    ``b`` agree (DuckDB twin: :func:`agree_sql`)."""
    return F.size(
        F.filter(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )


def est_jaccard(a: str = "sig_a", b: str = "sig_b") -> Column:
    """agree/N_HASHES — an exact dyadic double both engines represent
    identically."""
    return agreement(a, b).cast("double") / N_HASHES


def near(pairs: DataFrame) -> DataFrame:
    """The near-dup threshold: est_jaccard >= 0.5 (the oracle states it
    as the integer compare agree·2 >= N_HASHES)."""
    return pairs.where(F.col("est_jaccard") >= 0.5)


def est_pairs(cand: DataFrame, sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) near-dup pairs: distinct candidate
    pairs get both signatures attached from the once-per-doc ``sigs``
    table (two joins), then the agreement estimate and :func:`near`."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return near(
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", est_jaccard().alias("est_jaccard"))
    )


def candidates(
    docs: DataFrame, with_est: bool = False, band_size: int = BAND_SIZE
) -> DataFrame:
    """(doc_a, doc_b) banded-LSH candidate pairs of ``docs`` computed in
    plan. With ``with_est`` the signature rides along through the band
    explode and the output gains ``est_jaccard`` (unthresholded)."""
    bands = band_rows(docs, with_sig=with_est, band_size=band_size)
    bands = bands.localCheckpoint(eager=False)  # signature subtree: compute once
    if not with_est:
        return collisions(bands).distinct()
    return (
        collisions(bands, "sig")
        .select("doc_a", "doc_b", est_jaccard().alias("est_jaccard"))
        .distinct()
    )


def verdict(agree: Column) -> list[Column]:
    """A judged doc's verdict columns from its maximum agreement against
    the corpus: ``max_agree`` and ``kept`` ⇔ agree·2 < N_HASHES (the
    integer form of est_jaccard < 0.5)."""
    return [
        agree.cast("long").alias("max_agree"),
        (agree * 2 < F.lit(N_HASHES)).alias("kept"),
    ]


# --- DuckDB twins ------------------------------------------------------------


def shingle_ids_cte() -> str:
    """``sh``/``ex``/``xm`` CTEs: each doc's distinct trigram
    ``shingles`` and their count ``n_sh``, one ``ex`` row per (doc_id,
    n_sh, shingle s), and the shingle's id ``xm``."""
    return f"""
    sh AS (
      SELECT doc_id, shingles, len(shingles) AS n_sh
      FROM (SELECT doc_id,
                   list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
            WHERE len(toks) >= 3)
    ),
    ex AS (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sh),
    xm AS (
      SELECT doc_id, n_sh, s,
             CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {MERSENNE_P} AS xm
      FROM ex
    )"""


def sig_bands_cte() -> str:
    """:func:`shingle_ids_cte` plus ``sig`` (doc_id, s0 … s31) and
    ``bands`` (doc_id, band, bucket) — the twin of :func:`band_rows`."""
    sig_cols = ",\n             ".join(
        f"min(({a} * xm + {b}) % {MERSENNE_P}) AS s{i}" for i, (a, b) in enumerate(AFFINE)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(','{cols}) AS bucket FROM sig".format(
            b=b,
            cols="".join(f", s{b * BAND_SIZE + r}" for r in range(BAND_SIZE)),
        )
        for b in range(N_HASHES // BAND_SIZE)
    )
    return f"""{shingle_ids_cte()},
    sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM xm GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    )"""


def lsh_cte() -> str:
    """:func:`sig_bands_cte` plus ``cand`` — the distinct band
    self-collision pairs (twin of :func:`collisions`)."""
    return f"""{sig_bands_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )"""


def agree_sql(a: str, b: str) -> str:
    """Signature agreement of ``sig`` rows aliased ``a`` and ``b``."""
    return " + ".join(
        f"(CASE WHEN {a}.s{i} = {b}.s{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
    )


def est_select(where: str = "") -> str:
    """The SELECT over :func:`lsh_cte` that yields (doc_a, doc_b,
    est_jaccard) near-dup pairs, agree·2 >= N_HASHES, plus any extra
    ``where`` conjunct (starting with ``AND``)."""
    agree = agree_sql("a", "b")
    return f"""
    SELECT c.doc_a, c.doc_b,
           CAST(({agree}) AS DOUBLE) / {N_HASHES} AS est_jaccard
    FROM cand c
    JOIN sig a ON c.doc_a = a.doc_id
    JOIN sig b ON c.doc_b = b.doc_id
    WHERE ({agree}) * 2 >= {N_HASHES} {where}
    """


def est_sql(where: str = "") -> str:
    """Complete oracle of the near-dup pairs (see :func:`est_select`)."""
    return f"WITH {lsh_cte()}{est_select(where)}"


def judge_sql(batch: str, corpus: str) -> str:
    """Oracle of judging the docs satisfying ``batch`` against the corpus
    of docs satisfying ``corpus`` (both predicates over ``doc_id``, e.g.
    ``"doc_id % 2 = 1"``): per batch doc the maximum agreement over its
    band collisions with corpus docs, 0 when none collides, and the
    :func:`verdict` columns (doc_id, max_agree, kept)."""
    return f"""
    WITH {sig_bands_cte()},
    hits AS (
      SELECT a.doc_id, max({agree_sql("sa", "sb")}) AS agree
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       AND a.{batch} AND b.{corpus}
      JOIN sig sa ON sa.doc_id = a.doc_id
      JOIN sig sb ON sb.doc_id = b.doc_id
      GROUP BY a.doc_id
    )
    SELECT s.doc_id,
           CAST(coalesce(h.agree, 0) AS BIGINT) AS max_agree,
           coalesce(h.agree, 0) * 2 < {N_HASHES} AS kept
    FROM sig s LEFT JOIN hits h USING (doc_id)
    WHERE s.{batch}
    """
