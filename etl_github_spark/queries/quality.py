"""Corpus quality filters — the document-scoring stage of an LLM
training-data pipeline (Gopher/C4-style heuristics, repetition metrics,
PII redaction, corpus-level boilerplate detection, global chunk dedup).

Everything here is pure JVM column expressions + hash aggregation — zero
Python UDFs; the per-document stats are single-pass projections (no
shuffle), the corpus-level ops shuffle only aggregated n-gram/chunk keys.

Determinism notes (see registry docstring): every fraction is a single
int/int division in double (correctly rounded, bit-identical across
engines); threshold literals parse to identical doubles in Spark and
DuckDB, so comparisons agree. Spark regexp_replace replaces all matches
by default; the DuckDB oracle needs the explicit 'g' flag.

Registered after the round-2 driver window (first-50 rule); locally
oracle-checked by tests/test_oracle_parity.py regardless.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..minhash import words
from ._util import T, par
from .registry import query

_STOP = ("the", "a", "of")

# PII patterns valid in both Java regex (Spark) and RE2 (DuckDB):
# no backreferences, no lookaround.
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_LONGNUM = r"\b\d{13,16}\b"


def _doc_stats(df):
    """Single-projection per-document quality stats (no shuffle)."""
    w = F.col("_w")
    n = F.size(w).cast("double")
    is_stop = lambda t: t.isin(*_STOP)  # noqa: E731
    return df.select(
        "doc_id",
        w.alias("_w"),
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        ((F.length("text").cast("double") - n + 1) / n).alias("mean_word_len"),
        (F.size(F.array_distinct(w)).cast("double") / n).alias("distinct_ratio"),
        (F.size(F.filter(w, is_stop)).cast("double") / n).alias("stop_fraction"),
        F.array_max(F.transform(w, F.length)).alias("max_word_len"),
    ).drop("_w")


_STATS_SQL = """
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_words,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
           (CAST(length(text) AS DOUBLE) - len(toks) + 1) / len(toks) AS mean_word_len,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
           CAST(len(list_filter(toks, w -> w IN ('the', 'a', 'of'))) AS DOUBLE)
             / len(toks) AS stop_fraction,
           CAST(list_max(list_transform(toks, w -> length(w))) AS INTEGER) AS max_word_len
    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
"""


@query("quality_gopher_stats", sql=_STATS_SQL, tags=("quality", "text"))
def quality_gopher_stats(spark, sf_dir):
    """Gopher-style per-document quality statistics (Rae et al. 2021
    §A1.1 heuristics re-expressed as column math): word count, distinct
    ratio, mean word length, stopword fraction, max word length.

    One pass, one projection — at 100 TB this pipelines with the scan
    (whole-stage codegen, no exchange); the token array is materialized
    once per row (`_w`) because lambda subexpressions are not CSE'd.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "text", words().alias("_w"))
    return _doc_stats(d)


@query(
    "quality_gopher_filter",
    sql=f"""
    WITH s AS ({_STATS_SQL})
    SELECT doc_id,
           CASE WHEN n_words < 20 OR n_words > 400 THEN 'word_count'
                WHEN mean_word_len < 2 OR mean_word_len > 8 THEN 'word_length'
                WHEN stop_fraction < 0.03 THEN 'stopword'
                WHEN distinct_ratio < 0.35 THEN 'repetition'
                ELSE 'ok' END AS reason,
           (CASE WHEN n_words < 20 OR n_words > 400 THEN 'word_count'
                WHEN mean_word_len < 2 OR mean_word_len > 8 THEN 'word_length'
                WHEN stop_fraction < 0.03 THEN 'stopword'
                WHEN distinct_ratio < 0.35 THEN 'repetition'
                ELSE 'ok' END) = 'ok' AS keep
    FROM s
    """,
    tags=("quality", "text"),
)
def quality_gopher_filter(spark, sf_dir):
    """Rule-cascade document filter with per-document verdict + first
    failing rule — the audit-friendly shape (you keep the reject reasons
    for pipeline debugging, not just the survivors). Bounds chosen to
    split the fixture corpus non-trivially; at 100 TB the same projection
    filters in-scan with zero shuffle.
    """
    s = _doc_stats(
        T(spark, sf_dir, "documents").select("doc_id", "text", words().alias("_w"))
    )
    reason = (
        F.when((F.col("n_words") < 20) | (F.col("n_words") > 400), "word_count")
        .when((F.col("mean_word_len") < 2) | (F.col("mean_word_len") > 8), "word_length")
        .when(F.col("stop_fraction") < 0.03, "stopword")
        .when(F.col("distinct_ratio") < 0.35, "repetition")
        .otherwise("ok")
    )
    return s.select("doc_id", reason.alias("reason"), (reason == "ok").alias("keep"))


def _max_bigram_stats(df):
    """Per-row bigram stats via the sorted-run fold: max group count ==
    max run length after sort. Input (doc_id, text); rows with < 2
    tokens are dropped (positive slice length under ANSI). Keeps the
    internal ``_w``/``_b``/``_top`` columns for composition alongside
    the friendly ``top_bigram_count``/``n_bigrams``. The "" initial
    ``prev`` sentinel is safe: every bigram contains the " " separator.
    """
    w = F.col("_w")
    d = df.select("doc_id", words().alias("_w")).where(F.size(w) >= 2)
    m = F.size(w) - 1
    bigrams = F.transform(
        F.arrays_zip(F.slice(w, 1, m), F.slice(w, 2, m)),
        lambda s: F.concat_ws(" ", s["0"], s["1"]),
    )
    zero = F.lit(0).cast("long")
    run_of = lambda acc, x: (  # noqa: E731
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
    )
    st = F.aggregate(
        F.sort_array(F.col("_b")),
        F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_of(acc, x).alias("run"),
            F.greatest(acc["best"], run_of(acc, x)).alias("best"),
        ),
    )
    return (
        d.select("doc_id", "_w", bigrams.alias("_b"))
        .select("doc_id", "_w", "_b", st["best"].alias("_top"))
        .select(
            "doc_id",
            "_w",
            "_b",
            "_top",
            F.col("_top").cast("int").alias("top_bigram_count"),
            F.size("_b").cast("long").alias("n_bigrams"),
        )
    )


@query(
    "quality_repetition_stats",
    sql="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    b AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bigram,
             1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_frac
      FROM t
    ),
    g AS (
      SELECT doc_id, bigram, count(*) AS c, min(dup_frac) AS dup_frac
      FROM b GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           min(dup_frac) AS dup_word_fraction,
           CAST(max(c) AS INTEGER) AS top_bigram_count,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_bigram_fraction
    FROM g GROUP BY doc_id
    """,
    tags=("quality", "text"),
)
def quality_repetition_stats(spark, sf_dir):
    """Within-document repetition metrics (the Gopher "repetitious text"
    family): duplicate-word fraction and most-frequent-bigram share.

    Shape: ZERO-shuffle scan-fused projection. All four metrics are
    within-document, so nothing needs to leave the row: bigrams come
    from the shifted-slice zip (one pass, no per-element element_at),
    and the top-bigram count is the maximum run length in the SORTED
    bigram array, computed by a JVM-side ``aggregate`` fold (max group
    count == max run length after sort). The earlier explode →
    (doc, bigram) groupBy → doc groupBy formulation shuffled every
    corpus token twice; at 100 TB that is the difference between a
    map-only scan and a full-corpus shuffle.
    """
    w = F.col("_w")
    d = par(T(spark, sf_dir, "documents")).select("doc_id", "text")
    dup_frac = 1.0 - F.size(F.array_distinct(w)).cast("double") / F.size(w)
    top = F.col("_top")
    return (
        _max_bigram_stats(d)
        .select(
            "doc_id",
            dup_frac.alias("dup_word_fraction"),
            top.cast("int").alias("top_bigram_count"),
            F.size(F.col("_b")).cast("long").alias("n_bigrams"),
            (top.cast("double") / F.size(F.col("_b"))).alias("top_bigram_fraction"),
        )
    )


@query(
    "quality_pii_redact",
    sql=rf"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL}', '<EMAIL>', 'g'),
               '{_IPV4}', '<IP>', 'g'),
               '{_LONGNUM}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_IPV4}')) AS INTEGER) AS n_ips,
           CAST(len(regexp_extract_all(text, '{_LONGNUM}')) AS INTEGER) AS n_longnums
    FROM documents
    """,
    tags=("quality", "text", "pii"),
)
def quality_pii_redact(spark, sf_dir):
    """PII scrubbing: emails, IPv4 addresses, 13-16-digit numbers
    replaced by typed placeholders, with per-category match counts for
    audit. Patterns are restricted to the Java-regex ∩ RE2 common subset
    (no lookaround/backrefs) so Spark and the oracle agree; behavior on
    live PII strings is pinned by tests/test_quality.py.

    Pure projection — redaction happens in-scan at any scale.
    """
    t = F.col("text")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL, "<EMAIL>"), _IPV4, "<IP>"
        ),
        _LONGNUM,
        "<NUM>",
    )
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        red.alias("redacted"),
        F.regexp_count(t, F.lit(_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(_IPV4)).cast("int").alias("n_ips"),
        F.regexp_count(t, F.lit(_LONGNUM)).cast("int").alias("n_longnums"),
    )


@query(
    "quality_boilerplate_ngrams",
    sql="""
    SELECT t3 AS ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS t3
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE len(string_split(text, ' ')) >= 3)
    )
    GROUP BY t3 HAVING count(DISTINCT doc_id) >= 4
    """,
    tags=("quality", "text", "dedup"),
)
def quality_boilerplate_ngrams(spark, sf_dir):
    """Corpus-level boilerplate detection: trigrams appearing in >= 4
    distinct documents (headers, footers, license blurbs at web scale).

    Shape: explode trigrams → distinct (ngram, doc) → count per ngram —
    both steps partial-aggregate map-side, so shuffle volume is the
    distinct (ngram, doc) set, not the token stream. The df >= 4
    threshold is the same document-frequency idea that caps the Jaccard
    candidate join (dedup.py).
    """
    w = F.col("_w")
    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", words().alias("_w"))
        .where(F.size(w) >= 3)
    )
    # zip-of-slices, not transform(sequence, i -> element_at(w, i)): the
    # indexed-lookup form allocates a positions array and does three
    # interpreted element_at calls per trigram (the text_bigram_freq /
    # _hashed_shingles lesson). Output strings identical.
    m = F.size(w) - 2
    tris = F.transform(
        F.arrays_zip(F.slice(w, 1, m), F.slice(w, 2, m), F.slice(w, 3, m)),
        lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]),
    )
    return (
        d.select("doc_id", F.explode(tris).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 4)
    )


_CHUNK = 10

# Chunk-dedup SQL, parameterized by the source relation so the capstone
# pipeline can run it over a filtered CTE instead of the raw table.
_CHUNK_DEDUP_SQL = """
    c AS (
      SELECT doc_id, toks,
             unnest(range(0, (len(toks) + {pad}) // {k})) AS pos,
             (len(toks) + {pad}) // {k} AS n_chunks
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src})
    ),
    ch AS (
      SELECT doc_id, pos, n_chunks,
             array_to_string(toks[(pos * {k} + 1):((pos + 1) * {k})], ' ') AS chunk
      FROM c
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        FROM ch
      ) WHERE rn = 1
    )
"""

_CHUNK_DEDUP_FINAL_SQL = """
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
           CAST(count(*) AS INTEGER) AS n_chunks_kept,
           CAST(min(n_chunks) AS INTEGER) AS n_chunks_orig
    FROM kept
    GROUP BY doc_id
"""


def _chunk_kept(d):
    """The kept-chunks stage of global chunk dedup: explode each doc
    into {_CHUNK}-token chunks, keep the first corpus occurrence of
    each chunk (min (doc_id, pos) struct). Split out so the lineage
    manifest can count surviving docs without paying the reassembly."""
    k = _CHUNK
    d = d.select("doc_id", words().alias("toks"))
    n_chunks = F.expr(f"(size(toks) + {k - 1}) div {k}")
    chunks = d.select(
        "doc_id",
        "toks",
        n_chunks.alias("n_chunks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        "n_chunks",
        F.concat_ws(" ", F.slice("toks", F.col("pos") * k + 1, k)).alias("chunk"),
    )
    # first corpus occurrence per chunk = min (doc_id, pos) struct — a
    # partial+final hash aggregate (map-side combine shrinks the shuffle
    # to one row per distinct chunk per mapper), measurably faster than
    # the earlier row_number window, which had to SORT every chunk
    # partition (sf0.1: 1.06 s vs 1.25 s, and the gap widens with
    # duplication rate; n_chunks rides along — constant per doc, it
    # never affects the struct ordering).
    return (
        chunks.groupBy("chunk")
        .agg(F.min(F.struct("doc_id", "pos", "n_chunks")).alias("f"))
        .select(
            "chunk",
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.pos").alias("pos"),
            F.col("f.n_chunks").alias("n_chunks"),
        )
    )


def _chunk_dedup(d):
    """Global first-occurrence chunk dedup + per-doc reassembly over any
    (doc_id, text) DataFrame — see dedup_chunks_global for semantics."""
    kept = _chunk_kept(d)
    reassembled = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
            lambda s: s.getField("chunk"),
        ),
    )
    return kept.groupBy("doc_id").agg(
        reassembled.alias("clean_text"),
        F.count("*").cast("int").alias("n_chunks_kept"),
        F.min("n_chunks").cast("int").alias("n_chunks_orig"),
    )


@query(
    "dedup_chunks_global",
    sql="WITH "
    + _CHUNK_DEDUP_SQL.format(src="documents", k=_CHUNK, pad=_CHUNK - 1)
    + _CHUNK_DEDUP_FINAL_SQL,
    tags=("quality", "dedup", "text"),
)
def dedup_chunks_global(spark, sf_dir):
    """Global chunk-level exact dedup with document reassembly — the
    paragraph-dedup stage of a training pipeline (only the FIRST corpus
    occurrence of each {_CHUNK}-token chunk survives; documents are
    rebuilt from their surviving chunks in order).

    Shape: per-row chunk explode (no shuffle) → first-occurrence window
    keyed by chunk content (one shuffle, key = chunk, volume = chunk
    count) → per-doc ordered reassembly (second shuffle on doc_id). At
    100 TB the chunk key would be xxhash64(chunk) to shrink shuffle
    bytes; content is kept here so the oracle is string-exact. Documents
    whose every chunk is seen earlier disappear entirely — matching C4's
    drop-empty-docs behavior.
    """
    return _chunk_dedup(par(T(spark, sf_dir, "documents")))


@query(
    "quality_length_histogram",
    sql="""
    SELECT least(n_chars // 50, 11) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1
    """,
    tags=("quality", "histogram"),
)
def quality_length_histogram(spark, sf_dir):
    """Fixed-width document-length histogram (50-char buckets, clamped to
    12 bins) — the distribution sketch a curation run reports before and
    after filtering. Integer bucket math, exact in both engines; one
    partial+final aggregation over at most 12 keys.
    """
    bucket = F.least(F.expr("n_chars div 50"), F.lit(11))
    return (
        T(spark, sf_dir, "documents")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "curate_pipeline_full",
    sql=f"""
    WITH s AS ({_STATS_SQL}),
    keep AS (
      SELECT doc_id FROM s
      WHERE n_words BETWEEN 20 AND 400
        AND mean_word_len BETWEEN 2 AND 8
        AND stop_fraction >= 0.03
        AND distinct_ratio >= 0.35
    ),
    d1 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
    m AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM d1 GROUP BY source
    ),
    d2 AS (
      SELECT d1.* FROM d1 JOIN m USING (source)
      WHERE NOT (4 * (d1.n_chars * m.n - m.s1) * (d1.n_chars * m.n - m.s1)
                 > 9 * (m.n * m.s2 - m.s1 * m.s1))
    ),
    d3 AS (
      SELECT * FROM d2
      WHERE substr(md5(text), 1, 4) <
            CASE lang WHEN 'en' THEN '8000' ELSE '2000' END
    ),
    {_CHUNK_DEDUP_SQL.format(src="d3", k=_CHUNK, pad=_CHUNK - 1)}
    {_CHUNK_DEDUP_FINAL_SQL}
    """,
    tags=("quality", "curation", "capstone"),
)
def curate_pipeline_full(spark, sf_dir):
    """Capstone curation pipeline v2, chaining this round's operators in
    production order: Gopher rule filter (thresholds identical to
    quality_gopher_filter) → per-source z-score outlier cut (moments
    computed over the FILTERED corpus) → per-language weighted
    content-hash sample → global chunk dedup with reassembly.

    Order is the cost argument: the per-row filters and the hash sample
    are scan-fused projections that shrink the corpus BEFORE the only
    expensive stage (the global chunk shuffle); the outlier moments are
    a |sources|-row broadcast. Oracle = the same four stages as one
    DuckDB CTE chain — the whole pipeline is value-checked end-to-end,
    not just its pieces.
    """
    docs = T(spark, sf_dir, "documents")
    w = F.col("_w")
    n = F.size(w).cast("double")
    is_stop = lambda t: t.isin(*_STOP)  # noqa: E731
    st = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        words().alias("_w"),
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.size(w).alias("n_words"),
        ((F.length("text").cast("double") - n + 1) / n).alias("mean_word_len"),
        (F.size(F.filter(w, is_stop)).cast("double") / n).alias("stop_fraction"),
        (F.size(F.array_distinct(w)).cast("double") / n).alias("distinct_ratio"),
    )
    d1 = st.where(
        F.col("n_words").between(20, 400)
        & F.col("mean_word_len").between(2, 8)
        & (F.col("stop_fraction") >= 0.03)
        & (F.col("distinct_ratio") >= 0.35)
    ).select("doc_id", "text", "lang", "source", "n_chars")
    m = d1.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    dev = F.col("n_chars") * F.col("n") - F.col("s1")
    d2 = (
        d1.join(F.broadcast(m), "source")
        .where(
            ~(4 * dev * dev > 9 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")))
        )
        .select("doc_id", "text", "lang")
    )
    thresh = F.when(F.col("lang") == "en", "8000").otherwise("2000")
    d3 = d2.where(F.substring(F.md5("text"), 1, 4) < thresh)
    return _chunk_dedup(par(d3))


@query(
    "quality_token_rarity",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    df AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(df.doc_freq) AS BIGINT) AS sum_doc_freq,
           CAST(min(df.doc_freq) AS BIGINT) AS min_doc_freq,
           CAST(count(*) FILTER (WHERE df.doc_freq <= 5) AS BIGINT) AS n_rare
    FROM toks t JOIN df ON t.tok = df.tok
    GROUP BY t.doc_id
    """,
    tags=("quality", "text"),
)
def quality_token_rarity(spark, sf_dir):
    """Per-document token rarity against the corpus document-frequency
    table — the integer-exact surrogate for unigram-LM quality scoring
    (a doc whose tokens are all corpus-common reads as boilerplate; one
    dominated by df≤5 tokens reads as noise/garble). Downstream filters
    threshold on n_rare/n_tokens or sum_doc_freq/n_tokens without any
    float reduction entering the result.

    Scale shape: the doc-frequency table is VOCAB-sized (millions of
    rows at 100 TB, not corpus-sized) and aggregates with map-side
    partials; it then broadcasts to the token stream, so the per-doc
    re-aggregation is the only corpus-sized shuffle (keyed by doc_id,
    uniform). Tokenization happens once per side off the same scan.
    """
    toks = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        # both the df aggregation and the join side consume this subtree
        # and Spark does not reuse the exchange across them — materialize
        # the token stream once instead of re-exploding the corpus twice.
        .localCheckpoint(eager=False)
    )
    df = toks.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("long").alias("doc_freq")
    )
    return (
        toks.join(F.broadcast(df), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("doc_freq").cast("long").alias("sum_doc_freq"),
            F.min("doc_freq").cast("long").alias("min_doc_freq"),
            F.count(F.when(F.col("doc_freq") <= 5, 1)).cast("long").alias("n_rare"),
        )
    )


_DIVERSITY_SQL = """
    WITH tri AS (
      SELECT source,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tg
      FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(count(DISTINCT tg) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT tg) AS DOUBLE) / count(*) AS diversity
    FROM tri GROUP BY source
    """


@query("quality_ngram_diversity", sql=_DIVERSITY_SQL, tags=("quality", "text"))
def quality_ngram_diversity(spark, sf_dir):
    """Per-source trigram diversity (distinct/total — the self-BLEU-
    style corpus-health signal): a source whose ratio collapses is
    template spam or a scraper loop, the thing you want flagged before
    it floods a training mix.

    Scale shape: trigrams via the shifted-slice zip (no per-element
    element_at), then ONE aggregation keyed on (source): count(*) is a
    plain partial agg and count(DISTINCT tg) expands to the standard
    two-phase distinct-aggregate — shuffle volume is the distinct
    (source, trigram) set, never all-pairs. Source count is small but
    the key includes the trigram during dedup, so no hot-key collapse.
    """
    w = F.col("_w")
    d = (
        par(T(spark, sf_dir, "documents"))
        .select("source", words().alias("_w"))
        .where(F.size(w) >= 3)
    )
    m = F.size(w) - 2
    tri = F.transform(
        F.arrays_zip(*[F.slice(w, 1 + k, m) for k in range(3)]),
        lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]),
    )
    return (
        d.select("source", F.explode(tri).alias("tg"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.count_distinct("tg").alias("n_distinct"),
            (F.count_distinct("tg").cast("double") / F.count("*")).alias("diversity"),
        )
    )


_HHI_SQL = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    c AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY doc_id, word),
    s AS (SELECT doc_id, sum(cnt * cnt) AS ss, sum(cnt) AS n FROM c GROUP BY doc_id)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_words,
           CAST(ss AS DOUBLE) / (n * n) AS hhi,
           1 - CAST(ss AS DOUBLE) / (n * n) AS word_gini
    FROM s
    """


@query("quality_word_concentration", sql=_HHI_SQL, tags=("quality", "text"))
def quality_word_concentration(spark, sf_dir):
    """Per-document word-distribution concentration: the Herfindahl-
    Hirschman index sum((count_w / n)^2) and its Gini-impurity
    complement — the entropy surrogate this engine can verify
    cross-engine (Shannon entropy needs log(), which diverges in the
    last ulp between engines; HHI is integer counts + ONE division).
    High HHI == the doc is dominated by few repeated words (spam/
    keyword-stuffing); complements distinct_ratio (which ignores the
    shape of the distribution) and top-bigram share.

    Shape: ZERO-shuffle per-row projection. sum(count^2) falls out of
    one fold over the SORTED word array without ever materializing the
    counts: extending a run from r-1 to r adds r^2-(r-1)^2 = 2r-1, so
    the accumulator adds 2*run-1 at every element and no end-of-run
    flush is needed. The oracle states the same quantity relationally
    (groupBy word -> sum cnt^2). Initial `prev` sentinel is " " —
    impossible as a word since words are produced by splitting ON
    spaces (and "" IS a possible word for empty/doubled-space text).
    """
    d = par(T(spark, sf_dir, "documents")).select("doc_id", "text")
    return _doc_hhi(d).select(
        "doc_id",
        "n_words",
        "hhi",
        (1 - F.col("hhi")).alias("word_gini"),
    )


def _doc_hhi(df):
    """(doc_id, text) → (doc_id, n_words, hhi) via the sorted-run fold
    (see :func:`quality_word_concentration` for the 2r-1 identity)."""
    w = F.col("_w")
    d = df.select("doc_id", words().alias("_w"))
    zero = F.lit(0).cast("long")
    run_of = lambda acc, x: (  # noqa: E731
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
    )
    st = F.aggregate(
        F.sort_array(w),
        F.struct(F.lit(" ").alias("prev"), zero.alias("run"), zero.alias("acc")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_of(acc, x).alias("run"),
            (acc["acc"] + 2 * run_of(acc, x) - 1).alias("acc"),
        ),
    )
    n = F.size(w).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_words"),
        (st["acc"].cast("double") / (n * n)).alias("hhi"),
    )


_SEM_PIPE_SQL = f"""
    WITH s AS ({_STATS_SQL}),
    keep1 AS (
      SELECT doc_id FROM s
      WHERE n_words BETWEEN 20 AND 400
        AND mean_word_len BETWEEN 2 AND 8
        AND stop_fraction >= 0.03 AND distinct_ratio >= 0.35
    ),
    tok AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS toks
      FROM documents d JOIN keep1 USING (doc_id)
      WHERE len(string_split(d.text, ' ')) >= 4
    ),
    g2 AS (
      SELECT doc_id, i,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i FROM tok)
    ),
    dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT DISTINCT g2.doc_id, u.tok_idx
      FROM g2 JOIN dup USING (gram), unnest(range(g2.i, g2.i + 4)) AS u(tok_idx)
    ),
    pos AS (
      SELECT doc_id, toks[i] AS word, i
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tok)
    ),
    kept AS (
      SELECT p.doc_id, count(*) AS n_kept,
             string_agg(p.word, ' ' ORDER BY p.i) AS trimmed
      FROM pos p ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.i = c.tok_idx
      GROUP BY p.doc_id
    ),
    trimmed AS (
      SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
             CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
             coalesce(k.trimmed, '') AS ttext
      FROM tok t LEFT JOIN kept k USING (doc_id)
    ),
    h AS (
      SELECT doc_id, sum(cnt * cnt) AS ss, sum(cnt) AS n
      FROM (SELECT doc_id, word, count(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(ttext, ' ')) AS word
                  FROM trimmed) GROUP BY doc_id, word)
      GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_tokens, t.n_kept,
           CAST(h.ss AS DOUBLE) / (h.n * h.n) AS hhi
    FROM trimmed t JOIN h USING (doc_id)
    WHERE CAST(h.ss AS DOUBLE) / (h.n * h.n) <= 0.08
      AND substr(md5(t.ttext), 1, 4) < '8000'
    """


@query("curate_semantic_pipeline", sql=_SEM_PIPE_SQL, tags=("quality", "curation", "capstone"))
def curate_semantic_pipeline(spark, sf_dir):
    """Capstone #2 — the round-3 operators composed end-to-end the way
    a curation run chains them: Gopher rule filter -> cross-document
    duplicated-SPAN TRIM (rewrite, not just drop) -> word-concentration
    (HHI <= 0.08, ~p90) cut on the TRIMMED text -> deterministic ~50%
    content-hash sample of the trimmed text. Output: survivors with
    their token accounting (n_tokens pre-trim, n_kept post-trim, hhi).

    One composed plan, one oracle CTE chain. Every stage is the shape
    already proven individually (scan-fused stats, gram-df kernel +
    one doc join, per-row HHI fold, per-row hash sample); composition
    adds only the keep1 semi-join. Gram df is computed on the FILTERED
    corpus (filter-then-dedup, the standard order).
    """
    from .dedup import _dup_span_positions

    docs = par(T(spark, sf_dir, "documents")).select("doc_id", "text")
    s = _doc_stats(docs.select("doc_id", "text", words().alias("_w")))
    keep1 = s.where(
        F.col("n_words").between(20, 400)
        & F.col("mean_word_len").between(2, 8)
        & (F.col("stop_fraction") >= 0.03)
        & (F.col("distinct_ratio") >= 0.35)
    ).select("doc_id")
    w = F.col("_w")
    d = (
        docs.join(keep1, "doc_id", "semi")
        .select("doc_id", words().alias("_w"))
        .where(F.size(w) >= 4)
    )
    dup_idx = (
        _dup_span_positions(d)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tok_idx")).alias("_dup"))
    )
    dup = F.coalesce(F.col("_dup"), F.expr("array()").cast("array<int>"))
    kept = F.filter(w, lambda x, i: ~F.array_contains(dup, i + F.lit(1)))
    trimmed = d.join(dup_idx, "doc_id", "left").select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("ttext"),
    )
    h = _doc_hhi(trimmed.select("doc_id", F.col("ttext").alias("text")))
    return (
        trimmed.join(h.select("doc_id", "hhi"), "doc_id")
        .where(
            (F.col("hhi") <= 0.08)
            & (F.substring(F.md5("ttext"), 1, 4) < "8000")
        )
        .select("doc_id", "n_tokens", "n_kept", "hhi")
    )


_LANG_CONFUSION_SQL = """
    WITH t AS (
      SELECT lang,
             CASE WHEN len(list_filter(string_split(text, ' '),
                          w -> w = 'the' OR w = 'a')) * 20
                       >= len(string_split(text, ' '))
                  THEN 'en_like' ELSE 'other' END AS predicted
      FROM documents
    ),
    c AS (
      SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY lang, predicted
    )
    SELECT lang, predicted, n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang) AS frac
    FROM c
    """


@query("quality_lang_confusion", sql=_LANG_CONFUSION_SQL, tags=("quality", "text", "audit"))
def quality_lang_confusion(spark, sf_dir):
    """Language-metadata audit: the confusion matrix of the DECLARED
    lang column against the stopword-hit language-id heuristic — the
    check that catches mislabeled-language slices before they poison a
    per-language training mix (a 'de' slice that predicts en_like at
    40% is mislabeled or code-mixed). Per-lang row fractions are exact
    int/int divisions over the tiny |langs|x2 matrix.

    Shape: the heuristic is the same scan-fused projection as
    `text_lang_id_heuristic`; one (lang, predicted) partial+final
    count; the normalization window runs on the matrix, not the corpus.
    """
    en_hits = F.size(F.filter(words(), lambda w: (w == "the") | (w == "a")))
    n_tokens = F.size(words())
    t = par(T(spark, sf_dir, "documents")).select(
        "lang",
        F.when(en_hits * 20 >= n_tokens, "en_like").otherwise("other").alias("predicted"),
    )
    c = t.groupBy("lang", "predicted").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    return c.select(
        "lang", "predicted", "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("frac"),
    )


_OOV_VOCAB = 32  # closed-vocabulary size for coverage scoring
_OOV_KEEP_PERMILLE = 200  # keep docs with <= 20% out-of-vocabulary mass


@query(
    "quality_oov_rate",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok LIMIT {_OOV_VOCAB}
      )
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST((1000 * sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS oov_permille,
           ((1000 * sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END))
                // count(*)) <= {_OOV_KEEP_PERMILLE} AS kept
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
    tags=("quality", "training-prep"),
)
def quality_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage filter: score each document by the
    fraction of its tokens outside a closed top-K vocabulary (the
    pipeline's stand-in for a trained tokenizer's vocab) and keep docs
    under 20% OOV mass — the cheap screen for encoding damage, wrong
    scripts, and binary-as-text junk that survives language-ID.

    Integer contract: the rate is permille via integer division, so no
    float ever forms. The vocabulary is a TakeOrdered top-K (unique
    (count, token) order) broadcast to the token stream; at a real
    deployment K is the tokenizer vocab shipped as a file — same
    broadcast-left-join shape, no sort at all.
    """
    toks = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_OOV_VOCAB)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    oov_pm = F.expr("(1000 * n_oov) div n_tokens")
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            oov_pm.cast("long").alias("oov_permille"),
            (oov_pm <= _OOV_KEEP_PERMILLE).alias("kept"),
        )
    )


@query(
    "quality_k_anonymity",
    sql="""
    WITH g AS (
      SELECT lang, n_chars // 100 AS len_bucket,
             CAST(count(*) AS BIGINT) AS k,
             CAST(count(DISTINCT source) AS BIGINT) AS l
      FROM documents
      GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(count(*) FILTER (WHERE k < 5) AS BIGINT) AS groups_below_k5,
           CAST(coalesce(sum(k) FILTER (WHERE k < 5), 0) AS BIGINT)
             AS docs_at_risk,
           CAST(count(*) FILTER (WHERE l < 2) AS BIGINT) AS groups_l_below_2
    FROM g
    """,
    tags=("quality", "privacy", "audit"),
)
def quality_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit — the privacy gate a
    training-data release runs before publishing: group documents by
    their quasi-identifiers (language, 100-char length bucket) and
    report how identifiable the corpus is. ``min_k`` is the smallest
    equivalence class (k-anonymity of the release as a whole),
    ``groups_below_k5``/``docs_at_risk`` count the classes and rows a
    k=5 policy would have to suppress or generalize, and
    ``groups_l_below_2`` counts classes whose SENSITIVE attribute
    (source) is constant — re-identification there discloses the
    source even when k is large (l-diversity, the standard refinement
    k-anonymity alone misses).

    Shape: one partial+final hash aggregate on the quasi-identifier
    key (map-side combinable — the shuffle carries one row per
    equivalence class, not per document), then a scalar rollup over
    |classes| rows. At 100 TB the class count is what bounds the
    second stage, and it is the audit's own output dimension; the
    distinct-source count per class rides the same shuffle as a
    two-level aggregate. All-integer output, engine-exact.
    """
    g = (
        T(spark, sf_dir, "documents")
        .groupBy("lang", F.expr("n_chars div 100").alias("len_bucket"))
        .agg(
            F.count("*").alias("k"),
            F.countDistinct("source").alias("l"),
        )
    )
    return g.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("k").cast("long").alias("min_k"),
        F.count(F.when(F.col("k") < 5, 1)).cast("long").alias("groups_below_k5"),
        F.coalesce(F.sum(F.when(F.col("k") < 5, F.col("k"))), F.lit(0))
        .cast("long")
        .alias("docs_at_risk"),
        F.count(F.when(F.col("l") < 2, 1)).cast("long").alias("groups_l_below_2"),
    )


@query(
    "quality_hotkey_skew",
    sql="""
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT c, CAST(count(*) AS BIGINT) AS m FROM c GROUP BY c
    ),
    runs AS (
      SELECT c, m,
             CAST(sum(m) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - m AS BIGINT) AS s
      FROM hist
    ),
    tot AS (
      SELECT CAST(sum(m) AS BIGINT) AS k,
             CAST(sum(c * m) AS BIGINT) AS t,
             CAST(sum(c * (m * s + m * (m + 1) // 2)) AS BIGINT) AS six,
             CAST(max(c) AS BIGINT) AS top1
      FROM runs
    ),
    top10 AS (
      SELECT CAST(sum(c) AS BIGINT) AS t10
      FROM (SELECT c FROM c ORDER BY c DESC, user_id LIMIT 10)
    )
    SELECT t AS n_events, k AS n_keys,
           CAST(top1 * 1000000 // t AS BIGINT) AS top1_ppm,
           CAST(t10 * 1000000 // t AS BIGINT) AS top10_ppm,
           CAST((2 * six - (k + 1) * t) * 1000000 // (k * t) AS BIGINT) AS gini_ppm
    FROM tot CROSS JOIN top10
    """,
    tags=("quality", "skew", "diagnostics"),
)
def quality_hotkey_skew(spark, sf_dir):
    """Join/groupBy hot-key diagnostic over events.user_id — the
    pre-flight check that decides whether a key needs salting (see
    `join_salted_hotkey`) BEFORE a 100 TB shuffle discovers it the hard
    way: top-1 and top-10 key share plus the exact Gini coefficient of
    the key-frequency distribution, all in ppm.

    The Gini is computed from the COUNTS-OF-COUNTS histogram, not a
    ranked sort of the keys frame: keys sharing frequency c form a tied
    run of m keys after s smaller keys, contributing
    c·(m·s + m(m+1)/2) to Σi·xᵢ — so the classic
    G = (2Σi·xᵢ − (k+1)Σx)/(kΣx) needs only a cumulative window over
    the VALUE-DOMAIN-sized histogram. A billion keys never get globally
    sorted; the only corpus shuffle is the groupBy(key) count. Top-10
    is TakeOrdered (per-partition heap, no range exchange), tie-broken
    by key for a deterministic LIMIT, and tie-insensitive in the SUM.
    All-integer output; overflow envelope: c·m·s ≤ N·k stays in int64
    through ~1e9 events × 1e9 keys.
    """
    ev = T(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("c"))
    hist = c.groupBy("c").agg(F.count("*").cast("long").alias("m"))
    wcum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    runs = hist.select(
        "c", "m", (F.sum("m").over(wcum) - F.col("m")).cast("long").alias("s")
    )
    tot = runs.agg(
        F.sum("m").cast("long").alias("k"),
        F.sum(F.col("c") * F.col("m")).cast("long").alias("t"),
        F.sum(F.expr("c * (m * s + m * (m + 1) div 2)"))
        .cast("long")
        .alias("six"),
        F.max("c").cast("long").alias("top1"),
    )
    top10 = (
        c.orderBy(F.desc("c"), F.asc("user_id"))
        .limit(10)
        .agg(F.sum("c").cast("long").alias("t10"))
    )
    return (
        tot.crossJoin(F.broadcast(top10))
        .select(
            F.col("t").alias("n_events"),
            F.col("k").alias("n_keys"),
            F.expr("CAST(top1 * 1000000 div t AS BIGINT)").alias("top1_ppm"),
            F.expr("CAST(t10 * 1000000 div t AS BIGINT)").alias("top10_ppm"),
            F.expr(
                "CAST((2 * six - (k + 1) * t) * 1000000 div (k * t) AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


@query(
    "quality_shannon_entropy",
    sql="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    c AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS n_w
      FROM w GROUP BY source, word
    ),
    tot AS (
      SELECT source, CAST(sum(n_w) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_types
      FROM c GROUP BY source
    ),
    q AS (
      SELECT c.source,
             CAST(sum(c.n_w * CAST(floor(ln(CAST(t.n AS DOUBLE)
                   / CAST(c.n_w AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT)
               AS h_int
      FROM c JOIN tot t ON c.source = t.source
      GROUP BY c.source
    )
    SELECT t.source, t.n AS n_tokens, t.n_types,
           CAST(q.h_int AS DOUBLE) / (t.n * 1e9) AS entropy_nats,
           CASE WHEN t.n_types <= 1 THEN NULL
                ELSE (CAST(q.h_int AS DOUBLE) / (t.n * 1e9))
                     / ln(CAST(t.n_types AS DOUBLE)) END AS entropy_ratio
    FROM tot t JOIN q ON t.source = q.source
    """,
    tags=("quality", "information", "diversity"),
)
def quality_shannon_entropy(spark, sf_dir):
    """Per-source Shannon entropy of the word distribution (in nats)
    plus the evenness ratio H/ln(V) ∈ [0,1] — the direct diversity
    measure `quality_word_concentration`'s HHI only proxies (its
    docstring predates the nano-nat technique; this op supersedes that
    limitation). A source whose entropy ratio collapses is template
    spam; one near 1.0 is a uniform scrape — both are mixing-plan
    inputs.

    Exactness: the `lm.py` surprisal technique — per-TYPE ln(N/n_w) is
    floor-quantized to integer nano-nats, the token-weighted sum
    Σ n_w·q_w is exact int64 and order-free, and the one remaining
    ln(V) appears in a single shared-text division (a last-ulp libm
    difference there shifts the ratio by ~1e-16, far below the 1e-9
    quantization the numerator already carries — the same accepted
    envelope as every lm.py score). Overflow: Σ n_w·q ≤ N·ln(N)·1e9 —
    int64-safe through N ≈ 3e8 tokens/source; coarsen the quantum
    beyond. Scale shape: explode → one combinable (source, word)
    groupBy → per-source rollups; no windows, no sort.
    """
    d = T(spark, sf_dir, "documents")
    c = (
        par(d)
        .select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("n_w"))
    )
    tot = c.groupBy("source").agg(
        F.sum("n_w").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_types"),
    )
    q = (
        c.join(F.broadcast(tot.select("source", "n")), "source")
        .groupBy("source")
        .agg(
            F.sum(
                F.col("n_w")
                * F.floor(
                    F.log(F.col("n").cast("double") / F.col("n_w").cast("double"))
                    * 1e9
                ).cast("long")
            )
            .cast("long")
            .alias("h_int")
        )
    )
    h = F.col("h_int").cast("double") / (F.col("n") * F.lit(1e9))
    return (
        tot.join(q, "source")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            "n_types",
            h.alias("entropy_nats"),
            F.when(F.col("n_types") <= 1, F.lit(None).cast("double"))
            .otherwise(h / F.log(F.col("n_types").cast("double")))
            .alias("entropy_ratio"),
        )
    )


@query(
    "curate_lineage_manifest",
    sql=f"""
    WITH s AS ({_STATS_SQL}),
    keep AS (
      SELECT doc_id FROM s
      WHERE n_words BETWEEN 20 AND 400
        AND mean_word_len BETWEEN 2 AND 8
        AND stop_fraction >= 0.03
        AND distinct_ratio >= 0.35
    ),
    d1 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
    m AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM d1 GROUP BY source
    ),
    d2 AS (
      SELECT d1.* FROM d1 JOIN m USING (source)
      WHERE NOT (4 * (d1.n_chars * m.n - m.s1) * (d1.n_chars * m.n - m.s1)
                 > 9 * (m.n * m.s2 - m.s1 * m.s1))
    ),
    d3 AS (
      SELECT * FROM d2
      WHERE substr(md5(text), 1, 4) <
            CASE lang WHEN 'en' THEN '8000' ELSE '2000' END
    ),
    {_CHUNK_DEDUP_SQL.format(src="d3", k=_CHUNK, pad=_CHUNK - 1)},
    cnt AS (
      SELECT (SELECT count(*) FROM documents) AS c0,
             (SELECT count(*) FROM d1) AS c1,
             (SELECT count(*) FROM d2) AS c2,
             (SELECT count(*) FROM d3) AS c3,
             (SELECT count(DISTINCT doc_id) FROM kept) AS c4
    )
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           CAST(rows_in AS BIGINT) AS rows_in,
           CAST(rows_out AS BIGINT) AS rows_out,
           CAST(rows_in - rows_out AS BIGINT) AS rows_dropped
    FROM (
      SELECT 0 AS stage_idx, 'ingest' AS stage, c0 AS rows_in, c0 AS rows_out FROM cnt
      UNION ALL SELECT 1, 'gopher_filter', c0, c1 FROM cnt
      UNION ALL SELECT 2, 'outlier_zscore', c1, c2 FROM cnt
      UNION ALL SELECT 3, 'hash_sample', c2, c3 FROM cnt
      UNION ALL SELECT 4, 'chunk_dedup', c3, c4 FROM cnt
    )
    """,
    tags=("quality", "curation", "lineage", "audit", "capstone"),
)
def curate_lineage_manifest(spark, sf_dir):
    """Per-stage lineage/audit manifest for the curation capstone — the
    datasheet's per-stage sibling (VERDICT r11 task 7b): one row per
    pipeline stage of `curate_pipeline_full` recording rows in, rows
    out, and rows dropped, so a 100 TB curation run ships an auditable
    record of WHERE its corpus shrank (the per-stage funnel every
    training-data datasheet states; cf. Gopher/Dolma data cards).

    Stages (identical operators/thresholds to `curate_pipeline_full`):
    ingest → Gopher rule filter → per-source z-score outlier cut →
    per-language weighted hash sample → global chunk dedup (a doc
    survives if ≥1 of its chunks is a first occurrence).

    Shape: each intermediate frame is localCheckpointed once and its
    single-row count aggregate cross-joined into one manifest row set
    via ``stack`` — five single-row broadcasts, no data-row collects;
    the expensive stages run ONCE (the checkpoint shares them between
    the count branch and the next stage's input). At 100 TB a real run
    would fold these counts into the write job's task metrics instead
    of a second action; the declarative form here is what the oracle
    can replay end-to-end.
    """
    docs = T(spark, sf_dir, "documents")
    w = F.col("_w")
    n = F.size(w).cast("double")
    is_stop = lambda t: t.isin(*_STOP)  # noqa: E731
    st = docs.select(
        "doc_id", "text", "lang", "source", "n_chars", words().alias("_w")
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.size(w).alias("n_words"),
        ((F.length("text").cast("double") - n + 1) / n).alias("mean_word_len"),
        (F.size(F.filter(w, is_stop)).cast("double") / n).alias("stop_fraction"),
        (F.size(F.array_distinct(w)).cast("double") / n).alias("distinct_ratio"),
    )
    d1 = (
        st.where(
            F.col("n_words").between(20, 400)
            & F.col("mean_word_len").between(2, 8)
            & (F.col("stop_fraction") >= 0.03)
            & (F.col("distinct_ratio") >= 0.35)
        )
        .select("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(eager=False)
    )
    m = d1.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    dev = F.col("n_chars") * F.col("n") - F.col("s1")
    d2 = (
        d1.join(F.broadcast(m), "source")
        .where(
            ~(4 * dev * dev > 9 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")))
        )
        .select("doc_id", "text", "lang")
        .localCheckpoint(eager=False)
    )
    thresh = F.when(F.col("lang") == "en", "8000").otherwise("2000")
    d3 = d2.where(F.substring(F.md5("text"), 1, 4) < thresh).localCheckpoint(
        eager=False
    )
    surv = _chunk_kept(par(d3)).select("doc_id").distinct()
    c0 = docs.agg(F.count("*").alias("c0"))
    c1 = d1.agg(F.count("*").alias("c1"))
    c2 = d2.agg(F.count("*").alias("c2"))
    c3 = d3.agg(F.count("*").alias("c3"))
    c4 = surv.agg(F.count("*").alias("c4"))
    row = c0.crossJoin(c1).crossJoin(c2).crossJoin(c3).crossJoin(c4)
    return row.selectExpr(
        """stack(5,
           0L, 'ingest',         c0, c0,
           1L, 'gopher_filter',  c0, c1,
           2L, 'outlier_zscore', c1, c2,
           3L, 'hash_sample',    c2, c3,
           4L, 'chunk_dedup',    c3, c4
        ) AS (stage_idx, stage, rows_in, rows_out)"""
    ).withColumn("rows_dropped", F.col("rows_in") - F.col("rows_out"))
