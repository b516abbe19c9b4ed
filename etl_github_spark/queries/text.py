"""Text analysis operators over ``documents`` (north-star §2.9).

Language-ID heuristic, quality scoring, token counting, document
fingerprinting, n-gram frequencies — all as built-in column expressions
(JVM-side, whole-stage codegen); zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..minhash import words
from ._util import T, hamming_pairs, hamming_pairs_sql, par
from .registry import query

@query(
    "text_token_count",
    sql="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_measured
    FROM documents
    """,
    tags=("text",),
)
def text_token_count(spark, sf_dir):
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(words()).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


@query(
    "text_word_freq",
    sql="""
    SELECT word, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word HAVING count(*) >= 50
    """,
    tags=("text",),
)
def text_word_freq(spark, sf_dir):
    # explode → partial-agg per partition → final agg: shuffle volume is
    # |vocab| not |tokens| — the property that matters at 100 TB.
    return (
        T(spark, sf_dir, "documents")
        .select(F.explode(words()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= 50)
    )


@query(
    "text_bigram_freq",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
               WHERE len(string_split(text, ' ')) >= 2)
    SELECT bigram, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM w)
    GROUP BY bigram HAVING count(*) >= 10
    """,
    tags=("text",),
)
def text_bigram_freq(spark, sf_dir):
    # materialize the token array ONCE per row: expressions inside
    # higher-order lambdas are not common-subexpression-eliminated, so
    # referencing split(text) per element would re-split the document for
    # every bigram (quadratic in doc length).
    w = F.col("w")
    d = (
        par(T(spark, sf_dir, "documents"))
        .select(words().alias("w"))
        .where(F.size(w) >= 2)
    )
    # zip-of-slices, not transform(sequence, i -> element_at(w, i)...):
    # the indexed-lookup form allocates a positions array and does two
    # interpreted element_at calls per bigram — the same per-element
    # waste _hashed_shingles shed (~6× there). Output strings identical.
    m = F.size(w) - 1
    bigrams = F.transform(
        F.arrays_zip(F.slice(w, 1, m), F.slice(w, 2, m)),
        lambda s: F.concat_ws(" ", s["0"], s["1"]),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= 10)
    )


@query(
    "text_quality_score",
    sql="""
    WITH t AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                   w -> w = 'the' OR w = 'a' OR w = 'of')) AS DOUBLE) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           (n_chars - n_tokens + 1) / n_tokens AS avg_token_len,
           n_stop / n_tokens AS stop_ratio,
           n_tokens / (1 + n_chars) AS density
    FROM t
    """,
    tags=("text",),
)
def text_quality_score(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    n_tokens = F.size(words()).cast("double")
    is_stop = lambda w: (w == "the") | (w == "a") | (w == "of")  # noqa: E731
    n_stop = F.size(F.filter(words(), is_stop)).cast("double")
    return d.select(
        "doc_id",
        ((n_chars - n_tokens + 1) / n_tokens).alias("avg_token_len"),
        (n_stop / n_tokens).alias("stop_ratio"),
        (n_tokens / (1 + n_chars)).alias("density"),
    )


@query(
    "text_lang_id_heuristic",
    sql="""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '),
                 w -> w = 'the' OR w = 'a')) AS en_hits,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN en_hits * 20 >= n_tokens THEN 'en_like' ELSE 'other' END AS predicted
    FROM t
    """,
    tags=("text",),
)
def text_lang_id_heuristic(spark, sf_dir):
    # n-gram/stopword-hit language ID: at scale this generalizes to a
    # per-language stopword table broadcast-joined against exploded tokens.
    d = T(spark, sf_dir, "documents")
    en_hits = F.size(F.filter(words(), lambda w: (w == "the") | (w == "a")))
    n_tokens = F.size(words())
    return d.select(
        "doc_id",
        "lang",
        F.when(en_hits * 20 >= n_tokens, "en_like").otherwise("other").alias("predicted"),
    )


@query(
    "text_fingerprint",
    sql="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    tags=("text", "dedup"),
)
def text_fingerprint(spark, sf_dir):
    # deterministic document fingerprint over normalized text (md5 is
    # engine-portable; xxhash64 is Spark-only so reserved for internals).
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return T(spark, sf_dir, "documents").select("doc_id", F.md5(norm).alias("fp"))


@query(
    "text_token_count_bpe",
    sql="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_subtokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_numeric
    FROM documents
    """,
    tags=("text", "tokenize"),
)
def text_token_count_bpe(spark, sf_dir):
    # BPE-ish pre-tokenization: alpha runs / digit runs / single
    # punctuation, via regexp_extract_all (identical class-based pattern
    # in Java and RE2 regex dialects).
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "n_subtokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)).alias("n_numeric"),
    )


@query(
    "text_levenshtein_pairs",
    sql="""
    WITH s AS (SELECT DISTINCT source FROM documents)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(levenshtein(a.source, b.source) AS INTEGER) AS dist
    FROM s a JOIN s b ON a.source < b.source
    WHERE levenshtein(a.source, b.source) <= 1
    """,
    tags=("text", "similarity"),
)
def text_levenshtein_pairs(spark, sf_dir):
    # edit-distance near-match over a small distinct domain — the
    # fuzzy-string-join primitive (at scale: length + q-gram prefilters
    # before the quadratic distance).
    s = T(spark, sf_dir, "documents").select("source").distinct()
    a = s.select(F.col("source").alias("src_a"))
    b = s.select(F.col("source").alias("src_b"))
    dist = F.levenshtein("src_a", "src_b")
    return (
        a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
        .select("src_a", "src_b", dist.alias("dist"))
        .where(F.col("dist") <= 1)
    )


@query(
    "text_stopword_removal",
    sql="""
    SELECT doc_id,
           array_to_string(list_filter(string_split(text, ' '),
                           w -> NOT (w = 'the' OR w = 'a' OR w = 'of')), ' ') AS content_text,
           CAST(len(list_filter(string_split(text, ' '),
                    w -> NOT (w = 'the' OR w = 'a' OR w = 'of'))) AS INTEGER) AS n_content_words
    FROM documents
    """,
    tags=("text",),
)
def text_stopword_removal(spark, sf_dir):
    # stopword filtering as a pure higher-order column op (per-row, no
    # shuffle, order-preserving). Output is the rejoined string + word
    # count, not the array itself: the driver's canonicalizer sorts
    # result cells and cannot order array values (r02 hard fail), and a
    # string round-trip pins the same element order + content.
    keep = lambda w: ~((w == "the") | (w == "a") | (w == "of"))  # noqa: E731
    content = F.filter(words(), keep)
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(content, " ").alias("content_text"),
        F.size(content).alias("n_content_words"),
    )


@query(
    "multimodal_binary_meta",
    sql="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(length(text) AS INTEGER) AS n_chars_measured
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_binary_meta(spark, sf_dir):
    # multimodal plumbing: opaque payload as BinaryType + typed metadata.
    # Real decode (image/audio) is out of scope: the multimodal_* queries
    # run over a deterministic fake derived from doc attributes.
    d = T(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.length("text").alias("n_chars_measured"),
    )


@query(
    "text_normalize_clean",
    sql=r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             '  +', ' ', 'g')) AS clean_text,
           CAST(length(text) AS BIGINT) AS n_chars_raw,
           CAST(length(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             '  +', ' ', 'g'))) AS BIGINT) AS n_chars_clean
    FROM documents
    """,
    tags=("text", "normalization"),
)
def text_normalize_clean(spark, sf_dir):
    """CCNet-style text normalization — the canonical-form step run
    before fingerprinting/MinHash so near-dup detection is insensitive
    to case, punctuation, and whitespace variance: lowercase, map every
    non-alphanumeric to space, collapse runs of spaces, trim. Emits the
    cleaned text plus before/after lengths (the shrinkage ratio is
    itself a quality signal — markup-heavy docs collapse hard).

    Pure per-row projection chain (whole-stage codegen, no shuffle, no
    Python) — runs at scan speed at any scale. The character classes
    are in the Java-regex ∩ RE2 common subset, so the oracle replays
    them exactly (Spark replaces all matches by default; DuckDB needs
    the explicit 'g' flag).
    """
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            "  +",
            " ",
        )
    )
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        clean.alias("clean_text"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(clean).cast("long").alias("n_chars_clean"),
    )


_CHAR_PROFILE_SQL = """
    WITH tri AS (
      SELECT lang, substring(text, CAST(i AS INTEGER), 3) AS tg
      FROM (SELECT lang, text, unnest(range(1, length(text) - 1)) AS i
            FROM documents WHERE length(text) >= 3)
    ),
    c AS (SELECT lang, tg, CAST(count(*) AS BIGINT) AS n FROM tri GROUP BY lang, tg)
    SELECT lang, tg, n, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT lang, tg, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg) AS rnk
      FROM c
    )
    WHERE rnk <= 10
    """


@query("text_char_trigram_profiles", sql=_CHAR_PROFILE_SQL, tags=("text", "langid"))
def text_char_trigram_profiles(spark, sf_dir):
    """Per-language character-trigram profiles: the top-10 char
    trigrams per language — the Cavnar-Trenkle (textcat) language-ID
    building block (real language ID compares a doc's char-ngram rank
    profile to these per-language references; the word-stopword
    heuristic is the cheap tier, this is the robust one).

    Shape: char trigrams via a per-row substring transform (one pass
    per character), (lang, trigram) partial+final count, then a top-10
    rank window per language that plans a WindowGroupLimit — the
    |langs|x10 output never materializes the full trigram table
    anywhere past the count agg.
    """
    t = (
        par(T(spark, sf_dir, "documents"))
        .where(F.length("text") >= 3)
        .select(
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - 2),
                    lambda i: F.col("text").substr(i, F.lit(3)),
                )
            ).alias("tg"),
        )
    )
    c = t.groupBy("lang", "tg").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "tg")
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select("lang", "tg", "n", F.col("rnk").cast("int").alias("rnk"))
    )


@query(
    "text_tokenizer_fertility",
    sql="""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                AS BIGINT) AS n_subtokens,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                AS DOUBLE)
             / sum(len(string_split(text, ' '))) AS fertility
    FROM documents GROUP BY lang
    """,
    tags=("text", "tokenize", "training-prep"),
)
def text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language: subtokens-per-word under the
    BPE-ish pre-tokenizer — the cost-of-representation metric behind
    vocabulary sizing and per-language token budgets (a language at
    fertility 2.3 consumes 2.3× the context of one at 1.0 for the same
    word count, so its byte budget must scale accordingly).

    Both counts are per-row integers aggregated exactly; fertility is
    one int64/int64 division in double. Same class-based regex dialect
    in Java and DuckDB RE2; one scan, one combinable aggregation.
    """
    d = T(spark, sf_dir, "documents")
    sub = F.size(
        F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    )
    words = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.sum(sub).cast("long").alias("n_subtokens"),
        F.sum(words).cast("long").alias("n_words"),
        (F.sum(sub).cast("double") / F.sum(words)).alias("fertility"),
    )


@query(
    "multimodal_image_dims",
    sql="""
    SELECT doc_id,
           CAST(64 + n_chars % 256 AS BIGINT) AS width,
           CAST(64 + (doc_id % 128) * 4 AS BIGINT) AS height,
           CAST(8 AS INTEGER) AS n_bytes,
           CAST((1000 * (64 + n_chars % 256))
                // (64 + (doc_id % 128) * 4) AS BIGINT) AS aspect_permille
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_image_dims(spark, sf_dir):
    """Typed-header parse over an opaque BINARY column — the multimodal
    metadata-extraction shape: media arrives as bytes, and the first
    pipeline stage reads fixed-offset header fields (PNG IHDR
    width/height live at bytes 16-24 of a real file) WITHOUT decoding
    the payload. The fixture has no real images, so the binary is
    synthesized in-plan (8-byte big-endian [width, height] derived from
    doc attributes — a deterministic fake, no media codec in the
    engine); the PARSE path is the real product:
    byte-slice → hex → integer, all JVM-side column ops, zero Python.
    The oracle recomputes the dims from the attributes directly, so a
    corrupted encode, an endianness slip, or an off-by-one slice
    diverges.

    Pure per-row projection — scan-speed at any scale; on real media
    the same substring/conv chain runs on the first KB of each blob
    while the payload stays unread (Parquet column projection never
    materializes it).
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = (F.lit(64) + F.col("n_chars") % 256).cast("long")
    h = (F.lit(64) + (F.col("doc_id") % 128) * 4).cast("long")
    # encode: 8-byte big-endian header [width:4][height:4]
    hdr = F.unhex(
        F.concat(
            F.lpad(F.hex(w), 8, "0"),
            F.lpad(F.hex(h), 8, "0"),
        )
    )
    enc = d.select("doc_id", hdr.alias("header"))
    # parse: fixed-offset byte slices back to integers
    width = F.expr("CAST(conv(substring(hex(header), 1, 8), 16, 10) AS BIGINT)")
    height = F.expr("CAST(conv(substring(hex(header), 9, 8), 16, 10) AS BIGINT)")
    return enc.select(
        "doc_id",
        width.alias("width"),
        height.alias("height"),
        F.length("header").cast("int").alias("n_bytes"),
        F.expr(
            "CAST((1000 * conv(substring(hex(header), 1, 8), 16, 10)) div "
            "conv(substring(hex(header), 9, 8), 16, 10) AS BIGINT)"
        ).alias("aspect_permille"),
    )


@query(
    "text_readability_ari",
    sql="""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(length(text) AS BIGINT) AS c,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             CAST(greatest(length(text) - length(replace(text, '.', '')), 1)
                  AS BIGINT) AS s
      FROM documents
    )
    SELECT doc_id, lang, c AS n_chars_m, w AS n_words, s AS n_sents,
           CAST((471 * c * s + 50 * w * w - 2143 * w * s) // (w * s)
                AS BIGINT) AS ari_q2,
           CASE WHEN (471 * c * s + 50 * w * w - 2143 * w * s) // (w * s) < 800
                THEN 'easy'
                WHEN (471 * c * s + 50 * w * w - 2143 * w * s) // (w * s) < 1200
                THEN 'medium' ELSE 'hard' END AS band
    FROM m
    """,
    tags=("text", "quality", "training-prep"),
)
def text_readability_ari(spark, sf_dir):
    """Automated Readability Index per document — the grade-level
    heuristic (4.71·chars/word + 0.5·words/sentence − 21.43) used to
    band training corpora by difficulty (curriculum schedules, child-
    directed filtering, textbook-style selection). Carried as an exact
    scaled integer: ari·100 = (471·c·s + 50·w² − 2143·w·s) div (w·s) —
    one truncating division of int64 products, bit-identical across
    engines (both truncate toward zero; c,w,s are small so products
    are nowhere near the bound). Sentences are counted by period
    occurrences (length minus period-stripped length — portable without
    regex), floored at 1.

    Pure per-row projection chain — scan speed at any scale; the bands
    feed `curate_curriculum_stages`-style scheduling directly.
    """
    d = T(spark, sf_dir, "documents")
    c = F.length("text").cast("long")
    w = F.size(F.split(F.col("text"), " ")).cast("long")
    s = F.greatest(
        F.length("text") - F.length(F.regexp_replace("text", "\\.", "")),
        F.lit(1),
    ).cast("long")
    m = d.select("doc_id", "lang", c.alias("c"), w.alias("w"), s.alias("s"))
    ari = F.expr("(471 * c * s + 50 * w * w - 2143 * w * s) div (w * s)")
    return m.select(
        "doc_id",
        "lang",
        F.col("c").alias("n_chars_m"),
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sents"),
        ari.cast("long").alias("ari_q2"),
        F.when(ari < 800, "easy").when(ari < 1200, "medium").otherwise("hard").alias("band"),
    )


_FRAME_STRIDE = 10  # sample every k-th frame


@query(
    "multimodal_frame_sample",
    sql=f"""
    WITH meta AS (
      SELECT doc_id,
             CAST(100 + doc_id % 900 AS BIGINT) AS n_frames,
             CAST(10 + n_chars % 50 AS BIGINT) AS fps
      FROM documents
    )
    SELECT doc_id, n_frames, fps,
           CAST((1000 * n_frames) // fps AS BIGINT) AS duration_ms,
           CAST(i AS BIGINT) AS frame_idx,
           CAST((1000 * i) // fps AS BIGINT) AS ts_ms
    FROM (SELECT doc_id, n_frames, fps,
                 unnest(range(0, n_frames, {_FRAME_STRIDE})) AS i
          FROM meta)
    """,
    tags=("multimodal",),
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: parse (n_frames, fps) out of an
    opaque binary container header, derive clip duration, and EXPLODE
    the deterministic every-k-th-frame sample plan — one row per frame
    a downstream decode stage would extract, with its integer-exact
    timestamp. The decode itself is out of scope (no media codec in the
    engine); this op is the Spark-side contract around it:
    header parse (substring/conv over binary, JVM-side), bounded
    ``sequence`` fan-out (n_frames/k rows per clip — never unbounded),
    and a per-frame work list partitionable by doc for the Arrow-batch
    decode that follows.

    The fixture has no real containers, so the header is synthesized
    in-plan from doc attributes (the deterministic-fake contract) and
    the oracle recomputes the plan straight from those attributes — a
    wrong endianness, slice offset, or stride arithmetic diverges.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    nf = (F.lit(100) + F.col("doc_id") % 900).cast("long")
    fps = (F.lit(10) + F.col("n_chars") % 50).cast("long")
    hdr = F.unhex(
        F.concat(F.lpad(F.hex(nf), 8, "0"), F.lpad(F.hex(fps), 8, "0"))
    )
    enc = d.select("doc_id", hdr.alias("header"))
    parsed = enc.select(
        "doc_id",
        F.expr("CAST(conv(substring(hex(header), 1, 8), 16, 10) AS BIGINT)").alias(
            "n_frames"
        ),
        F.expr("CAST(conv(substring(hex(header), 9, 8), 16, 10) AS BIGINT)").alias(
            "fps"
        ),
    )
    return parsed.select(
        "doc_id",
        "n_frames",
        "fps",
        F.expr("(1000 * n_frames) div fps").cast("long").alias("duration_ms"),
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("n_frames") - 1,
                F.lit(_FRAME_STRIDE).cast("long"),
            )
        ).alias("frame_idx"),
    ).select(
        "doc_id",
        "n_frames",
        "fps",
        "duration_ms",
        "frame_idx",
        F.expr("(1000 * frame_idx) div fps").cast("long").alias("ts_ms"),
    )


@query(
    "multimodal_patch_plan",
    sql="""
    WITH dims AS (
      SELECT doc_id,
             CAST(64 + n_chars % 256 AS BIGINT) AS w,
             CAST(64 + (doc_id % 128) * 4 AS BIGINT) AS h
      FROM documents
    ),
    grid AS (
      SELECT doc_id, w, h,
             (w + 15) // 16 AS n_px, (h + 15) // 16 AS n_py
      FROM dims
    )
    SELECT doc_id,
           CAST(n_px AS INT) AS n_px, CAST(n_py AS INT) AS n_py,
           CAST(n_px * n_py AS BIGINT) AS n_patches,
           CAST(n_px * 16 - w AS INT) AS pad_w,
           CAST(n_py * 16 - h AS INT) AS pad_h,
           (SELECT CAST(sum((p * 1103515245 + 12345) % 2147483648) AS BIGINT)
            FROM unnest(generate_series(0, n_px * n_py - 1)) t(p)
           ) AS coord_checksum
    FROM grid
    """,
    tags=("multimodal",),
)
def multimodal_patch_plan(spark, sf_dir, patch: int = 16):
    """ViT-style patch-grid planning over image dims parsed from the
    same synthesized binary headers as `multimodal_image_dims`: ceil
    the (width, height) to a 16-px patch grid, derive padding, then
    genuinely ENUMERATE the patch index space (sequence → explode) and
    fold it back to a per-doc affine checksum — the plumbing a
    vision-tokenizer pipeline runs to turn each image into a bounded
    token count before the (stubbed) pixel decode ever happens. The
    oracle enumerates the identical space via generate_series, so both
    engines walk every patch id rather than short-circuiting to a
    closed form.

    Scale shape: per-row sequence explode is bounded by the patch
    count (≤ ~1.4k here — the contract a real deployment enforces with
    a max-resolution gate upstream), re-aggregated by the pre-explode
    key, so it's map-side work between two scans of the same partition
    — no shuffle beyond the final per-doc combine; ANSI-safe bounded
    `sequence()`, integer arithmetic throughout.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = (F.lit(64) + F.col("n_chars") % 256).cast("long")
    h = (F.lit(64) + (F.col("doc_id") % 128) * 4).cast("long")
    g = d.select(
        "doc_id",
        w.alias("w"),
        h.alias("h"),
        ((w + patch - 1) / patch).cast("long").alias("n_px_l"),
        ((h + patch - 1) / patch).cast("long").alias("n_py_l"),
    )
    exploded = g.select(
        "doc_id",
        "w",
        "h",
        "n_px_l",
        "n_py_l",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_px_l") * F.col("n_py_l") - 1)
        ).alias("p"),
    )
    return (
        exploded.groupBy("doc_id", "w", "h", "n_px_l", "n_py_l")
        .agg(
            F.sum((F.col("p") * 1103515245 + 12345) % 2147483648)
            .cast("long")
            .alias("coord_checksum")
        )
        .select(
            "doc_id",
            F.col("n_px_l").cast("int").alias("n_px"),
            F.col("n_py_l").cast("int").alias("n_py"),
            (F.col("n_px_l") * F.col("n_py_l")).cast("long").alias("n_patches"),
            (F.col("n_px_l") * patch - F.col("w")).cast("int").alias("pad_w"),
            (F.col("n_py_l") * patch - F.col("h")).cast("int").alias("pad_h"),
            "coord_checksum",
        )
    )


@query(
    "multimodal_audio_frames",
    sql="""
    WITH a AS (
      SELECT doc_id,
             CAST(CASE doc_id % 3 WHEN 0 THEN 16000
                                  WHEN 1 THEN 22050
                                  ELSE 44100 END AS BIGINT) AS sample_rate,
             CAST(500 + n_chars % 2000 AS BIGINT) AS dur_ms
      FROM documents
    ),
    s AS (
      SELECT doc_id, sample_rate,
             sample_rate * dur_ms // 1000 AS n_samples
      FROM a
    )
    SELECT doc_id, sample_rate, n_samples,
           CAST(CASE WHEN n_samples >= 1024
                     THEN (n_samples - 1024) // 512 + 1 ELSE 0 END
                AS BIGINT) AS n_frames,
           CAST(CASE WHEN n_samples >= 1024
                     THEN ((n_samples - 1024) // 512) * 512 ELSE 0 END
                AS BIGINT) AS last_frame_start,
           CAST(CASE WHEN n_samples >= 1024
                     THEN n_samples - (((n_samples - 1024) // 512) * 512 + 1024)
                     ELSE n_samples END
                AS BIGINT) AS tail_uncovered
    FROM s
    """,
    tags=("multimodal", "audio"),
)
def multimodal_audio_frames(spark, sf_dir):
    """STFT frame-grid planning over an opaque AUDIO header — the audio
    sibling of `multimodal_image_dims`: audio arrives as bytes, and the
    first pipeline stage reads sample_rate and sample count from a
    fixed-offset header (a WAV fmt/data chunk in real life) WITHOUT
    decoding PCM. The fixture has no real audio, so the 8-byte header
    ([sample_rate:4][n_samples:4] big-endian) is synthesized in-plan
    from doc attributes (a deterministic fake, no media codec in the
    engine); the PARSE path and the frame arithmetic are the
    real product. Frame grid: 1024-sample windows, 512-sample hop,
    center=False (librosa/torchaudio's non-padded STFT): n_frames,
    the last frame's start offset, and the uncovered tail the hop
    grid drops — the numbers a feature-extraction stage needs to size
    its output tensor BEFORE touching payload bytes.

    All integer arithmetic (truncating DIV on non-negatives), byte
    slices via substring/conv — JVM-side, zero Python, scan-speed at
    any scale; the payload column is never materialized (Parquet
    column projection).
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sr = (
        F.when(F.col("doc_id") % 3 == 0, 16000)
        .when(F.col("doc_id") % 3 == 1, 22050)
        .otherwise(44100)
        .cast("long")
    )
    dur_ms = (F.lit(500) + F.col("n_chars") % 2000).cast("long")
    # encode: 8-byte big-endian header [sample_rate:4][n_samples:4];
    # n_samples = sr * dur_ms DIV 1000 (exact int arithmetic, both engines)
    hdr = F.unhex(
        F.concat(
            F.lpad(F.hex(sr), 8, "0"),
            F.lpad(F.hex(F.floor(sr * dur_ms / 1000).cast("long")), 8, "0"),
        )
    )
    enc = d.select("doc_id", hdr.alias("header"))
    # parse: fixed-offset byte slices back to integers — frame math runs
    # on the PARSED values, so an encode/endianness slip flips the hash
    p_sr = "CAST(conv(substring(hex(header), 1, 8), 16, 10) AS BIGINT)"
    p_ns = "CAST(conv(substring(hex(header), 9, 8), 16, 10) AS BIGINT)"
    nf = f"CASE WHEN {p_ns} >= 1024 THEN ({p_ns} - 1024) DIV 512 + 1 ELSE 0 END"
    ls = f"CASE WHEN {p_ns} >= 1024 THEN (({p_ns} - 1024) DIV 512) * 512 ELSE 0 END"
    return enc.select(
        "doc_id",
        F.expr(p_sr).alias("sample_rate"),
        F.expr(p_ns).alias("n_samples"),
        F.expr(f"CAST({nf} AS BIGINT)").alias("n_frames"),
        F.expr(f"CAST({ls} AS BIGINT)").alias("last_frame_start"),
        F.expr(
            f"CAST(CASE WHEN {p_ns} >= 1024 "
            f"THEN {p_ns} - (({ls}) + 1024) ELSE {p_ns} END AS BIGINT)"
        ).alias("tail_uncovered"),
    )


_CUT_HAM = 36  # scene-cut threshold: Hamming > 36 of 60 bits (μ=30, σ≈3.9)


def _scene_sig_sql(i: str) -> str:
    """60-bit per-frame signature (DuckDB form) — stands in for a
    perceptual hash (pHash/dHash) of the decoded frame."""
    return (
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
        f"CAST({i} AS VARCHAR)), 1, 15)) AS BIGINT)"
    )


@query(
    "multimodal_video_scene_cuts",
    sql=f"""
    WITH meta AS (
      SELECT doc_id,
             CAST(100 + doc_id % 900 AS BIGINT) AS n_frames
      FROM documents
    ),
    frames AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i
      FROM (SELECT doc_id, unnest(range(0, n_frames, {_FRAME_STRIDE})) AS i
            FROM meta)
    ),
    d AS (
      SELECT doc_id, i,
             CASE WHEN i = 0 THEN NULL
                  ELSE bit_count(xor({_scene_sig_sql("i")},
                                     {_scene_sig_sql(f"i - {_FRAME_STRIDE}")}))
             END AS ham
      FROM frames
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(count(*) FILTER (WHERE ham > {_CUT_HAM}) AS BIGINT) AS n_cuts,
           CAST(min(CASE WHEN ham > {_CUT_HAM} THEN i END) AS BIGINT)
             AS first_cut_idx,
           CAST(max(ham) AS BIGINT) AS max_jump
    FROM d GROUP BY doc_id
    """,
    tags=("multimodal", "video"),
)
def multimodal_video_scene_cuts(spark, sf_dir):
    """Scene-cut detection over the sampled frame plan — the shot-
    boundary pass a video training pipeline runs to segment clips
    before captioning/dedup: perceptual-hash each sampled frame, flag a
    cut wherever consecutive signatures differ in > 36 of 60 bits
    (random-frame Hamming is Binomial(60,½): μ=30, σ≈3.9 — the
    threshold is ~1.5σ). The decode+pHash itself is out of scope (no
    media codec in the engine); here the signature is the deterministic fake
    (md5 of (doc, frame)) so the WHOLE distance/threshold/segment
    pipeline is real and oracle-checked.

    Plan shape the real decoder inherits: because the previous sampled
    index is closed-form (i − stride), the pairwise distance is a pure
    per-row projection — NO self-join, NO lag window, no shuffle before
    the final per-doc aggregate; with a real pHash column the same plan
    reads (i, sig) rows and one lag window is the only addition. Fan-out
    is bounded (n_frames/stride rows per clip), aggregation is
    map-side combinable — scan-shaped at 100 TB.
    """
    d = T(spark, sf_dir, "documents")
    frames = d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                (100 + F.col("doc_id") % 900).cast("long") - 1,
                F.lit(_FRAME_STRIDE),
            )
        ).alias("i"),
    )

    def sig(i):
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), i.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")

    ham = F.when(
        F.col("i") > 0,
        F.bit_count(sig(F.col("i")).bitwiseXOR(sig(F.col("i") - _FRAME_STRIDE))),
    ).cast("long")
    per = frames.select("doc_id", "i", ham.alias("ham"))
    return per.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.count(F.when(F.col("ham") > _CUT_HAM, 1)).cast("long").alias("n_cuts"),
        F.min(F.when(F.col("ham") > _CUT_HAM, F.col("i")))
        .cast("long")
        .alias("first_cut_idx"),
        F.max("ham").cast("long").alias("max_jump"),
    )


_PH_BLOCKS = 60  # 60-bit perceptual hash (stays clear of the int64 sign bit)
_PH_WIDTH = 8  # chars of normalized content per block


def _phash_terms(engine: str) -> str:
    """Block-hash bit terms as engine-specific text with identical
    semantics: bit_p = lowest bit of the first md5 nibble of the p-th
    8-char block of the normalized payload, phash = Σ bit_p·2^p."""
    terms = []
    for p in range(_PH_BLOCKS):
        off = p * _PH_WIDTH + 1
        block = f"substr(norm, {off}, {_PH_WIDTH})"
        if engine == "duckdb":
            nib = f"CAST(concat('0x', substr(md5({block}), 1, 1)) AS BIGINT)"
        else:
            nib = f"CAST(conv(substr(md5({block}), 1, 1), 16, 10) AS BIGINT)"
        terms.append(f"shiftleft(({nib}) % 2, {p})" if engine == "spark"
                     else f"((({nib}) % 2) << {p})")
    return " + ".join(terms)


def _phash_pairs_sql() -> str:
    return f"""
    WITH nrm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    ph AS (SELECT doc_id, CAST({_phash_terms("duckdb")} AS BIGINT) AS phash
           FROM nrm),{hamming_pairs_sql("ph", "phash")}"""


@query(
    "multimodal_phash_dedup_pairs",
    sql=_phash_pairs_sql(),
    tags=("multimodal", "dedup", "neardup", "phash"),
)
def multimodal_phash_dedup_pairs(spark, sf_dir):
    """Perceptual-hash near-dup pairs over media payloads — the image
    dedup stage of a multimodal pipeline (aHash/pHash → Hamming-band
    index), run here over a deterministic fake decode (no media codec
    in the engine): the 'image' is the
    doc's normalized content stream, each of 60 pixel-blocks hashes its
    8-char block, and bit_p is the block hash's lowest bit — LOCAL
    content edits flip only the touched blocks' bits, exactly the
    property a real perceptual hash has and cryptographic whole-file
    hashes (`dedup_exact_*`) deliberately lack. On real media the
    block-hash step is the decoded-thumbnail mean-luminance comparison;
    everything downstream — the 4×15-bit pigeonhole bands, the
    band-value equi-join (exact recall at d ≤ 3), the xor+popcount
    verify — is byte-identical to this plan and to
    `dedup_simhash_hamming`'s (Manku et al.'s multi-table index).

    All integer end to end (md5-nibble bits, shifts, popcount) — the
    oracle replays the hash, banding, and verify bit-exactly. Scale
    shape: 4 band rows per item keyed on 15-bit values (bounded
    buckets), candidate verify is two longs — no payloads move past
    the per-row hash.
    """
    d = T(spark, sf_dir, "documents")
    nrm = d.select(
        "doc_id",
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("norm"),
    )
    ph = nrm.select(
        "doc_id", F.expr(_phash_terms("spark")).cast("long").alias("phash")
    ).localCheckpoint(eager=True)  # reused by all 4 band selects
    return hamming_pairs(ph, "phash")
