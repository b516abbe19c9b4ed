"""Training-data preparation operators beyond basic text analysis:
token-window chunking (sequence packing) and deterministic dataset
splitting. Registered after the driver's verification window (see
queries/__init__.py); oracle-checked locally by test_oracle_parity.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import local_frame
from ._util import T, par
from .registry import query

_CHUNK = 32  # tokens per training chunk


@query(
    "text_chunk_tokens",
    sql=f"""
    SELECT doc_id,
           CAST(t.i AS INTEGER) AS chunk_id,
           array_to_string(toks[(t.i * {_CHUNK} + 1):((t.i + 1) * {_CHUNK})], ' ')
             AS chunk_text,
           CAST(least({_CHUNK}, len(toks) - t.i * {_CHUNK}) AS INTEGER) AS n_tokens
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         range(0, 100000) t(i)
    WHERE t.i * {_CHUNK} < len(toks)
    """,
    tags=("text", "training-prep"),
)
def text_chunk_tokens(spark, sf_dir):
    """Fixed-size token-window chunking — the sequence-packing step of a
    training pipeline: each document becomes ceil(n/K) rows of at most
    K tokens, the unit LLM training shards are built from.

    Pure per-row explode (1 → ceil(n/K) rows, no shuffle); the chunk
    slice is taken from the materialized token array, so the document
    is tokenized once however many chunks it yields. The oracle's
    unbounded range() is constrained by the same i·K < len predicate.
    """
    k = _CHUNK
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n_chunks = F.ceil(F.size("toks") / F.lit(k)).cast("int")
    return (
        d.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.concat_ws(" ", F.slice("toks", F.col("chunk_id") * k + 1, k)).alias(
                "chunk_text"
            ),
            F.least(F.lit(k), F.size("toks") - F.col("chunk_id") * k)
            .cast("int")
            .alias("n_tokens"),
        )
    )


@query(
    "text_train_val_split",
    sql="""
    SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b'
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    ) s
    GROUP BY s.split
    """,
    tags=("text", "training-prep"),
)
def text_train_val_split(spark, sf_dir):
    """Deterministic content-hash dataset split (≈75/25 via the first
    md5 nibble) — split assignment must be a pure function of content,
    never of row order or partitioning, so re-runs, engine changes, and
    cluster resizes all produce the same split. md5 is bit-identical
    across engines, making this oracle-checkable end-to-end.

    Splitting on the *text* hash (not doc_id) also sends exact
    duplicates to the same side — no train/val leakage through dups.
    """
    d = T(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5("text"), 1, 1).between("0", "b"), F.lit("train")
    ).otherwise(F.lit("val"))
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_CTX = 128  # tokens per packed training sequence
_N_SHARDS = 8


@query(
    "pack_sequences",
    sql=f"""
    SELECT shard, doc_id, n_tokens,
           CAST(floor(start_off / {_CTX}) AS BIGINT) AS pack_id,
           CAST(start_off % {_CTX} AS BIGINT) AS offset_in_pack,
           (floor(start_off / {_CTX})
              <> floor((start_off + n_tokens - 1) / {_CTX})) AS spans_boundary
    FROM (
      SELECT shard, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_off
      FROM (
        SELECT CAST(doc_id % {_N_SHARDS} AS BIGINT) AS shard, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
      )
    )
    """,
    tags=("text", "training-prep"),
)
def pack_sequences(spark, sf_dir):
    """Concatenate-then-chunk sequence packing — the layout step that
    turns a deduped corpus into fixed-length training sequences: docs
    are laid end-to-end in a deterministic order and the byte stream is
    cut every CTX tokens. Emits, per doc, which pack it starts in, at
    what offset, and whether it straddles a pack boundary (the rows a
    loss-masking dataloader needs).

    Scale shape: packing is per output SHARD (here doc_id % 8; at 100 TB
    the shard count matches writer parallelism), so the running-offset
    window partitions by shard — N independent window computations, one
    shuffle on shard, no single-partition global sort. Doc order within
    a shard is doc_id (deterministic, engine-independent).
    """
    d = T(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _N_SHARDS).cast("long").alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    d = d.select("shard", "doc_id", "n_tokens", start.alias("start_off"))
    pack = F.floor(F.col("start_off") / _CTX).cast("long")
    end_pack = F.floor((F.col("start_off") + F.col("n_tokens") - 1) / _CTX).cast(
        "long"
    )
    return d.select(
        "shard",
        "doc_id",
        "n_tokens",
        pack.alias("pack_id"),
        (F.col("start_off") % _CTX).cast("long").alias("offset_in_pack"),
        (pack != end_pack).alias("spans_boundary"),
    )


@query(
    "text_inverted_index",
    sql="""
    WITH pairs AS (
      SELECT DISTINCT tok, doc_id
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    ranked AS (
      SELECT tok, doc_id,
             row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rnk
      FROM pairs
    ),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS doc_freq FROM pairs GROUP BY tok)
    SELECT df.tok, df.doc_freq,
           array_to_string(list(ranked.doc_id ORDER BY ranked.doc_id), ',')
             AS postings_head
    FROM ranked JOIN df USING (tok)
    WHERE ranked.rnk <= 10
    GROUP BY df.tok, df.doc_freq
    """,
    tags=("text", "retrieval"),
)
def text_inverted_index(spark, sf_dir):
    """Inverted-index build: token → document frequency + the first 10
    postings (ascending doc_id) rendered as a comma string — the
    retrieval-side structure a corpus search / decontamination service
    is built on, with the posting head capped BEFORE any per-group
    collection so state stays bounded on stopword-grade tokens whose
    full posting list is corpus-sized.

    Shape: distinct (token, doc_id) pairs (one shuffle, map-side
    partial), a rank window per token to cut each list to 10, then a
    vocab-sized aggregation; doc_freq comes from the same pairs frame.
    No collect_list ever sees an uncapped group.
    """
    from pyspark.sql import Window

    pairs = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        # consumed by both the df aggregation and the rank window —
        # materialize the deduped pairs once rather than re-exploding
        # and re-shuffling the corpus per consumer.
        .localCheckpoint(eager=False)
    )
    df = pairs.groupBy("tok").agg(F.count("*").cast("long").alias("doc_freq"))
    ranked = pairs.withColumn(
        "rnk", F.row_number().over(Window.partitionBy("tok").orderBy("doc_id"))
    ).where(F.col("rnk") <= 10)
    head = ranked.groupBy("tok").agg(
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
            "postings_head"
        )
    )
    return df.join(head, "tok").select("tok", "doc_freq", "postings_head")


_BPE_SQL = """
    WITH wc AS (
      SELECT word, CAST(count(*) AS BIGINT) AS wcount
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE len(word) >= 2
      GROUP BY word
    ),
    pairs AS (
      SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, wcount
      FROM wc, unnest(range(1, len(word))) AS u(i)
    )
    SELECT pair, CAST(sum(wcount) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT 20
    """


@query("text_bpe_merge_step", sql=_BPE_SQL, tags=("text", "tokenizer"))
def text_bpe_merge_step(spark, sf_dir):
    """One BPE-training merge iteration (Sennrich et al. 2016): the
    most frequent adjacent symbol pairs over the corpus vocabulary,
    weighted by word frequency — the statistic a tokenizer trainer
    computes to pick its next merge. Top-20 by count (pair string
    breaks ties) so the output is a stable LIMIT.

    Scale shape: the corpus tokens collapse to the VOCABULARY first
    (word-keyed partial-agg count — the |corpus| → |vocab| reduction a
    BPE trainer always starts with), so the pair explosion runs over
    distinct words only; pair counting is a second partial-agg keyed
    on a 2-char string; top-20 plans as TakeOrderedAndProject.
    Adjacent character pair == 2-char substring, so no per-character
    array materialization at all.
    """
    wc = (
        par(T(spark, sf_dir, "documents"))
        .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
    )
    pairs = wc.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "wcount",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wcount").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(20)
    )


_KEYWORDS_SQL = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, word
    ),
    df AS (
      SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY word
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tf, score, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, word) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """


@query("text_doc_keywords", sql=_KEYWORDS_SQL, tags=("text", "tfidf"))
def text_doc_keywords(spark, sf_dir):
    """Per-document keyword extraction: top-3 terms by tf·N/df — the
    log-free tf-idf this engine's determinism rule allows (same
    ranking as tf·idf with log for any fixed document, since log is
    monotone in df). The per-doc complement of the per-language
    `curate_tfidf_top_terms` corpus view; this is what you show next
    to a document in a curation UI.

    Shape: (doc, word) tf agg and word df agg — both partial-agg
    shuffles on bounded keys; the vocabulary-sized df table broadcasts
    back onto tf; the top-3 window plans a WindowGroupLimit per doc
    (no global sort). Score = exact int64 product over one division.
    """
    tok = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tok.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    n = T(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "word", "tf", "score", F.col("rnk").cast("int").alias("rnk"))
    )


_BIN_TOKENS = 64  # training-bin capacity (tokens)


@query(
    "pack_bins_shelf",
    sql=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    o AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (
               ORDER BY n_tokens DESC, doc_id
             ) AS BIGINT) AS cum
      FROM d WHERE n_tokens <= {_BIN_TOKENS}
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {_BIN_TOKENS} AS BIGINT) AS bin_id
    FROM o
    """,
    tags=("text", "training-prep", "packing"),
)
def pack_bins_shelf(spark, sf_dir):
    """Shelf packing of documents into fixed-capacity training bins:
    sort docs longest-first and assign ``bin_id = (running_total −
    own_len) div capacity`` — the deterministic SQL-expressible cousin
    of first-fit-decreasing that `pack_sequences`' fixed chunking
    doesn't attempt (chunking SPLITS docs; packing PLACES whole docs,
    the mode a trainer uses when documents must stay intact). Docs
    longer than a bin are excluded (they go to the chunking path).

    A bin here may straddle the capacity boundary by at most one doc
    (shelf semantics — the straggler ends one shelf and the next doc
    starts the new one); utilization still lands within one doc-length
    of FFD on long-tailed corpora, with zero sequential state. The
    global sort is one row per doc; at 100 TB shard first (cumsum per
    shard) exactly like `curate_curriculum_stages` documents.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = Window.orderBy(F.col("n_tokens").desc(), "doc_id")
    o = d.where(F.col("n_tokens") <= _BIN_TOKENS).select(
        "doc_id",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("long").alias("cum"),
    )
    return o.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {_BIN_TOKENS}").cast("long").alias("bin_id"),
    )


_WINNOW_K = 3  # shingle width (tokens per k-gram)
_WINNOW_W = 4  # winnowing window (k-gram hashes per selection window)


def _winnow_cte() -> str:
    """Shared DuckDB CTE chain for the winnowing pipeline (tokens →
    sequential k-gram md5 hashes → per-window rightmost-min picks).
    DuckDB lambda indexes are 1-based where Spark's are 0-based; both
    formulas emit the same GLOBAL 1-based shingle position."""
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - {k - 2}),
                i -> {" || ' ' || ".join(f"toks[i+{j}]" for j in range(k))}) AS sh
      FROM t WHERE len(toks) >= {k + w - 1}
    ),
    h AS (
      SELECT doc_id,
             list_transform(sh,
                x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS hs
      FROM s
    ),
    sel AS (
      SELECT doc_id,
             list_transform(range(1, len(hs) - {w - 2}),
                i -> list_reduce(
                       list_transform(hs[i:i+{w - 1}],
                          (v, li) -> {{'v': v, 'p': i + li - 1}}),
                       (a, b) -> CASE WHEN b.v <= a.v THEN b ELSE a END)) AS picks
      FROM h
    )"""


def _winnow_sql() -> str:
    """DuckDB twin of :func:`text_winnow_fingerprints`."""
    return f"""
    WITH {_winnow_cte()}
    SELECT DISTINCT doc_id, u.v AS fp, CAST(u.p AS BIGINT) AS pos
    FROM (SELECT doc_id, unnest(picks) AS u FROM sel)
    """


@query("text_winnow_fingerprints", sql=_winnow_sql(), tags=("text", "fingerprint", "neardup"))
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every sequential token {k}-gram, slide a
    {w}-hash window, and keep each window's minimum (rightmost on
    ties — the '<=' fold). Guarantees: any shared substring of
    >= k+w-1 tokens between two documents yields at least one shared
    selected fingerprint, while storing only ~2/(w+1) of the hashes —
    the classic rolling-hash fingerprint behind plagiarism detection
    and local near-dup search, complementing MinHash (whole-doc
    similarity) with POSITION-AWARE overlap evidence.

    Output: (doc_id, fp, pos) — selected 60-bit md5-derived k-gram
    hash and its 1-based shingle position; consecutive windows picking
    the same occurrence dedup to one row, exactly as the paper's
    "record once" rule.

    Shape: pure per-row array pipeline (tokenize once, hash once,
    fold per window — no explode until the final 2/(w+1)-sized
    selection), so the corpus pass is one scan with no shuffle before
    the output DISTINCT. At 100 TB the fingerprint table is the
    bucket-join key for an overlap-pairs stage (group by fp), the same
    candidate-bounding pattern as banded LSH. Hash family is the
    md5 60-bit idiom, so the oracle replays the ENTIRE pipeline —
    hashes, window minima, tie-breaks, positions — bit-identically.
    """
    k, w = _WINNOW_K, _WINNOW_W
    toks = F.split(F.col("text"), " ")
    m = F.size("toks") - (k - 1)
    z = F.arrays_zip(*[F.slice("toks", 1 + j, m) for j in range(k)])
    sh = F.transform(z, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))
    hs = F.transform(
        F.col("sh"),
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
    )
    zero = F.struct(
        F.lit(1 << 62).cast("long").alias("v"), F.lit(0).cast("int").alias("p")
    )
    picks = F.transform(
        F.sequence(F.lit(1), F.size("hs") - (w - 1)),
        lambda i: F.aggregate(
            F.transform(
                F.slice("hs", i, w),
                lambda v, li: F.struct(v.alias("v"), (i + li).cast("int").alias("p")),
            ),
            zero,
            lambda a, b: F.when(b["v"] <= a["v"], b).otherwise(a),
        ),
    )
    return (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= k + w - 1)
        .select("doc_id", sh.alias("sh"))
        .select("doc_id", hs.alias("hs"))
        .select("doc_id", F.explode(picks).alias("u"))
        .select("doc_id", F.col("u.v").alias("fp"), F.col("u.p").cast("long").alias("pos"))
        .distinct()
    )


_WINNOW_FP_CAP = 1000  # document-frequency cap per fingerprint (scale knob)


def _winnow_overlap_sql() -> str:
    return f"""
    WITH {_winnow_cte()},
    fps AS (
      SELECT DISTINCT doc_id, u.v AS fp
      FROM (SELECT doc_id, unnest(picks) AS u FROM sel)
    ),
    kept AS (
      SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_WINNOW_FP_CAP}
    ),
    f2 AS (SELECT f.doc_id, f.fp FROM fps f JOIN kept USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """


@query(
    "dedup_winnow_overlap",
    sql=_winnow_overlap_sql(),
    tags=("dedup", "neardup", "fingerprint"),
)
def dedup_winnow_overlap(spark, sf_dir):
    """Position-aware near-dup candidate pairs from shared winnowing
    fingerprints: documents sharing >= 2 selected fingerprints — the
    plagiarism-detector's candidate stage, which catches LOCAL overlap
    (a copied paragraph inside otherwise-different documents) that
    whole-document MinHash similarity dilutes away. Winnowing's
    guarantee makes the recall contract precise: any shared run of
    >= k+w-1 tokens is caught.

    Shape: the inverted fingerprint index self-joins fp-bucket-local
    (never all-pairs); a document-frequency cap (fp df <= 1000,
    same knob as dedup_jaccard_pairs' shingle cap) drops
    boilerplate fingerprints before the join, bounding the worst
    bucket to df² candidates at any corpus size. Both the selection
    and the pairing replay exactly in the oracle.
    """
    fps = (
        text_winnow_fingerprints(spark, sf_dir)
        .select("doc_id", "fp")
        .distinct()
        # the fingerprint subtree (scan → hash → fold → distinct) feeds
        # the df-cap agg and BOTH sides of the self-join; Spark does not
        # CSE DataFrame subtrees, so checkpoint to one corpus pass
        .localCheckpoint(eager=False)
    )
    kept = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= _WINNOW_FP_CAP)
        .select("fp")
    )
    f2 = fps.join(kept, "fp")
    a = f2.select(F.col("doc_id").alias("doc_a"), "fp")
    b = f2.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


def _bpe_train_sql(k: int) -> str:
    """Unrolled ``k``-round BPE trainer in DuckDB SQL: each round picks
    the most frequent adjacent symbol pair over the frequency-weighted
    vocabulary (ties by (a, b) lexicographic) and merges it greedily
    left-to-right — overlapping marks resolved by run parity (keep
    even offsets within each run of consecutive marks), which equals
    the greedy scan exactly."""
    ctes = [
        """seq_0 AS (
      -- parallel unnests zip positionally in DuckDB (no WITH ORDINALITY)
      SELECT word, wcount,
             unnest(generate_series(1, len(syms))) AS pos,
             unnest(syms) AS sym
      FROM (
        SELECT word, wcount, string_split(word, '') AS syms
        FROM (
          SELECT word, CAST(count(*) AS BIGINT) AS wcount
          FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE length(word) >= 2
          GROUP BY word
        )
      )
    )"""
    ]
    for r in range(1, k + 1):
        p = r - 1
        ctes.append(f"""lead_{r} AS (
      SELECT word, wcount, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS lead_sym
      FROM seq_{p}
    ),
    best_{r} AS (
      SELECT sym AS a, lead_sym AS b, CAST(sum(wcount) AS BIGINT) AS cnt
      FROM lead_{r} WHERE lead_sym IS NOT NULL
      GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1
    ),
    marked_{r} AS (
      SELECT l.word, l.wcount, l.pos, l.sym, l.lead_sym,
             coalesce(l.sym = b.a AND l.lead_sym = b.b, FALSE) AS m
      FROM lead_{r} l CROSS JOIN best_{r} b
    ),
    grp_{r} AS (
      SELECT *, pos - row_number() OVER (PARTITION BY word, m ORDER BY pos)
                  AS grp
      FROM marked_{r}
    ),
    keep_{r} AS (
      SELECT *, m AND (row_number() OVER (PARTITION BY word, m, grp
                                          ORDER BY pos) - 1) % 2 = 0 AS keep
      FROM grp_{r}
    ),
    seq_{r} AS (
      SELECT word, wcount,
             row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
             new_sym AS sym
      FROM (
        SELECT word, wcount, pos,
               CASE WHEN keep THEN sym || lead_sym ELSE sym END AS new_sym,
               coalesce(lag(keep) OVER (PARTITION BY word ORDER BY pos),
                        FALSE) AS prev_keep
        FROM keep_{r}
      )
      WHERE NOT prev_keep
    )""")
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS step, a AS left_sym, b AS right_sym, cnt AS pair_count "
        f"FROM best_{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + finals


def _bpe_apply_sql(k: int) -> str:
    """The trainer's CTE chain, finalized as corpus TOKENIZATION: the
    post-merge symbol count per vocab word, applied back to every word
    occurrence (sub-2-char words tokenize to 1 symbol)."""
    train = _bpe_train_sql(k)
    ctes = train[: train.rindex(")") + 1]  # drop the merge-table SELECT
    return f"""{ctes},
    tok_len AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n_tok
      FROM seq_{k} GROUP BY word
    ),
    allw AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(coalesce(n_tok, 1)) AS BIGINT) AS n_tokens
    FROM (SELECT * FROM allw WHERE word <> '') a
    LEFT JOIN tok_len USING (word)
    GROUP BY source
    """


_BPE_TRAIN_K = 4


@query(
    "text_bpe_train_merges",
    sql=_bpe_train_sql(_BPE_TRAIN_K),
    tags=("text", "tokenizer", "iterative"),
)
def text_bpe_train_merges(spark, sf_dir):
    """A real BPE training LOOP (Sennrich et al. 2016), not just the
    pair statistic: 4 rounds of pick-best-pair → greedy left-to-right
    merge over the frequency-weighted vocabulary, returning the merge
    table (step, left, right, count) — the artifact a tokenizer
    trainer actually produces. Greedy overlap resolution (e.g. merging
    (a,a) in "aaa" yields [aa, a]) is pinned by run parity: within
    each run of consecutive marked positions only even offsets merge,
    which equals the left-to-right scan exactly; the oracle replays
    the identical 4 unrolled rounds in SQL, so a different tie-break,
    an overlap double-merge, or a stale pair count after any round
    flips the hash.

    Scale shape: the corpus collapses to the VOCABULARY before
    anything else (|corpus| → |vocab| partial agg — the reduction
    every BPE trainer starts with), so all per-round work is
    vocab-sized: one lead-window pass per round (shuffle keyed by
    word), one pair partial-agg, and a single-row TakeOrdered collect
    for the best pair (bounded driver metadata — the merge decision
    IS the algorithm's serial dependency). localCheckpoint per round
    keeps the 4-round lineage flat. K is the tokenizer's vocab-size
    knob: rounds are sequential by definition, each O(vocab).
    """
    steps, _seq = _bpe_train(spark, sf_dir, _BPE_TRAIN_K)
    return local_frame(
        spark, steps, "step int, left_sym string, right_sym string, pair_count long"
    )


def _bpe_train(spark, sf_dir, k):
    """The shared trainer loop: k rounds of best-pair → greedy merge
    over the frequency-weighted vocabulary. Returns ``(steps, seq)`` —
    the merge table rows and the post-merge symbol sequences (word,
    wcount, pos, sym). See text_bpe_train_merges for semantics and the
    scale story."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("word").orderBy("pos")
    seq = (
        par(T(spark, sf_dir, "documents"))
        .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
        .select(
            "word",
            "wcount",
            F.posexplode(F.split("word", "")).alias("pos0", "sym"),
        )
        .select("word", "wcount", (F.col("pos0") + 1).alias("pos"), "sym")
    )
    steps = []
    for r in range(1, k + 1):
        led = seq.withColumn("lead_sym", F.lead("sym").over(w))
        best = (
            led.where(F.col("lead_sym").isNotNull())
            .groupBy(F.col("sym").alias("a"), F.col("lead_sym").alias("b"))
            .agg(F.sum("wcount").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .first()
        )
        a, b, cnt = best["a"], best["b"], int(best["cnt"])
        steps.append((r, a, b, cnt))
        marked = led.withColumn(
            "m",
            F.coalesce(
                (F.col("sym") == F.lit(a)) & (F.col("lead_sym") == F.lit(b)),
                F.lit(False),
            ),
        )
        grp = marked.withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("word", "m").orderBy("pos")),
        )
        keep = grp.withColumn(
            "keep",
            F.col("m")
            & (
                (
                    F.row_number().over(
                        Window.partitionBy("word", "m", "grp").orderBy("pos")
                    )
                    - 1
                )
                % 2
                == 0
            ),
        )
        seq = (
            keep.withColumn(
                "new_sym",
                F.when(F.col("keep"), F.concat("sym", "lead_sym")).otherwise(
                    F.col("sym")
                ),
            )
            .withColumn(
                "prev_keep",
                F.coalesce(F.lag("keep").over(w), F.lit(False)),
            )
            .where(~F.col("prev_keep"))
            .select(
                "word",
                "wcount",
                F.row_number().over(w).alias("pos"),
                F.col("new_sym").alias("sym"),
            )
            .localCheckpoint(eager=False)
        )
    return steps, seq


@query(
    "text_bpe_apply_tokenize",
    sql=_bpe_apply_sql(_BPE_TRAIN_K),
    tags=("text", "tokenizer", "iterative"),
)
def text_bpe_apply_tokenize(spark, sf_dir):
    """The trained tokenizer APPLIED: after the 4 BPE merge rounds, each
    vocabulary word's token count is its post-merge symbol count; the
    corpus tokenizes by mapping every word occurrence through that
    table (sub-2-char words — below the trainer's floor — stay one
    token). Output is per-source (word count, token count): the
    fertility measurement a tokenizer evaluation actually reports, now
    under the trained-on-this-corpus tokenizer instead of a fixed
    external one (`text_tokenizer_fertility`). The oracle re-derives
    the merges AND the application symbolically, so train/apply
    inconsistency — e.g. applying merges in the wrong order, which
    changes symbol counts — flips the hash.

    Scale shape: training is vocab-sized (see text_bpe_train_merges);
    application is a broadcast-sized (|vocab| rows) join onto the
    exploded corpus followed by a per-source partial agg — the exact
    shape of production tokenization: the merge table ships to every
    executor, the corpus streams through once.
    """
    _, seq = _bpe_train(spark, sf_dir, _BPE_TRAIN_K)
    tok_len = seq.groupBy("word").agg(F.count("*").alias("n_tok"))
    words = (
        par(T(spark, sf_dir, "documents"))
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
    )
    return (
        words.join(F.broadcast(tok_len), "word", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.coalesce(F.col("n_tok"), F.lit(1))).cast("long").alias("n_tokens"),
        )
    )


_KN_P = (
    "greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)"
    " + (0.75 * CAST(nl AS DOUBLE) / CAST(c1 AS DOUBLE))"
    " * (CAST(nr AS DOUBLE) / CAST(tt AS DOUBLE))"
)

_KN_SQL = f"""
    WITH toks AS (
      SELECT string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM (SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
                   unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
            FROM toks)
      GROUP BY w1, w2
    ),
    lstat AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS nl
      FROM bg GROUP BY w1
    ),
    rstat AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS nr FROM bg GROUP BY w2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM bg)
    SELECT bg.w1, bg.w2, bg.c12, {_KN_P} AS p_kn
    FROM bg JOIN lstat USING (w1) JOIN rstat USING (w2) CROSS JOIN tot
    WHERE bg.c12 >= 20
    ORDER BY bg.c12 DESC, bg.w1, bg.w2 LIMIT 100
    """


@query("text_kneser_ney_bigram", sql=_KN_SQL, tags=("text", "lm"))
def text_kneser_ney_bigram(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities (fixed discount
    D = 0.75): P(w2|w1) = max(c(w1w2)−D, 0)/c(w1·) +
    (D·N1+(w1·)/c(w1·)) · (N1+(·w2)/|bigram types|) — the smoothing
    that backs off to CONTINUATION counts ("how many contexts does w2
    complete?") rather than raw unigram frequency, the standard
    n-gram LM for corpus-quality scoring before a neural pass
    (`quality_perplexity_bigram` is the add-k sibling; KN is what you
    ship). Top-100 most frequent bigrams, uniquely tiebroken.

    Determinism: every count is an exact int64 aggregate; P assembles
    them in ONE shared textual expression (used verbatim by both
    engines) of IEEE +,·,/ and greatest — no float reductions, no
    pow/ln. D is the literal 0.75 (exactly representable).

    Shape: one bigram explode + partial+final count (the corpus-sized
    work), then vocab-sized left/right continuation aggs DERIVED from
    the bigram table (no second corpus scan), a 1-row type-count
    broadcast cross join, and a TakeOrdered top-100. At 100 TB the
    bigram table is the working set — it shards on (w1, w2) and every
    downstream agg is map-side combinable; the c12 ≥ 20 prefilter
    shrinks the join inputs before any stats join.
    """
    w = F.col("w")
    toks = (
        par(T(spark, sf_dir, "documents"))
        .select(F.split(F.col("text"), " ").alias("w"))
        .where(F.size(w) >= 2)
    )
    # zip-of-slices, not transform(idx, i -> element_at(w, i)): the
    # indexed-lookup form allocates a positions array and does two
    # interpreted element_at calls per bigram (the text_bigram_freq /
    # _hashed_shingles lesson). Output pairs identical.
    m = F.size(w) - 1
    bg = (
        toks.select(
            F.explode(F.arrays_zip(F.slice(w, 1, m), F.slice(w, 2, m))).alias("p")
        )
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    lstat = bg.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("nl")
    )
    rstat = bg.groupBy("w2").agg(F.count("*").alias("nr"))
    tot = bg.agg(F.count("*").alias("tt"))
    return (
        bg.where(F.col("c12") >= 20)
        .join(lstat, "w1")
        .join(rstat, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", F.expr(_KN_P).alias("p_kn"))
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(100)
    )


_HASH_DIM = 64  # feature-vector width for the hashing trick


@query(
    "text_hashing_trick_features",
    sql=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    b AS (
      SELECT tok,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
               % {_HASH_DIM} AS bucket
      FROM tok WHERE tok <> ''
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
           min(tok) AS first_token
    FROM b GROUP BY bucket
    """,
    tags=("text", "features", "training-prep"),
)
def text_hashing_trick_features(spark, sf_dir):
    """Hashing-trick (hashingTF) feature construction — the fixed-width
    token→bucket map behind fastText-style quality classifiers and
    online LR filters, where a vocabulary table would be a mutable
    multi-TB dimension: bucket = h(token) mod 64. Emits the corpus
    column profile of that feature space — per-bucket occurrence mass,
    distinct-token load (the collision rate that sizes the dimension:
    E[distinct/bucket] = |vocab|/dim), and the lexicographically first
    token as a stable witness.

    The hash is the corpus-wide md5-60bit family (cross-engine exact,
    like the minhash/simhash ops; production swaps xxhash64 — one
    expression — which is also what Spark MLlib's HashingTF does with
    murmur3). No vocabulary state, no join: per-doc vectors downstream
    are a pure projection, and this profile is one explode + one
    map-combinable groupBy of at most `dim` groups — shuffle volume is
    O(dim · n_partitions) whatever the corpus size.
    """
    d = par(T(spark, sf_dir, "documents"))
    tok = d.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    b = tok.select(
        "tok",
        (
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
            % _HASH_DIM
        ).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("n_distinct_tokens"),
        F.min("tok").alias("first_token"),
    )


_CODE_SYMS = r"[{}()\[\];=<>]"
_CODE_PERMILLE = 25  # symbol density above which a doc reads as code


@query(
    "text_code_detect_heuristic",
    sql=f"""
    WITH m AS (
      SELECT doc_id, lang, source,
             CAST(greatest(length(text), 1) AS BIGINT) AS len,
             CAST(length(text)
                  - length(regexp_replace(text, '[{{}}()\\[\\];=<>]', '', 'g'))
                  AS BIGINT) AS n_sym,
             CAST(length(text)
                  - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS n_dig
      FROM documents
    )
    SELECT doc_id, lang, source,
           CAST(1000 * n_sym // len AS BIGINT) AS symbol_permille,
           CAST(1000 * n_dig // len AS BIGINT) AS digit_permille,
           1000 * n_sym // len >= {_CODE_PERMILLE} AS is_code
    FROM m
    """,
    tags=("text", "quality", "training-prep"),
)
def text_code_detect_heuristic(spark, sf_dir):
    """Code-vs-prose detection — the routing decision an LLM corpus
    makes per document before anything else (code goes to the code
    pipeline with its own dedup/quality rules; prose goes to the text
    one; mislabeled code poisons both): density of code-y symbols
    ({{}}()[];=<>) and digits per 1000 characters, flagged as code above
    25‰ (natural prose sits well under 10‰; source files of any
    mainstream language sit far above). The structural-signal sibling
    of `text_lang_id_heuristic` — fastText-style classifiers replace
    the rule at quality-critical stages, but this heuristic is what
    scans 100 TB first.

    Densities are exact integer permille (counts via length minus
    symbol-stripped length — the portable no-regex-count trick, with
    the same regexp class evaluated by both engines; truncating div).
    Pure per-row projection: scan speed at any scale, no shuffle.
    """
    d = T(spark, sf_dir, "documents")
    ln = F.greatest(F.length("text"), F.lit(1)).cast("long")
    n_sym = (
        F.length("text") - F.length(F.regexp_replace("text", _CODE_SYMS, ""))
    ).cast("long")
    n_dig = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ).cast("long")
    m = d.select(
        "doc_id", "lang", "source", ln.alias("len"),
        n_sym.alias("n_sym"), n_dig.alias("n_dig"),
    )
    sym_pm = F.expr("1000 * n_sym div len")
    dig_pm = F.expr("1000 * n_dig div len")
    return m.select(
        "doc_id",
        "lang",
        "source",
        sym_pm.cast("long").alias("symbol_permille"),
        dig_pm.cast("long").alias("digit_permille"),
        (sym_pm >= _CODE_PERMILLE).alias("is_code"),
    )
