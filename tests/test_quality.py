"""Unit tests for the corpus-quality operators (queries/quality.py):
live-PII redaction behavior, global chunk-dedup semantics, and filter
rule-cascade boundaries — the cases the fixture corpus can't exercise
(it contains no PII and few boundary documents)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_github_spark.queries.quality import _CHUNK, _EMAIL, _IPV4, _LONGNUM

from .conftest import SF_SMALL


def _redact(col):
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(col, _EMAIL, "<EMAIL>"), _IPV4, "<IP>"),
        _LONGNUM,
        "<NUM>",
    )


def test_pii_redaction_on_live_strings(spark):
    rows = [
        ("mail me at jane.doe+spam@example.co.uk today", "mail me at <EMAIL> today", 1, 0, 0),
        ("server 192.168.0.1 and 10.0.255.254 are up", "server <IP> and <IP> are up", 0, 2, 0),
        ("card 4111111111111111 expires soon", "card <NUM> expires soon", 0, 0, 1),
        ("no pii here at all", "no pii here at all", 0, 0, 0),
        # 12 digits: below the 13-16 card window — untouched.
        ("order 123456789012 shipped", "order 123456789012 shipped", 0, 0, 0),
    ]
    df = spark.createDataFrame(
        [(t,) for t, *_ in rows], "text string"
    ).select(
        "text",
        _redact(F.col("text")).alias("red"),
        F.regexp_count("text", F.lit(_EMAIL)).alias("ne"),
        F.regexp_count("text", F.lit(_IPV4)).alias("ni"),
        F.regexp_count("text", F.lit(_LONGNUM)).alias("nn"),
    )
    got = {r["text"]: (r["red"], r["ne"], r["ni"], r["nn"]) for r in df.collect()}
    for text, red, ne, ni, nn in rows:
        assert got[text] == (red, ne, ni, nn), text


def test_pii_email_not_greedy_across_spaces(spark):
    out = (
        spark.createDataFrame([("a@b.com c@d.org",)], "text string")
        .select(_redact(F.col("text")).alias("r"))
        .first()["r"]
    )
    assert out == "<EMAIL> <EMAIL>"


def _run_chunk_dedup(spark, docs):
    """Run the dedup_chunks_global plan over an in-memory documents view."""
    import etl_github_spark.queries.quality as q

    df = spark.createDataFrame(docs, "doc_id long, text string")
    orig_T = q.T
    q.T = lambda s, d, n: df  # noqa: E731
    try:
        return {
            r["doc_id"]: (r["clean_text"], r["n_chunks_kept"], r["n_chunks_orig"])
            for r in q.dedup_chunks_global(spark, "ignored").collect()
        }
    finally:
        q.T = orig_T


def test_chunk_dedup_first_occurrence_wins(spark):
    k = _CHUNK
    shared = " ".join(["dup"] * k)  # one full duplicate chunk
    a_tail = " ".join(["alpha"] * k)
    b_tail = " ".join(["beta"] * k)
    docs = [
        (1, f"{shared} {a_tail}"),  # owns the first occurrence
        (2, f"{shared} {b_tail}"),  # loses its first chunk
        (3, shared),  # fully duplicated → disappears
    ]
    got = _run_chunk_dedup(spark, docs)
    assert got[1] == (f"{shared} {a_tail}", 2, 2)
    assert got[2] == (b_tail, 1, 2)
    assert 3 not in got


def test_chunk_dedup_short_doc_roundtrips(spark):
    text = "tiny doc under one chunk"
    got = _run_chunk_dedup(spark, [(7, text)])
    assert got[7] == (text, 1, 1)


def test_gopher_filter_cascade_order(spark):
    """A doc failing several rules reports the FIRST failing rule."""
    from etl_github_spark.queries.quality import quality_gopher_filter
    import etl_github_spark.queries.quality as q

    # 5 identical words: fails word_count (<20) AND repetition (<0.35);
    # must report word_count.
    df = spark.createDataFrame([(1, "x x x x x")], "doc_id long, text string")
    orig_T = q.T
    q.T = lambda s, d, n: df  # noqa: E731
    try:
        rows = quality_gopher_filter(spark, "ignored").collect()
    finally:
        q.T = orig_T
    assert rows[0]["reason"] == "word_count" and rows[0]["keep"] is False


def test_event_dedup_breaks_ts_ties_by_event_id(spark):
    """Two events with the same (user, type, hour) and identical ts must
    deterministically keep the lower event_id."""
    from etl_github_spark.queries import analytics as qa

    df = spark.createDataFrame(
        [
            (7, 1, "click", "2024-01-01 10:00:00"),
            (3, 1, "click", "2024-01-01 10:00:00"),  # same ts, lower id wins
            (9, 1, "click", "2024-01-01 11:30:00"),  # next hour: kept
        ],
        "event_id long, user_id long, event_type string, ts string",
    ).selectExpr("event_id", "user_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts")
    orig_T = qa.T
    qa.T = lambda s, d, n: df  # noqa: E731
    try:
        kept = sorted(r["event_id"] for r in qa.dedup_events_hourly(spark, "x").collect())
    finally:
        qa.T = orig_T
    assert kept == [3, 9]


def test_lineage_manifest_funnel_invariants(spark):
    """The lineage manifest must be a consistent funnel: 5 stages,
    rows_in of stage k == rows_out of stage k-1, counts non-negative
    and non-increasing through the filter stages, and the terminal
    rows_out equal to curate_pipeline_full's surviving-doc count (the
    manifest audits THAT pipeline, so the two must agree)."""
    from etl_github_spark.queries.quality import (
        curate_lineage_manifest,
        curate_pipeline_full,
    )

    rows = sorted(
        (r["stage_idx"], r["stage"], r["rows_in"], r["rows_out"], r["rows_dropped"])
        for r in curate_lineage_manifest(spark, SF_SMALL).collect()
    )
    assert [r[1] for r in rows] == [
        "ingest", "gopher_filter", "outlier_zscore", "hash_sample", "chunk_dedup"
    ]
    for (i, (_, _, rin, rout, dropped)) in enumerate(rows):
        assert dropped == rin - rout and rout >= 0
        if i:
            assert rin == rows[i - 1][3]  # the funnel chains
            assert rout <= rin
    survivors = curate_pipeline_full(spark, SF_SMALL).count()
    assert rows[-1][3] == survivors
