"""Streaming windowed-count semantics, checked on a batch frame."""

from __future__ import annotations

from etl_github_spark.streaming import stream_windowed_counts

from .gha_fixture import write_fixture


def test_stream_windowed_counts_batch_semantics(spark, tmp_path):
    # windowed agg logic is testable on a batch frame (same expression)
    from etl_github_spark.gha import parse_raw_lines
    from etl_github_spark.gha.pipeline import extract_tables

    paths = write_fixture(tmp_path / "in", gz=True)
    commits = dict(extract_tables(parse_raw_lines(spark.read.text(paths))))["commit"]
    out = stream_windowed_counts(commits, window="1 hour", group_col="repo")
    rows = {(r.window_start.isoformat(), r.repo): r.cnt for r in out.collect()}
    assert rows[("2024-02-29T22:00:00", "org/tools")] == 3  # a1,a2,b1
    assert rows[("2024-03-01T00:00:00", "org/tools")] == 1  # d1
