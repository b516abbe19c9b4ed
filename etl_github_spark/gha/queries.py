"""The reference's analytics queries over the normalized GHA tables.

query_data (preprocess.py:209-244): two text-mining queries over the
lakehouse, each the same shape — popularity agg + HAVING, join,
substring/prefix filters, project, sort desc (SURVEY.md §3 EP2).

The popularity side is joined by shuffled hash join, not broadcast
(:func:`popular_repos` says why), and each result is sorted within its
partitions, not globally (:func:`keyword_commits`). Both sides of the
join then shuffle in one wave of Spark jobs, and the join, the sort and
the write run in the next: ``run_analytics`` is 6 jobs in 2 sequential
waves. Filters and projections are SQL expression strings, which plan in
fewer py4j round trips than Column objects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_analytics(spark, lakedir: str, outdir: str) -> dict[str, str]:
    """The reference's full query_data flow (preprocess.py:209-244):
    read the lakehouse tables, run both keyword queries, overwrite the
    result tables (rm-and-rewrite in the reference → atomic
    mode="overwrite" here, S6).

    The tables are read with their fixed ``TABLE_SCHEMAS``, so no
    schema-inference job runs, and the two independent result writes
    run as concurrent Spark jobs (``pipeline.write_concurrently``)."""
    from ..io.sink import read_table
    from .pipeline import write_concurrently
    from .schemas import TABLE_SCHEMAS

    commit, comment, watch = (
        read_table(spark, f"{lakedir}/{t}", schema=TABLE_SCHEMAS[t])
        for t in ("commit", "comment", "watch")
    )
    out = {
        "commits": f"{outdir}/dask/commits",
        "comments": f"{outdir}/dask/comments",
    }
    write_concurrently(
        spark,
        [
            (keyword_commits(commit, watch), out["commits"], "overwrite", ()),
            (keyword_comments(comment, watch), out["comments"], "overwrite", ()),
        ],
    )
    return out


def popular_repos(watch: DataFrame, min_watches: int = 5) -> DataFrame:
    """watch.repo.value_counts()[> min] (preprocess.py:215-216).

    The reference repartitions this to 1 partition to cheapen the join.
    Here the keyword queries join it by shuffled hash join, built on this
    side, not by broadcast: the frame grows with the ``watch`` table, and
    a broadcast (forced or chosen by AQE from the aggregate's size) must
    wait for the final aggregation before the other side's scan can
    start. With both sides shuffled, the ``watch`` aggregation and the
    keyword-hit scans run as one wave of jobs, and the join, the
    per-partition sort by ``count`` and the write run as the next.
    """
    return watch.groupBy("repo").count().where(f"`count` > {int(min_watches)}")


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def keyword_commits(
    commit: DataFrame,
    watch: DataFrame,
    keyword: str = " dask",
    exclude_repo_prefix: str = "dask/",
    min_watches: int = 5,
) -> DataFrame:
    """"dask commits" (preprocess.py:214-230): commits mentioning the
    keyword in popular repos, excluding bots and the project's own org.

    Sorted by ``count`` descending within each partition, not globally
    (the reference's sort, :225): a global ``orderBy`` adds a sampling
    job and a range-partitioning exchange, and no Parquet reader sees
    that order, since Spark's file scan orders its splits by size. Each
    written file is sorted."""
    repos = popular_repos(watch, min_watches).hint("shuffle_hash")
    return (
        commit.where(
            "NOT contains(username, 'bot')"  # :219
            f" AND contains(lower(message), {_sql_str(keyword)})"  # :221-223
            f" AND NOT startswith(repo, {_sql_str(exclude_repo_prefix)})"  # :224
        )
        .join(repos, "repo")  # :220
        .select("username", "repo", "message", "count")  # :223
        .sortWithinPartitions(F.desc("count"))  # :225
    )


def keyword_comments(
    comment: DataFrame,
    watch: DataFrame,
    keyword: str = " dask",
    exclude_repo_prefix: str = "dask/",
    min_watches: int = 5,
) -> DataFrame:
    """"dask comments" (preprocess.py:233-244): same shape over comments
    (no bot filter in the reference), sorted like :func:`keyword_commits`."""
    repos = popular_repos(watch, min_watches).hint("shuffle_hash")
    return (
        comment.where(
            f"contains(lower(comment), {_sql_str(keyword)})"
            f" AND NOT startswith(repo, {_sql_str(exclude_repo_prefix)})"
        )
        .join(repos, "repo")
        .select("username", "repo", "comment", "count")
        .sortWithinPartitions(F.desc("count"))
    )
