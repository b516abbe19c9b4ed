"""The reference's analytics queries over the normalized GHA tables.

query_data (preprocess.py:209-244): two text-mining queries over the
lakehouse, each the same shape — popularity agg + HAVING, broadcast
join, substring/prefix filters, project, sort desc (SURVEY.md §3 EP2).
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

    The reference repartitions this to 1 partition to cheapen the join;
    the Spark-native equivalent is a broadcast hint at the join site —
    never a manual repartition (SURVEY.md §4).
    """
    return (
        watch.groupBy("repo")
        .agg(F.count("*").alias("count"))
        .where(F.col("count") > min_watches)
    )


def keyword_commits(
    commit: DataFrame,
    watch: DataFrame,
    keyword: str = " dask",
    exclude_repo_prefix: str = "dask/",
    min_watches: int = 5,
) -> DataFrame:
    """"dask commits" (preprocess.py:214-230): commits mentioning the
    keyword in popular repos, excluding bots and the project's own org."""
    repos = popular_repos(watch, min_watches)
    return (
        commit.where(~F.col("username").contains("bot"))  # :219
        .join(F.broadcast(repos), "repo")  # :220 (broadcast-in-intent)
        .where(F.lower(F.col("message")).contains(keyword))  # :221-223
        .where(~F.col("repo").startswith(exclude_repo_prefix))  # :224
        .select("username", "repo", "message", "count")  # :223
        .orderBy(F.desc("count"))  # :225
    )


def keyword_comments(
    comment: DataFrame,
    watch: DataFrame,
    keyword: str = " dask",
    exclude_repo_prefix: str = "dask/",
    min_watches: int = 5,
) -> DataFrame:
    """"dask comments" (preprocess.py:233-244): same shape over comments
    (no bot filter in the reference)."""
    repos = popular_repos(watch, min_watches)
    return (
        comment.join(F.broadcast(repos), "repo")
        .where(F.lower(F.col("comment")).contains(keyword))
        .where(~F.col("repo").startswith(exclude_repo_prefix))
        .select("username", "repo", "comment", "count")
        .orderBy(F.desc("count"))
    )
