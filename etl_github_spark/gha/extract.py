"""Raw NDJSON parsing + the six per-table extractors as column plans.

Every reference handler (preprocess.py:40-108) is a Python function over
a dict; here each compiles to pure column expressions — zero UDFs, fully
inside whole-stage codegen (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .schemas import RAW_EVENT_SCHEMA

CORRUPT_COL = "_corrupt_record"

#: raw schema + corrupt-record sidecar: PERMISSIVE from_json fills the
#: sidecar with the raw line on parse failure (instead of silently
#: yielding an all-null struct), preserving the reference's "count the
#: bad lines" capability (gha.ipynb cells 4-5).
_RAW_WITH_CORRUPT = StructType(
    list(RAW_EVENT_SCHEMA.fields) + [StructField(CORRUPT_COL, StringType())]
)
_PARSE_OPTS = {"columnNameOfCorruptRecord": CORRUPT_COL}


def _parsed(lines: DataFrame, value_col: str) -> DataFrame:
    return lines.select(
        F.from_json(F.col(value_col), _RAW_WITH_CORRUPT, _PARSE_OPTS).alias("j")
    )


def parse_raw_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """text lines → typed events; corrupt JSON → dropped, like the
    reference's silent json.loads skip (preprocess.py:125-128).

    Rows whose JSON parses but lacks the envelope fields are also
    dropped, matching the handlers' KeyError-→-skip behavior
    (preprocess.py:133-136).

    ``inline(array(j))`` unpacks the struct through a generator, which
    Catalyst pushes no filter below: with a plain ``select("j.*")`` the
    filters move under the projection and ``from_json`` runs twice per
    valid line, once in the filter and once in the projection.
    """
    return (
        _parsed(lines, value_col)
        .select(F.inline(F.array("j")))
        .where(F.col(CORRUPT_COL).isNull())
        .drop(CORRUPT_COL)
        .where(
            F.col("type").isNotNull()
            & F.col("created_at").isNotNull()
            & F.col("actor.login").isNotNull()
            & F.col("repo.name").isNotNull()
        )
    )


def _common() -> list[Column]:
    # actor.login → username, repo.name → repo (every handler,
    # preprocess.py:42-44,53-55,...)
    return [
        F.col("actor.login").alias("username"),
        F.col("repo.name").alias("repo"),
    ]


def _ts_date(src: Column | str = "created_at") -> list[Column]:
    # fromisoformat parse (preprocess.py:47 etc) + derived partition date
    # (preprocess.py:160-161). to_timestamp handles the +00:00 offset;
    # session TZ is pinned UTC (session.py).
    src = F.col(src) if isinstance(src, str) else src
    ts = F.to_timestamp(src)
    return [ts.alias("created_at"), F.to_date(ts).alias("date")]


def extract_commits(events: DataFrame) -> DataFrame:
    """PushEvent → one row per commit (explode; preprocess.py:40-48)."""
    return (
        events.where(F.col("type") == "PushEvent")
        .select(*_common(), F.explode("payload.commits").alias("c"), "created_at")
        .select(
            "username",
            "repo",
            F.col("c.sha").alias("sha"),
            F.col("c.message").alias("message"),
            *_ts_date(),
        )
    )


def extract_creates(events: DataFrame) -> DataFrame:
    """CreateEvent (preprocess.py:51-59)."""
    return events.where(F.col("type") == "CreateEvent").select(
        *_common(),
        F.col("payload.ref_type").alias("type"),
        F.col("payload.ref").alias("name"),
        F.col("payload.description").alias("description"),
        *_ts_date(),
    )


def extract_prs(events: DataFrame) -> DataFrame:
    """PullRequestEvent (preprocess.py:62-75)."""
    return events.where(F.col("type") == "PullRequestEvent").select(
        *_common(),
        F.col("payload.action").alias("action"),
        F.col("payload.number").alias("number"),
        F.col("payload.pull_request.title").alias("title"),
        F.col("payload.pull_request.user.login").alias("author"),
        F.col("payload.pull_request.body").alias("body"),
        F.to_timestamp("payload.pull_request.created_at").alias("pr_created_at"),
        *_ts_date(),
    )


def extract_comments(events: DataFrame) -> DataFrame:
    """IssueCommentEvent (preprocess.py:78-91)."""
    return events.where(F.col("type") == "IssueCommentEvent").select(
        *_common(),
        F.col("payload.issue.number").alias("number"),
        F.col("payload.issue.title").alias("title"),
        F.col("payload.issue.user.login").alias("author"),
        F.to_timestamp("payload.issue.created_at").alias("issue_created_at"),
        F.col("payload.comment.body").alias("comment"),
        F.col("payload.comment.author_association").alias("association"),
        *_ts_date(),
    )


def extract_watches(events: DataFrame) -> DataFrame:
    """WatchEvent (preprocess.py:94-100)."""
    return events.where(F.col("type") == "WatchEvent").select(
        *_common(),
        F.col("payload.action").alias("action"),
        *_ts_date(),
    )


def extract_forks(events: DataFrame) -> DataFrame:
    """ForkEvent (preprocess.py:103-108)."""
    return events.where(F.col("type") == "ForkEvent").select(*_common(), *_ts_date())


EXTRACTORS = {
    "commit": extract_commits,
    "create": extract_creates,
    "pr": extract_prs,
    "comment": extract_comments,
    "watch": extract_watches,
    "fork": extract_forks,
}
