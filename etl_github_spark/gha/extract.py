"""Raw NDJSON parsing + the six per-table extractors as column plans.

Every reference handler (preprocess.py:40-108) is a Python function over
a dict; here each compiles to pure SQL column expressions — zero UDFs,
fully inside whole-stage codegen (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


# The filters and projections below are SQL expression strings: every
# Column built in Python costs py4j round trips, and each ingest plans
# the envelope filter and six extractors, so one string per expression
# keeps that driver-side planning short.


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
        .selectExpr("inline(array(j))")
        .where(
            f"{CORRUPT_COL} IS NULL AND type IS NOT NULL AND created_at IS NOT NULL"
            " AND actor.login IS NOT NULL AND repo.name IS NOT NULL"
        )
        .drop(CORRUPT_COL)
    )


#: actor.login → username, repo.name → repo (every handler,
#: preprocess.py:42-44,53-55,...)
_WHO = ("actor.login AS username", "repo.name AS repo")

#: fromisoformat parse (preprocess.py:47 etc) + derived partition date
#: (preprocess.py:160-161). to_timestamp handles the +00:00 offset;
#: session TZ is pinned UTC (session.py). The date comes from the parsed
#: timestamp, not the string: to_date on the string keeps the local
#: date of the offset.
_WHEN = (
    "to_timestamp(created_at) AS created_at",
    "to_date(to_timestamp(created_at)) AS date",
)


def extract_commits(events: DataFrame) -> DataFrame:
    """PushEvent → one row per commit (explode; preprocess.py:40-48)."""
    return (
        events.where("type = 'PushEvent'")
        .selectExpr(*_WHO, "explode(payload.commits) AS c", "created_at")
        .selectExpr("username", "repo", "c.sha AS sha", "c.message AS message", *_WHEN)
    )


def extract_creates(events: DataFrame) -> DataFrame:
    """CreateEvent (preprocess.py:51-59)."""
    return events.where("type = 'CreateEvent'").selectExpr(
        *_WHO,
        "payload.ref_type AS type",
        "payload.ref AS name",
        "payload.description AS description",
        *_WHEN,
    )


def extract_prs(events: DataFrame) -> DataFrame:
    """PullRequestEvent (preprocess.py:62-75)."""
    return events.where("type = 'PullRequestEvent'").selectExpr(
        *_WHO,
        "payload.action AS action",
        "payload.number AS number",
        "payload.pull_request.title AS title",
        "payload.pull_request.user.login AS author",
        "payload.pull_request.body AS body",
        "to_timestamp(payload.pull_request.created_at) AS pr_created_at",
        *_WHEN,
    )


def extract_comments(events: DataFrame) -> DataFrame:
    """IssueCommentEvent (preprocess.py:78-91)."""
    return events.where("type = 'IssueCommentEvent'").selectExpr(
        *_WHO,
        "payload.issue.number AS number",
        "payload.issue.title AS title",
        "payload.issue.user.login AS author",
        "to_timestamp(payload.issue.created_at) AS issue_created_at",
        "payload.comment.body AS comment",
        "payload.comment.author_association AS association",
        *_WHEN,
    )


def extract_watches(events: DataFrame) -> DataFrame:
    """WatchEvent (preprocess.py:94-100)."""
    return events.where("type = 'WatchEvent'").selectExpr(
        *_WHO, "payload.action AS action", *_WHEN
    )


def extract_forks(events: DataFrame) -> DataFrame:
    """ForkEvent (preprocess.py:103-108)."""
    return events.where("type = 'ForkEvent'").selectExpr(*_WHO, *_WHEN)


EXTRACTORS = {
    "commit": extract_commits,
    "create": extract_creates,
    "pr": extract_prs,
    "comment": extract_comments,
    "watch": extract_watches,
    "fork": extract_forks,
}
