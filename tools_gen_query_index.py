#!/usr/bin/env python
"""Regenerate QUERIES.md — a one-line-per-query index of the registry
(name, tags, oracle-checked?, first docstring line). Run after adding
operators so the inventory stays current; a tier-1 test fails while the
committed file differs from :func:`render`."""

from __future__ import annotations


def render() -> str:
    """The text of QUERIES.md for the current registry."""
    import etl_github_spark.queries as q

    lines = [
        "# Query index",
        "",
        "Auto-generated from the registry (`python tools_gen_query_index.py`).",
        f"{len(q.QUERIES)} queries; 'oracle' = DuckDB SQL diffed by the driver at sf0.01.",
        "",
        "| # | query | tags | oracle | summary |",
        "|---|---|---|---|---|",
    ]
    for i, (name, d) in enumerate(q.QUERIES.items(), 1):
        doc = (d.fn.__doc__ or "").strip().splitlines()
        head = doc[0].strip() if doc else ""
        if len(head) > 90:
            head = head[:87] + "..."
        tags = ",".join(d.tags) if getattr(d, "tags", None) else ""
        lines.append(
            f"| {i} | `{name}` | {tags} | {'y' if d.sql else 'rows-only'} | {head} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    from etl_github_spark.queries import QUERIES

    with open("QUERIES.md", "w") as f:
        f.write(render())
    print(f"QUERIES.md: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
