"""SQL entry point tests: catalog views + Catalyst SQL over fixtures."""

from __future__ import annotations

from etl_github_spark.sql import open_catalog, sql

from .conftest import SF_SMALL


def test_sql_over_catalog(spark):
    out = sql(
        spark,
        SF_SMALL,
        """
        SELECT c.c_mktsegment, count(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1 ORDER BY n DESC, c_mktsegment
        """,
    ).collect()
    assert sum(r["n"] for r in out) == 1500
    assert len(out) >= 3


def test_catalog_registers_all_tables(spark):
    open_catalog(spark, SF_SMALL)
    views = {t.name for t in spark.catalog.listTables()}
    for t in ("lineitem", "events", "documents", "embeddings"):
        assert t in views
    assert spark.sql("SELECT count(*) AS n FROM documents").first()["n"] == 500
