"""100 TB posture: a pages store bucketed by issue_id makes the rebuild's
group-supports shuffle disappear (the only exchange left feeds the
issues side of the join)."""

import shutil

import pytest
from impresso_ta.rebuild import rebuild_issues_solr
from impresso_ta.schemas import ISSUE_SCHEMA, PAGE_SCHEMA
from impresso_ta.sources.sinks import write_pages_bucketed
from tests.fixtures import simple_issue_and_pages


@pytest.fixture()
def warehouse_spark(spark):
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
    )
    return spark


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def test_bucketed_store_removes_group_shuffle(warehouse_spark, tmp_path):
    spark = warehouse_spark
    iss, pages = simple_issue_and_pages()
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    pages_df = spark.createDataFrame(pages, PAGE_SCHEMA)

    spark.sql("DROP TABLE IF EXISTS bucketed_pages_test")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/bucketed_pages_test", ignore_errors=True)
    write_pages_bucketed(pages_df, "bucketed_pages_test", buckets=4)
    bucketed = spark.table("bucketed_pages_test")
    assert "issue_id" in bucketed.columns

    plain = rebuild_issues_solr(issues_df, pages_df)
    with_buckets = rebuild_issues_solr(issues_df, bucketed)

    # identical results...
    a = sorted(r["id"] for r in plain.collect())
    b = sorted(r["id"] for r in with_buckets.collect())
    assert a == b and len(a) == 3

    # ...with strictly fewer exchanges (the pages groupBy reuses the
    # bucket layout instead of shuffling)
    assert _exchanges(with_buckets) < _exchanges(plain)
