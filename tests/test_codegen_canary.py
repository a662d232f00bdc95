"""Codegen-on canary.

The unit session turns whole-stage codegen off to save compile time
(``conftest.py``), so every other test runs the interpreted operators. The
production session keeps codegen on; this test switches it on at runtime
for a few registered queries and checks them against their DuckDB oracles,
so a codegen-only regression shows up in pytest too.
"""

import pytest

from tests.conftest import SF_SMOKE

CANARY = ["q1_pricing_summary", "events_hourly_rollup", "interval_join_binned"]


@pytest.mark.parametrize("name", CANARY)
def test_query_matches_oracle_with_codegen_on(spark, duck, name):
    from hadoop_bam_spark.queries import REGISTRY
    from hadoop_bam_spark.tools.check_oracle import check_query

    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        spec = REGISTRY[name]
        res = check_query(spark, duck, name, spec, SF_SMOKE)
        assert res["status"] == "OK", res
        df = spec.fn(spark, SF_SMOKE)
        assert df.columns, f"{name} produced no columns"
        assert df.collect() is not None
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan, f"{name} ran without whole-stage codegen:\n{plan}"
    finally:
        spark.conf.set(key, before)
