"""The shared session's settings that callers rely on."""

from __future__ import annotations

from nfdump2clickhouse_spark.session import codegen_compiles


def test_cyclic_workload_compiles_once(spark):
    """A repeated set of queries whose generated classes outnumber Spark's
    default cache (100 entries) compiles nothing the second time round:
    each of the 60 queries makes 2 classes."""

    def run_all():
        for i in range(60):
            spark.range(0, 4, 1, 1).selectExpr(f"id * {i + 7} + {i}").collect()

    run_all()
    before = codegen_compiles(spark)
    run_all()
    assert codegen_compiles(spark) - before == 0
