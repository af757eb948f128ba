"""Physical-plan audits: make plan quality a tested invariant.

At 100 TB the plan IS the product: a scan that doesn't push its filters, a
projection that reads all columns, or a stray row-at-a-time Python UDF in the
hot path is a silent 10-100× regression.  These helpers assert plan shape in
tests (tests/test_plans.py) so regressions fail CI instead of burning a
cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """The parquet scan must carry a PushedFilters entry containing fragment."""
    plan = explain_str(df)
    scans = [
        block for block in plan.split("\n\n")
        if "Scan parquet" in block or "BatchScan" in block
    ]
    assert scans, f"no parquet scan in plan:\n{plan}"
    assert any(
        "PushedFilters" in s and fragment in s for s in plan.splitlines()
    ) or fragment in plan, f"filter {fragment!r} not pushed:\n{plan}"


def assert_read_schema_only(df: DataFrame, allowed: set[str]) -> None:
    """The scan's ReadSchema must not materialize columns outside ``allowed``."""
    plan = explain_str(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema_part = line.split("ReadSchema:", 1)[1].strip()
            schema_part = schema_part.removeprefix("struct<").removesuffix(">")
            read_cols = {
                c.split(":")[0].strip()
                for c in schema_part.split(",")
                if c.strip()
            }
            extra = read_cols - allowed
            assert not extra, f"scan reads unnecessary columns {extra}:\n{line}"
            return
    raise AssertionError(f"no ReadSchema in plan:\n{plan}")


def assert_no_single_partition_exchange(df: DataFrame) -> None:
    """No Exchange SinglePartition anywhere: the driver-funnel pattern (a
    global Window/sort pulling every row through one task) must not appear —
    use operators/order.global_row_number for global ranks instead."""
    plan = explain_str(df)
    assert "Exchange SinglePartition" not in plan, (
        f"single-partition exchange (driver funnel) in plan:\n{plan}"
    )


def assert_no_row_udf(df: DataFrame) -> None:
    """Hot-path plans must contain no row-at-a-time Python UDF (BatchEvalPython);
    ArrowEvalPython (pandas UDFs) is the sanctioned extension point."""
    plan = explain_str(df, "extended")
    assert "BatchEvalPython" not in plan, f"row-at-a-time Python UDF in plan:\n{plan}"


def assert_no_cached_lineage(df: DataFrame, max_plan_bytes: int) -> None:
    """The plan must not nest a cached upstream plan (``InMemoryRelation`` /
    ``InMemoryTableScan``) and its text must stay under ``max_plan_bytes``:
    stage boundaries are released local checkpoints, so a frame plans only
    its own stage over ``LogicalRDD`` leaves — a plan that grows with the
    round is what Spark re-renders at every execution start and AQE
    re-plan."""
    plan = explain_str(df)
    for node in ("InMemoryRelation", "InMemoryTableScan"):
        assert node not in plan, f"cached lineage ({node}) in plan:\n{plan}"
    size = len(plan.encode())
    assert size <= max_plan_bytes, (
        f"plan text is {size} bytes, over the {max_plan_bytes}-byte bound:\n"
        f"{plan[:4000]}"
    )
