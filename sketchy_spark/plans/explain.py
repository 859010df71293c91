"""Physical-plan inspection helpers.

Used by tests (and humans) to assert the plan properties the 100 TB
design depends on: filters pushed to the parquet scan, columns pruned,
broadcasts where expected, no content column crossing a shuffle after
the sketch UDF, whole-stage codegen coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the scan carries PushedFilters (predicate pushdown hit
    the parquet reader)."""
    plan = physical_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the parquet ReadSchema (column-pruning witness)."""
    plan = physical_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" not in line:
            continue
        inner = line.split("ReadSchema:")[1].strip()
        body = inner[inner.find("<") + 1 : inner.rfind(">")]
        depth, token = 0, ""
        fields = []
        for ch in body:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            if ch == "," and depth == 0:
                fields.append(token)
                token = ""
            else:
                token += ch
        if token:
            fields.append(token)
        cols.extend(f.split(":", 1)[0] for f in fields if ":" in f)
    return cols


def broadcast_join_count(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def wholestage_codegen_spans(df: DataFrame, materialize: bool = True) -> int:
    """Count whole-stage-codegen spans (``*(N)`` markers in Spark 4 plan
    strings). Under AQE codegen only appears in the finalized plan, so by
    default this executes the plan through the noop sink first."""
    if materialize and "isFinalPlan=false" in physical_plan(df):
        # a separate action (e.g. noop write) builds its own QueryExecution;
        # only executing THIS plan finalizes it, so collect (test-sized data)
        df.collect()
    plan = physical_plan(df)
    return plan.count("*(") + plan.count("WholeStageCodegen")


def column_crosses_shuffle(df: DataFrame, column: str) -> bool:
    """True if ``column`` appears in any Exchange node (i.e. is shuffled)."""
    return any(
        "Exchange" in line and column in line
        for line in physical_plan(df).splitlines()
    )
