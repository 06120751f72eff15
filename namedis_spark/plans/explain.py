"""Physical-plan inspection helpers.

The scale discipline (SURVEY.md §4) is enforceable, not aspirational:
these helpers read `.explain("formatted")` output so tests can assert that
a plan broadcasts its small side, pushes filters into the parquet scan,
prunes columns, and keeps the hot path inside WholeStageCodegen.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    out = []
    for line in formatted_plan(df).splitlines():
        ls = line.strip()
        if ls.startswith("PushedFilters:"):
            out.append(ls.split(":", 1)[1].strip())
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (pruning check)."""
    cols: list[str] = []
    for line in formatted_plan(df).splitlines():
        ls = line.strip()
        if ls.startswith("ReadSchema:"):
            schema = ls.split(":", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            for part in inner.split(","):
                if ":" in part:
                    cols.append(part.split(":")[0])
    return cols


def quadratic_join_nodes(df: DataFrame) -> list[str]:
    """Physical join nodes that enumerate all row pairs — the nodes the
    scale discipline bans from registered dedup/ANN paths (a broadcast of
    a deliberately-small side, e.g. an ANN query set, is a different node:
    BroadcastHashJoin / BroadcastNestedLoopJoin over a small side is fine
    where documented, CartesianProduct never is)."""
    plan = formatted_plan(df)
    return [n for n in ("CartesianProduct", "BroadcastNestedLoopJoin") if n in plan]


def python_eval_count(df: DataFrame) -> int:
    """Number of Python evaluation nodes (ArrowEvalPython / BatchEvalPython /
    MapInPandas...) — the audit for 'no per-row Python' (BatchEvalPython is
    the row-at-a-time kind; Arrow nodes are the sanctioned path)."""
    plan = formatted_plan(df)
    return plan.count("BatchEvalPython")
