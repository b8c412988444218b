"""Driver-side literal frames: one builder (plans/frames.local_frame),
planned as an Arrow LocalRelation, never as a pickled Python RDD."""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pytest

from rust_s2_spark.plans.frames import local_frame

PKG = Path(__file__).resolve().parent.parent / "rust_s2_spark"
BUILDER = PKG / "plans" / "frames.py"


def test_single_driver_frame_builder():
    """Only the builder module may call createDataFrame: every other
    driver-side frame goes through local_frame, so none can slip back
    to a Python-worker ``Scan ExistingRDD``."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == BUILDER:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, offenders


def test_local_frame_is_local_relation(spark):
    """Numpy and list columns, every field type the package uses, nulls
    and an empty frame: values round-trip exactly and the plan is a
    LocalTableScan (no Python worker, real size statistics)."""
    df = local_frame(
        spark,
        [
            np.array([-(2**63), 0, 2**63 - 1], dtype=np.int64),
            np.array([3, 2, 1], dtype=np.int64),
            [0.5, float("nan"), None],
            np.array([True, False, True]),
            ["a", "b", None],
        ],
        "a long, b int, c double, d boolean, s string",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    rows = [tuple(r) for r in df.collect()]
    assert rows[0] == (-(2**63), 3, 0.5, True, "a")
    assert rows[1][:2] == (0, 2) and np.isnan(rows[1][2]) and rows[1][3:] == (False, "b")
    assert rows[2] == (2**63 - 1, 1, None, True, None)
    empty = local_frame(spark, [[], []], "a long, s string")
    assert empty.count() == 0 and empty.columns == ["a", "s"]


def test_local_frame_rejects_column_count_mismatch(spark):
    """A column list that does not match the schema fails loudly
    instead of silently dropping or misaligning columns."""
    for cols in ([[1], [2]], [[1], [2], [3], [4]]):
        with pytest.raises(ValueError, match="zip"):
            local_frame(spark, cols, "a long, b long, c long")
