"""Replay of the reference's overlay test module (ast-harvested).

ST_Difference / ST_Intersection / ST_SymDifference / ST_Union cases from
/root/reference/python/sedonadb/tests/functions/test_overlay.py, compared
semantically: empty-vs-empty matches regardless of rendered type, non-empty
results must be ST_Equals to the expected WKT.
"""

import ast
import os

import pytest

REF = "/root/reference/python/sedonadb/tests/functions/test_overlay.py"
needs_ref = pytest.mark.skipif(not os.path.exists(REF), reason=f"{REF} absent")

FN = {
    "difference": "ST_Difference",
    "intersection": "ST_Intersection",
    "symdifference": "ST_SymDifference",
    "union": "ST_Union",
}


def _collect():
    tree = ast.parse(open(REF).read())
    cases = []
    for node in tree.body:
        if not (isinstance(node, ast.FunctionDef)
                and node.name.startswith("test_st_")):
            continue
        op = node.name[len("test_st_"):]
        if op not in FN:
            continue
        for dec in node.decorator_list:
            if not (isinstance(dec, ast.Call)
                    and getattr(dec.func, "attr", "") == "parametrize"):
                continue
            try:
                rows = ast.literal_eval(dec.args[1])
            except (ValueError, IndexError):
                continue
            if not rows or not isinstance(rows[0], tuple) or len(rows[0]) != 3:
                continue
            for g1, g2, expected in rows:
                cases.append((op, g1, g2, expected))
    assert len(cases) >= 20, f"harvested only {len(cases)}"
    return cases


CASES = _collect() if os.path.exists(REF) else []


def _arg(v):
    return "CAST(NULL AS BINARY)" if v is None else f"ST_GeomFromText('{v}')"


def _one(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").collect()[0]["v"]


@needs_ref
@pytest.mark.parametrize("case", CASES,
                         ids=[f"{c[0]}-{i}" for i, c in enumerate(CASES)])
def test_reference_overlay_case(spark, case):
    op, g1, g2, expected = case
    expr = f"{FN[op]}({_arg(g1)}, {_arg(g2)})"
    if expected is None:
        assert _one(spark, f"ST_AsText({expr})") is None
        return
    exp_empty = "nan" in expected or expected.upper().endswith("EMPTY")
    if exp_empty:
        assert _one(spark, f"ST_IsEmpty({expr})") is True, \
            _one(spark, f"ST_AsText({expr})")
    else:
        ok = _one(spark, f"ST_Equals({expr}, ST_GeomFromText('{expected}'))")
        assert ok is True, (_one(spark, f"ST_AsText({expr})"), expected)
