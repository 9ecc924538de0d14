"""Unit tests for tools/dump_plans.renumber_ids: two dumps of one plan
from two processes must diff clean."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "dump_plans",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "dump_plans.py"),
)
_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_mod)
renumber_ids = _mod.renumber_ids


def _plan(e: int, x: int, y: int, plan_id: int) -> str:
    return (
        f"Project [transform(v#{e}, lambdafunction((lambda x_{x}#{e + 1} * 2.0), "
        f"lambda x_{x}#{e + 1}, false)) AS t#{e + 2}, "
        f"aggregate(w#{e + 3}, 0.0, lambdafunction((lambda x_{y}#{e + 4} + 1.0), "
        f"lambda x_{y}#{e + 4}, false)) AS s#{e + 5}, col_9#{e + 6}]\n"
        f"Exchange hashpartitioning(t#{e + 2}, 8), plan_id={plan_id}\n"
    )


def test_counters_renumber_to_the_same_text():
    a = renumber_ids(_plan(e=100, x=754, y=755, plan_id=31))
    b = renumber_ids(_plan(e=7, x=12, y=13, plan_id=4))
    assert a == b
    assert "lambda x_1#2" in a and "plan_id=1" in a


def test_distinct_lambda_variables_stay_distinct():
    out = renumber_ids(_plan(e=100, x=754, y=755, plan_id=31))
    assert "lambda x_1#" in out and "lambda x_2#" in out
    assert "col_9#7" in out  # a column name is not a lambda variable
