"""Dump ``explain("formatted")`` for catalog entries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> [entry ...]

Writes ``<out_dir>/<entry>_<suffix>.txt`` for each named entry (all
headline bench entries when none are named), built at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1) — the optimization-round
evidence artifact (plans/r14/<query>_before.txt / _after.txt).

Planning only: no job is executed (streaming-parity entries that drain
sources at build time still run their drain, which is what the bench
measures anyway).

Expression ids (``name#123``) are renumbered in order of first
appearance, so two dumps of the same plan from two commits diff clean
while ids within one plan still tell same-named columns apart; the
session-global exchange ids (``plan_id=123``) and lambda variable
suffixes (``lambda x_754``) are renumbered the same way.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def renumber_ids(plan: str) -> str:
    """``#123`` → ``#1``, ``#2``, ... in order of first appearance; the
    session-global exchange ids (``plan_id=123``) and lambda variable
    suffixes (``x_754`` → ``x_1``) likewise."""
    for pattern in (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(\blambda '?[A-Za-z]\w*?_)(\d+)\b"):
        ids: dict[str, str] = {}
        plan = re.sub(
            pattern,
            lambda m: m[1] + ids.setdefault(m[2], str(len(ids) + 1)),
            plan,
        )
    return plan


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_headline, get_queries
    from ariadne_cartograph_spark.session import get_spark

    get_queries()
    if not names:
        names = sorted(get_headline())
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    rc = 0
    for name in names:
        if name not in REGISTRY:
            print(f"unknown entry {name!r}", file=sys.stderr)
            rc = 1
            continue
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = renumber_ids(spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        except Exception as exc:  # keep going: one bad entry, one bad file
            plan = f"ERROR building plan: {type(exc).__name__}: {exc}"
            rc = 1
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} — explain(formatted)\n{plan}\n")
        print(f"wrote {path}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
