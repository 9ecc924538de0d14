"""Physical-plan audit over the whole catalog.

``python -m ariadne_cartograph_spark.plans.plan_audit [sf_dir] [out_md]``

For every catalog entry, build the DataFrame at the given scale factor
and record plan-shape statistics that matter at 100 TB:

- shuffle exchanges (each one is a cluster-wide data movement);
- broadcast exchanges (small sides shipped, not shuffled);
- join strategies (BroadcastHashJoin / SortMergeJoin / ShuffledHashJoin);
- row-at-a-time Python eval nodes (BatchEvalPython — the slow path;
  must stay 0 outside Arrow-batched stages) vs Arrow-batched Python
  (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas).

(Codegen spans are not counted: AQE plans print no `*(n)` markers
before execution, so the number would read as a misleading zero.)

The output markdown is a review artifact: a row per entry plus
aggregate totals. Entries that execute work at build time (streaming
parity drains, model-collecting ANN builders) still run — the audit is
honest about what a call costs.
"""

from __future__ import annotations

import re
import sys


def _node_names(plan: str) -> list[str]:
    """Leading operator name per plan line (tree prefix and codegen
    markers stripped) — substring counting would miscount: a
    ReusedExchange line embeds its target's string (so naive
    ``count("Exchange")`` tallies AQE-reused exchanges as fresh
    shuffles), and broadcast reuse embeds "BroadcastExchange"."""
    names = []
    for ln in plan.splitlines():
        s = re.sub(r"^[\s:+|-]*", "", ln)
        s = re.sub(r"^\*\(\d+\)\s*", "", s)
        if s:
            names.append(s.split(" ", 1)[0].split("(", 1)[0])
    return names


def audit(sf_dir: str) -> list[dict]:
    from ..session import get_spark, release_session_state
    from .catalog import get_queries

    spark = get_spark("plan-audit")
    rows: list[dict] = []
    for name, fn in get_queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"
            )
            names = _node_names(plan)
            rows.append(
                {
                    "name": name,
                    "shuffles": names.count("Exchange"),
                    "broadcasts": names.count("BroadcastExchange"),
                    "bhj": plan.count("BroadcastHashJoin"),
                    "smj": plan.count("SortMergeJoin"),
                    "shj": plan.count("ShuffledHashJoin"),
                    "py_row": plan.count("BatchEvalPython"),
                    "py_arrow": (
                        plan.count("ArrowEvalPython")
                        + plan.count("FlatMapGroupsInPandas")
                        + plan.count("MapInPandas")
                        + plan.count("FlatMapGroupsInArrow")
                    ),
                    "err": None,
                }
            )
        except Exception as exc:  # noqa: BLE001 - audit must finish
            rows.append({"name": name, "err": f"{type(exc).__name__}: {exc}"[:200]})
        finally:
            release_session_state(spark)
    return rows


def to_markdown(rows: list[dict], sf_dir: str) -> str:
    ok = [r for r in rows if r.get("err") is None]
    out = [
        "# Plan audit",
        "",
        f"Physical-plan statistics for every catalog entry at `{sf_dir}` "
        "(generated by `plans/plan_audit.py`; regenerate after plan-affecting "
        "changes).",
        "",
        f"- entries audited: **{len(rows)}** ({len(rows) - len(ok)} errored)",
        f"- total shuffle exchanges: **{sum(r['shuffles'] for r in ok)}**",
        f"- total broadcast exchanges: **{sum(r['broadcasts'] for r in ok)}**",
        f"- join strategies: BHJ **{sum(r['bhj'] for r in ok)}**, "
        f"SMJ **{sum(r['smj'] for r in ok)}**, SHJ **{sum(r['shj'] for r in ok)}**",
        f"- row-at-a-time Python nodes: **{sum(r['py_row'] for r in ok)}** "
        "(contract: 0 — Python only via Arrow batches)",
        f"- Arrow-batched Python stages: **{sum(r['py_arrow'] for r in ok)}**",
        "",
        "| entry | shuffles | bcasts | BHJ | SMJ | SHJ | pyRow | pyArrow |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        if r.get("err") is not None:
            out.append(f"| {r['name']} | ERR: {r['err']} | | | | | | |")
        else:
            out.append(
                f"| {r['name']} | {r['shuffles']} | {r['broadcasts']} | {r['bhj']} "
                f"| {r['smj']} | {r['shj']} | {r['py_row']} | {r['py_arrow']} |"
            )
    return "\n".join(out) + "\n"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANAUDIT.md"
    rows = audit(sf_dir)
    md = to_markdown(rows, sf_dir)
    with open(out_md, "w") as f:
        f.write(md)
    errs = [r for r in rows if r.get("err") is not None]
    print(f"audited {len(rows)} entries -> {out_md}; {len(errs)} errors")
    for r in errs:
        print(f"  ERR {r['name']}: {r['err']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
