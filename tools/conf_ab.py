"""Paired A/B of runtime-settable SQL confs over catalog entries.

Usage: python tools/conf_ab.py <sf_dir> <repeats> <entry> [entry ...]

One warm JVM; for each entry, alternates A (session defaults) and B
(the CANDIDATE confs below), `repeats` times each, interleaved so
host-load drift hits both arms equally. Reports per-arm minimums.
Collect-mode actions (the rehearsal clock) so count-pruning cannot
hide work. Candidate set is edited in-place per experiment — this is
a measurement harness, not configuration.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

CANDIDATE: dict[str, str] = {
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
}


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    repeats = int(sys.argv[2])
    names = sys.argv[3:]

    from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_queries
    from ariadne_cartograph_spark.session import get_spark, release_session_state

    get_queries()
    spark = get_spark("conf-ab")
    def _default(k: str) -> str:
        try:
            return spark.conf.get(k)
        except Exception:
            return ""

    defaults = {k: _default(k) for k in CANDIDATE}

    def set_arm(arm: str) -> None:
        for k, v in CANDIDATE.items():
            target = v if arm == "B" else defaults[k]
            if target == "":
                spark.conf.unset(k)
            else:
                spark.conf.set(k, target)

    for name in names:
        fn = REGISTRY[name].fn
        # warm both arms once at the smoke scale (codegen per arm)
        for arm in ("A", "B"):
            set_arm(arm)
            try:
                fn(spark, "/root/testdata/sf0.001").count()
            except Exception:
                pass
        runs: dict[str, list[float]] = {"A": [], "B": []}
        for _ in range(repeats):
            for arm in ("A", "B"):
                set_arm(arm)
                t0 = time.time()
                n = len(fn(spark, sf_dir).collect())
                runs[arm].append(round(time.time() - t0, 3))
                release_session_state(spark)
        set_arm("A")
        print(
            f"{name}: A min {min(runs['A'])} {runs['A']} | "
            f"B min {min(runs['B'])} {runs['B']} ({n} rows, "
            f"load {[round(x, 2) for x in os.getloadavg()]})"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
