"""Isolated per-entry engine measurement — the fence-grounding tool.

Rehearsal/bench clocks are context- and host-day-sensitive (r10 saw a
1.36x "drift" that was pure warm-up; r11 saw a 2.2x in-context flag
from accumulated cached blocks). When a fence comparison is in
question, THIS is the measurement to trust: one process, one entry,
N repeats with dedup caches released between runs, minimum reported.

Usage: python tools/ab_entry.py <entry_name> [sf_dir] [repeats] [mode]
Defaults: sf_dir=/root/repo/testdata_sf1, repeats=5, mode=count.
Check `uptime` first — compare runs from a similar load state.

mode=collect forces full materialization. mode=count keeps historical
comparability BUT is meaningless for entries whose final operator is a
prunable projection or a left join against a provably-unique aggregate
(Catalyst join elimination): text_repeated_span_removal measured 0.56s
by count() vs 12.7s by collect — the count pruned the whole pipeline.
Same class as the r7 text_rolling_fingerprint rows-only lesson. When
pinning or disputing a fence, use the same clock the fence was pinned
with (rehearsal fences are collect-based).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/testdata_sf1"
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    mode = sys.argv[4] if len(sys.argv) > 4 else "count"

    from ariadne_cartograph_spark.session import release_session_state
    from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_queries
    from ariadne_cartograph_spark.session import get_spark

    get_queries()
    if name not in REGISTRY:
        print(f"unknown entry {name!r}; {len(REGISTRY)} registered")
        return 2
    spark = get_spark("ab-entry")
    fn = REGISTRY[name].fn
    # warm pass at the small SF: JIT/codegen, python worker pools
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf):
        try:
            fn(spark, warm_sf).count()
        except Exception:
            pass
    runs = []
    for i in range(repeats):
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = len(df.collect()) if mode == "collect" else df.count()
        runs.append(round(time.time() - t0, 3))
        release_session_state(spark)
        print(f"# run{i}: {runs[-1]}s ({n} rows)", file=sys.stderr)
    print(
        f"{name} @ {sf_dir} [{mode}]: min {min(runs)}s of {runs}"
        f" (load {[round(x, 2) for x in os.getloadavg()]})"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
