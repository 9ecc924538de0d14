"""Print the SF1_ENGINE_FENCES dict for tools/scale_rehearsal.py from a
rehearsal artifact: the top-N entries by ENGINE-side seconds (oracle
clock excluded — the r8 advice item), values as measured. Paste the
output into tools/scale_rehearsal.py, which flags >2x engine
regressions against them on the next run.

Usage: python tools/pin_sf1_fences.py [SCALE_REHEARSAL_sf1.json] [N]
"""

from __future__ import annotations

import json
import sys


def main() -> int:
    path = sys.argv[1] if len(sys.argv) > 1 else "SCALE_REHEARSAL_sf1.json"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    entries = json.load(open(path))["entries"]
    ranked = sorted(
        (
            (name, r["engine_sec"])
            for name, r in entries.items()
            if r.get("engine_sec") is not None and r["status"] in ("ok", "spark_only")
        ),
        key=lambda kv: -kv[1],
    )[:top_n]
    print("# paste into tools/scale_rehearsal.py")
    print("SF1_ENGINE_FENCES: dict[str, float] = {")
    for name, sec in sorted(ranked):
        print(f'    "{name}": {sec},')
    print("}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
