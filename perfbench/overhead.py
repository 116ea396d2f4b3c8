"""Tracing overhead: the traced median minus the untraced median.

    python3 perfbench/overhead.py --workload live_tail --seeds 1,2,3 \\
        --seconds 10

Runs ``run.py`` once per seed with ``--trace 0`` and once with ``--trace 1``
(alternating which goes first) and prints, for every end-to-end metric, both
medians and their difference.  A traced run prints its end-to-end values as
``metric`` lines even though its JSON carries the per-layer metrics.
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _metrics(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE),
        check=True, timeout=600,
    ).stdout
    found = {}
    for line in out.splitlines():
        parts = line.split()
        if len(parts) >= 3 and parts[0] == "metric":
            found[parts[1]] = float(parts[2])
    return found


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(_metrics(args.workload, seed, args.seconds,
                                        trace))
    for name in runs[0][0]:
        off = statistics.median(r[name] for r in runs[0])
        on = statistics.median(r[name] for r in runs[1])
        print(f"{name:24s} untraced {off:.4g} traced {on:.4g} "
              f"overhead {on - off:+.4g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
