"""Put a traced run next to the untraced run of the same workload and seed.

    python3 perfbench/run.py --workload W --seed N --trace 0
    python3 perfbench/run.py --workload W --seed N --trace 1
    python3 perfbench/report.py --seed N

For each workload with both results saved under ``perfbench/.work/results``
it prints the end-to-end metrics of both runs and the tracing overhead
(traced minus untraced), the self time per module per operation, and the
per-layer metrics the workload exercises.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics  # noqa: E402

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "results")


def _load(workload: str, trace: int, seed: int) -> dict | None:
    path = os.path.join(RESULTS, f"{workload}-trace{trace}-seed{seed}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def report(workload: str, seed: int) -> list[str]:
    plain, traced = _load(workload, 0, seed), _load(workload, 1, seed)
    if plain is None or traced is None:
        return [f"{workload}: no traced/untraced pair for seed {seed}"]
    lines = [f"== {workload} (seed {seed})",
             f"{'end-to-end':24s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}"]
    for name, base in plain["end_to_end"].items():
        t = traced["end_to_end"][name]
        share = f"{(t - base) / base:+.1%}" if base else "n/a"
        lines.append(f"{name:24s} {base:12.2f} {t:12.2f} {t - base:+12.2f} {share}")
    for phase, modules in traced["self_s_per_op"].items():
        lines.append(f"self time per operation, {phase} (s)")
        for module, s in modules.items():
            lines.append(f"  {module:28s} {s:10.4f}")
    lines.append("per-layer (non-zero)")
    for name, v in traced["per_layer"].items():
        if v:
            lines.append(f"  {name:44s} {v:14.4f}")
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    for workload, _why in metrics.WORKLOADS:
        print("\n".join(report(workload, args.seed)))


if __name__ == "__main__":
    main()
