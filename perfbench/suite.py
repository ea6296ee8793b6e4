"""Every workload in one command, optionally with its tracing overhead.

    python3 perfbench/suite.py --seed 1             # each workload, untraced
    python3 perfbench/suite.py --seed 1 --overhead  # plus a traced run of each

For each workload it prints the named end-to-end metrics of an
untraced run (unit and sample count). With ``--overhead`` it also makes
a traced run of the same seed, prints its per-layer metrics and, for
each named metric, the traced-minus-untraced difference: the tracing
overhead plus run-to-run noise (``trace.overhead_ms`` is the tracer's
own bookkeeping per operation).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402
from run import parse_named  # noqa: E402


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload}: run failed\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return parse_named(workload, lines), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec.RUN_SECONDS)
    ap.add_argument("--overhead", action="store_true",
                    help="also make a traced run of each workload")
    args = ap.parse_args()
    ok = True
    for w in spec.WORKLOADS:
        plain, result = _run(w, args.seed, args.seconds, 0)
        ok &= result["correct"]
        for name, (value, unit, n) in plain.items():
            print(f"{w} {name} = {value:.6g} {unit} (n={n})")
        if not args.overhead:
            continue
        traced, layers = _run(w, args.seed, args.seconds, 1)
        ok &= layers["correct"]
        for name, m in layers["metrics"].items():
            print(f"{w} {name} = {m['value']:.6g} {m['unit']} (traced)")
        for name, (value, unit, _) in plain.items():
            if name in traced and value:
                t = traced[name][0]
                print(f"{w} {name}: untraced {value:.6g} traced {t:.6g} {unit} "
                      f"({(t - value) / value * 100:+.1f}%)")
    print("all outputs correct" if ok else "SOME OUTPUTS INCORRECT")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
