"""Reduced-size self-check of the benchmark harness.

    python3 perfbench/selfcheck.py [workload ...]

For each workload (all by default) it runs ``run.py --small`` once
untraced and once traced, on shrunken inputs and a one-second window,
and checks that the last line of output is the result object the
benchmark promises: exactly the keys ``correct``, ``attempted``,
``failed`` and ``metrics``; every check passed and no operation failed;
and the metric names and units are exactly those BENCHMARK.json lists
(end-to-end untraced, per-layer traced). Exits non-zero on any mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _expected(spec: dict, trace: int) -> dict:
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--small"]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                          timeout=600)
    tag = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    errs = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: keys {sorted(out)}")
    if out.get("correct") is not True or out.get("failed") != 0:
        errs.append(f"{tag}: correct={out.get('correct')} "
                    f"failed={out.get('failed')}")
    if not isinstance(out.get("attempted"), int) or out["attempted"] < 1:
        errs.append(f"{tag}: attempted={out.get('attempted')}")
    got = {k: v["unit"] for k, v in out.get("metrics", {}).items()}
    if got != _expected(spec, trace):
        errs.append(f"{tag}: metrics differ from BENCHMARK.json: "
                    f"{sorted(set(got) ^ set(_expected(spec, trace)))}")
    for k, v in out.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            errs.append(f"{tag}: {k} value {v.get('value')!r}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    errs = []
    for name in names:
        for trace in (0, 1):
            found = check(name, trace, spec)
            print(f"{name} --trace {trace}: {'ok' if not found else 'FAIL'}")
            errs += found
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
