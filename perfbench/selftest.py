"""Smoke self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the ones named) with ``--tiny`` in both modes
and checks that the last stdout line carries every metric named in
``BENCHMARK.json`` with its unit, that every check passed, and that no
end-to-end metric is zero. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr.strip()[-500:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
        problems.append(f"correct={res['correct']} failed={res['failed']} {detail['failures'][:3]}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            problems.append(f"missing metric {m['name']}")
        elif got["unit"] != m["unit"]:
            problems.append(f"{m['name']}: unit {got['unit']!r}, want {m['unit']!r}")
        elif not trace and not got["value"] > 0:
            problems.append(f"{m['name']}: value {got['value']} is not positive")
    extra = set(res["metrics"]) - {m["name"] for m in wanted}
    if extra:
        problems.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    if trace:
        ratio = res["metrics"].get("failed_ratio", {}).get("value")
        if ratio != 0:
            problems.append(f"failed_ratio {ratio}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    bad = 0
    for w in workloads:
        for trace in (0, 1):
            problems = run_one(w, trace, spec)
            print(f"{w} trace={trace}: {'ok' if not problems else '; '.join(problems)}", flush=True)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
