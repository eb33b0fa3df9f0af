"""Minimum-size smoke run of every workload, untraced and traced.

    python3 perfbench/smoke.py

Checks that each run exits 0, that its last line is the result object
with every metric BENCHMARK.json names for that mode (with its unit), and
that the correctness gate ran. A wrong engine result is reported but does
not fail the smoke run: that is the gate's job, visible in "failed".
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DOCS = 60


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "0", "--trace", str(trace), "--docs", str(DOCS)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=600)
            tag = f"{w['name']} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            got = result["metrics"]
            missing = [n for n, u in wanted[trace].items()
                       if got.get(n, {}).get("unit") != u
                       or not isinstance(got[n].get("value"), (int, float))]
            if missing or set(got) != set(wanted[trace]):
                problems.append(f"{tag}: metrics missing or extra: {missing}")
            if not any(line.startswith("# gate:") for line in lines):
                problems.append(f"{tag}: the correctness gate did not report")
            if trace and not any(line.startswith("# tracing overhead") for line in lines):
                problems.append(f"{tag}: no tracing overhead line")
            if trace and not any(line.startswith("# bottleneck") for line in lines):
                problems.append(f"{tag}: no bottleneck lines")
            print(f"{tag}: correct={result['correct']} attempted="
                  f"{result['attempted']} failed={result['failed']}")
            for line in lines:
                if line.startswith("FAILED"):
                    print(f"  {line}")
    for p in problems:
        print(f"SMOKE PROBLEM {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
