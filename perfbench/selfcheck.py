"""Self-check of the benchmark on a tiny seed.

    python3 perfbench/selfcheck.py

For every workload it runs ``run.py`` on a small corpus, once untraced
and once traced with ``--corrupt`` (the first checked output is
damaged), and checks that:

- every run exits 0 and ends with the JSON result line;
- every metric ``BENCHMARK.json`` names is in the result with its unit,
  and also printed as a ``metric`` line with that unit;
- ``error_rate`` is printed, 0 on the clean run and above 0 on the
  corrupted one, where the result also reads ``correct: false``.

Exits 0 if all hold; prints what failed otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7
SCALE = "0.02"  # 100 documents


def metric_lines(stdout: str) -> dict[str, tuple[str, str]]:
    """``metric <name> = <value> <unit>`` lines, by name."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) >= 5 and parts[0] == "metric" and parts[2] == "=":
            out[parts[1]] = (parts[3], parts[4])
    return out


def check_run(bench: dict, workload: str, trace: int, corrupt: bool) -> list[str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    if corrupt:
        cmd.append("--corrupt")
    label = f"{workload} trace={trace}{' corrupt' if corrupt else ''}"
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"{label}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    errs = []
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    lines = metric_lines(proc.stdout)
    for m in bench["per_layer" if trace else "end_to_end"]:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            errs.append(f"{label}: result lacks {m['name']} in {m['unit']}: {got}")
        if lines.get(m["name"], ("", ""))[1] != m["unit"]:
            errs.append(f"{label}: no metric line for {m['name']} in {m['unit']}")
    if "error_rate" not in lines:
        errs.append(f"{label}: no error_rate line")
    elif corrupt and (float(lines["error_rate"][0]) <= 0 or result["correct"] or result["failed"] < 1):
        errs.append(f"{label}: a wrong output was not counted: {lines['error_rate']}, {result}")
    elif not corrupt and (float(lines["error_rate"][0]) != 0 or not result["correct"]):
        errs.append(f"{label}: clean run failed: {result}; {proc.stdout[-1500:]}")
    print(f"{label}: {'ok' if not errs else 'FAILED'}", flush=True)
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errs = []
    for w in bench["workloads"]:
        errs += check_run(bench, w["name"], 0, False)
        errs += check_run(bench, w["name"], 1, True)
    for e in errs:
        print(e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
