"""Self-test of the benchmark at its smallest inputs.

Runs every workload once untraced and once traced with ``--scale tiny``
and asserts that:

* every metric the run promises (and every metric ``BENCHMARK.json``
  names) is in the result line with its unit;
* nothing failed and the run is correct;
* in the traced run, each query's or step's child spans (build + exec,
  or the step's layer span) add up to within 5% of its wall time.

Usage: ``python3 perfbench/selftest.py [workload ...]``; exits 0 iff
every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import (  # noqa: E402
    E2E_METRICS,
    LAYER_UNITS,
    ONE_WORKLOAD_METRICS,
    WORKLOADS,
)

#: A span's children may miss this share of its wall time.
SPAN_TOLERANCE = 0.05


def run(workload: str, trace: int) -> tuple[dict, dict]:
    """(result line, report line) of one tiny run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace} exited "
                             f"{proc.returncode}: {proc.stderr[-2000:]}")
    report = next(json.loads(line.split(" ", 2)[2]) for line in lines
                  if line.startswith("perfbench report "))
    return json.loads(lines[-1]), report


def expected_units(trace: int) -> dict[str, str]:
    units = {k: u for k, u in LAYER_UNITS.items()
             if k not in ONE_WORKLOAD_METRICS} if trace else {
        k: ("MB" if k == "peak_rss_mb" else "s") for k in E2E_METRICS}
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            spec = json.load(f)
        for m in spec["per_layer" if trace else "end_to_end"]:
            units.setdefault(m["name"], m["unit"])
            if units[m["name"]] != m["unit"]:
                raise AssertionError(f"{m['name']}: BENCHMARK.json unit "
                                     f"{m['unit']} != {units[m['name']]}")
    return units


def check_spans(trace_file: str) -> list[str]:
    with open(trace_file) as f:
        spans = json.load(f)
    covered = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["dur"]
    return [f"{s['name']}: children {c:.4f} s of {s['dur']:.4f} s"
            for s, c in zip(spans, covered)
            if s["layer"] == "query"
            and abs(s["dur"] - c) > SPAN_TOLERANCE * s["dur"]]


def main(argv: list[str]) -> int:
    problems = []
    for workload in argv or WORKLOADS:
        for trace in (0, 1):
            result, report = run(workload, trace)
            tag = f"{workload} trace={trace}"
            metrics = result["metrics"]
            for name, unit in expected_units(trace).items():
                got = metrics.get(name)
                if got is None or got.get("unit") != unit:
                    problems.append(f"{tag}: metric {name} [{unit}] got {got}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: failed {result['failed']} of "
                                f"{result['attempted']}: {report['failures']}")
            if trace:
                problems += [f"{tag}: {p}"
                             for p in check_spans(report["trace_file"])]
            print(f"selftest {tag}: {len(metrics)} metrics, "
                  f"attempted {result['attempted']}", flush=True)
    for p in problems:
        print("selftest FAIL " + p)
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
