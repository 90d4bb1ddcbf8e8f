"""Benchmark driver: one workload, one seed, one process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload families-fresh --seed 1 --seconds 12 \
        --trace 0

A run pins the launch environment, sets up a Spark session, makes its
inputs from the seed, runs one first batch, then measured batches until
``--seconds`` of batch time have passed, and checks the outputs against
DuckDB outside every timed region. Human-readable lines go to stdout and
the last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, taken from batches recorded
with spans and a Spark event log. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("loans-pipeline", "olap-repeat", "families-fresh")
#: Measured batches per run at least. Two, so one slow stretch of a
#: shared host moves the median less.
MIN_BATCHES = 2
#: Which measured batches a traced run traces: untraced, traced, traced,
#: untraced, so a trend over the run (JIT still warming) cancels out of
#: the traced-minus-untraced overhead.
TRACE_PATTERN = (False, True, True, False)
#: Percentile reported as ``query_tail_s``.
TAIL_PERCENTILE = 90
#: No measured batch starts this long after process start, so a run
#: ends well inside 180 s even on a slow host.
MEASURE_DEADLINE_S = 120.0
#: Files the benchmark needs from the repository it measures.
ENGINE_FILES = (
    "__spark_entry__.py",
    "financial_big_data_exp_4_spark/__init__.py",
    "tools/fuzz_correctness.py",
    "tools/check_correctness.py",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the self-test's")
    return ap.parse_args(argv)


def pin_environment(traced: bool, event_dir: str) -> dict[str, str]:
    """Launch settings every run uses, whatever the caller's shell has.
    Returns what was set, for the result record."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) // 1024 for line in f
                      if line.startswith("MemTotal:"))
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    submit = [
        "--driver-java-options",
        f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf", f"spark.sql.warehouse.dir={WORK}/warehouse",
    ]
    if traced:
        os.makedirs(event_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.rolling.enabled=false",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{event_dir}"]
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine defaults to 48g. A 1 GiB heap holds these inputs and
        # fills to its cap on every run, which keeps peak RSS steady.
        "SPARK_DRIVER_MEMORY": f"{min(1024, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    # engine knobs that change behaviour must not leak in from the shell
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key == "SPARK_MASTER":
            del os.environ[key]
    os.environ.update(pinned)
    return pinned


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tail(values: list[float]) -> tuple[float, int]:
    """(value, samples above it) at the nearest-rank 90th percentile.
    A run pools 14-16 samples, too few for any percentile above the
    median to have ten samples beyond it, so the count is reported."""
    xs = sorted(values)
    rank = math.ceil(TAIL_PERCENTILE / 100 * len(xs))
    return xs[rank - 1], len(xs) - rank


def per_query_medians(batches) -> dict[str, float]:
    """Each query's or step's median wall time over the batches."""
    walls: dict[str, list[float]] = {}
    for r in batches:
        for s in r["spans"]:
            walls.setdefault(s["name"], []).append(s["dur"])
    return {k: statistics.median(v) for k, v in walls.items()}


def memo_entries(spark, before: set[str]) -> int:
    """Entries in the dicts the engine hangs on the session object
    (``session.session_memo``) since set-up."""
    return sum(len(v) for k, v in vars(spark).items()
               if k not in before and isinstance(v, dict))


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import __spark_entry__ as entry
    from perfbench import workloads as wl
    from perfbench.trace import Tracer, read_event_log

    qs = entry.queries()
    try:
        panel = wl.panels(qs).get(args.workload)
    except wl.RegistryError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    event_dir = os.path.join(WORK, "eventlog", run_id)
    out_root = os.path.join(WORK, "out", run_id)
    data_root = os.path.join(WORK, "data")
    env = pin_environment(bool(args.trace), event_dir)

    from financial_big_data_exp_4_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        wl.noop(spark.range(1))
        setup_s = time.perf_counter() - T_START
        session_attrs = set(vars(spark))

        tracer = Tracer(enabled=False)
        if args.trace:
            tracer.count_py4j()
        failures: list[str] = []
        gen_s = 0.0
        wl.prune_cache(data_root, args.workload, args.scale, args.seed)

        def prepare(batch):
            nonlocal gen_s
            t = time.perf_counter()
            if args.workload == "loans-pipeline":
                path = wl.loans_csv(spark, data_root, args.scale, args.seed, batch)
            else:
                path = wl.fixture_dir(data_root, args.workload, args.scale,
                                      args.seed, batch)
            gen_s += time.perf_counter() - t
            return path

        def run_batch(batch, path):
            with tracer.span(f"batch{batch}", "batch", batch=batch,
                             traced=tracer.enabled) as b:
                if args.workload == "loans-pipeline":
                    spans, aucs = wl.run_loans_batch(
                        spark, tracer, path, os.path.join(out_root, f"b{batch}"),
                        batch, failures)
                else:
                    spans = wl.run_fixture_batch(spark, tracer, qs, panel, path,
                                                 batch, failures)
                    aucs = {}
            return {"batch": batch, "path": path, "wall": b["dur"], "spans": spans,
                    "aucs": aucs, "traced": tracer.enabled,
                    "epoch": (b["epoch_start"], b["epoch_end"]),
                    "memo": memo_entries(spark, session_attrs)}

        ticks0 = cpu_ticks()
        first = run_batch(0, prepare(0))
        measured = []
        min_batches = len(TRACE_PATTERN) if args.trace else MIN_BATCHES
        while (len(measured) < min_batches
               or sum(r["wall"] for r in measured) < args.seconds):
            if time.perf_counter() - T_START > MEASURE_DEADLINE_S:
                break
            path = prepare(len(measured) + 1)
            tracer.enabled = bool(args.trace) and len(measured) < len(
                TRACE_PATTERN) and TRACE_PATTERN[len(measured)]
            measured.append(run_batch(len(measured) + 1, path))
        tracer.enabled = False
        ticks1 = cpu_ticks()
        # share of CPU time the hypervisor gave to others during the batches
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])

        last = measured[-1]
        if args.workload == "loans-pipeline":
            from perfbench.check import check_loans

            bad, duck_s = check_loans(
                last["path"], os.path.join(out_root, f"b{last['batch']}"),
                [(r["batch"], r["aucs"]) for r in [first, *measured]])
        else:
            from perfbench.check import check_fixture

            bad, duck_s = check_fixture(spark, qs, entry.oracle_sql(), panel,
                                        last["path"])
        failures += bad

        layer = {}
        if args.trace:
            layer = traced_metrics(spark, tracer, wl, args, first, measured, start_s)
            layer["oracle.duckdb_s"] = duck_s
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        stop_spark(spark)
    tracer.close()
    trace_file = os.path.join(WORK, "trace", run_id + ".json")
    if args.trace:
        event_metrics(layer, read_event_log(event_dir), measured)
        tracer.write(trace_file)
    shutil.rmtree(event_dir, ignore_errors=True)
    shutil.rmtree(out_root, ignore_errors=True)
    shutil.rmtree(env["TMPDIR"], ignore_errors=True)

    attempted = sum(len(r["spans"]) for r in [first, *measured])
    failed = min(attempted, len(failures))
    walls = [r["wall"] for r in measured]
    per_query = [s["dur"] for r in measured for s in r["spans"]]
    n_q = len(per_query)
    tail_value, beyond = tail(per_query)
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "first_batch_s": (first["wall"], "s", 1),
        "batch_s": (statistics.median(walls), "s", len(walls)),
        "query_p50_s": (statistics.median(per_query), "s", n_q),
        "query_tail_s": (tail_value, "s", n_q),
        "failed_frac": (failed / attempted, "ratio", attempted),
        "peak_rss_mb": (peak_rss, "MB", 1),
    }
    if args.workload == "loans-pipeline":
        for clf in ("lr", "rf"):
            aucs = [r["aucs"][clf] for r in measured if clf in r["aucs"]]
            e2e[f"auc_{clf}"] = (statistics.median(aucs) if aucs else 0.0,
                                 "auc", len(aucs))
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "panel": panel,
        "input": input_size(args.workload, args.scale, wl),
        "generation_s": gen_s, "host_steal_frac": steal, "env": env,
        "query_tail": {"percentile": TAIL_PERCENTILE, "samples_beyond": beyond},
        "query_medians_s": per_query_medians(measured),
        "end_to_end": {k: {"value": v, "unit": u, "n": n}
                       for k, (v, u, n) in e2e.items()},
        "failures": failures,
    }
    if args.trace:
        report["per_layer"] = layer
        report["self_s"] = tracer.self_times()
        report["trace_file"] = trace_file
    print("perfbench report " + json.dumps(report, default=str))
    for name, (value, unit, n) in e2e.items():
        print(f"perfbench {args.workload} {name} = {value:.6g} {unit} (n={n})")

    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layer.items() if k not in ONE_WORKLOAD_METRICS}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()
                   if k in E2E_METRICS}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


#: End-to-end metrics in the result line (BENCHMARK.json ``end_to_end``).
#: ``failed_frac`` is carried by ``failed``/``attempted`` and the AUCs by
#: the report line, because every result metric must be non-zero and
#: present on every workload.
E2E_METRICS = ("setup_s", "first_batch_s", "batch_s", "query_p50_s",
               "query_tail_s", "peak_rss_mb")

#: Per-layer metrics of the report line, with units.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.memo_entries": "count",
    "session.memo_builds": "count",
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "streaming.drain_s": "s",
    "exec.noop_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_floor_ms": "ms",
    "exec.executor_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "sources.csv_scan_s": "s",
    "sources.csv_write_s": "s",
    "ml.features_s": "s",
    "ml.fit_lr_s": "s",
    "ml.fit_rf_s": "s",
    "auc_lr": "auc",
    "auc_rf": "auc",
    "oracle.duckdb_s": "s",
    "trace.overhead_s": "s",
}

#: Per-layer metrics that only one benchmarked workload measures (the
#: stream drain and noop sinks on families-fresh, the CSV and ml steps on
#: loans-pipeline). They read 0 on the other workload on every run, so
#: they stay in the report line and out of the result line.
ONE_WORKLOAD_METRICS = (
    "streaming.drain_s", "exec.noop_s", "sources.csv_scan_s",
    "sources.csv_write_s", "ml.features_s", "ml.fit_lr_s", "ml.fit_rf_s",
    "auc_lr", "auc_rf",
)


def input_size(workload, scale, wl) -> str:
    if workload == "loans-pipeline":
        return f"{wl.LOANS_ROWS[scale]} loan rows per batch"
    return ("generate_scaled(mult=1), sf0.1 shape" if scale == "full"
            else "generate_tiny")


def batch_sums(tracer, batch) -> Counter:
    """Seconds per layer and per span name inside one traced batch's
    queries or steps, and the py4j calls made by its builds."""
    ids = {s["id"] for s in batch["spans"]}
    sums = Counter()
    for s in tracer.spans:
        if s["parent"] in ids:
            sums["layer", s["layer"]] += s["dur"]
            sums["name", s["name"]] += s["dur"]
            if s["name"] == "build":
                sums["py4j"] += s["py4j_calls"]
    return sums


def traced_metrics(spark, tracer, wl, args, first, measured, start_s):
    """Per-layer metrics that need the live session."""
    traced = [r for r in measured if r["traced"]]
    sums = [batch_sums(tracer, r) for r in traced]

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    memo_counts = [first["memo"]] + [r["memo"] for r in measured]
    m = {
        "session.start_s": start_s,
        "session.memo_entries": memo_counts[-1],
        "session.memo_builds": med(
            b - a for a, b in zip(memo_counts, memo_counts[1:])),
        "plans.build_s": med(b["name", "build"] for b in sums),
        "plans.py4j_calls": med(b["py4j"] for b in sums),
        "streaming.drain_s": med(b["layer", "streaming"] for b in sums),
        "exec.noop_s": med(b["layer", "exec"] for b in sums),
        "sources.csv_write_s": med(b["layer", "sources"] for b in sums),
        "ml.features_s": med(b["name", "features"] for b in sums),
        "ml.fit_lr_s": med(b["name", "fit_lr"] for b in sums),
        "ml.fit_rf_s": med(b["name", "fit_rf"] for b in sums),
        "auc_lr": med(r["aucs"].get("lr", 0.0) for r in traced),
        "auc_rf": med(r["aucs"].get("rf", 0.0) for r in traced),
        "trace.overhead_s": (med(r["wall"] for r in traced)
                             - med(r["wall"] for r in measured
                                   if not r["traced"])),
    }
    # the 1-row job floor and a typed CSV scan, both outside the batches
    floor = []
    one_row = spark.range(0, 1, 1, 1)
    for _ in range(10):
        t = time.perf_counter()
        wl.noop(one_row)
        floor.append(time.perf_counter() - t)
    m["exec.job_floor_ms"] = 1000 * statistics.median(floor)
    m["sources.csv_scan_s"] = 0.0
    if args.workload == "loans-pipeline":
        from financial_big_data_exp_4_spark.sources.csv import read_csv
        from financial_big_data_exp_4_spark.sources.loans import loans_schema

        t = time.perf_counter()
        wl.noop(read_csv(spark, measured[-1]["path"], schema=loans_schema()))
        m["sources.csv_scan_s"] = time.perf_counter() - t
    return m


def event_metrics(m, jobs, measured) -> None:
    """Add the event-log counters to each traced query or step span (by
    job submission time; spans run one after another) and to ``m`` as
    medians over the traced batches."""
    keys = ("jobs", "stages", "tasks", "run_ms", "gc_ms", "shuffle_read",
            "shuffle_write", "spill")
    per_batch = []
    for r in measured:
        if not r["traced"]:
            continue
        tot = dict.fromkeys(keys, 0)
        for span in r["spans"]:
            lo, hi = 1000 * span["epoch_start"], 1000 * span["epoch_end"]
            counts = dict.fromkeys(keys, 0)
            for job in jobs:
                if lo <= job["submit_ms"] <= hi:
                    counts["jobs"] += 1
                    counts["stages"] += len(job["stages"])
                    for k in keys[2:]:
                        counts[k] += job[k]
            span["spark"] = counts
            for k in keys:
                tot[k] += counts[k]
        per_batch.append(tot)

    def med(k):
        return statistics.median(b[k] for b in per_batch) if per_batch else 0

    m["exec.jobs"] = med("jobs")
    m["exec.stages"] = med("stages")
    m["exec.tasks"] = med("tasks")
    m["exec.executor_run_s"] = med("run_ms") / 1000
    m["exec.gc_s"] = med("gc_ms") / 1000
    m["exec.shuffle_read_bytes"] = med("shuffle_read")
    m["exec.shuffle_write_bytes"] = med("shuffle_write")
    m["exec.spill_bytes"] = med("spill")


if __name__ == "__main__":
    sys.exit(main())
