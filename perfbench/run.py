#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one client.

    python3 perfbench/run.py --workload ghcn_medallion --seed 1 --seconds 20 --trace 0

Run from the repository root. Steps:

1. pin the process (cores, BLAS threads, Spark local dirs) and generate the
   seeded inputs, or reuse them from ``perfbench/.work/data``; not timed;
2. set up: launch the JVM and start the Spark session, then the
   workload's own set-up work (the mart writes of ``analytic_mix``);
   ``setup_s`` is that whole span;
3. run whole passes of timed ops, one after another, until ``--seconds``
   have elapsed. The batch workloads have no warm-up: like every job of
   this engine, a run is a fresh process, so its first build pays class
   loading and JIT compilation the way a user's ``spark-submit`` does;
4. check the outputs outside the timed window, and stop Spark and its JVM.
   ``analytic_mix`` checks before its window instead: its oracle pass runs
   every query once, which warms the JVM the way a long-running
   interactive server is warm, and is counted in neither window.

A workload may repeat steps 1-4 in fresh processes, one after another
(``corpus_curation`` does twice; ``--repeats`` overrides), and the run then
prints the median of each metric over the repeats. Traced runs make one.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics from a traced first pass, plus
``trace.overhead_s``: a traced pass minus an untraced one run as warm. Spans go to ``perfbench/.work/traces/``.

``peak_rss_mb`` sums ``VmHWM`` over the driver JVM and its Python workers.
``ops_per_s`` counts the client's time inside ops only. The share of CPU
time the host stole from this machine during the run (``/proc/stat``) is
logged to stderr, so runs slowed by the host can be told apart.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "storage_ratio": "bytes/byte",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.start_s": "s",
    "readers.dly_scan_s": "s",
    "readers.mart_lookup_s": "s",
    "ghcn.bronze_s": "s",
    "ghcn.silver_s": "s",
    "ghcn.gold_monthly_s": "s",
    "ghcn.gold_yearly_s": "s",
    "ghcn.gold_normals_s": "s",
    "ghcn.gold_ml_features_s": "s",
    "ghcn.bronze_rows": "count",
    "ghcn.silver_rows": "count",
    "ghcn.slot_keep_ratio": "ratio",
    "common.maybe_cache_s": "s",
    "writers.ghcn_write_s": "s",
    "writers.corpus_write_s": "s",
    "writers.files_written": "count",
    "writers.bytes_written": "bytes",
    "writers.mean_file_kb": "KiB",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.build_jobs": "count",
    "operators.agg_s": "s",
    "operators.join_s": "s",
    "operators.cdc_s": "s",
    "operators.window_s": "s",
    "operators.reshape_s": "s",
    "operators.llm_s": "s",
    "corpus.profile_s": "s",
    "corpus.exact_dedup_s": "s",
    "corpus.lsh_pairs_s": "s",
    "corpus.components_s": "s",
    "corpus.components_jobs": "count",
    "corpus.chunk_s": "s",
    "corpus.pairs": "count",
    "corpus.survivor_ratio": "ratio",
    "trace.overhead_s": "s",
}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def pin_env() -> dict[str, str]:
    """Process pins, set before pyspark is imported; returned for the log."""
    for d in ("spark-local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(pins)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return pins


def start_session():
    from ghcn_d_etl_project_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # scratch files stay in the checkout (no perf-data file in /tmp);
            # a fixed young generation, because G1's adaptive sizing made
            # peak RSS swing by a third between otherwise equal runs
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData -Xmn512m",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from ``/proc/stat``."""
    vals = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` (the driver JVM) and every live
    descendant (its Python workers), in MiB."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d.name))
    hwm_kb: dict[int, int] = {}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    hwm_kb[pid] = int(line.split()[1])
        except OSError:
            continue
    log(f"peak RSS: JVM {hwm_kb.get(root_pid, 0) / 1024:.0f} MiB, "
        f"{len(hwm_kb) - 1} Python worker(s) {(sum(hwm_kb.values()) - hwm_kb.get(root_pid, 0)) / 1024:.0f} MiB")
    return sum(hwm_kb.values()) / 1024


def tail(latencies: list[float]) -> tuple[float, str]:
    """The highest whole percentile with at least ten samples beyond it,
    or the maximum when the run has too few samples for any."""
    n = len(latencies)
    p = 100 * (n - 10) // n if n > 10 else 0
    if p < 1:
        return max(latencies), "max"
    return statistics.quantiles(latencies, n=100, method="inclusive")[p - 1], f"p{p}"


def bump(expected: dict) -> None:
    """Make every whole-number expectation wrong by one (``--wrong-expected``)."""
    for k, v in expected.items():
        if isinstance(v, dict):
            bump(v)
        elif isinstance(v, int) and not isinstance(v, bool):
            expected[k] = v + 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", choices=("tiny", "bench"), help="input size")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="perturb the expected values, to show the output check fails")
    ap.add_argument("--repeats", type=int, default=None,
                    help="fresh processes per untraced run (default: the workload's own)")
    args = ap.parse_args(argv)
    argv = sys.argv[1:] if argv is None else list(argv)

    pins = pin_env()
    sys.path[:0] = [str(ROOT), str(HERE)]
    import spans
    import workloads

    repeats = 1 if args.trace else args.repeats or workloads.WORKLOADS[args.workload].repeats
    if repeats > 1:
        return repeated(argv, repeats)

    tracer = spans.Tracer(f"{args.workload}-s{args.seed}", enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](args.seed, args.size, WORK, tracer)
    t0 = time.perf_counter()
    wl.inputs()
    if args.wrong_expected:
        for d in wl.expectations():
            bump(d)
    log(f"pins {json.dumps(pins)}; inputs ready in {time.perf_counter() - t0:.2f}s")

    spark = None
    ticks0 = cpu_ticks()
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session()
        session_s = time.perf_counter() - t0
        tracer.attach(spark.sparkContext)
        wl.recording = bool(args.trace)  # set-up's own layer samples count
        with tracer.span("setup"):
            wl.setup(spark)
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.3f}s (session start {session_s:.3f}s)")
        if wl.check_first:
            t0 = time.perf_counter()
            tally = wl.check()
            log(f"checks {time.perf_counter() - t0:.3f}s")
        # untraced: whole passes until --seconds have elapsed. Traced: a
        # traced pass first, under the same JVM conditions as the
        # untraced runs' first pass (its spans give the per-layer metrics),
        # then an untraced pass; the tracing overhead compares it with a
        # traced pass run as warm as itself: the first one when the JVM
        # was warm before the window, otherwise a third pass.
        plan = ([True, False] if wl.check_first else [True, False, True]) if args.trace else []
        passes: list[list[float]] = []
        failed_ops = 0
        t0 = time.perf_counter()
        while True:
            traced = plan[len(passes)] if plan else False
            wl.recording = traced and not passes
            passes.append([])
            for _ in range(wl.ops_per_pass()):
                try:
                    passes[-1].append(wl.op(traced))
                except Exception as e:  # an op that raises is a failed op
                    failed_ops += 1
                    log(f"op failed: {type(e).__name__}: {e}")
            window = time.perf_counter() - t0
            if len(passes) == len(plan) if plan else window >= args.seconds:
                break
        from pyspark import SparkContext

        rss = peak_rss_mb(SparkContext._gateway.proc.pid)
        ops = sum(map(len, passes))
        log(f"{len(passes)} pass(es), {ops} ops in {window:.2f}s: "
            + " ".join(f"{x:.2f}" for p in passes for x in p))
        if not wl.check_first:
            tally = wl.check()
        for p in tally.problems:
            log(f"CHECK FAILED: {p}")
        storage = wl.storage_ratio()
    finally:
        tracer.attach(None)
        stop_spark(spark)

    (steal0, total0), (steal1, total1) = ticks0, cpu_ticks()
    log(f"cpu steal during the run: {100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}%")
    if args.trace:
        tracer.dump(WORK / "traces" / f"{args.workload}-s{args.seed}.json")
        wl.recording = True
        wl.record("session.start_s", session_s)
        wl.record("trace.overhead_s", statistics.median(passes[-1 if len(passes) == 3 else 0])
                  - statistics.median(passes[1]))
        metrics = {
            name: {"value": statistics.median(wl.layer[name]) if wl.layer.get(name) else 0.0, "unit": unit}
            for name, unit in PER_LAYER.items()
        }
        log(report(tracer, metrics))
    else:
        untraced = [x for p in passes for x in p]
        tail_s, tail_label = tail(untraced)
        log(f"op_tail_s is {tail_label} of {len(untraced)} ops")
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(untraced),
            "op_tail_s": tail_s,
            # one closed-loop client: ops per second of its time in ops;
            # the harness's work between ops (output resets, releasing the
            # last build's cache) is not the program's and is left out
            "ops_per_s": len(untraced) / sum(untraced),
            "storage_ratio": storage,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    attempted = ops + failed_ops + tally.checked
    failed = failed_ops + len(tally.problems)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def repeated(argv: list[str], repeats: int) -> int:
    """Make the run ``repeats`` times, one after another, each in a fresh
    process with its own JVM, and print the medians of their metrics.
    Attempts and failures add up; a repeat that fails fails the run."""
    results = []
    for i in range(repeats):
        out = subprocess.run([sys.executable, __file__, *argv, "--repeats", "1"],
                             stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            log(f"repeat {i + 1} of {repeats} exited {out.returncode}")
            return 1
        results.append(json.loads(lines[-1]))
        log(f"repeat {i + 1} of {repeats}: {lines[-1]}")
    metrics = {
        name: {"value": statistics.median(r["metrics"][name]["value"] for r in results), "unit": m["unit"]}
        for name, m in results[0]["metrics"].items()
    }
    print(json.dumps({
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0


def report(tracer, metrics: dict) -> str:
    """Per-span self-time table plus the per-layer metrics."""
    rows: dict[str, list[float]] = {}
    jobs: dict[str, int] = {}
    for s in tracer.report():
        rows.setdefault(s["name"], []).append(s["self"])
        jobs[s["name"]] = jobs.get(s["name"], 0) + s.get("jobs", 0)
    lines = [f"{'span':28s} {'n':>4s} {'self total s':>13s} {'self median s':>14s} {'jobs':>5s}"]
    for name, xs in sorted(rows.items(), key=lambda kv: -sum(kv[1])):
        lines.append(f"{name:28s} {len(xs):4d} {sum(xs):13.3f} {statistics.median(xs):14.3f} {jobs[name]:5d}")
    lines += [f"{k:28s} {v['value']:.4f} {v['unit']}" for k, v in metrics.items()]
    return "\n".join(lines)


if __name__ == "__main__":
    sys.exit(main())
