#!/usr/bin/env python3
"""Benchmark for elb_pipeline: ``job.run_job`` on golden-pool and
high-entropy transcripts, and a dedup-family refresh.

Usage, from the repository root:

    python3 perfbench/run.py --workload job_entropy --seed 1 --seconds 1 --trace 0

Workloads: ``job_entropy``, ``dedup_refresh`` and ``job_pool`` (see
README.md). Each run generates its seeded inputs (cached under
``.perfbench_work/inputs``), starts a Spark session on
``local[<usable CPUs>]`` and makes one untimed warm-up call (together
``setup_s``), then calls the workload in a closed loop with one caller
until ``--seconds`` have passed (at least one call), checking every call's
output; metrics are medians over the calls. Every
file the run writes stays under ``.perfbench_work`` in the repository root.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
second call (each between two untraced ones) and prints the per-layer
metrics, read from
Spark's status stores and from direct calls into the layers' public
functions, and writes the spans to ``.perfbench_work/traces``. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is non-zero when any output
check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CALL_TIMEOUT_S = 100
RUN_BUDGET_S = 150  # stop starting calls past this point; the limit is 180 s
WORKLOADS = ("job_pool", "job_entropy", "dedup_refresh")


def _confine_to_checkout() -> None:
    """Point every temporary and cache directory into WORK; the Python
    workers import elb_pipeline from the checkout."""
    for d in ("tmp", "local", "warehouse", "matcache", "out", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["ELB_MAT_CACHE"] = os.path.join(WORK, "matcache")
    # spark-submit's launcher JVM, which builds the JVM command line
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_LAUNCHER_OPTS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    )))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def session_conf() -> dict[str, str]:
    """The program's own throughput conf (fixed, pre-touched heap, so the
    JVM's resident memory does not depend on when the heap grew), sized
    for a shared host, with every temporary path inside WORK."""
    from elb_pipeline.session import perf_conf

    conf = perf_conf(heap="2g")
    conf["spark.driver.extraJavaOptions"] += (
        f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    conf.update({
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # full paths in plan-node descriptions, to tell input scans apart
        "spark.sql.maxMetadataStringLength": "4096",
    })
    return conf


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def build_workload(name: str, seed: int):
    import workloads as W

    if name == "job_pool":
        return W.JobWorkload(name, "pool", W.POOL_ROWS, WORK, seed)
    if name == "job_entropy":
        return W.JobWorkload(name, "entropy", W.ENTROPY_ROWS, WORK, seed)
    return W.DedupWorkload(name, WORK, seed)


class Watchdog:
    """Cancels the session's jobs if a call outlives CALL_TIMEOUT_S, so a
    hang ends as a failed call instead of a stuck run."""

    def __init__(self, spark):
        self.spark = spark
        self.fired = False

    def __enter__(self):
        self.timer = threading.Timer(CALL_TIMEOUT_S, self._fire)
        self.timer.daemon = True
        self.timer.start()
        return self

    def _fire(self):
        self.fired = True
        self.spark.sparkContext.cancelAllJobs()

    def __exit__(self, *exc):
        self.timer.cancel()
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # must not leak the JVM
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_run = time.monotonic()
    if args.workload == "all":
        return run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    _confine_to_checkout()
    import layers
    import probe
    import workloads as W
    from elb_pipeline.session import get_spark

    timeline = {"start_s": time.monotonic() - t_run}
    # inputs and expected outputs: not set-up time
    wl = build_workload(args.workload, args.seed)
    timeline["inputs_s"] = time.monotonic() - t_run - timeline["start_s"]

    cpus = usable_cpus()
    setup_clock = probe.NetClock()
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf=session_conf())
    session_s = setup_clock.net()
    sampler = None
    errors: list[str] = []
    calls: list[dict] = []
    failed = 0
    control_ok = None
    try:
        store = probe.SparkStore(spark) if args.trace else None
        bus = spark.sparkContext._jsc.sc().listenerBus()
        wl.start(spark)
        # set-up ends after the untimed warm-up call; its check is not set-up
        warm_res, warm_errors = None, []
        with Watchdog(spark) as wd:
            try:
                warm_res = wl.warm_up()
            except Exception as exc:  # noqa: BLE001 — a failed call is counted
                warm_errors.append(f"raised {type(exc).__name__}: {str(exc)[:300]}")
        setup_raw, setup_s = setup_clock.raw(), setup_clock.net()
        if wd.fired:
            warm_errors.append(f"timed out after {CALL_TIMEOUT_S} s")
        if warm_res is not None and not warm_errors:
            warm_errors += wl.check_warm_up(warm_res)
            wl.cleanup(warm_res)
        if warm_errors:
            failed += 1
            errors += [f"warm-up: {e}" for e in warm_errors]
        warm_execs = []
        if store is not None:
            bus.waitUntilEmpty()
            t_read = time.monotonic()
            warm_execs = store.new_executions(python_only=True)
            timeline["warm_up_read_s"] = time.monotonic() - t_read

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        sampler = probe.TreeSampler(jvm_pid)
        host = {
            "cpus": cpus, "mem_total_mb": round(mem_total_mb()),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "pyarrow": __import__("pyarrow").__version__,
            "python": platform.python_version(),
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "workload": args.workload, "seed": args.seed, "input": wl.host_record(),
        }

        def more() -> bool:
            if not calls:
                return True
            if args.trace and (len(calls) < 3 or calls[-1]["traced"]):
                return True  # every traced call sits between two untraced ones
            return (time.monotonic() - t_loop < args.seconds
                    and time.monotonic() - t_run < RUN_BUDGET_S)

        t_loop = time.monotonic()
        while more():
            i = len(calls) + 1
            traced = bool(args.trace) and i % 2 == 0
            tracer = probe.Tracer() if traced else None
            if traced:
                bus.waitUntilEmpty()
                store.mark = store.max_id()
            call_errors, res = [], None
            cpu0 = sampler.begin()
            clock = probe.NetClock()
            with Watchdog(spark) as wd:
                try:
                    res = wl.call(i, tracer)
                except Exception as exc:  # noqa: BLE001 — a failed call is counted
                    call_errors.append(f"raised {type(exc).__name__}: {str(exc)[:300]}")
            wall, net = clock.raw(), clock.net()
            cpu, peak = sampler.end(cpu0)
            call = {"traced": traced, "wall": wall, "net": net, "cpu": cpu, "peak": peak}
            if wd.fired:
                call_errors.append(f"timed out after {CALL_TIMEOUT_S} s")
            if res is not None and not call_errors:
                if traced:
                    bus.waitUntilEmpty()
                    t_read = time.monotonic()
                    call["layers"] = layers.trace_call(
                        wl, tracer, store.new_executions(), res, wall)
                    timeline["trace_read_s"] = (timeline.get("trace_read_s", 0.0)
                                                + time.monotonic() - t_read)
                    call["spans"] = tracer.spans
                t_check = time.monotonic()
                try:
                    seen = wl.observe(res)
                except Exception as exc:  # noqa: BLE001 — unreadable output fails the call
                    call_errors.append(f"output unreadable: {type(exc).__name__}: {exc}")
                else:
                    call_errors += wl.compare(seen, wl.expected())
                    if control_ok is None:
                        control_ok = bool(wl.compare(seen, wl.perturbed()))
                wl.cleanup(res)
                timeline["check_s"] = timeline.get("check_s", 0.0) + time.monotonic() - t_check
            if call_errors:
                failed += 1
                errors += [f"call {i}: {e}" for e in call_errors]
            calls.append(call)
    finally:
        if sampler is not None:
            sampler.close()
        t_stop = time.monotonic()
        stop_spark(spark)
        timeline["stop_s"] = time.monotonic() - t_stop

    untraced = [c for c in calls if not c["traced"]]
    walls = [c["wall"] for c in untraced]
    nets = [c["net"] for c in untraced]
    net_med = statistics.median(nets)
    if args.trace:
        traced_calls = [(k, c) for k, c in enumerate(calls) if "layers" in c]
        layer_out = {k: statistics.median(c["layers"][k] for _, c in traced_calls)
                     for k in (traced_calls[0][1]["layers"] if traced_calls else {})}
        layer_out["session.warmup_s"] = session_s
        layer_out["parse.worker_init_ms"] = layers.worker_init_ms(warm_execs)
        t_kernels = time.monotonic()
        layer_out.update(layers.kernel_metrics(wl) if isinstance(wl, W.JobWorkload)
                         else layers.md5vec_metrics(wl))
        timeline["kernels_s"] = time.monotonic() - t_kernels
        if traced_calls:
            # a traced call against the mean of the untraced calls either
            # side of it, which cancels the calls' steady speed-up in a session
            layer_out["trace.overhead_s"] = statistics.median(
                c["net"] - (calls[k - 1]["net"] + calls[k + 1]["net"]) / 2
                for k, c in traced_calls)
        with open(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"host": host, "layers": layer_out,
                       "spans": [s for _, c in traced_calls for s in c["spans"]]}, f, indent=1)
        # a per-layer metric the workload does not exercise reads 0
        metrics = {m["name"]: {"value": float(layer_out.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {
            "call_s": net_med,
            "rows_per_s": wl.rows / net_med,
            "cpu_s": statistics.median(c["cpu"] for c in untraced),
            "peak_rss_mb": statistics.median(c["peak"] for c in untraced),
            "setup_s": setup_s,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    attempted = 1 + len(calls)  # the warm-up call is checked too
    correct = failed == 0 and control_ok is True
    if control_ok is False:
        errors.append("negative control: perturbed expectations were accepted")
    timeline["total_s"] = time.monotonic() - t_run
    print("host " + json.dumps(host))
    print("timeline " + json.dumps({k: round(v, 2) for k, v in timeline.items()}))
    for e in errors:
        print("ERROR " + e)
    print(f"{args.workload}: warm-up call, then {len(calls)} call(s), closed loop, 1 caller"
          + (", every second call traced" if args.trace else ""))
    print(f"  untraced wall_s {statistics.median(walls):.3f} s median, {max(walls):.3f} s max "
          f"(n={len(walls)}; the max is the highest percentile n supports); net of host "
          f"steal {net_med:.3f} s median; setup {setup_raw:.3f} s, net {setup_s:.3f} s "
          f"(session {session_s:.3f} s)")
    print(f"  ops_failed {failed}/{attempted} = {failed / attempted:.3f}")
    for k, v in metrics.items():
        print(f"  {k:32s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload, one fresh process each; the last line sums them."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        worst = max(worst, proc.returncode)
        if proc.returncode not in (0, 1) or not lines:
            total["correct"] = False
            continue
        last = json.loads(lines[-1])
        total["correct"] &= last["correct"]
        total["attempted"] += last["attempted"]
        total["failed"] += last["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(total))
    return worst


if __name__ == "__main__":
    sys.exit(main())
