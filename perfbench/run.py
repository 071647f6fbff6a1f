"""Benchmark of the modeltracking_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client (this process) runs the
workload as a closed loop on ``local[<cores>]``: one pass at a time,
each pass one query at a time. Set-up starts the Spark session,
registers the workload's inputs and runs one warm pass, which collects
every result for the output check; then timed passes run until
``--seconds`` have passed, and at least ``MIN_PASSES`` of them.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the Spark event
log is on, passes alternate between traced and untraced, and the
metrics are the per-layer ones (see README.md).

``--smoke`` runs on the smallest testdata scale and a tiny grid, for
the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import proctree  # noqa: E402
from tracing import Recorder, parse_event_log  # noqa: E402

WORKLOADS = ("relational", "corpus_kernels", "track_profile")
# timed passes per run, however short --seconds is; traced runs get one
# of each kind. More would not fit the judged protocol's time budget.
MIN_PASSES = 2

# judged in BENCHMARK.json. pass_s and pass_s.tail are printed beside
# them but not judged: on the shared 4-vCPU host the middle half of ten
# runs' pass_s spread up to 35% of its median as the host's load shifted,
# past the largest bound a judged metric may have, while cpu_s stayed
# within 12% (see README.md)
END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_tasks": "count",
    "exec.write_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "python.plan_nodes": "count",
    "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB",
    "python.rows_received": "count",
    "python.stage_run_s": "s",
    "sources.grid_read_rows_per_s": "1/s",
    "operators.zstd_compress_mbps": "MB/s",
    "operators.zstd_decompress_mbps": "MB/s",
    "operators.decode_jpeg_mbps": "MB/s",
    "plotting.render_figure_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_s": "s",
    "trace.layer_sum_frac": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, or
    the maximum when there are fewer than twenty samples."""
    xs = sorted(values)
    n = len(xs)
    if n >= 20:
        return xs[n - 11], f"p{100 * (n - 10) // n} of {n} passes"
    return xs[-1], f"max of {n} passes"


def pin_scratch(work: str) -> dict:
    """Point every scratch location of the driver, the JVM and the
    Python workers into ``work``; returns the matching Spark conf."""
    import tempfile

    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # children (the JVM and the Python workers it forks) inherit these
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    tempfile.tempdir = dirs["tmp"]
    return {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.eventLog.dir": dirs["eventlog"],
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    proctree.stop_descendants(os.getpid())


def build_workload(name: str, seed: int, work: str, smoke: bool):
    import workloads as w

    sf = w.SMOKE_SF_DIR if smoke else w.SF_DIR
    if name == "track_profile":
        return w.TrackWorkload(_track_inputs(seed, work, smoke), seed,
                               os.path.join(work, "out"))
    queries = w.RELATIONAL if name == "relational" else w.CORPUS_KERNELS
    # oracle digests outlive the run: the testdata never changes
    return w.RegistryWorkload(name, queries, seed, sf,
                              os.path.join(os.path.dirname(work), "oracle"))


def _track_inputs(seed: int, work: str, smoke: bool):
    import inputs

    if smoke:
        return inputs.make_track_inputs(seed, os.path.join(work, "in"),
                                        inputs.TINY, n_storms=4, n_fixes=10)
    return inputs.make_track_inputs(seed, os.path.join(work, "in"))


def kernel_metrics(seed: int, work: str, smoke: bool, inp=None) -> dict:
    import kernels

    min_cpu = 0.05 if smoke else 0.5
    if inp is None:
        inp = _track_inputs(seed, work, smoke)
    out = {}
    out.update(kernels.zstd_rates(seed, 8 << 10 if smoke else 64 << 10, min_cpu))
    out.update(kernels.jpeg_rate(seed, 64 if smoke else 256, min_cpu))
    out.update(kernels.grid_read_rate(inp, min_cpu))
    return out


def layer_metrics(rec: Recorder, events: dict, traced: list[int],
                  pass_times: dict, untraced: list[int]) -> tuple[dict, list]:
    """Per-layer metrics: the median over traced passes of each pass
    total. Returns the metrics and per-pass layer tables."""
    per_pass = []
    for p in traced:
        layers = rec.layer_times(p)
        ev = {}
        for (pi, _q, phase), m in events.items():
            if pi != p:
                continue
            for k, v in m.items():
                ev[(phase, k)] = ev.get((phase, k), 0.0) + v

        def total(k):
            return sum(v for (ph, kk), v in ev.items() if kk == k)

        def busy(name):
            return layers.get(name, {}).get("busy_s", 0.0)

        pass_s = pass_times[p]
        phases = busy("construct") + busy("exec") + busy("plotting")
        m = {
            "queries.construct_s": busy("construct"),
            "queries.construct_jobs": ev.get(("construct", "jobs"), 0.0),
            "queries.construct_tasks": ev.get(("construct", "tasks"), 0.0),
            "exec.write_s": busy("exec"),
            "exec.jobs": ev.get(("exec", "jobs"), 0.0),
            "exec.stages": ev.get(("exec", "stages"), 0.0),
            "exec.tasks": ev.get(("exec", "tasks"), 0.0),
            "spark.executor_run_s": total("executor_run_s"),
            "spark.executor_cpu_s": total("executor_cpu_s"),
            "spark.jvm_gc_s": total("jvm_gc_s"),
            "spark.scheduler_delay_s": total("scheduler_delay_s"),
            "spark.shuffle_read_mb": total("shuffle_read_mb"),
            "spark.shuffle_write_mb": total("shuffle_write_mb"),
            "spark.spill_mb": total("spill_mb"),
            "spark.failed_tasks": total("failed_tasks"),
            "python.plan_nodes": total("python_plan_nodes"),
            "python.data_sent_mb": total("python_data_sent_mb"),
            "python.data_received_mb": total("python_data_received_mb"),
            "python.rows_received": total("python_rows_received"),
            "python.stage_run_s": total("python_stage_run_s"),
            "plotting.render_figure_s": busy("plotting"),
            "trace.pass_s": pass_s,
            # pass time outside every layer phase: loop and span overhead
            "trace.unattributed_s": pass_s - phases,
            "trace.layer_sum_frac": phases / pass_s,
        }
        per_pass.append({"pass": p, "layers": layers, "metrics": m})
    out = {k: statistics.median(pp["metrics"][k] for pp in per_pass)
           for k in per_pass[0]["metrics"]}
    out["trace.overhead_ratio"] = out["trace.pass_s"] / statistics.median(
        pass_times[p] for p in untraced)
    return out, per_pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    conf = pin_scratch(work)
    me = os.getpid()
    try:
        with proctree.PeakRss(me) as peak:
            result = run(args, trace, work, conf, me, peak)
        result["peak_rss_mb"] = peak.peak_bytes / 2**20
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return report(args, trace, result, work_root)


def run(args, trace: bool, work: str, conf: dict, me: int,
        peak: proctree.PeakRss) -> dict:
    t_gen = time.perf_counter()
    wl = build_workload(args.workload, args.seed, work, args.smoke)
    gen_s = time.perf_counter() - t_gen

    from modeltracking_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf.update({
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        # plain JSON lines, parsed without a codec
        "spark.eventLog.compress": "false",
    })
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores,
                      extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jsc = spark.sparkContext._jsc.sc()
    event_logger = jsc.eventLogger().get() if trace else None
    if event_logger is not None:
        jsc.removeSparkListener(event_logger)  # attached for traced passes only
    rec = Recorder(spark.sparkContext)

    try:
        wl.register(spark)
        results, attempted, failed = wl.run_pass(spark, rec, 0, collect=True)
        setup_s = process_age_s() - gen_s
        bad = wl.verify(results)
        for b in bad:
            print(f"WRONG {args.workload}: {b}", file=sys.stderr)
        failed += len(bad)
        del results

        pass_times, pass_cpu, traced, untraced = {}, {}, [], []
        t_loop = time.perf_counter()
        p = 1
        while p <= MIN_PASSES or time.perf_counter() - t_loop < args.seconds:
            # traced runs alternate, starting on the seed's parity
            is_traced = trace and (p + args.seed) % 2 == 0
            if is_traced:
                jsc.addSparkListener(event_logger)
            rec.enabled = is_traced
            rec.pass_idx = p
            c0, t1 = proctree.tree_cpu_s(me), time.perf_counter()
            with rec.span("pass"):
                _, n, f = wl.run_pass(spark, rec, p)
            pass_times[p] = time.perf_counter() - t1
            pass_cpu[p] = proctree.tree_cpu_s(me) - c0
            rec.enabled = False
            if is_traced:
                jsc.removeSparkListener(event_logger)
            (traced if is_traced else untraced).append(p)
            attempted += n
            failed += f
            p += 1
    finally:
        if event_logger is not None:
            jsc.addSparkListener(event_logger)  # so stop() closes the log
        peak.visit()
        stop_spark(spark)

    out = {
        "attempted": attempted, "failed": failed,
        "setup_s": setup_s,
        "pass_s": statistics.median(pass_times.values()),
        "pass_times": list(pass_times.values()),
        "cpu_s": statistics.median(pass_cpu.values()),
    }
    if trace:
        events = parse_event_log(conf["spark.eventLog.dir"])
        layers, per_pass = layer_metrics(rec, events, traced, pass_times, untraced)
        layers["session.get_spark_s"] = get_spark_s
        inp = getattr(wl, "inp", None)
        layers.update(kernel_metrics(args.seed, work, args.smoke, inp))
        out["layers"] = layers
        out["trace_file"] = {
            "spans": [vars(s) for s in rec.spans],
            "per_pass": per_pass,
            "events": [{"pass": k[0], "query": k[1], "phase": k[2], **v}
                       for k, v in sorted(events.items())],
        }
    return out


def report(args, trace: bool, r: dict, work_root: str) -> int:
    attempted, failed = r["attempted"], r["failed"]
    e2e = {k: r[k] for k in END_TO_END_UNITS}
    print(f"workload {args.workload} seed {args.seed} on local[{len(os.sched_getaffinity(0))}]")
    for k, v in e2e.items():
        print(f"  {k:<14} {v:12.4f} {END_TO_END_UNITS[k]}")
    # a run's few passes hold no percentile with ten samples beyond it,
    # so the tail is their maximum
    tail_v, tail_note = tail(r["pass_times"])
    print(f"  {'pass_s':<14} {r['pass_s']:12.4f} s")
    print(f"  {'pass_s.tail':<14} {tail_v:12.4f} s  ({tail_note})")
    print("  pass times     " + " ".join(f"{t:.3f}" for t in r["pass_times"]) + " s")
    print(f"  {'fail_frac':<14} {failed / attempted:12.4f} ratio"
          f"  ({failed} of {attempted} executions)")
    if trace:
        layers = r["layers"]
        for k, unit in PER_LAYER_UNITS.items():
            print(f"  {k:<32} {layers[k]:14.4f} {unit}")
        for pp in r["trace_file"]["per_pass"]:
            for name, t in sorted(pp["layers"].items()):
                print(f"  pass {pp['pass']} {name:<10} n={t['count']:<3} "
                      f"busy {t['busy_s']:8.3f} s  self {t['self_s']:8.3f} s")
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        path = os.path.join(work_root, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(r["trace_file"], fh)
        print(f"  spans and per-phase metrics: {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
