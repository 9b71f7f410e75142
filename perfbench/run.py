"""Benchmark of the word-count engine: one workload, one closed-loop client.

    python3 perfbench/run.py --workload wc_cli --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The run sets up a session, runs the
workload's warm-up ops, then issues one op at a time for ``--seconds``
seconds (and at least ``MIN_TIMED`` ops), checks every op's output, and
prints one JSON object as the
last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same loop with spans and Spark's event
log on and reports the per-layer metrics instead. Inputs, outputs,
checkpoints and Spark's scratch space live in ``.perfbench_work/`` in
the checkout and are removed at the end. Diagnostics go to stderr.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import checks  # noqa: E402
import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = "3"  # local[3]: leaves one of 4 cores to JVM GC/JIT and the driver
MIN_TIMED = 2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # JVM temp files go to the work dir; -UsePerfData stops the
        # hsperfdata file the JVM would otherwise write to /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "events"),
                     "spark.eventLog.compress": "false"})
    return conf


def shutdown(spark, jvm_pid: int) -> None:
    """Stop the session and the JVM, and wait for every process the
    session started (JVM, pyspark daemon, Python workers) to end."""
    from pyspark import SparkContext

    tree = [jvm_pid] + procstat.descendants(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in tree if procstat.alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an error: the work dir is removed and the
    # JVM exits when its stdin closes with this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "mapreducewordcount_spark")):
        log(f"no engine package next to {os.path.dirname(__file__)}; "
            "run from the root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    t = time.perf_counter()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    repo_before = checks.tree_snapshot(ROOT, {".git", work})
    # the guard's own walk of the checkout is not engine set-up
    own_s = time.perf_counter() - t
    os.environ.update({"SPARK_GRAFT_CPUS": CPUS,
                       "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
                       "TMPDIR": os.path.join(work, "tmp"),
                       # the launcher JVM that spark-submit runs first
                       "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData"})

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.count_py4j()
    try:
        return run(args, work, tracer, repo_before, own_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, tracer, repo_before, own_s) -> int:
    host0 = procstat.host_sample()
    t = time.perf_counter()
    from mapreducewordcount_spark import session
    t_import = time.perf_counter()
    spark = session.get_spark("perfbench", session_conf(work, bool(tracer)))
    t_session = time.perf_counter()
    if spark.range(1000).count() != 1000:
        raise RuntimeError("trivial query gave a wrong count")
    t_ready = time.perf_counter()
    setup = {"import_s": t_import - t, "get_spark_s": t_session - t_import,
             "first_job_s": t_ready - t_session,
             "setup_s": t_ready - _T0 - own_s}
    jvm_pid = spark.sparkContext._gateway.proc.pid
    # the CPU split is a per-layer metric: only the traced run samples it
    cpu_meter = procstat.CpuMeter(jvm_pid) if tracer else None

    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    wl.prepare()
    if tracer:
        for module, fn, span in wl.traced_functions:
            tracer.wrap(module, fn, span)

    attempted = failed = 0
    reasons: list[str] = []
    durations, cpu, windows, timed = [], [], [], []

    def one_op(is_timed: bool) -> float:
        nonlocal attempted, failed
        wl.before_op()
        if tracer:
            tracer.op_id = wl.op_no
        c0 = cpu_meter.sample() if is_timed and tracer else None
        w0, t0 = time.time(), time.perf_counter()
        why = None
        try:
            wl.op()
        except Exception as exc:  # noqa: BLE001 — a raising op is a failed op
            why = f"raised {exc!r}"[:300]
        dt = time.perf_counter() - t0
        w1 = time.time()
        if is_timed:
            if tracer:
                c1 = cpu_meter.sample()
                cpu.append({k: c1[k] - c0[k] for k in c1})
            durations.append(dt)
            windows.append((w0, w1))
            timed.append(wl.op_no)
        if why is None:
            why = wl.check()
        if tracer:
            wl.after_op_traced()
        attempted += 1
        if why:
            failed += 1
            reasons.append(f"op {wl.op_no}: {why}")
        wl.op_no += 1
        return dt

    t_warm = time.perf_counter()
    warm = [one_op(False) for _ in range(wl.warmup_ops)]
    warmup_s = time.perf_counter() - t_warm
    log(f"{wl.name} setup {setup} warm-up ops {[round(x, 2) for x in warm]}")
    end = time.perf_counter() + args.seconds
    # at least MIN_TIMED ops, so one slow op under host noise is not the
    # whole sample
    while time.perf_counter() < end or len(durations) < MIN_TIMED:
        one_op(True)
    log(f"{wl.name} timed ops {[round(x, 3) for x in durations]}")
    if tracer:
        log(f"{wl.name} cpu per timed op "
            f"{[{k: round(v, 2) for k, v in c.items()} for c in cpu]}")

    try:
        why = wl.finish()
    except Exception as exc:  # noqa: BLE001 — a check that cannot run fails
        why = f"raised {exc!r}"[:300]
    if why:
        failed = attempted
        reasons.append(f"final check: {why}")
    mem = procstat.mem_split(jvm_pid) if tracer else None
    layers = {}
    if tracer:
        layers = wl.layer_metrics(timed)
    wl.close()
    shutdown(spark, jvm_pid)
    host1 = procstat.host_sample()

    if tracer:
        from spans import exec_per_op, read_event_log

        per_op = exec_per_op(read_event_log(os.path.join(work, "events")),
                             windows)
        for key in per_op[0]:
            layers[f"exec.{key}"] = statistics.median(r[key] for r in per_op)
        log("spans (name, start, end, parent, op, py4j calls) "
            + json.dumps(tracer.spans))
        for name in wl.expected_spans:
            if tracer.total_calls(name) == 0:
                failed = attempted
                reasons.append(f"traced run saw no call to {name}")

    why = checks.check_hygiene(repo_before,
                               checks.tree_snapshot(ROOT, {".git", work}))
    if why:
        failed = attempted
        reasons.append(f"hygiene: {why}")
    for r in reasons[:10]:
        log(f"FAILED {r}")

    steal = host1["steal"] - host0["steal"]
    env = {"nproc": os.cpu_count(), "loadavg": os.getloadavg(),
           "steal_share": steal / max(1, host1["total"] - host0["total"]),
           "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"]}
    log(f"environment {json.dumps(env)}")

    if tracer:
        metrics = layer_record(wl, tracer, setup, warm, warmup_s, layers,
                               durations, cpu, mem, timed)
    else:
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "op_p50_s": (statistics.median(durations), "s"),
        }
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


#: per-layer metric -> unit; every traced run reports all of them, with
#: 0 where the workload does not use the layer
LAYER_UNITS = {
    "session.import_s": "s", "session.get_spark_s": "s",
    "session.first_job_s": "s", "session.warmup_s": "s",
    "session.warmup_ops": "count",
    "queries.construct_s": "s", "queries.execute_s": "s",
    "queries.construct_share": "ratio", "queries.construct_jobs": "count",
    "queries.execute_jobs": "count", "queries.construct_py4j_calls": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.jvm_gc_s": "s", "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_skew": "ratio", "exec.driver_gap_s": "s",
    "sources.sig_artifacts.materialize_s": "s",
    "sources.sig_artifacts.materialize_calls": "count",
    "sources.tables.load_table_s": "s", "sources.tables.load_table_calls": "count",
    "operators.similarity.ivf_build_s": "s",
    "operators.similarity.ivf_build_calls": "count",
    "operators.dedup.dup_groups_s": "s",
    "operators.wordcount.write_wordcount_output_s": "s",
    "operators.wordcount.rename_to_reference_layout_s": "s",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.commit_s": "s", "streaming.jobs_per_batch": "count",
    "streaming.state_mb": "MB", "streaming.state_versions": "count",
    "cache.persisted_rdds_after_op": "count",
    "mem.jvm_hwm_mb": "MB", "mem.py_driver_hwm_mb": "MB",
    "mem.py_workers_hwm_mb": "MB", "mem.peak_rss_mb": "MB",
    "cpu.total_s_per_op": "s", "cpu.jvm_s_per_op": "s",
    "cpu.jit_s_per_op": "s",
    "cpu.py_driver_s_per_op": "s",
    "cpu.py_workers_s_per_op": "s",
    "op.p50_s": "s", "op.tail_s": "s", "op.samples": "count",
}


def layer_record(wl, tracer, setup, warm, warmup_s, layers, durations, cpu,
                 mem, timed) -> dict:
    vals = dict.fromkeys(LAYER_UNITS, 0.0)
    vals.update({
        "session.import_s": setup["import_s"],
        "session.get_spark_s": setup["get_spark_s"],
        "session.first_job_s": setup["first_job_s"],
        "session.warmup_s": warmup_s, "session.warmup_ops": len(warm),
        "mem.jvm_hwm_mb": mem["jvm"], "mem.py_driver_hwm_mb": mem["py_driver"],
        "mem.py_workers_hwm_mb": mem["py_workers"],
        "mem.peak_rss_mb": sum(mem.values()),
        "op.p50_s": statistics.median(durations),
        # too few ops for a percentile with ten samples beyond it, so the
        # tail is the slowest timed op, with the sample count beside it
        "op.tail_s": max(durations), "op.samples": len(durations),
    })
    # JIT CPU is warm-up cost (see procstat.CpuMeter), so it stays out of
    # the total
    vals["cpu.total_s_per_op"] = statistics.median(
        sum(v for k, v in c.items() if k != "jit") for c in cpu)
    for part in ("jvm", "jit", "py_driver", "py_workers"):
        vals[f"cpu.{part}_s_per_op"] = statistics.median(c[part] for c in cpu)
    for layer in ("sources.tables.load_table",
                  "sources.sig_artifacts.materialize",
                  "operators.similarity.ivf_build"):
        vals[f"{layer}_s"], vals[f"{layer}_calls"], _ = tracer.per_op(layer, timed)
    for layer in ("operators.dedup.dup_groups",
                  "operators.wordcount.write_wordcount_output",
                  "operators.wordcount.rename_to_reference_layout"):
        vals[f"{layer}_s"] = tracer.per_op(layer, timed)[0]
    exec_keys = {"exec.construct_jobs": "queries.construct_jobs",
                 "exec.execute_jobs": "queries.execute_jobs"}
    for k, v in layers.items():
        vals[exec_keys.get(k, k)] = v
    if vals["streaming.trigger_s"]:  # each op ran one micro-batch
        vals["streaming.jobs_per_batch"] = vals["exec.jobs"]
    return {k: (v, LAYER_UNITS[k]) for k, v in vals.items()}


if __name__ == "__main__":
    sys.exit(main())
