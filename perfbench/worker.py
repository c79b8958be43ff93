"""One benchmark run: generate inputs, start the engine, warm it up, time
a closed loop of engine calls from one client, check every result, and
print the metrics.

Started by ``perfbench/run.py``, which prepares the environment (scratch
directories, Spark config, worker PYTHONPATH) and cleans up afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench import eventlog, oracle
from perfbench.stats import median, percentile, tail_percentile, value_hash
from perfbench.workloads import WORKLOADS, Workload, pass_order

pc = time.perf_counter

#: the engine calls of the N-Quads cycle that are not catalog queries
ETL_CALLS = {"address_quads", "write_nquads", "read_nquads"}
PHASES = ("build", "plan", "exec")


@dataclass
class Op:
    """One engine call: the wall of each phase (s) and the outcome."""

    name: str
    pass_index: int
    build: float = 0.0
    plan: float = 0.0
    action: float = 0.0
    ok: bool = True
    error: str = ""

    @property
    def wall(self) -> float:
        return self.build + self.plan + self.action


@dataclass
class Run:
    workload: Workload
    seed: int
    trace: bool
    spark: object
    data_dir: str
    out_dir: str
    expected: dict
    #: pass index -> (count, hash) of the N-Quads lines read back
    read_back: dict = field(default_factory=dict)
    #: wall spent setting job tags, part of the tracing overhead
    tag_s: float = 0.0

    def tag(self, op: Op | None, phase: str = "") -> None:
        """Label the jobs the next calls start (traced runs only)."""
        if self.trace:
            t0 = pc()
            value = None if op is None else (
                f"{self.workload.name}|{op.name}|{phase}|{op.pass_index}")
            self.spark.sparkContext.setLocalProperty(eventlog.TAG_KEY, value)
            self.tag_s += pc() - t0

    def nquads_path(self, index: int) -> str:
        return os.path.join(self.out_dir, f"pass{index}")


def _digest(lines) -> tuple[int, str]:
    """Count and order-free hash of a frame of N-Quads text lines."""
    from pyspark.sql import functions as F

    row = lines.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("value").cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def _query(run: Run, op: Op, check: bool) -> None:
    """Build a catalog query, plan it (traced runs), and collect it."""
    from cam_etl_spark.plans import QUERIES

    t0 = pc()
    run.tag(op, "build")
    df = QUERIES[op.name].spark(run.spark, run.data_dir)
    t1 = pc()
    if run.trace:
        run.tag(op, "plan")
        df._jdf.queryExecution().executedPlan()
    t2 = pc()
    run.tag(op, "exec")
    rows = df.collect()
    op.build, op.plan, op.action = t1 - t0, t2 - t1, pc() - t2
    run.tag(None)
    if check:
        got = value_hash(rows, df.columns)
        want = run.expected.get(op.name)
        if got != want:
            op.ok, op.error = False, f"value hash {got} != expected {want}"


def _etl_call(run: Run, op: Op, state: dict) -> None:
    """One step of the N-Quads cycle; ``state`` carries the quads frame
    from address_quads to write_nquads. The read step consumes every
    parsed field by serialising the quads back to lines and hashing them."""
    from cam_etl_spark import quads
    from cam_etl_spark.pipelines.address import address_quads

    path = run.nquads_path(op.pass_index)
    t0 = pc()
    run.tag(op, "build")
    if op.name == "address_quads":
        state["quads"] = address_quads(run.spark, run.data_dir)
        op.build = pc() - t0
    elif op.name == "write_nquads":
        run.tag(op, "exec")
        quads.write_nquads(state.pop("quads"), path)
        op.action = pc() - t0
    else:
        lines = quads.to_nquads_lines(quads.read_nquads(run.spark, path))
        t1 = pc()
        run.tag(op, "exec")
        run.read_back[op.pass_index] = _digest(lines)
        op.build, op.action = t1 - t0, pc() - t1
    run.tag(None)


def warm_up(run: Run, bench) -> float:
    """Pay the engine's first-use costs before timing: the first job and a
    parquet scan with a shuffle (the host canary). A served workload then
    runs one untimed pass, so that it is timed with its plans, codegen and
    JIT warm; a batch job is timed as a fresh session runs it.

    Returns the wall of the first job and the canary. Both are fixed work,
    run cold like a batch pass and moments before it, so the wall follows
    the host's speed; the pass wall is reported in units of it."""
    spark = run.spark
    t0 = pc()
    spark.range(1).count()
    bench._canary(spark, run.data_dir).write.format("noop").mode("overwrite").save()
    meter_s = pc() - t0
    if run.workload.served:
        run_pass(run, -1, check=False)
    return meter_s


def run_pass(run: Run, index: int, check: bool) -> list[Op]:
    state: dict = {}
    done = []
    for name in pass_order(run.workload, run.seed, index):
        op = Op(name, index)
        try:
            if name in ETL_CALLS:
                _etl_call(run, op, state)
            else:
                _query(run, op, check)
        except Exception as e:  # a failed call is counted; the run goes on
            run.tag(None)
            op.ok, op.error = False, f"{type(e).__name__}: {str(e)[:300]}"
        done.append(op)
    return done


def check_nquads(run: Run, index: int) -> str:
    """The N-Quads round trip of pass ``index``: the lines on disk and the
    lines the read-back quads serialise to must be one multiset. Returns
    an error text, empty when the round trip holds."""
    if index not in run.read_back:
        return "no quads read back"
    written = _digest(run.spark.read.text(run.nquads_path(index)))
    if written != run.read_back[index]:
        return f"N-Quads round trip: {written[0]} lines written (hash {written[1]}), " \
               f"{run.read_back[index][0]} read back (hash {run.read_back[index][1]})"
    return ""


# -------------------------------------------------------------- metrics


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def _cached_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _eventlog_cpu_s(spark) -> float:
    """CPU time so far of the JVM thread that writes the event log."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    for thread in jvm.java.lang.Thread.getAllStackTraces().keySet().toArray():
        if thread.getName() == "spark-listener-group-eventLog":
            return mx.getThreadCpuTime(thread.getId()) / 1e9
    raise RuntimeError("no event-log listener thread")


def _pass_walls(ops: list[Op]) -> list[float]:
    walls: dict[int, float] = {}
    for op in ops:
        walls[op.pass_index] = walls.get(op.pass_index, 0.0) + op.wall
    return list(walls.values())


def op_walls(ops: list[Op]) -> dict[str, float]:
    """Median wall of each engine call over the passes."""
    by_name: dict[str, list] = {}
    for op in ops:
        by_name.setdefault(op.name, []).append(op.wall)
    return {name: median(w) for name, w in by_name.items()}


def end_to_end(setup_s: float, ops: list[Op], window_s: float, meter_s: float):
    """The end-to-end metrics, and the summary figures that are printed
    but not bounded (see README.md: they follow the host's speed, which
    drifts between runs, or they do not exist on every workload)."""
    wall_s = median(_pass_walls(ops))
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_norm": (wall_s / meter_s, "ratio"),
    }
    lat_ms = [op.wall * 1e3 for op in ops]
    tail = tail_percentile(len(lat_ms))
    info = {
        "wall_s": wall_s,
        "queries_per_s": len(ops) / window_s,
        "meter_s": meter_s,
        "samples": len(lat_ms),
        "passes": len(_pass_walls(ops)),
        "latency_p50_ms": median(lat_ms) if tail else None,
        "tail_percentile": tail,
        "latency_tail_ms": percentile(lat_ms, tail) if tail else None,
    }
    return metrics, info


def per_layer(run: Run, layers: dict, ops: list[Op], trace_cpu_s: float):
    """Per-layer metrics, each per timed pass, from the traced phase walls
    and the event-log totals of their tags; plus the per-query breakdown.
    ``trace_cpu_s`` is the event-log writer's CPU time over the passes."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    n_pass = len(_pass_walls(ops))
    phase = {p: eventlog.Layer() for p in PHASES}
    for tag, lay in layers.items():
        phase[tag.split("|")[2]].add(lay)
    total = eventlog.Layer()
    for lay in phase.values():
        total.add(lay)

    # an action's wall splits into the time its jobs ran (exec) and the
    # driver-side rest: result transfer, Python-side decoding, re-planning
    # between adaptive stages (collect)
    split = {p: 0.0 for p in ("build", "plan", "exec", "collect")}
    breakdown: dict[str, dict] = {}
    for op in ops:
        lay = layers.get(f"{run.workload.name}|{op.name}|exec|{op.pass_index}")
        job_s = min(lay.job_s, op.action) if lay else 0.0
        parts = {"build": op.build, "plan": op.plan, "exec": job_s,
                 "collect": op.action - job_s}
        row = breakdown.setdefault(op.name, {f"{k}_s": 0.0 for k in parts})
        for k, v in parts.items():
            split[k] += v
            row[f"{k}_s"] += v / n_pass

    job_s = total.job_s
    sql = total.sql
    by_op = op_walls(ops)
    per_pass = {
        "plans.build_s": (split["build"], "s"),
        "plans.build_jobs": (phase["build"].jobs, "count"),
        "plans.build_job_s": (phase["build"].job_s, "s"),
        "spark.plan_s": (split["plan"], "s"),
        "spark.exec_s": (split["exec"], "s"),
        "spark.collect_s": (split["collect"], "s"),
        "exec.stages": (total.stages, "count"),
        "exec.tasks": (total.tasks, "count"),
        "exec.task_run_s": (total.task_run_s, "s"),
        "exec.task_cpu_s": (total.task_cpu_s, "s"),
        "exec.gc_s": (total.gc_s, "s"),
        "exec.serial_stage_s": (total.serial_stage_s, "s"),
        "exec.shuffle_read_bytes": (total.shuffle_read_bytes, "bytes"),
        "exec.shuffle_write_bytes": (total.shuffle_write_bytes, "bytes"),
        "exec.spill_bytes": (total.spill_bytes, "bytes"),
        "io.scan_bytes": (total.scan_bytes, "bytes"),
        "io.scan_s": (sql.get("scan time", 0.0), "s"),
        "python.run_s": (sql.get("time to run Python workers", 0.0), "s"),
        "python.boot_s": (sql.get("time to start Python workers", 0.0), "s"),
        "python.sent_bytes": (sql.get("data sent to Python workers", 0.0), "bytes"),
        "python.received_bytes": (sql.get("data returned from Python workers", 0.0), "bytes"),
    }
    metrics = {k: (v / n_pass, u) for k, (v, u) in per_pass.items()}
    metrics["exec.core_busy_frac"] = (
        total.task_run_s / (cores * job_s) if job_s else 0.0, "frac")
    metrics["pipelines.address_quads_s"] = (by_op.get("address_quads", 0.0), "s")
    metrics["quads.write_nquads_s"] = (by_op.get("write_nquads", 0.0), "s")
    metrics["quads.read_nquads_s"] = (by_op.get("read_nquads", 0.0), "s")
    # the work tracing adds: tagging calls on the client thread, and the
    # event-log writer's CPU spread over the cores
    metrics["trace.overhead_frac"] = (
        (run.tag_s + trace_cpu_s / cores) / sum(_pass_walls(ops)), "frac")
    return metrics, breakdown


def _canary_s(spark, sf_dir: str, bench) -> float:
    """Median wall of bench.py's frozen canary plan, run warm."""
    times = []
    for _ in range(3):
        t0 = pc()
        bench._canary(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(pc() - t0)
    return median(times)


def _quad_figures(run: Run, index: int) -> dict:
    """Size figures of the pass's N-Quads output (zero for workloads that
    write none)."""
    if index not in run.read_back:
        return {"quads.written": (0, "count"), "quads.bytes_written": (0, "bytes"),
                "quads.dedup_ratio": (0.0, "frac")}
    from cam_etl_spark.pipelines.address import address_quads

    path = run.nquads_path(index)
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )
    written = run.read_back[index][0]
    raw = address_quads(run.spark, run.data_dir, dedup=False).count()
    return {
        "quads.written": (written, "count"),
        "quads.bytes_written": (size, "bytes"),
        "quads.dedup_ratio": (written / raw, "frac"),
    }


def _read_event_logs(log_dir: str) -> dict:
    path = log_dir.removeprefix("file:")
    layers: dict = {}
    for name in sorted(os.listdir(path)):
        for tag, lay in eventlog.parse_file(os.path.join(path, name)).items():
            layers.setdefault(tag, eventlog.Layer()).add(lay)
    if not layers:
        raise RuntimeError(f"no tagged jobs in the event log under {path}")
    return layers


# ------------------------------------------------------------------ main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    stamps = {"start": pc()}
    data_dir = os.path.join(args.work, "data")
    # inputs and oracle hashes come from a low-priority child while the
    # session starts: neither is timed, and run one after the other they
    # would add about 5 s to every run
    inputs = subprocess.Popen([
        sys.executable, "-m", "perfbench.oracle", "--workload", wl.name,
        "--seed", str(args.seed), "--data", data_dir, "--threads", str(cores)])

    import bench  # the repo's headline bench, for its frozen host canary

    from cam_etl_spark.session import get_spark

    t0 = pc()
    spark = get_spark(f"perfbench-{wl.name}")
    session_start_s = pc() - t0
    stamps["session"] = pc()
    if inputs.wait() != 0:
        raise RuntimeError(f"input generation failed (exit {inputs.returncode})")
    with open(os.path.join(data_dir, oracle.EXPECTED), encoding="utf-8") as fh:
        expected = json.load(fh)
    stamps["inputs"] = pc()
    run = Run(wl, args.seed, bool(args.trace), spark, data_dir,
              os.path.join(args.work, "nquads"), expected)
    t1 = pc()
    meter_s = warm_up(run, bench)
    setup_s = session_start_s + pc() - t1
    stamps["warm_up"] = pc()
    rdds_before = _cached_rdds(spark)
    trace_cpu_s = _eventlog_cpu_s(spark) if args.trace else 0.0

    # closed loop, one client: one batch pass, or whole served passes
    # until the window is used up
    ops: list[Op] = []
    index = 0
    w0 = pc()
    while not ops or (wl.served and pc() - w0 < args.seconds):
        ops += run_pass(run, index, check=True)
        index += 1
    window_s = pc() - w0
    stamps["window"] = pc()
    if args.trace:
        trace_cpu_s = _eventlog_cpu_s(spark) - trace_cpu_s

    errors = [f"{op.name}: {op.error}" for op in ops if not op.ok]
    attempted = len(ops)
    if "write_nquads" in wl.ops:
        attempted += 1  # the round trip of the last pass is checked too
        err = check_nquads(run, index - 1)
        if err:
            errors.append(err)
    stamps["checks"] = pc()

    summary = {"workload": wl.name, "seed": args.seed, "sf": wl.sf,
               "failed_frac": len(errors) / attempted, "errors": errors[:10],
               "op_walls_s": op_walls(ops)}
    if args.trace:
        figures = {
            "session.start_s": (session_start_s, "s"),
            "blockmgr.cached_rdds_delta": (_cached_rdds(spark) - rdds_before, "count"),
            "host.canary_s": (_canary_s(spark, data_dir, bench), "s"),
            **_quad_figures(run, index - 1),
        }
        log_dir = spark.sparkContext.getConf().get("spark.eventLog.dir")
        spark.stop()
        metrics, summary["per_query"] = per_layer(
            run, _read_event_logs(log_dir), ops, trace_cpu_s)
        metrics.update(figures)
    else:
        metrics, info = end_to_end(setup_s, ops, window_s, meter_s)
        summary.update(info)
        summary["peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        if run.read_back:
            summary["quads_per_s"] = run.read_back[index - 1][0] / info["wall_s"]
        spark.stop()

    marks = list(stamps.items())
    summary["timeline_s"] = {
        k: round(t - marks[i][1], 2) for i, (k, t) in enumerate(marks[1:])}
    print("summary " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
