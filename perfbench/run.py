#!/usr/bin/env python3
"""Benchmark launcher: runs one workload of the engine and prints its
metrics, the last stdout line being one JSON object.

    python3 perfbench/run.py --workload etl_nquads --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10   # every workload

Runs from any working directory. Everything the run writes (inputs,
Spark warehouse, Derby log, event logs, shuffle and temp files, N-Quads
output) goes to a scratch directory under the checkout that is removed
afterwards, and every process the run starts is stopped before it exits.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench_work")
CHILD_TIMEOUT_S = 170


def spark_defaults(work: str, trace: bool) -> str:
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir {work}/warehouse",
        # no hsperfdata files under /tmp: the JVM writes only under ``work``
        f"spark.driver.extraJavaOptions -Dderby.system.home={work}/derby"
        f" -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    ]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{work}/events",
            # one plain JSON-lines file, read back after the session stops
            "spark.eventLog.rolling.enabled false",
            "spark.eventLog.compress false",
        ]
    return "\n".join(lines) + "\n"


def child_env(work: str) -> dict:
    env = dict(os.environ)
    env.update({
        "SPARK_CONF_DIR": f"{work}/conf",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # the driver, the JVM and the Python workers it starts all import
        # the engine by this path, whatever the working directory
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    return env


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the child and all it started)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Kill whatever the child left running and wait until it is gone."""
    deadline = time.monotonic() + 20
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} outlived the run")
        time.sleep(0.1)


def run_workload(workload: str, seed: int, seconds: int, trace: bool) -> tuple[int, list[str]]:
    """Run one workload in a child process; returns its exit code and
    stdout lines."""
    work = os.path.join(SCRATCH, f"{workload}-{os.getpid()}")
    for sub in ("conf", "local", "tmp", "events", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    with open(os.path.join(work, "conf", "spark-defaults.conf"), "w") as fh:
        fh.write(spark_defaults(work, trace))
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(int(trace)), "--work", work]
    log_path = os.path.join(work, "stderr.log")
    try:
        with open(log_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=child_env(work), stdout=subprocess.PIPE,
                                    stderr=err, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                out = ""
                print(f"{workload}: timed out after {CHILD_TIMEOUT_S} s", file=sys.stderr)
            finally:
                _stop_session(proc.pid)
                proc.wait()
        if proc.returncode != 0:
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
        return proc.returncode, out.splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(SCRATCH)
        except OSError:
            pass


def _result(lines: list[str]) -> dict | None:
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    if not isinstance(res, dict) or set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--all", action="store_true", help="run every workload in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.all == (args.workload is not None):
        ap.error("give exactly one of --workload NAME and --all")
    # a terminated launcher still stops its child and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "cam_etl_spark", "session.py")):
        print(f"perfbench: no engine (cam_etl_spark) under {ROOT}", file=sys.stderr)
        return 2

    for workload in WORKLOADS if args.all else (args.workload,):
        code, lines = run_workload(workload, args.seed, args.seconds, bool(args.trace))
        res = _result(lines)
        if code != 0 or res is None:
            print(f"perfbench: {workload} produced no result (exit {code})", file=sys.stderr)
            return code or 1
        for line in lines[:-1]:
            print(line)
        print((f"{workload} " if args.all else "") + json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
