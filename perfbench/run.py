"""Lift benchmark: warm wall and CPU time per lift on YAML workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload incremental_upsert --seed 1 --seconds 8 --trace 0

The run generates its inputs from ``--seed``, starts one Spark session
through ``getl_spark.get_spark``, runs untimed warm-up rounds, then
repeats whole rounds of lifts until ``--seconds`` have passed, checking
every lift's outputs. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run is instrumented (spans around each layer, Spark event log) and
reports the per-layer metrics instead. Lines before the last one
describe host noise (steal, load average) and per-lift figures.
"""

from __future__ import annotations

import argparse
import atexit
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

import procstat  # noqa: E402
import workloads  # noqa: E402

MAX_CPUS = 4
WORK = os.path.join(ROOT, ".perfbench_work")


def _session_cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def _files_created(root: str, before: dict) -> dict:
    """Files under ``root`` that are new or rewritten since ``before``."""
    now = _snapshot(root)
    return {p: st for p, st in now.items() if before.get(p) != st}


def _snapshot(root: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out[path] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def unstolen(wall: float, cpu: float, steal: float) -> float:
    """Wall time with host steal taken out.

    The busy CPUs asked the host for ``cpu + steal`` seconds and were
    granted ``cpu``; at the same concurrency the work would have taken
    this long had nothing been stolen."""
    return wall * cpu / (cpu + steal) if cpu > 0 else wall


def lift_mean(rounds: list, key: str) -> float:
    """Mean over the run's timed lifts.

    Every run makes the same whole rounds, so each lift of a round
    weighs the same in every run. The least value across rounds would
    not be steadier: warm lifts still get cheaper by about a tenth a
    round, so the least is nearly always the last round's, and what
    moves a run's figures is how busy the host is over the whole run,
    not a burst in one round."""
    return statistics.fmean(x[key] for r in rounds for x in r)


def _clear_stale_work() -> None:
    """Remove work directories left by runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


class Runner:
    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.gateway_proc = None
        self.tracer = None

    # ----------------------------------------------------------- session
    def start(self) -> float:
        """Start Spark and warm up; returns set-up seconds, steal taken out."""
        cpus = _session_cpus()
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = local
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Dderby.system.home={local}",
        }
        # inputs are the benchmark's own work, made before set-up starts
        self.workload = workloads.WORKLOADS[self.args.workload](
            self.args.seed, os.path.join(self.work, "w")
        )
        cpu0 = procstat.sample_tree()
        steal0 = procstat.steal_s()
        t0 = time.perf_counter()
        # importing the program is part of set-up: a later change that
        # moves work into import time shows here
        from getl_spark import get_spark, lift

        if self.args.trace:
            import spans

            self.tracer = spans.Tracer(os.path.join(self.work, "eventlog"))
            conf.update(self.tracer.spark_conf())
        t_session = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=conf)
        self.session_s = time.perf_counter() - t_session
        self.lift = lift
        gateway = self.spark.sparkContext._gateway
        self.gateway_proc = getattr(gateway, "proc", None)
        if self.tracer:
            self.tracer.install(self.spark)
        self.warmup = [
            self._run_op(op, timed=False)
            for _ in range(self.workload.warmup_rounds)
            for op in self.workload.round()
        ]
        wall = time.perf_counter() - t0
        cpu = procstat.sample_tree().minus(cpu0).total_s
        self.setup_wall_s = wall
        return unstolen(wall, cpu, procstat.steal_s() - steal0)

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its workers have ended."""
        if self.spark is None:
            return
        pids = procstat.descendants(os.getpid())
        self.spark.stop()
        proc = self.gateway_proc
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway exits when its stdin closes
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
        self.spark = None

    # --------------------------------------------------------------- ops
    def _run_op(self, op, timed: bool) -> dict:
        if op.prepare:
            op.prepare()
        root = self.workload.output_root()
        before = _snapshot(root)
        if self.tracer:
            self.tracer.begin_lift(timed)
        cpu0 = procstat.sample_tree()
        steal0 = procstat.steal_s()
        t0 = time.perf_counter()
        try:
            result, raised = op.run(self.spark, self.lift), None
        except Exception as exc:  # a lift that raises is a failed operation
            result, raised = None, exc
        wall = time.perf_counter() - t0
        cpu = procstat.sample_tree().minus(cpu0)
        steal = procstat.steal_s() - steal0
        created = _files_created(root, before)
        if self.tracer:
            self.tracer.end_lift(created)
        checked = False
        if raised is not None:
            print(f"# {self.args.workload} {op.label} raised {raised!r}", file=sys.stderr)
        else:
            try:
                checked = bool(op.check(result))
            except Exception as exc:  # a check that cannot read the output fails
                print(f"# check of {op.label} raised {exc!r}", file=sys.stderr)
            if not checked:
                print(f"# check failed: {self.args.workload} {op.label}", file=sys.stderr)
        return {
            "wall": wall,
            "lift_s": unstolen(wall, cpu.total_s, steal),
            "cpu": cpu.total_s,
            "python_cpu": cpu.python_s,
            "jvm_cpu": cpu.jvm_s,
            "worker_cpu": cpu.worker_s,
            "rss_mb": cpu.rss_mb,
            "written_mb": sum(st[0] for st in created.values()) / 1e6,
            "steal": steal,
            "load": procstat.loadavg(),
            "raised": raised is not None,
            "ok": checked,
        }

    def measure(self) -> list:
        rounds = []
        deadline = time.perf_counter() + self.args.seconds
        while len(rounds) < self.workload.timed_rounds or time.perf_counter() < deadline:
            rounds.append([self._run_op(op, timed=True) for op in self.workload.round()])
        return rounds


def _host_line(rounds: list, warmup: list, setup_wall_s: float) -> dict:
    lifts = [x for r in rounds for x in r]
    return {
        "setup_wall_s": round(setup_wall_s, 3),
        "warmup_wall_s": [round(x["wall"], 4) for x in warmup],
        "warmup_cpu_s": [round(x["cpu"], 3) for x in warmup],
        "lifts": len(lifts),
        "rounds": len(rounds),
        "steal_s_total": round(sum(x["steal"] for x in lifts), 3),
        "steal_s": [round(x["steal"], 3) for x in lifts],
        "loadavg_max": max(x["load"] for x in lifts),
        "wall_s": [round(x["wall"], 4) for x in lifts],
        "cpu_s": [round(x["cpu"], 3) for x in lifts],
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description="getl_spark lift benchmark")
    parser.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    runner = Runner(args)
    _clear_stale_work()
    # registered before pyspark's own exit handlers, so it runs after them
    atexit.register(shutil.rmtree, runner.work, ignore_errors=True)
    try:
        setup_s = runner.start()
        rounds = runner.measure()
    finally:
        runner.stop()
        if getattr(runner, "workload", None) is not None:
            runner.workload.close()
    lifts = [x for r in rounds for x in r]
    failed = sum(not x["ok"] for x in lifts)
    wrong = sum(not x["ok"] and not x["raised"] for x in lifts)
    print("# host " + json.dumps(_host_line(rounds, runner.warmup, runner.setup_wall_s)))
    if args.trace:
        metrics = runner.tracer.report(
            rounds, runner.session_s, lift_mean, runner.workload.sink_paths()
        )
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "lift_s": {"value": lift_mean(rounds, "lift_s"), "unit": "s"},
            "lift_cpu_s": {"value": lift_mean(rounds, "cpu"), "unit": "s"},
            "written_mb": {"value": lift_mean(rounds, "written_mb"), "unit": "MB"},
        }
    shutil.rmtree(runner.work, ignore_errors=True)
    print(json.dumps({"correct": wrong == 0, "attempted": len(lifts), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
