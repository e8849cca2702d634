"""Benchmark of the engine's scheduled re-run and near-duplicate jobs.

Usage (from the repository root):

    python3 perfbench/run.py --workload incremental_ticks --seed 1 --seconds 10 --trace 0

One process per run, one Spark driver at ``local[<cores>]``. The run
generates its inputs from the seed (cached under ``.perfbench_cache``,
before any timing), sets a session up, runs the workload's untimed
warm-up operations, then timed operations for ``--seconds`` (at least three),
checking each operation's output. More set-ups follow, so ``setup_s``
is a median of five.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
timed operations twice, in an untraced and then a traced session (spans
around the library's public calls, Spark event log on), and prints the
per-layer metrics plus the tracing overhead. A record line (host, seed,
versions, every operation) precedes the result, which is the last line
of standard output.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

import eventlog
import host
import report
import spans
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_OPS = 3
SETUPS = 5


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    def __init__(self, args: argparse.Namespace, work: str, cache: str) -> None:
        self.args = args
        self.work = work
        self.cores = host.nproc()
        self.tracer = spans.Tracer()
        self.workload = workloads.WORKLOADS[args.workload](cache, work, args.seed)
        self.setups: list[dict] = []
        # The library memoizes dimension loaders by id(session); keeping
        # stopped sessions referenced keeps a new session from reusing an id.
        self.stopped: list = []
        self.sampler = None
        self.facts: dict = {}
        self.probe: dict = {}
        self.steal: list[float] = []  # host CPU steal share per timed window

    def session(self, event_log: bool):
        import pyspark

        from logstash_integration_jdbc_spark import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{self.cores}]", extra_conf=conf)
        dt = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if self.sampler is None:
            self.sampler = host.RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid())
            self.sampler.start()
            self.facts = {
                "master": spark.sparkContext.master,
                "java": spark._jvm.System.getProperty("java.version"),
                "spark": spark.version,
                "pyspark": pyspark.__version__,
            }
        return spark, dt

    def attempt(self, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc(file=sys.stderr)
            return workloads.OpResult(time.perf_counter() - t0, 0, False, {"error": True})

    def segment(self, name: str, traced: bool, seconds: float, warmups: int = 1):
        """Set up a session, then (if ``seconds``) warm-up and timed ops."""
        t0 = time.perf_counter()
        spark, session_s = self.session(event_log=traced)
        warm, timed = [], []
        with spans.instrument(self.tracer) if traced else contextlib.nullcontext():
            self.tracer.bind(spark.sparkContext if traced else None)
            self.tracer.op = f"{name}setup"
            self.workload.setup(spark)
            self.setups.append({"session_s": session_s, "setup_s": time.perf_counter() - t0})
            if seconds > 0:
                for i in range(warmups):
                    self.tracer.op = f"{name}warm{i}"
                    warm.append(self.attempt(lambda: self.workload.warmup(spark, self.tracer)))
                start, jiffies = time.perf_counter(), host.cpu_jiffies()
                while len(timed) < MIN_OPS or time.perf_counter() - start < seconds:
                    self.tracer.op = f"{name}{len(timed)}"
                    timed.append(self.attempt(lambda: self.workload.op(spark, self.tracer)))
                self.steal.append(host.steal_share(jiffies, host.cpu_jiffies()))
                if traced and hasattr(self.workload, "probe"):
                    self.tracer.op = f"{name}probe"
                    self.probe = self.workload.probe(spark, self.tracer)
            self.tracer.bind(None)
        spark.stop()
        self.stopped.append(spark)
        return warm, timed

    def execute(self) -> tuple[dict, dict]:
        load_before = host.loadavg()
        seconds = self.args.seconds
        if self.args.trace:
            seconds /= 3  # shared by the three sessions below
        warm, timed = self.segment("a", traced=False, seconds=seconds,
                                   warmups=self.workload.cold_warmups)
        ops = warm + timed
        if self.args.trace:
            # untraced sessions before and after the traced one, so JVM
            # warm-up does not masquerade as tracing overhead
            twarm, traced = self.segment("b", traced=True, seconds=seconds)
            cwarm, ctimed = self.segment("c", traced=False, seconds=seconds)
            ops += twarm + traced + cwarm + ctimed
            untraced = timed + ctimed
        while len(self.setups) < SETUPS:
            self.segment(f"s{len(self.setups)}", traced=False, seconds=0)
        self.sampler.stop()

        failed = sum(not o.ok for o in ops)
        walls = [o.wall_s for o in timed]
        tail = stats.tail(walls)
        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "host": {"nproc": self.cores, "loadavg_before": load_before,
                     "loadavg_after": host.loadavg(), "cpu_steal_share": self.steal,
                     **self.facts,
                     "python": sys.version.split()[0], "commit": host.git_commit(ROOT)},
            "error_rate": failed / len(ops),
            "op_tail_s": None if tail is None else {"percentile": tail[0], "value": tail[1]},
            "warmup_s": [o.wall_s for o in warm],
            "peak_rss_mb": {"jvm": self.sampler.peak_root_bytes / 2**20,
                            "workers": self.sampler.peak_children_bytes / 2**20},
            "setups": self.setups,
            "ops": [{"wall_s": o.wall_s, "rows": o.rows, "ok": o.ok,
                     **{k: v for k, v in o.detail.items() if k != "metrics"}} for o in ops],
        }
        if not self.args.trace:
            metrics = {
                "setup_s": (stats.median([s["setup_s"] for s in self.setups]), "s"),
                "op_p50_s": (stats.median(walls), "s"),
                "rows_per_s": (sum(o.rows for o in timed) / sum(walls), "1/s"),
                "peak_rss_mb": (self.sampler.peak_bytes / 2**20, "MB"),
            }
        else:
            logs = glob.glob(os.path.join(self.work, "eventlog", "*"))
            rolls = eventlog.read(logs[0])
            per_op = [report.op_metrics(self.tracer.spans, rolls, f"b{i}", o.detail)
                      for i, o in enumerate(traced) if o.ok]
            values = {k: stats.median([m[k] for m in per_op]) for k in per_op[0]}
            values.update(report.setup_metrics(self.tracer.spans, "bsetup"))
            values["session.start_s"] = stats.median([s["session_s"] for s in self.setups])
            values["setup.warmup_s"] = warm[0].wall_s
            for k, v in self.probe.items():
                values[f"dedup.{k}"] = v
            values["trace.op_p50_s"] = stats.median([o.wall_s for o in traced])
            values["trace.untraced_op_p50_s"] = stats.median([o.wall_s for o in untraced])
            values["trace.overhead_s"] = values["trace.op_p50_s"] - values["trace.untraced_op_p50_s"]
            metrics = {k: (values[k], unit) for k, unit in report.PER_LAYER.items()}
            record["layers_per_op"] = per_op
            t0 = self.tracer.spans[0].start
            record["spans"] = [{"name": x.name, "op": x.op, "start_s": x.start - t0,
                                "end_s": x.end - t0, "parent": x.parent}
                               for x in self.tracer.spans if x.end is not None]
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if not all(math.isfinite(m["value"]) for m in result["metrics"].values()):
            raise RuntimeError(f"non-finite metric in {result['metrics']}")
        return record, result


def stop_jvm() -> None:
    """Shut the driver JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import logstash_integration_jdbc_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library under {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run and the JVM it starts write stays in the checkout
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        record, result = Bench(args, work, cache).execute()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
