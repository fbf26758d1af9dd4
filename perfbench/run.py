"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload clinic --seed 1 --seconds 5 --trace 0

Run from the repository root. The program under test is imported from the
parent directory of this file. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` installs the layer hooks (hooks.py) and prints the
per-layer metrics, and writes spans and the per-layer self-time table to
``perfbench/out/``. Every run works in a scratch directory under
``perfbench/.work/`` that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402
from spans import Tracer, median, summary  # noqa: E402

WORKLOADS = ("clinic", "corpus")


def _heap() -> str:
    """A fixed driver heap that fits the machine: 3 GiB, or a quarter of
    physical memory on smaller machines."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(3 * 1024, total // 4 // 2**20)}m"


class Run:
    """What a workload needs: the session, the tracer, scratch paths, the
    operation ledger and the timed-phase clock."""

    def __init__(self, args, spark, workdir: str):
        import hooks

        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.spark = spark
        self.workdir = workdir
        self.tracer = Tracer(self.traced)
        self.counters = hooks.SparkCounters(spark)
        self.py4j = hooks.Py4jCounter(spark) if self.traced else None
        if self.traced:
            hooks.install(self.tracer, spark, self.counters)
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.cpu_samples: dict[str, list[float]] = {}
        self.cpu_s = 0.0
        self.context: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def op(self, kind: str, fn, *args):
        """Run one operation: count it, trace it, time it, take the process
        tree's CPU-seconds over it, and record its Spark jobs and tasks and
        the cached bytes after it. Returns (seconds, result); a failure is
        counted and re-raised."""
        self.attempted[kind] += 1
        mark = self.counters.mark() if self.traced else None
        cpu0 = procstat.tree_cpu_s()
        try:
            with self.tracer.operation(kind):
                t0 = time.perf_counter()
                out = fn(*args)
                secs = time.perf_counter() - t0
                if self.traced:
                    jobs, tasks = self.counters.since(mark)
                    self.tracer.count("spark.jobs", jobs)
                    self.tracer.count("spark.tasks", tasks)
                    self.tracer.count("cache.cached_mb", self.counters.cached_mb())
        except Exception as e:
            self.failed[kind] += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            raise
        self.samples.setdefault(kind, []).append(secs)
        self.cpu_samples.setdefault(kind, []).append(procstat.tree_cpu_s() - cpu0)
        return secs, out

    def timed_phase(self, phase_fn) -> None:
        """Run the timed phase: a fixed list of operations, the same on every
        run, so that every commit is measured on the same work. It is sized
        to last longer than ``--seconds``; a phase that ends sooner is
        reported on stderr. Adds the process tree's CPU-seconds to
        ``cpu_s``."""
        c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        phase_fn()
        self.cpu_s += procstat.tree_cpu_s() - c0
        self.timed_s = time.perf_counter() - t0
        if self.timed_s < self.seconds:
            print(f"the timed phase took {self.timed_s:.1f} s, less than --seconds "
                  f"{self.seconds}", file=sys.stderr)

    def layer(self, kind: str, name: str, spans: bool = True) -> float:
        return median(self.tracer.per_op(kind, name, spans))


def _status_mb(field: str, jvm_pid: int) -> float:
    """``field`` of /proc/<pid>/status (in kB) summed over the Python
    process and the JVM, in MiB."""
    total = 0
    for pid in (os.getpid(), jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import sfguide_getting_started_openflow_postgresql_cdc_spark as program
    except ImportError as e:
        print(f"the program under test is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print(f"the program under test is not in {ROOT}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    cpus = str(len(os.sched_getaffinity(0)))
    workdir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.environ.update({
        "TZ": "UTC", "SPARK_GRAFT_CPUS": cpus, "SPARK_DRIVER_MEMORY": _heap(),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
    })
    time.tzset()
    from sfguide_getting_started_openflow_postgresql_cdc_spark.session import get_spark

    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    except BaseException:
        shutil.rmtree(workdir, ignore_errors=True)
        raise
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    steal0 = procstat.host_steal_s()
    result = None
    try:
        run = Run(args, spark, workdir)
        workload = __import__(args.workload)
        try:
            res = workload.run(run)
        except Exception as e:  # a failed operation ends the run's workload
            if not run.errors:
                run.errors.append(f"{type(e).__name__}: {e}"[:500])
            res = {"problems": [], "e2e": {}, "layers": {}}
        metrics = ({k: res["layers"].get(k, 0.0) for k in LAYER_METRICS}
                   if run.traced else res["e2e"])
        problems = res["problems"]
        result = {
            "correct": not problems and not run.errors,
            "attempted": sum(run.attempted.values()),
            "failed": sum(run.failed.values()),
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        }
        context = {
            "workload": args.workload, "seed": args.seed, "cpus": int(cpus),
            "attempted_by_type": dict(run.attempted), "failed_by_type": dict(run.failed),
            "timed_s": round(getattr(run, "timed_s", 0.0), 2),
            "timed_cpu_s": round(run.cpu_s, 2),
            "host_steal_s": round(procstat.host_steal_s() - steal0, 2),
            "summary": {k: summary(v) for k, v in run.samples.items()},
            "samples": {k: [round(x, 3) for x in v] for k, v in run.samples.items()},
            "cpu_samples": {k: [round(x, 2) for x in v] for k, v in run.cpu_samples.items()},
            **run.context,
            "peak_rss_mb": round(_status_mb("VmHWM", jvm.pid), 1),
            "problems": problems[:10], "errors": run.errors[:5],
            "wall_s": round(time.perf_counter() - t_start, 1),
        }
        if run.traced:
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            stem = os.path.join(out, f"trace_{args.workload}_{args.seed}")
            run.tracer.dump(stem + ".json", {"context": context, "metrics": metrics})
            with open(stem + "_layers.txt", "w") as f:
                f.write(format_layers(run.tracer.layer_table()))
        print(json.dumps(context))
    finally:
        try:
            spark.stop()
            gateway.shutdown()
            jvm.stdin.close()
            jvm.wait(timeout=60)
        except Exception:
            jvm.kill()
            jvm.wait()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def format_layers(table: dict[str, dict[str, float]]) -> str:
    """Per operation type: each span's median self time per operation."""
    lines = []
    for kind, names in table.items():
        lines.append(f"{kind}:")
        for name, secs in sorted(names.items(), key=lambda kv: -kv[1]):
            lines.append(f"  {name:<28} {secs:9.3f} s")
    return "\n".join(lines) + "\n"


UNITS = {
    "setup_s": "s", "op_p50_s": "s", "read_pass_s": "s",
    "op_cpu_s": "s", "state_mb": "MB",
    "cdc.batch_s": "s", "cdc.merge_s": "s", "cdc.journal_s": "s", "cdc.stream_s": "s",
    "store.write_s": "s", "store.rows_rewritten_per_event": "count",
    "store.files_per_sync": "count", "semantic.build_s": "s", "semantic.exec_s": "s",
    "operators.build_s": "s", "operators.exec_s": "s", "operators.py4j_calls": "count",
    "sources.load_table_s": "s", "sources.load_table_jobs": "count",
    "dedup_index.ingest_s": "s", "dedup_index.files": "count",
    "curation.ingest_s": "s", "curation.ingest_many_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "cache.cached_mb": "MB",
}
LAYER_METRICS = [k for k in UNITS if "." in k]

if __name__ == "__main__":
    sys.exit(main())
