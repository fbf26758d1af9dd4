#!/usr/bin/env python
"""Per-query perf probe (optimization rounds, guide §1).

For each named registry query: capture ``explain("formatted")`` to
``plans/<tag>/<name>_<suffix>.txt`` and time the computation against the
noop sink (guide §1.4 — eager full-column materialization, no result
transfer), min-of-N, with the job labelled in the UI.

Usage::

    python tools/perf_probe.py [--queries a,b,c | --top] \
        [--suffix before|after] [--passes 3] [--no-explain] [--ui] [--threads]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line: {"noop_sec": {name: s}, "sf_dir": ...}. With
``--threads`` the line also carries ``jvm_thread_cpu_s``: per query, the
JVM's CPU-seconds over its timed passes split into JIT compiler threads,
executor task threads, GC (and VM safepoint) threads and everything else
(py4j and the driver), read from ``/proc/<jvm pid>/task/*/stat`` (Linux).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import threading
import time

# the dozen most expensive recorded entries (BENCH_r10 / BASELINE r11)
TOP = [
    "dd15_ingest_10pct_delta",  # bench-harness query, probed via bench fns
    "sim11_knn_graph_auto",
    "dd16_embedding_dups_auto",
    "dd7_dedup_groups",
    "px6_neardup_aware_curation",
    "dd5_simhash",
    "px13_exact_substring_spans",
    "dd4_minhash_lsh_pairs",
    "tx10_tfidf_top_terms",
    "e11_rank_distributions",
    "sim12_knn_pq",
    "d3_tpch_q1_pricing_summary",
    "px11_training_manifest",
]


def parse_task_stat(line: str) -> tuple[tuple[int, int], str, int]:
    """((thread id, start time), thread name, user + system CPU ticks) of
    one ``/proc/<pid>/task/<tid>/stat`` line. The name sits in
    parentheses and may itself hold spaces or parentheses, so the fields
    are counted from the last ``)``; start time keeps a reused thread id
    apart from the thread that held it before."""
    head, _, rest = line.rpartition(")")
    tid, _, name = head.partition(" (")
    f = rest.split()  # f[0] is stat field 3 (state)
    return (int(tid), int(f[19])), name, int(f[11]) + int(f[12])


def thread_kind(name: str) -> str:
    """The CPU share a JVM thread's (15-character) name belongs to."""
    if "CompilerThre" in name:  # "C1 CompilerThre", "C2 CompilerThre"
        return "jit"
    if name.startswith("Executor task"):
        return "tasks"
    if name.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return "driver"  # py4j connections, the DAG scheduler, listeners, ...


def cpu_by_kind(first: dict, last: dict, ticks_per_s: float) -> dict[str, float]:
    """CPU-seconds per thread kind between two samples (key -> (name,
    ticks)); a thread absent from ``first`` started inside the window."""
    out = dict.fromkeys(("jit", "tasks", "gc", "driver"), 0.0)
    for key, (name, ticks) in last.items():
        out[thread_kind(name)] += (ticks - first.get(key, (name, 0))[1]) / ticks_per_s
    return {k: round(v, 3) for k, v in out.items()}


class ThreadCpu:
    """CPU of one process's threads over a ``with`` block, by kind.
    Samples every ``interval`` seconds and keeps each thread's last
    reading, so a thread that exits inside the window still counts up to
    its last sample (a start/end difference keyed by name loses it)."""

    def __init__(self, pid: int, interval: float = 0.05):
        self.dir = f"/proc/{pid}/task"
        self.interval = interval
        self._stop = threading.Event()

    def _sample(self) -> dict:
        out = {}
        for tid in os.listdir(self.dir):
            try:
                with open(os.path.join(self.dir, tid, "stat")) as fh:
                    key, name, ticks = parse_task_stat(fh.read())
            except (FileNotFoundError, ProcessLookupError):
                continue  # exited between the listing and the read
            out[key] = (name, ticks)
        return out

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.last.update(self._sample())

    def __enter__(self) -> "ThreadCpu":
        self.first = self._sample()
        self.last = dict(self.first)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.last.update(self._sample())

    def seconds(self) -> dict[str, float]:
        return cpu_by_kind(self.first, self.last, os.sysconf("SC_CLK_TCK"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--top", action="store_true")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--no-explain", action="store_true")
    ap.add_argument("--plans-dir", default="plans/r11")
    ap.add_argument("--ui", action="store_true")
    ap.add_argument("--threads", action="store_true")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from sfguide_getting_started_openflow_postgresql_cdc_spark.session import (
        get_spark,
    )

    extra = {"spark.ui.enabled": "true"} if args.ui else None
    spark = get_spark(app_name="perf_probe", extra_conf=extra)

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators import (
        QUERIES,
    )

    names = [q for q in args.queries.split(",") if q]
    if args.top:
        names = [n for n in TOP if n in QUERIES]
    if not names:
        names = [n for n in TOP if n in QUERIES]

    plans_dir = os.path.join(repo, args.plans_dir)
    os.makedirs(plans_dir, exist_ok=True)

    # warm-up (bench.py protocol)
    QUERIES["b2_select_star"](spark, sf_dir).collect()
    QUERIES["c5_join_derived_table"](spark, sf_dir).collect()

    timings: dict[str, float] = {}
    thread_cpu: dict[str, dict[str, float]] = {}
    if args.threads:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        if not args.no_explain:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())
        sc = spark.sparkContext
        if args.passes <= 0:
            print(f"  {name}: plan captured", file=sys.stderr)
            continue
        best = None
        window = ThreadCpu(jvm_pid) if args.threads else contextlib.nullcontext()
        with window:
            for i in range(args.passes):
                sc.setJobDescription(f"{name} noop pass {i}")
                # fresh builder per pass INSIDE the timed region (bench.py
                # parity: operators like dd7 run driver-coordinated jobs at
                # build time); memoized upstreams (dedup shingle memo etc.)
                # stay warm exactly as in bench.py's min-of-3
                t0 = time.perf_counter()
                d = QUERIES[name](spark, sf_dir)
                d.write.format("noop").mode("overwrite").save()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
        sc.setJobDescription(None)
        if args.threads:
            thread_cpu[name] = window.seconds()
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]} s", file=sys.stderr)

    out = {"noop_sec": timings, "sf_dir": sf_dir}
    if args.threads:
        out["jvm_thread_cpu_s"] = thread_cpu
    print(json.dumps(out))


if __name__ == "__main__":
    main()
