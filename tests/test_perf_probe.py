"""``tools/perf_probe.py --threads``: the JVM's CPU split by thread kind,
read from ``/proc/<pid>/task/*/stat``. Starts no Spark session."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "perf_probe",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "perf_probe.py"),
)
perf_probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(perf_probe)

# a C2 compiler thread: utime 1234 and stime 56 ticks (stat fields 14
# and 15), start time 6699990 (field 22)
C2 = (
    "4242 (C2 CompilerThre) S 4200 4200 4100 0 -1 1077936192 113 0 0 0 "
    "1234 56 0 0 20 0 61 0 6699990 2703360 286 18446744073709551615"
)


def test_parse_task_stat_reads_name_and_cpu_ticks():
    assert perf_probe.parse_task_stat(C2) == ((4242, 6699990), "C2 CompilerThre", 1290)
    # a name holding spaces and parentheses is cut at the last ")"
    odd = C2.replace("(C2 CompilerThre)", "(a) (b c)")
    assert perf_probe.parse_task_stat(odd)[1:] == ("a) (b c", 1290)


def test_threads_are_split_by_kind_and_an_exited_thread_still_counts():
    kinds = {
        "C1 CompilerThre": "jit",
        "Executor task l": "tasks",
        "GC Thread#0": "gc",
        "G1 Conc#0": "gc",
        "VM Thread": "gc",
        "Thread-3": "driver",
        "dag-scheduler-e": "driver",
    }
    assert {n: perf_probe.thread_kind(n) for n in kinds} == kinds
    first = {(1, 10): ("C2 CompilerThre", 100), (2, 10): ("Executor task l", 50)}
    # thread 2 exited after its last sample; thread 3 started in the window
    last = {
        (1, 10): ("C2 CompilerThre", 300),
        (2, 10): ("Executor task l", 150),
        (3, 90): ("GC Thread#1", 20),
    }
    assert perf_probe.cpu_by_kind(first, last, 100) == {
        "jit": 2.0, "tasks": 1.0, "gc": 0.2, "driver": 0.0,
    }


def test_thread_cpu_samples_this_process():
    with perf_probe.ThreadCpu(os.getpid(), interval=0.01) as window:
        sum(i * i for i in range(200_000))
    secs = window.seconds()
    assert set(secs) == {"jit", "tasks", "gc", "driver"}
    assert all(v >= 0 for v in secs.values())
