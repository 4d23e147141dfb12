"""Per-task CPU of Spark's Python workers and of the JVM, from /proc.

Runs ``n_jobs`` trivial 4-task ``mapInPandas`` jobs on ``local[4]``:
the narrow ``parse_events`` over 4 one-row pages with empty text, so
every task unpickles a package UDF and parses nothing.  It reads the
CPU ticks (user + system, plus reaped children) of the JVM and of the
Python workers before and after the timed jobs, and prints both per
task, with the host's CPU steal over the same window.  A fixed cost
that each task pays shows up here as a number, where a throughput
benchmark averages it into the data work.

Usage: ``python tools/worker_cpu.py [n_jobs]`` (default 20).  One
untimed job first starts the workers.  Linux only.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.proctree import classify, cpu_ticks, descendants  # noqa: E402

TASKS = 4


def _ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid``, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in s[s.rindex(")") + 2 :].split()[11:15])


def cpu_seconds() -> dict[str, float]:
    """CPU seconds so far of this process's JVM and Python workers."""
    root = os.getpid()
    acc = {"jvm": 0, "workers": 0}
    for pid, kind in classify(root, descendants(root)).items():
        if kind in acc:
            acc[kind] += _ticks(pid)
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v / hz for k, v in acc.items()}


def main(n_jobs: int = 20) -> dict:
    os.environ["PYTHONPATH"] = ROOT  # the Python workers import the package
    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.session import get_spark

    spark = get_spark(master=f"local[{TASKS}]", shuffle_partitions=TASKS)
    try:
        pages = spark.range(0, TASKS, 1, TASKS).selectExpr(
            "concat('https://logs.example/p/', id) AS url",
            "timestamp'2024-01-01 00:00:00' AS warc_ts",
            "'' AS text",
        )
        job = parse_events(pages, require_marker=False)
        job.collect()  # untimed: starts the workers
        cpu0, (steal0, total0) = cpu_seconds(), cpu_ticks()
        t0 = time.perf_counter()
        for _ in range(n_jobs):
            job.collect()
        wall = time.perf_counter() - t0
        cpu1, (steal1, total1) = cpu_seconds(), cpu_ticks()
    finally:
        spark.stop()
    tasks = n_jobs * TASKS
    return {
        "jobs": n_jobs,
        "wall_per_job_s": round(wall / n_jobs, 4),
        "python_workers_cpu_per_task_s": round(
            (cpu1["workers"] - cpu0["workers"]) / tasks, 4
        ),
        "jvm_cpu_per_task_s": round((cpu1["jvm"] - cpu0["jvm"]) / tasks, 4),
        "steal_pct": round(
            100 * (steal1 - steal0) / max(1, total1 - total0), 2
        ),
    }


if __name__ == "__main__":
    print(json.dumps(main(*(int(a) for a in sys.argv[1:2]))))
