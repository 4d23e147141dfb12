"""Benchmark of the gclog-parser-spark pipeline on one host.

Usage, from the repository root:

    python3 perfbench/run.py --workload dense_small_logs --seed 1 \\
        --seconds 10 --trace 0

Generates the workload's pages from ``--seed`` (once per seed, under
``.bench_build/perfbench``), runs the passes in a fresh Spark process at
``local[4]``, checks every pass's output, and prints each metric with its
unit; the last line of stdout is one JSON object.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics and writes a
report with each layer's share of the pass wall.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"
CHILD_DEADLINE_S = 150.0  # a run must end within 180 s

#: the end-to-end metrics this file computes; their units, and every
#: per-layer metric's name and unit, come from BENCHMARK.json
E2E_METRICS = ("setup_s", "wall_p50_s", "wall_tail_s", "pages_per_s",
               "events_per_s", "peak_rss_mb", "ok_ratio")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_metric_units(spec) -> tuple:
    """({e2e name: unit}, {per-layer name: unit}) from BENCHMARK.json,
    after checking that its workloads and metrics are the ones this
    benchmark computes."""
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        fail(f"{path.name} is missing")
    doc = json.loads(path.read_text())
    e2e = {m["name"]: m["unit"] for m in doc["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in doc["per_layer"]}
    for what, listed, computed in (
        ("workloads", {w["name"] for w in doc["workloads"]}, spec.WORKLOADS),
        ("end_to_end metrics", e2e, E2E_METRICS),
        ("per_layer metrics", layer, spec.LAYER_METRICS),
    ):
        if set(listed) != set(computed):
            fail(f"BENCHMARK.json {what} differ from the benchmark's: "
                 f"only listed {sorted(set(listed) - set(computed))}, "
                 f"only computed {sorted(set(computed) - set(listed))}")
    return e2e, layer


class Child:
    """One worker process: its setup time, its result, and the peak RSS
    of its process tree in each measured window (the timed passes; in a
    traced run also the job)."""

    def __init__(self, argv, slots: int, log_path: Path):
        from perfbench.proctree import RssSampler
        from perfbench.spec import DRIVER_MEM

        env = dict(os.environ)
        env.update(
            PYTHONPATH=str(ROOT),  # the Python workers import the package
            SPARK_GRAFT_CPUS=str(slots),
            SPARK_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
            TMPDIR=str(WORK / "tmp"),
        )
        self.log = open(log_path, "ab")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", *argv],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=self.log,
            start_new_session=True, text=True,
        )
        self.sampler = RssSampler(self.proc.pid)
        self.sampler.start()
        self.events: list = []  # (protocol line, seconds since spawn)
        self.setup_s = None
        self.ready = None
        self.result = None

    def wait(self) -> None:
        timer = threading.Timer(CHILD_DEADLINE_S, self.kill)
        timer.start()
        try:
            for line in self.proc.stdout:
                tag, _, payload = line.strip().partition(" ")
                if tag != "PERFBENCH":
                    continue
                kind, _, body = payload.partition(" ")
                self.events.append((kind, time.perf_counter() - self.t_spawn))
                if kind == "READY":
                    self.setup_s = time.perf_counter() - self.t_spawn
                    self.ready = json.loads(body)
                    self.sampler.remember()
                elif kind == "TIMED_BEGIN":
                    self.sampler.window = "passes"
                elif kind == "JOB_BEGIN":
                    self.sampler.window = "job"
                elif kind in ("TIMED_END", "JOB_END"):
                    self.sampler.window = None
                elif kind == "RESULT":
                    self.result = json.loads(body)
                    self.sampler.remember()
            self.proc.wait()
            self.events.append(("EXIT", time.perf_counter() - self.t_spawn))
        finally:
            timer.cancel()
            self.sampler.stop()
            self._reap()
            self.log.close()
        self.events.append(("REAPED", time.perf_counter() - self.t_spawn))
        print("phases: " + ", ".join(f"{k} {t:.1f}s" for k, t in self.events),
              file=sys.stderr)
        if self.proc.returncode != 0 or self.result is None:
            fail(f"worker exited with {self.proc.returncode}; "
                 f"see {self.log.name}")

    def kill(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def _reap(self) -> None:
        """Wait until every process of the tree has ended (the JVM exits
        after its driver); kill what is left after a grace period."""
        from perfbench.proctree import alive

        pids = self.sampler.seen - {self.proc.pid}

        def wait_gone(seconds: float) -> None:
            deadline = time.monotonic() + seconds
            while any(alive(p) for p in pids) and time.monotonic() < deadline:
                time.sleep(0.1)

        wait_gone(15)
        self.kill()
        for p in pids:
            if alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        wait_gone(5)


def tail(walls: list) -> tuple:
    """(value, percentile, samples beyond it) of the highest percentile
    of ``walls`` that has at least TAIL_BEYOND samples beyond it."""
    from perfbench.spec import TAIL_BEYOND

    s = sorted(walls)
    k = max(len(s) - TAIL_BEYOND - 1, 0)
    return s[k], 100.0 * (k + 1) / len(s), len(s) - 1 - k


def pass_walls(res: dict, kind: str) -> list:
    """Walls of the passes not stolen from, topped up with the least
    stolen-from passes when there are too few of them."""
    from perfbench.spec import STEAL_MAX, TAIL_BEYOND

    walls = list(res["walls"][kind])
    stolen = sorted(res["stolen"][kind])
    fill = [w for _, w in stolen[:max(TAIL_BEYOND + 1 - len(walls), 0)]]
    print(f"{kind} passes: {len(walls)} used, {len(stolen)} with CPU steal "
          f"> {STEAL_MAX:.0%}, {len(fill)} of those kept to fill in")
    print(f"{kind} pass walls (s): "
          + " ".join(f"{w:.3f}" for w in walls + fill))
    return walls + fill


def end_to_end(res: dict, child: Child, expected: dict, units: dict) -> dict:
    walls = pass_walls(res, "untraced")
    p50 = statistics.median(walls)
    tail_v, tail_pct, beyond = tail(walls)
    print(f"wall_tail_s is p{tail_pct:.0f} of {len(walls)} passes "
          f"({beyond} beyond it)")
    values = {
        "setup_s": child.setup_s,
        "wall_p50_s": p50,
        "wall_tail_s": tail_v,
        "pages_per_s": expected["pages"] / p50,
        "events_per_s": statistics.median(res["events"]) / p50,
        "peak_rss_mb": child.sampler.peak_total["passes"] / 2**20,
        "ok_ratio": (res["attempted"] - res["failed"]) / res["attempted"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def spread(walls: list) -> float:
    """Interquartile range of ``walls`` as a share of their median."""
    q = statistics.quantiles(walls, n=4)
    return (q[2] - q[0]) / statistics.median(walls)


def per_layer(res: dict, child: Child, workload: str, units: dict) -> tuple:
    """Per-layer metrics, plus the report rows with each metric's layer,
    the end-to-end metric it should move, and its share of the wall."""
    from perfbench.spec import LAYER_METRICS, NO_SHARE

    untraced_walls = pass_walls(res, "untraced")
    traced_walls = pass_walls(res, "traced")
    untraced = statistics.median(untraced_walls)
    traced = statistics.median(traced_walls)
    rss = {w: {k: v / 2**20 for k, v in kinds.items()}
           for w, kinds in child.sampler.peak_by_kind.items()}
    values = dict(res["layers"])
    values.update({
        "session.start_s": child.setup_s - child.ready["worker_warm_s"],
        "session.worker_warm_s": child.ready["worker_warm_s"],
        "rss.jvm_mb": rss["job"].get("jvm", 0.0),
        "rss.workers_mb": rss["job"].get("workers", 0.0),
        "trace.wall_p50_untraced_s": untraced,
        "trace.wall_p50_traced_s": traced,
        "trace.overhead_s": traced - untraced,
    })
    denominators = {"setup_s": child.setup_s,
                    "job.wall_s": values["job.wall_s"]}
    rows = []
    for name, (layer, moves, on) in LAYER_METRICS.items():
        unit = units[name]
        share = None
        if unit == "s" and name not in NO_SHARE:
            share = values[name] / denominators.get(moves, untraced)
        rows.append({"metric": name, "value": values[name], "unit": unit,
                     "layer": layer, "moves": moves, "workload": on,
                     "share_of_wall": share})
    report = {
        "workload": workload,
        "pass_wall_p50_untraced_s": untraced,
        "pass_wall_p50_traced_s": traced,
        "tracing_overhead_s": traced - untraced,
        "pass_wall_spread": {"untraced": spread(untraced_walls),
                             "traced": spread(traced_walls)},
        "layer_self_shares": self_shares(values, untraced,
                                         plan_build_s(res["spans"])),
        "peak_rss_mb_by_window": rss,
        "metrics": rows,
        "spans": res["spans"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}, \
        report


def plan_build_s(spans: list) -> float:
    """Median, over the traced passes, of the driver time spent building
    the pass's plan (every span of the pass before its action)."""
    built: dict = {}
    for s in spans:
        parent = s["parent"]
        if parent is not None and spans[parent]["name"] == "pass" \
                and not s["name"].startswith("action."):
            built[parent] = built.get(parent, 0.0) + s["end"] - s["start"]
    return statistics.median(built.values())


def self_shares(v: dict, wall: float, plan_build: float) -> dict:
    """Each read-pass layer's share of the untraced pass wall, from the
    differences between actions that stop after successive layers and
    the traced passes' plan-building spans."""
    python = max(v["parse.wall_s"] - v["arrow.passthrough_wall_s"], 0.0)
    body = v["parse.udf_body_s"] or 1.0
    shares = {
        "driver: plan build": plan_build,
        "scan+extract": v["extract.wall_s"],
        "arrow hop": max(v["arrow.passthrough_wall_s"] - v["extract.wall_s"],
                         0.0),
        "python: core split": python * v["core.split_s"] / body,
        "python: core parse": python * (v["core.parse_gc_line_s"]
                                        + v["core.parse_heap_block_s"]) / body,
        "python: record assembly": python * v["parse.assemble_s"] / body,
        "rates, enrich, aggregate, stage overhead": max(
            wall - v["parse.wall_s"] - plan_build, 0.0
        ),
    }
    return {k: s / wall for k, s in shares.items()}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not (ROOT / "gclog_parser_spark" / "__init__.py").is_file():
        fail(f"the gclog_parser_spark package is missing under {ROOT}")
    sys.path.insert(0, str(ROOT))
    from perfbench import inputs, spec

    e2e_units, layer_units = load_metric_units(spec)
    if args.workload not in spec.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(spec.WORKLOADS)}")
    for d in ("tmp", "spark-local", "logs", "reports"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    data = inputs.materialize(str(WORK / "inputs"), args.workload, args.seed,
                              spec.WORKLOADS[args.workload])
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)
    argv = ["--slots", str(spec.SLOTS), "--seconds", str(args.seconds),
            "--work", str(WORK), "--pages", os.path.join(data, "pages"),
            "--expected", os.path.join(data, "expected.json")]
    if args.trace:
        long_data = inputs.materialize(str(WORK / "inputs"), "long_logs",
                                       args.seed, spec.LONG_LOGS,
                                       long_logs=True)
        argv += ["--trace", "--long-pages", os.path.join(long_data, "pages"),
                 "--long-expected", os.path.join(long_data, "expected.json")]
    log = WORK / "logs" / f"{args.workload}-s{args.seed}-t{args.trace}.log"

    child = Child(argv, spec.SLOTS, log)
    child.wait()
    res = child.result

    for e in res["errors"] + res["shape_errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    if not res["walls"]["untraced"] and not res["stolen"]["untraced"]:
        fail("no pass completed with correct output")
    if args.trace:
        metrics, report = per_layer(res, child, args.workload, layer_units)
        path = WORK / "reports" / f"trace-{args.workload}-s{args.seed}.json"
        path.write_text(json.dumps(report, indent=1))
        print_report(report, path)
    else:
        metrics = end_to_end(res, child, expected, e2e_units)
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["shape_errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


def print_report(report: dict, path: Path) -> None:
    print(f"trace report: {path}")
    sp = report["pass_wall_spread"]
    print(f"tracing overhead: {report['tracing_overhead_s']:+.4f} s on a "
          f"{report['pass_wall_p50_untraced_s']:.4f} s pass (IQR/median "
          f"of the pass walls: untraced {sp['untraced']:.1%}, traced "
          f"{sp['traced']:.1%})")
    for layer, share in report["layer_self_shares"].items():
        print(f"  share of pass wall  {layer:40s} {share:7.1%}")
    for window, kinds in report["peak_rss_mb_by_window"].items():
        print(f"  peak RSS during {window}: " + ", ".join(
            f"{k} {v:.0f} MB" for k, v in sorted(kinds.items())))
    for r in report["metrics"]:
        share = ("" if r["share_of_wall"] is None
                 else f" ({r['share_of_wall']:.1%} of {r['moves']} wall)")
        print(f"  {r['layer']:30s} {r['metric']:28s} "
              f"{r['value']:.6g} {r['unit']}{share}"
              f" -> {r['moves']} @ {r['workload']}")


if __name__ == "__main__":
    main()
