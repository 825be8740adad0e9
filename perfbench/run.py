#!/usr/bin/env python3
"""The repository benchmark: one workload in a closed loop, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload link_dense --seed 1 --seconds 5 --trace 0

One driver process starts a local Spark session at local[min(nproc // 2,
4)], builds the workload's input from ``--seed``, runs one untimed
warm-up iteration, then runs iterations back to back (a closed loop, one
client) until ``--seconds`` have passed, at least one. Every iteration's
output counts and F1 must equal the warm-up's; a mismatch or an
exception counts as a failed operation.

``--trace 0`` measures end to end through the program's entry points and
prints the end-to-end metrics of BENCHMARK.json. ``--trace 1`` turns on
Spark's event log, alternates traced iterations (one span per layer call,
output materialized at each layer boundary) with untraced ones, and
prints the per-layer metrics; ``trace.overhead_s`` is the traced median
wall minus the untraced median wall of the same run.

The last line of standard output is the JSON result; the lines before it
list the metrics for people. Everything the run writes stays under
``.bench_run/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input pages per iteration. A run pays about 20 s of session start and
# cold JVM and Python-worker start whatever the size, and an iteration of
# either gated workload costs about 7 s of Spark job latency even on
# 1,000 pages; these sizes keep a whole run (set-up, one timed
# iteration, checks) near a minute (README.md).
SIZES = {"link_dense": 2500, "inject_write": 10000, "docs_durable": 1000}
# Printed above the result line but not in BENCHMARK.json: on a shared
# host one timed iteration's wall time follows the host's load more than
# the program (README.md, "Why wall time is not gated").
UNGATED = {"wall_s": "s", "pages_per_s": "1/s", "pairs_per_s": "1/s"}


def _parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


# ---- processes -------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """This process and all its descendants (driver JVM, Python workers)."""
    kids = _children()
    tree, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each page shared by n
    processes counted 1/n in each. Summed over the tree, the pages the
    forked Python workers share with their daemon count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Samples the summed PSS of the process tree in a background thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            mem = sum(_pss_bytes(p) for p in process_tree())
            with self._lock:
                self._peak = max(self._peak, mem)
            self._stop.wait(self.interval)

    def take(self) -> int:
        """Peak bytes since the previous call."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---- Spark session ---------------------------------------------------------

def _driver_heap_mb() -> int:
    """An eighth of physical memory, between 512 MiB and 1 GiB: the
    fixtures are small, and the machine may be shared. The JVM grows its
    heap toward this limit in steps whose timing follows the host's load;
    under a 2 GiB limit one step more or less split ten runs' peak_rss_mb
    into groups 0.6 GB apart."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(max(total // 8 // 2**20, 512), 1024))


def start_spark(work: str, trace: bool):
    from rlerrorgenerator_spark.session import get_spark

    heap = f"{_driver_heap_mb()}m"
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # inherited by the JVM and by the Python workers it starts
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # half the CPUs, at most 4: a task in a Python UDF stage keeps two
    # processes busy (the JVM task thread and its Python worker), and the
    # driver plans the next job meanwhile. On a shared 4-vCPU host, five
    # runs at four slots spread 0.57 of the median timed iteration, five
    # at two slots minutes later 0.03 (README.md).
    cores = max(1, min(len(os.sched_getaffinity(0)) // 2, 4))
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    it started (the Python workers outlive it briefly)."""
    from pyspark import SparkContext

    started = [p for p in process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits at end of input
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if not [p for p in started if os.path.exists(f"/proc/{p}")]:
            return
        time.sleep(0.2)


# ---- run -------------------------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(spans, groups, traced, walls, cores, truth, res, wl):
    """Per-layer metrics: medians over the traced iterations."""
    from tracing import DRIVER

    def per_it(fn):
        return _median([fn(tag) for tag in traced])

    def group(tag, layer, key):
        return groups.get(f"{tag}|{layer}", {}).get(key, 0.0)

    def layer_sum(tag, key):
        return sum(g[key] for name, g in groups.items()
                   if name.startswith(f"{tag}|"))

    out = {}
    for layer in ("sources.pages", "operators", "checkpoint",
                  "linkage.blocking", "linkage.features", "linkage.metrics",
                  "linkage.resolve", DRIVER):
        out[f"{layer}.wall_s"] = per_it(
            lambda t, layer=layer: spans.self_s[t].get(layer, 0.0))
        out[f"{layer}.jobs"] = per_it(
            lambda t, layer=layer: group(t, layer, "jobs"))
        out[f"{layer}.executor_cpu_s"] = per_it(
            lambda t, layer=layer: group(t, layer, "cpu_s"))
        out[f"{layer}.shuffle_write_mb"] = per_it(
            lambda t, layer=layer: group(t, layer, "shuffle_write_b") / 2**20)
    # time outside every span: reads, output counts, plan building
    out[f"{DRIVER}.wall_s"] = per_it(
        lambda t: walls[t] - sum(spans.self_s[t].values()))
    out["linkage.blocking.task_skew"] = per_it(
        lambda t: group(t, "linkage.blocking", "task_skew"))
    for name in ("exact_url", "exact_text", "snm", "minhash"):
        out[f"linkage.blocking.candidates.{name}"] = truth.get(name, 0.0)
    out["linkage.blocking.pair_precision"] = truth.get("pair_precision", 0.0)
    out["linkage.blocking.pair_completeness"] = truth.get(
        "pair_completeness", 0.0)
    out["linkage.features.pairs_per_s"] = (
        res.candidates / out["linkage.features.wall_s"]
        if out["linkage.features.wall_s"] > 0 else 0.0)
    out["operators.lineage_rows"] = float(res.lineage_rows)
    out["checkpoint.bytes_written"] = per_it(
        lambda t: float(spans.bytes_written.get(t, 0)))
    out["spark.jobs"] = per_it(lambda t: layer_sum(t, "jobs"))
    out["spark.stages"] = per_it(lambda t: layer_sum(t, "stages"))
    out["spark.tasks"] = per_it(lambda t: layer_sum(t, "tasks"))
    out["spark.slot_utilization"] = per_it(
        lambda t: layer_sum(t, "run_s") / (walls[t] * cores))
    return out


def run(args, work: str) -> dict:
    import workloads
    from tracing import Spans, fold_event_log

    specs = _metric_specs()
    wl = {"link_dense": workloads.LinkDense, "inject_write": workloads.InjectWrite,
          "docs_durable": workloads.DocsDurable}[args.workload](
              SIZES[args.workload])
    trace = bool(args.trace)

    t0 = time.perf_counter()
    spark, cores = start_spark(work, trace)
    try:
        session_s = time.perf_counter() - t0
        spans = Spans(spark.sparkContext)
        fx = os.path.join(work, "fixture")
        t0 = time.perf_counter()
        wl.make_fixture(spark, args.seed, fx)
        build_s = time.perf_counter() - t0
        # one untimed warm-up: a session's first iteration runs slower
        # while the JVM compiles and Python workers start
        t0 = time.perf_counter()
        out_dir = os.path.join(work, "warmup")
        reference = wl.run(spark, args.seed, fx, out_dir, None).signature()
        shutil.rmtree(out_dir, ignore_errors=True)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + build_s + warmup_s
        print(f"setup: session {session_s:.2f} s, fixture build "
              f"{build_s:.2f} s, warm-up {warmup_s:.2f} s", file=sys.stderr)

        walls: dict[str, float] = {}
        rss_peaks: list[int] = []
        attempted = failed = 0
        last, last_dir = None, None
        # a traced run needs one iteration of each kind. A second untraced
        # one would add a sixth to a run's time; it is run only when the
        # first ends within --seconds (README.md).
        min_iterations = 2 if trace else 1
        with PeakRss() as rss:
            start = time.perf_counter()
            rss.take()
            while (attempted < min_iterations
                   or time.perf_counter() - start < args.seconds):
                tag = f"{'t' if trace and attempted % 2 == 0 else 'u'}{attempted}"
                out_dir = os.path.join(work, f"it{attempted}")
                spans.begin(tag)
                t0 = time.perf_counter()
                try:
                    res = wl.run(spark, args.seed, fx, out_dir,
                                 spans if tag[0] == "t" else None)
                    ok = res.signature() == reference
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    res, ok = None, False
                walls[tag] = time.perf_counter() - t0
                rss_peaks.append(rss.take())
                print(f"iteration {tag}: {walls[tag]:.3f} s", file=sys.stderr)
                attempted += 1
                if not ok:
                    failed += 1
                    print(f"iteration {tag}: output differs from warm-up "
                          f"{reference}", file=sys.stderr)
                if res is not None and (not trace or tag[0] == "t"):
                    if last_dir:
                        shutil.rmtree(last_dir, ignore_errors=True)
                    last, last_dir = res, out_dir
                elif out_dir != last_dir:
                    shutil.rmtree(out_dir, ignore_errors=True)
            spans.begin("checks")
        t0 = time.perf_counter()
        if last is None:
            raise RuntimeError("no iteration completed")
        truth = wl.truth(last)
        correct = failed == 0 and wl.correct(last, truth)
        print(f"checks: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    finally:
        stop_spark(spark)

    untraced = [w for t, w in walls.items() if t[0] == "u"]
    if not trace:
        wall = _median(untraced)
        values = {
            "wall_s": wall,
            "pages_per_s": wl.pages / wall,
            "pairs_per_s": wl.pairs(last) / wall,
            "f1": last.f1 if last.f1 is not None else truth["truth_f1"],
            "truth_f1": truth["truth_f1"],
            "peak_rss_mb": _median(rss_peaks) / 2**20,
            "setup_s": setup_s,
        }
        names = specs["end_to_end"]
    else:
        traced = [t for t in walls if t[0] == "t"]
        values = _layer_metrics(spans, fold_event_log(
            os.path.join(work, "eventlog")), traced, walls, cores, truth,
            last, wl)
        values["trace.wall_s"] = _median([walls[t] for t in traced])
        values["trace.overhead_s"] = values["trace.wall_s"] - _median(untraced)
        names = specs["per_layer"]
    missing = set(names) - set(values)
    if missing:
        raise KeyError(f"metrics not computed: {sorted(missing)}")
    print(f"{args.workload} seed={args.seed} trace={args.trace}: "
          f"{attempted} iterations, {failed} failed "
          f"(failed_ops {failed / attempted:.3f}), correct={correct}")
    print(f"  outputs {last.signature()}, checks {truth}")
    for name, unit in names.items():
        print(f"  {name} = {values[name]:.6g} {unit}")
    if not trace:
        for name, unit in UNGATED.items():
            print(f"  {name} = {values[name]:.6g} {unit} (not gated)")
        print(f"  wall_s max of {len(untraced)} = {max(untraced):.6g} s "
              f"(not gated)")
    return {"correct": bool(correct), "attempted": attempted, "failed": failed,
            "metrics": {name: {"value": float(values[name]), "unit": unit}
                        for name, unit in names.items()}}


def main(argv=None) -> int:
    args = _parse_args(argv)
    # the program must be importable here and in Spark's Python workers;
    # without it the benchmark fails before printing any result
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import rlerrorgenerator_spark  # noqa: F401

    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
