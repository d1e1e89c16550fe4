#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the KG build and its reads.

Run from the repository root:

    python3 perfbench/run.py --workload build_full --seed 1 --seconds 10 --trace 0

Workloads (see NOTES.md for why each exists):

* ``build_full``  -- cold ``build_kg`` over the generated corpus;
* ``build_delta`` -- ``build_kg`` over a copy of a built store after
  every file of three non-mega repos was edited (day-2 ingest);
* ``query_mix``   -- SPARQL queries through ``sparql()`` over a store.

Every run starts one local Spark session (``local[min(nproc, 4)]``,
driver memory sized from the host), generates the corpus from
``--seed``, writes it to parquet, runs one untimed warm-up build, then
runs operations back to back (one client, closed loop) until
``--seconds`` have passed. Each operation's output is checked outside
the timed window. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries host facts and sample counts.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, alternates traced and untraced operations, and reports
the per-layer metrics (spans.py) plus the tracing overhead.

Everything the run writes lives under
``.perfbench_work/<workload>-<seed>-<pid>/`` in the current directory
and is left there (stores, source parquet, event log): deleting a run's
few thousand small files took 5-10 s on a disk mounted with online
discard, a fifth of a run. Remove the directory when done.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# query_mix runs whole rounds of the mix, at least MIN_ROUNDS of them;
# QUERY_TAIL_PCT is the highest percentile with at least ten samples
# beyond it at that minimum (44 queries: the 34th, 10 beyond). With
# three rounds that rank fell exactly on the gap between the eight fast
# query shapes and the three slow ones, and swung with it
MIN_ROUNDS = 4
QUERY_TAIL_PCT = 77


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build_full", "build_delta", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--files", type=int, default=None,
                   help="corpus size (default workloads.N_FILES); the smoke test shrinks it")
    p.add_argument("--corrupt", action="store_true",
                   help="damage every operation's output before its gate "
                   "(smoke test: every operation must then fail)")
    return p.parse_args(argv)


# ------------------------------------------------------------ host facts

def mem_limit_bytes() -> int:
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def driver_memory_gb(limit_bytes: int) -> int:
    """A quarter of the host's memory, 1-6 GB: the package default
    (48g) gets the JVM killed on small hosts."""
    return max(1, min(6, int(limit_bytes / 2**30 * 0.25)))


def host_facts(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_limit_bytes() / 2**20),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers it forks), sampled from /proc.

    Each process counts its proportional set size (smaps_rollup
    ``Pss``): resident pages shared by the forked Python workers count
    once across them, so the number does not swing with how many idle
    workers happen to exist. ``peak_kb`` is the peak of the sum,
    ``parts_kb`` the peak of each part (driver, jvm, workers)."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval, self.peak_kb, self.max_workers = interval, 0, 0
        self.parts_kb = {"driver": 0, "jvm": 0, "workers": 0}
        self._halt = threading.Event()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        parts = dict.fromkeys(self.parts_kb, 0)
        me, todo, workers = os.getpid(), [os.getpid()], 0
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next((int(line.split()[1]) for line in fh if line.startswith("Pss:")), 0)
            except OSError:  # the process exited meanwhile
                continue
            part = "driver" if pid == me else "jvm" if comm == "java" else "workers"
            parts[part] += pss
            workers += part == "workers"
        self.peak_kb = max(self.peak_kb, sum(parts.values()))
        self.max_workers = max(self.max_workers, workers)
        for k, v in parts.items():
            self.parts_kb[k] = max(self.parts_kb[k], v)

    def run(self):
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self):
        self._halt.set()
        self.join()


# -------------------------------------------------------------- session

class Context:
    """What one run shares between set-up, operations and gates."""

    def __init__(self, args, work: str):
        self.seed, self.work, self.trace = args.seed, work, bool(args.trace)
        self.source_path = os.path.join(work, "source.parquet")
        self.event_dir = os.path.join(work, "eventlog")
        self.timings: dict[str, float] = {}
        self.spark = None
        self.rows: list[dict] = []
        self.n_buckets_present = 1


def start_session(ctx: Context):
    from pawpaw_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    mem = f"{driver_memory_gb(mem_limit_bytes())}g"
    conf = {
        "spark.driver.memory": mem,
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # the session's GC choice, plus: a fixed-size heap, so peak
        # memory does not depend on when the JVM chose to grow it, a
        # private temp dir and no /tmp/hsperfdata file
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Xms{mem} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if ctx.trace:
        os.makedirs(ctx.event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.event_dir,
            "spark.eventLog.compress": "false",
        })
    nproc = os.cpu_count() or 1
    return get_spark(app_name="perfbench", master=f"local[{min(nproc, 4)}]", extra_conf=conf)


def stop_session(ctx: Context) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    ctx.spark.stop()
    ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
            proc.wait(timeout=60)


def prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "spark-local"))
    # Python workers must import pawpaw_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PAWPAW_SPARK_WAREHOUSE"] = os.path.join(work, "warehouse")


# ---------------------------------------------------------------- stats

def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * pct // 100) - 1))
    return s[int(k)]


def end_to_end(workload: str, ops, setup_s: float, peak_kb: int) -> dict[str, float]:
    walls = [o.wall_s for o in ops]
    if workload == "query_mix":
        tail = percentile(walls, QUERY_TAIL_PCT)
    else:
        tail = max(walls)
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(walls) * 1e3,
        "op_tail_ms": tail * 1e3,
        "ops_per_s": len(walls) / sum(walls),
        "triples_per_s": sum(o.rows for o in ops) / sum(walls),
        "peak_rss_mb": peak_kb / 1024,
    }


UNITS = {"op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "1/s", "triples_per_s": "1/s",
         "peak_rss_mb": "MB", "trace.coverage": "ratio", "error_rate": "ratio",
         "lineage.recompute_ratio": "ratio"}


def unit_of(name: str) -> str:
    """Units follow the name: ``*_s`` seconds, ``*_mb`` MiB, ``*_pct``
    percent; other per-layer metrics are counts."""
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


# ----------------------------------------------------------------- main

def run(args) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads as W
    from pawpaw_spark import corpus

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    ctx = Context(args, work)
    rss = RssSampler()
    rss.start()
    try:
        return _run(args, ctx, W, corpus, rss)
    finally:
        try:
            stop_session(ctx)
        finally:
            rss.stop()


def _run(args, ctx, W, corpus, rss) -> dict:
    t_setup = time.perf_counter()
    ctx.spark = start_session(ctx)
    ctx.timings["session.start_s"] = time.perf_counter() - t_setup
    t = time.perf_counter()
    ctx.rows = list(corpus.generate_rows(args.files or W.N_FILES, args.seed, include_demo_corpora=False))
    W.write_source(ctx.rows, ctx.source_path)
    ctx.timings["corpus.gen_s"] = time.perf_counter() - t
    host = host_facts(ctx.spark)
    w = W.WORKLOADS[args.workload](ctx)
    w.setup()
    setup_s = time.perf_counter() - t_setup

    tracer = None
    if ctx.trace:
        from spans import Tracer

        tracer = Tracer(ctx.spark)
    ops, traced, untraced, failed = [], [], [], 0
    # builds: a traced run alternates traced, untraced, traced, so the
    # untraced build sits between the two it is compared with (builds
    # still speed up by up to ~15% from one to the next);
    # queries: whole rounds of the mix, so every run weighs it the same
    rounds = len(W.queries.MIX) if args.workload == "query_mix" else 1
    min_ops = MIN_ROUNDS * rounds if args.workload == "query_mix" else 1 + 2 * ctx.trace
    t_start = time.perf_counter()
    i = 0
    while i < min_ops or i % rounds or time.perf_counter() - t_start < args.seconds:
        with_trace = ctx.trace and i % 2 == 0
        try:
            if with_trace:
                with tracer.installed(i):
                    res = w.op(i, tracer)
            else:
                res = w.op(i)
        except Exception:  # an operation that raises counts as failed
            print(f"[perfbench] op {i} raised:", file=sys.stderr)
            traceback.print_exc()
            failed += 1
            i += 1
            continue
        if args.corrupt:
            w.corrupt(res)
        ok = w.gate(res)
        if not ok:
            failed += 1
            print(f"[perfbench] op {i} failed its gate: {res.query or ''} {res.attrs}", file=sys.stderr)
        ops.append(res)
        (traced if with_trace else untraced).append((i, res))
        i += 1
    attempted = i
    w.close()

    if ctx.trace:
        stop_session(ctx)  # flushes and closes the event log
        metrics = layer_metrics(ctx, tracer, traced, untraced, failed / attempted)
        samples = len(traced)
    else:
        rss.sample()
        metrics = end_to_end(args.workload, ops, setup_s, rss.peak_kb) if ops else {}
        samples = len(ops)
    info = {"workload": args.workload, "seed": args.seed, "files": args.files or W.N_FILES,
            "samples": samples, "op_s": [round(o.wall_s, 3) for o in ops],
            "setup_s": round(setup_s, 3), "timings": ctx.timings,
            "peak_pss_mb_by_part": {k: round(v / 1024) for k, v in rss.parts_kb.items()},
            "max_workers": rss.max_workers,
            "host": host}
    if args.workload == "query_mix":
        info["op_tail_pct"] = QUERY_TAIL_PCT
    print(json.dumps(info))
    return {
        "correct": failed == 0 and bool(ops),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }


def layer_metrics(ctx, tracer, traced, untraced, error_rate) -> dict[str, float]:
    """Per-layer metrics of one average operation. Operations are
    grouped by kind (the query of the mix; builds are one kind) and
    kinds weigh equally, so traced and untraced operations compare even
    when the alternation traced some queries more often than others."""
    from spans import op_layer_metrics, read_event_log

    cost = read_event_log(ctx.event_dir)

    def per_kind_mean(pairs, value):
        kinds: dict[str | None, list[float]] = {}
        for i, res in pairs:
            kinds.setdefault(res.query, []).append(value(i, res))
        return statistics.fmean(statistics.fmean(v) for v in kinds.values())

    per_op = {
        i: op_layer_metrics([s for s in tracer.spans if s.op == i], cost, res.attrs)
        for i, res in traced
    }
    m = {k: per_kind_mean(traced, lambda i, _r: per_op[i][k]) for k in next(iter(per_op.values()))}
    traced_wall = per_kind_mean(traced, lambda _i, r: r.wall_s)
    untraced_wall = per_kind_mean(untraced, lambda _i, r: r.wall_s)
    m["trace.untraced_op_s"] = untraced_wall
    m["trace.overhead_pct"] = (traced_wall / untraced_wall - 1) * 100
    m["trace.coverage"] = m["trace.self_sum_s"] / untraced_wall
    m["session.start_s"] = ctx.timings["session.start_s"]
    m["corpus.gen_s"] = ctx.timings["corpus.gen_s"]
    m["error_rate"] = error_rate
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    if not os.path.isfile(os.path.join(ROOT, "pawpaw_spark", "pipeline.py")):
        print(f"[perfbench] no pawpaw_spark package next to {HERE}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
