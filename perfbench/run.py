"""End-to-end benchmark of record for the mapreduce_4_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 5 --trace 0

One driver process, one SparkSession on ``local[$(nproc)]``, one client
in a closed loop: each operation starts when the previous one ended.
An operation is timed from the user's side (fresh builder call, Catalyst
planning, execution, sink); nothing is cached across operations.

Operations run in whole passes (a workload's fixed list of operations)
until ``--seconds`` of pass time have elapsed. ``--trace 0`` prints the
end-to-end metrics:

- ``setup_s``: process start until the session is ready and the
  workload's first untimed warm-up pass has run (output checks
  excluded); later warm-up passes let the JIT settle and are not in it;
- ``wall_s``: the median wall time of a timed pass, first operation's
  start to last operation's end (output checks excluded);
- ``e2e_geomean_s``: the geometric mean, over a pass's operations, of
  each one's median end-to-end latency.

The record line before the result adds the plain median and tail
latency (with its percentile and sample count), input MB/s, read and
commit medians and the failed ratio. ``--trace 1`` runs the
same operations with a span around every call into an engine layer,
reads Spark's status store, and prints the per-layer metrics. Every
output is checked; a wrong or failed operation counts in ``failed`` and
makes the command exit 1. The last stdout line is the result JSON; the
full record and (traced) the spans go to ``.perfbench/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# metric name -> unit; the order is the order printed
E2E = {"setup_s": "s", "wall_s": "s", "e2e_geomean_s": "s"}
LAYER = {
    "session.get_spark_s": "s", "session.import_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_share": "ratio",
    "sources.tables.load_s": "s", "sources.tables.load_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.gc_s": "s", "exec.input_mb": "MB", "exec.input_rows": "count",
    "exec.spill_mb": "MB", "exec.core_util": "ratio", "exec.task_skew": "ratio",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
    "exchange.shuffle_records": "count",
    "wordcount.map_s": "s", "wordcount.shuffle_mb": "MB",
    "wordcount.combine_ratio": "ratio", "wordcount.reduce_s": "s",
    "sinks.write_s": "s", "sinks.files": "count",
    "versioned.append_s": "s", "versioned.cow_delete_s": "s",
    "versioned.dv_delete_s": "s", "versioned.merge_s": "s",
    "versioned.compact_s": "s", "versioned.point_read_s": "s",
    "versioned.range_read_s": "s", "versioned.scan_s": "s",
    "versioned.time_travel_s": "s", "pyds.read_s": "s",
    "versioned.read_amp": "ratio", "versioned.bytes_per_live_row": "B",
    "versioned.write_mb_per_mutation": "MB",
    "trace.overhead_pct": "%", "host.cpu_busy_pct": "%", "host.steal_pct": "%",
    "host.load1": "count", "host.peak_rss_mb": "MB",
}
#: end-to-end operations may not start after this many seconds from
#: process start, so a run ends well inside its 180 s budget
DEADLINE_S = 120.0


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def tail_percentile(samples: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, from
    a fixed ladder down to p75; with fewer than 40 samples none
    qualifies and the maximum is reported instead (a median is no tail,
    and the answer must not flip with the number of passes a run
    happened to fit)."""
    xs, n = sorted(samples), len(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (100 - p) / 100 >= 10 - 1e-9:
            return f"p{p:g}", statistics.quantiles(xs, n=1000, method="inclusive")[int(p * 10) - 1]
    return "max", xs[-1]


def op_geomean(records) -> float:
    """Geometric mean, over the operations of a pass, of each one's
    median latency across passes: every operation weighs the same
    however long it takes, so the figure does not jump between the
    fast and the slow ones as the plain median of a mixed pass does."""
    by_name: dict[str, list[float]] = {}
    for r in records:
        by_name.setdefault(r["name"], []).append(r["latency_s"])
    return math.exp(statistics.fmean(math.log(statistics.median(xs))
                                     for xs in by_name.values()))


class Context:
    """What operations share: the session, the tracer, and how an
    operation is run and checked."""

    def __init__(self, spark, tr, t_proc0: float):
        self.spark, self.tr = spark, tr
        self.t_proc0 = t_proc0  # process start, on the perf_counter clock
        self.check_s = 0.0  # time spent checking outputs, kept out of setup_s
        self.attempted = self.failed = 0

    def run_op(self, op) -> dict:
        """Run one operation, time it, then check it (not timed)."""
        tr = self.tr
        t0 = time.perf_counter()
        res, problem = None, None
        span_id = len(tr.spans) if tr.enabled else None
        try:
            with tr.span("op", op_name=op.name, kind=op.kind):
                res = op.run()
        except Exception as e:  # counted as a failed operation
            problem = f"{type(e).__name__}: {str(e)[:300]}"
        latency = time.perf_counter() - t0
        c0 = time.perf_counter()
        if problem is None and op.check is not None:
            try:
                problem = op.check(res)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {e}"
        check_s = time.perf_counter() - c0
        self.check_s += check_s
        self.attempted += 1
        self.failed += problem is not None
        return {"name": op.name, "kind": op.kind, "latency_s": latency,
                "problem": problem, "check_s": check_s, "span": span_id}


def run_passes(ctx, wl, seconds: float, alternate: bool = False):
    """Whole passes in a closed loop until ``seconds`` have elapsed and
    the workload's ``min_passes`` have run. With ``alternate``, passes
    alternate untraced and
    traced, starting untraced, and stop after a traced one. Returns the
    op records and each pass's wall time (first operation's start to
    last's end, checking excluded) split into (untraced, traced)."""
    from tracing import jvm_times
    records, walls = [], ([], [])
    ctx.pass_jit_s = []
    p = 0
    while True:
        jit0 = jvm_times(ctx.spark)["jit_s"]
        if alternate:
            ctx.tr.enabled = p % 2 == 1
        ops = wl.passes_ops(p)
        p0, checks = time.perf_counter(), 0.0
        for i, op in enumerate(ops):
            ctx.tr.op_id = f"{p}.{i}"
            r = ctx.run_op(op)
            r["pass"] = p
            records.append(r)
            checks += r["check_s"]
        walls[ctx.tr.enabled].append(time.perf_counter() - p0 - checks)
        ctx.pass_jit_s.append(jvm_times(ctx.spark)["jit_s"] - jit0)
        p += 1
        timed = sum(walls[0]) + sum(walls[1])
        done = timed >= seconds and p >= wl.min_passes
        if (done or time.perf_counter() - ctx.t_proc0 >= DEADLINE_S) \
                and not (alternate and p % 2 == 1):
            return records, walls


# ---------------------------------------------------------------- layers

def layer_metrics(tr, status, records, wl, cores: int) -> tuple[dict, list[str]]:
    """Per-layer metrics from the traced records' spans and the status
    store. Returns (metrics, names that do not apply to the workload)."""
    by_id = {s["id"]: s for s in tr.spans}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    jobs_of = lambda spans: [j for s in spans for j in status.jobs(s["group"])]  # noqa: E731
    ops = [by_id[r["span"]] for r in records if r["span"] is not None and r["problem"] is None]
    m: dict[str, float] = {}
    na: list[str] = []

    per_op = []
    for op in ops:
        tree = tr.subtree(op)
        build = [s for s in tree if s["name"] == "plans.build"]
        build_tree = [x for b in build for x in tr.subtree(b)]
        build_ids = {x["id"] for x in build_tree}
        exec_spans = [s for s in tree if s["id"] not in build_ids]
        loads = [s for s in build_tree if s["name"] == "sources.tables.load_table"]
        exec_jobs = jobs_of(exec_spans)
        stages = status.stages(exec_jobs)
        cat = [s for s in tree if s["name"] == "catalyst.plan"]
        action_s = dur(op) - sum(dur(b) for b in build) - sum(dur(c) for c in cat)
        per_op.append({
            "op": op, "e2e": dur(op), "build_s": sum(dur(b) for b in build),
            "has_build": bool(build), "build_jobs": len(jobs_of(build_tree)),
            "loads": [(dur(s), len(status.jobs(s["group"]))) for s in loads],
            "cat": cat, "action_s": action_s, "jobs": len(exec_jobs), "stages": stages,
        })

    def mean(key, rows):
        return statistics.fmean([r[key] for r in rows]) if rows else 0.0

    built = [r for r in per_op if r["has_build"]]
    if built:
        m["plans.build_s"] = _median([r["build_s"] for r in built])
        m["plans.build_jobs"] = mean("build_jobs", built)
        m["plans.build_share"] = (sum(r["build_s"] for r in built)
                                  / max(sum(r["e2e"] for r in built), 1e-9))
    loads = [x for r in per_op for x in r["loads"]]
    if loads:
        m["sources.tables.load_s"] = _median([d for d, _ in loads])
        m["sources.tables.load_jobs"] = statistics.fmean([j for _, j in loads])
    cats = [c for r in per_op for c in r["cat"]]
    if cats:
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_ms"] = statistics.fmean([c[ph] for c in cats])

    def ssum(rows, key):
        return sum(st[key] for st in rows)

    if per_op:
        n = len(per_op)
        all_st = [st for r in per_op for st in r["stages"]]
        m["exec.action_s"] = _median([r["action_s"] for r in per_op])
        m["exec.jobs"] = sum(r["jobs"] for r in per_op) / n
        m["exec.stages"] = len(all_st) / n
        m["exec.tasks"] = ssum(all_st, "tasks") / n
        m["exec.executor_run_s"] = ssum(all_st, "run_s") / n
        m["exec.executor_cpu_s"] = ssum(all_st, "cpu_s") / n
        m["exec.gc_s"] = ssum(all_st, "gc_s") / n
        m["exec.input_mb"] = ssum(all_st, "input_bytes") / n / 1e6
        m["exec.input_rows"] = ssum(all_st, "input_rows") / n
        m["exec.spill_mb"] = ssum(all_st, "spill_bytes") / n / 1e6
        m["exec.core_util"] = (ssum(all_st, "run_s")
                               / max(sum(r["action_s"] for r in per_op) * cores, 1e-9))
        m["exec.task_skew"] = _median([max([st["skew"] for st in r["stages"]] or [1.0])
                                       for r in per_op])
        m["exchange.shuffle_write_mb"] = ssum(all_st, "shuffle_write_bytes") / n / 1e6
        m["exchange.shuffle_read_mb"] = ssum(all_st, "shuffle_read_bytes") / n / 1e6
        m["exchange.shuffle_records"] = ssum(all_st, "shuffle_write_rows") / n

    if wl.name == "wordcount_corpus" and per_op:
        maps = [[st for st in r["stages"] if st["input_bytes"] > 0] for r in per_op]
        reds = [[st for st in r["stages"] if st["shuffle_read_bytes"] > 0
                 and st["shuffle_write_bytes"] > 0] for r in per_op]
        sinks = [[st for st in r["stages"] if st["shuffle_read_bytes"] > 0
                  and st["shuffle_write_bytes"] == 0] for r in per_op]
        m["wordcount.map_s"] = _median([ssum(x, "wall_s") for x in maps])
        m["wordcount.shuffle_mb"] = _median([ssum(x, "shuffle_write_bytes") / 1e6 for x in maps])
        m["wordcount.combine_ratio"] = _median(
            [ssum(x, "shuffle_write_rows") / wl.input_info["tokens"] for x in maps])
        m["wordcount.reduce_s"] = _median([ssum(x, "wall_s") for x in reds])
        m["sinks.write_s"] = _median([ssum(x, "wall_s") for x in sinks])
        m["sinks.files"] = float(wl.last_output["files"])

    if wl.name == "versioned_rw":
        spans = [s for r in per_op for s in tr.subtree(r["op"])]
        for name in ("versioned.append", "versioned.cow_delete", "versioned.dv_delete",
                     "versioned.merge", "versioned.compact", "versioned.point_read",
                     "versioned.range_read", "versioned.scan", "versioned.time_travel",
                     "pyds.read"):
            xs = [dur(s) for s in spans if s["name"] == name]
            if xs:
                m[f"{name}_s"] = _median(xs)
        pruned = [s for s in spans if s.get("kind") in ("point", "range")
                  and "rows_returned" in s]
        scanned = sum(st["input_rows"] for s in pruned
                      for st in status.stages(jobs_of(tr.subtree(s))))
        returned = sum(s["rows_returned"] for s in pruned)
        if returned:
            m["versioned.read_amp"] = scanned / returned
        sizes = [x for x in wl.sizes if "live_rows" in x]
        if sizes:
            m["versioned.bytes_per_live_row"] = _median(
                [x["table_bytes"] / x["live_rows"] for x in sizes])
        muts = [x["written_bytes"] for x in wl.sizes if "mutation" in x]
        if muts:
            m["versioned.write_mb_per_mutation"] = statistics.fmean(muts) / 1e6
    for name in LAYER:
        if name not in m and not name.startswith(("session.", "trace.", "host.")):
            na.append(name)
            m[name] = 0.0
    return m, na


# ---------------------------------------------------------------- main

def _configure_env(work: str) -> None:
    """Make the session and its Python workers independent of the
    caller's working directory and environment."""
    nproc = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from tracing import descendants
    if spark is not None:
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        spark.stop()
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    t_proc0 = time.perf_counter() - _process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected answer; the run must then fail")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mapreduce_4_spark")):
        print(f"perfbench: no mapreduce_4_spark package under {ROOT}", file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    _configure_env(work)
    try:
        return _run(args, work, out_dir, t_proc0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, out_dir, t_proc0: float) -> int:
    import tracing
    import workloads

    t0 = time.perf_counter()
    from mapreduce_4_spark.session import get_spark
    spark = get_spark("perfbench", extra_confs={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from mapreduce_4_spark import plans  # noqa: F401  registry import
    t_ready = time.perf_counter()
    try:
        sc = spark.sparkContext
        tr = tracing.Tracer(sc, enabled=False)
        ctx = Context(spark, tr, t_proc0)
        g0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](ctx, os.path.join(work, "in"), args.seed,
                                                tiny=args.tiny)
        if args.corrupt_expected:
            wl.corrupt()
        gen_s = time.perf_counter() - g0
        w0 = time.perf_counter()
        warm = wl.warm_up()
        warm_s = time.perf_counter() - w0 - ctx.check_s
        setup_s = (t_ready - t_proc0) + wl.first_pass_s

        host = tracing.HostMonitor()
        cores = int(sc.defaultParallelism)
        traced = bool(args.trace)
        if traced:
            _install_spans(tr)
        jvm0 = tracing.jvm_times(spark)
        host.start()
        # traced runs alternate untraced and traced passes: the untraced
        # ones are the base of trace.overhead_pct
        records, (untraced_walls, traced_walls) = run_passes(ctx, wl, args.seconds, traced)
        walls = traced_walls if traced else untraced_walls
        hostinfo = host.stop()
        hostinfo["jvm_during_timed"] = {k: v - jvm0[k] for k, v in tracing.jvm_times(spark).items()}

        checks = wl.final_check()
        # an operation whose checked result was wrong failed every time it ran
        for r in records:
            if r["problem"] is None and checks.get(r["name"]):
                r["problem"] = f"check: {checks[r['name']]}"
                ctx.failed += 1
        attempted, failed = ctx.attempted, ctx.failed
        lat = [r["latency_s"] for r in records]
        tail_name, tail = tail_percentile(lat)
        reads = [r["latency_s"] for r in records if r["kind"] == "read"]
        commits = [r["latency_s"] for r in records if r["kind"] == "commit"]
        in_mb = wl.input_info["bytes"] / 1e6
        ops_per_pass = len(records) / (len(untraced_walls) + len(traced_walls))
        e2e = {"setup_s": setup_s, "wall_s": _median(walls),
               "e2e_geomean_s": op_geomean(records)}
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "why": workloads.WHY[args.workload],
            "inputs": {**wl.input_info, "gen_s": gen_s},
            "engine": {"master": sc.master, "default_parallelism": cores,
                       "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                       "nproc": len(os.sched_getaffinity(0)),
                       "driver_memory": spark.conf.get("spark.driver.memory"),
                       "pyspark": __import__("pyspark").__version__},
            "host": hostinfo,
            "closed_loop": {"clients": 1, "passes": len(walls), "ops": len(records),
                            "pass_walls_s": walls, "pass_jit_s": ctx.pass_jit_s,
                            "latencies_s": [[r["name"], r["latency_s"]] for r in records]},
            "e2e": e2e,
            "extra": {"e2e_p50_s": _median(lat), "e2e_tail_s": tail,
                      "e2e_tail_percentile": tail_name, "e2e_samples": len(lat),
                      # input MB per second of operation time: corpus MB over
                      # the median pipeline time when a pass is one pipeline run
                      "input_mb_s": in_mb * ops_per_pass / _median(walls),
                      "read_p50_s": _median(reads) if reads else None,
                      "commit_p50_s": _median(commits) if commits else None,
                      "failed_ratio": failed / attempted},
            "setup": {"get_spark_s": t1 - t0, "import_s": t_ready - t1,
                      "process_to_ready_s": t_ready - t_proc0,
                      "first_warm_up_pass_s": wl.first_pass_s, "warm_up_s": warm_s,
                      "warm_up_latencies_s": wl.warm_latencies},
            "problems": sorted({f"{k}: {v}" for k, v in warm.items() if v}
                               | {f"{r['name']}: {r['problem']}" for r in records
                                  if r["problem"]})[:20],
        }
        if traced:
            status = tracing.SparkStatus(spark)
            status.drain()
            layers, na = layer_metrics(tr, status, records, wl, cores)
            layers.update({
                "session.get_spark_s": t1 - t0, "session.import_s": t_ready - t1,
                "trace.overhead_pct": 100.0 * (_median(walls) / _median(untraced_walls) - 1),
                "host.cpu_busy_pct": hostinfo["cpu_busy_pct"],
                "host.steal_pct": hostinfo["steal_pct"], "host.load1": hostinfo["load1"],
                "host.peak_rss_mb": hostinfo["peak_rss_mb"]})
            record["layers"] = layers
            record["not_applicable"] = na
            record["self_time_s"] = tr.self_times()
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump([{k: s.get(k) for k in ("id", "name", "start", "end", "parent", "op")}
                           | {k: v for k, v in s.items()
                              if k not in ("id", "name", "start", "end", "parent", "op", "group")}
                           for s in tr.spans], fh)
            metrics = {k: {"value": layers[k], "unit": LAYER[k]} for k in LAYER}
        else:
            metrics = {k: {"value": e2e[k], "unit": E2E[k]} for k in E2E}
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"result-{args.workload}-{args.seed}-"
                                        f"trace{args.trace}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        print(json.dumps({k: v for k, v in record.items() if k not in ("layers",)},
                         default=str))
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        _shutdown(spark)


def _install_spans(tr) -> None:
    """Wrap, at run time, the engine functions the operations reach
    only through other engine code, so each call gets its own span (and
    job group): ``sources.tables.load_table`` inside the registry's
    builders, and the two steps of
    ``pipelines.reference_wordcount_pipeline``. Engine files are not
    changed, and both modes run the same pipeline code."""
    from mapreduce_4_spark import pipelines
    from mapreduce_4_spark.sources import tables
    _wrap(tr, tables.load_table, "sources.tables.load_table",
          lambda args, kwargs: {"table": (args[2:] or [kwargs.get("name")])[0]})
    _wrap(tr, pipelines.wordcount_from_text_dir, "plans.build",
          lambda args, kwargs: {"fn": "pipelines.wordcount_from_text_dir"})
    _wrap(tr, pipelines.write_wordcount_reference_layout, "exec.sink",
          lambda args, kwargs: {"fn": "sinks.write_wordcount_reference_layout"})


def _wrap(tr, orig, span: str, attrs) -> None:
    """Replace ``orig`` by a spanned twin in every engine module that
    holds it under its own name (its home module and its importers)."""
    def wrapped(*args, **kwargs):
        with tr.span(span, **attrs(args, kwargs)):
            return orig(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("mapreduce_4_spark") \
                and getattr(mod, orig.__name__, None) is orig:
            setattr(mod, orig.__name__, wrapped)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(3)
