"""Repo benchmark: closed-loop passes over one workload on local[nproc/2].

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run generates its inputs from ``--seed``, starts one Spark session, ships
the package to the Python workers, runs one untimed pass that checks every
operation's output against its DuckDB twin (or the pipeline's invariants),
runs three untimed warm-up passes, then measures whole passes for
``--seconds``. Each operation is timed in two
parts — build (the call that returns the DataFrame, with any eager jobs it
launches) and execute (a ``noop`` write) — with the cache cleared before it.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` half the measured time runs untraced and half
traced, and the metrics are the per-layer numbers of the traced half (the
difference between the halves is printed as tracing overhead). A per-op
table goes to stderr, and every span and counter to
``perfbench/out/<workload>-seed<seed>-trace<t>.json``.

``--workload all`` runs every workload in its own process and prints each
end-to-end metric by name and unit.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_geomean_s", "s"),
    ("ok_frac", "frac"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("session.start_s", "s"), ("session.ship_s", "s"), ("session.warm_s", "s"),
    ("queries.build_s", "s"), ("queries.exec_s", "s"), ("queries.eager_execs", "count"),
    ("sources.scan_rows", "count"), ("sources.scan_bytes", "B"), ("sources.scan_ms", "ms"),
    ("sources.files_written", "count"), ("sources.write_bytes", "B"),
    ("operators.agg_build_ms", "ms"), ("operators.sort_ms", "ms"),
    ("operators.join_rows", "count"), ("operators.peak_mem_mb", "MB"),
    ("operators.spill_bytes", "B"), ("operators.broadcast_bytes", "B"),
    ("functions.candidates", "count"), ("functions.verified", "count"),
    ("functions.verify_yield", "frac"),
    ("streaming.batches", "count"), ("streaming.batch_ms", "ms"),
    ("executor.tasks", "count"), ("executor.task_run_ms", "ms"),
    ("executor.task_cpu_ms", "ms"), ("executor.gc_ms", "ms"),
    ("executor.shuffle_write_bytes", "B"), ("executor.shuffle_read_bytes", "B"),
    ("executor.fetch_wait_ms", "ms"), ("executor.task_skew", "ratio"),
    ("executor.core_util", "frac"),
]
# untimed passes between the check pass and the timed ones
WARM_PASSES = 3
# timed passes a run makes even when the first takes more than half its
# seconds: a pass slowed by a spell of load on the host is then averaged
# with another rather than reported alone
MIN_PASSES = 2

# per-layer numbers only the reference pipeline moves; printed in its
# report and trace file
EXTRA_LAYER = [("plans.clean_s", "s"), ("plans.report_s", "s"),
               ("stats.call_s", "s"), ("ml.fit_s", "s"), ("ml.jobs", "count")]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def box_env(work: str) -> int:
    """Size the run to the box: half the cores of the affinity mask as task
    slots, a driver heap that fits in memory (2g at most: the inputs are
    small), scratch and temp files inside the run directory.

    The other half is left to the JVM's JIT and GC threads, the driver
    thread, this process and the Python workers: on a 4-vCPU VM local[2]
    is as fast as local[4] on these inputs, and its pass times spread
    a third as much from run to run."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 1024**2
    heap_gb = int(max(1, min(2, total_gb // 6)))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    return cores


class RssSampler(threading.Thread):
    """Peak resident memory of this process's descendants (the driver JVM
    and the Python workers it forks), sampled from /proc.

    A descendant counts from its second sample on: a child the JVM forks to
    run a shell command reports the JVM's whole resident set until it execs,
    and counting it would double the peak at random."""

    def __init__(self, period: float = 0.05):
        super().__init__(daemon=True)
        self.period = period
        self.peak_bytes = 0
        self.active = False
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._last: set[int] = set()

    def _sample(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    pass
        me, total, seen = os.getpid(), 0, set()
        for pid in parent:
            p, hops = parent.get(pid, 0), 0
            while p > 1 and p != me and hops < 32:
                p, hops = parent.get(p, 0), hops + 1
            if p != me:
                continue
            seen.add(pid)
            if pid in self._last:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (OSError, ValueError, IndexError):
                    pass
        self._last = seen
        return total

    def run(self):
        while not self._halt.wait(self.period):
            if self.active:
                self.peak_bytes = max(self.peak_bytes, self._sample())

    def stop(self):
        self._halt.set()
        self.join()


def error_class(e: BaseException) -> str:
    """Exception type plus Spark's error condition, e.g.
    ``AnalysisException:AMBIGUOUS_REFERENCE``."""
    cond = e.getCondition() if hasattr(e, "getCondition") else None
    return f"{type(e).__name__}:{cond}" if cond else type(e).__name__


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it was launched in, and wait
    for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                # the gateway exits when its stdin closes; a JVM stuck in
                # shutdown is terminated, then killed
                proc.stdin.close()
                for stop in (None, proc.terminate, proc.kill):
                    if stop is not None:
                        stop()
                    try:
                        proc.wait(timeout=10)
                        break
                    except subprocess.TimeoutExpired:
                        pass


def run_workload(args) -> int:
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        cores = box_env(work)
        sys.path.insert(0, ROOT)
        try:
            import bench  # the repo's bench: JVM census helpers; imports the engine
            from __spark_entry__ import _ensure_pkg_on_workers
        except ImportError as e:
            print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
            return 2
        return _measure(args, wl, work, cores, bench, _ensure_pkg_on_workers)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def _passes_until(run_pass, end: float, least: int = 1) -> list[dict]:
    """Whole passes, at least ``least``, then while the next is expected
    (from the last one's time) to finish by ``end``: a run measures about
    its seconds and no more, whatever a pass costs."""
    passes = [run_pass() for _ in range(least)]
    while time.perf_counter() + passes[-1]["wall_s"] <= end:
        passes.append(run_pass())
    return passes


def _measure(args, wl, work, cores, bench, ship) -> int:
    import datagen
    import summary
    from pyspark.sql import DataFrame
    from workloads import registry_ops, trees_ops

    from isen_projet_bigdata_a3s6_spark.session import get_spark

    foreign_pre = bench._foreign_spark_jvms()
    data_dir = os.path.join(work, "data", f"sf{wl.sf}")
    input_rows = datagen.write_tables(data_dir, wl.sf, args.seed) if wl.queries else {}

    sampler = RssSampler()
    sampler.start()
    session_spans: dict[str, float] = {}
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        extra_conf={
            "spark.driver.extraJavaOptions":
                # the heap is committed and touched up front, so the resident
                # size moves with off-heap memory, code and Python workers
                # rather than with when the collector grows the heap
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.ui.retainedExecutions": "20000",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # a failed operation is reported by its error class below; PySpark's
    # per-failure query-context dump (a full JVM stack trace) is not needed
    logging.getLogger("DataFrameQueryContextLogger").setLevel(logging.CRITICAL)
    session_spans["session.start"] = time.perf_counter() - t
    tracer = None
    try:
        t = time.perf_counter()
        ship(spark)
        session_spans["session.ship"] = time.perf_counter() - t

        if wl.queries:
            ops = registry_ops(wl.queries, data_dir)
        else:
            from isen_projet_bigdata_a3s6_spark.plans.trees_pipeline import trees_fixture

            trees_path = os.path.join(work, "data", "trees.parquet")
            trees_fixture(spark, n=wl.trees_rows, seed=args.seed).write.parquet(trees_path)
            input_rows = {"trees": spark.read.parquet(trees_path).count()}
            ops = trees_ops(trees_path)
        random.Random(args.seed).shuffle(ops)

        # untimed pass at the target size: warms JIT and codegen, and checks
        # every output (a wrong result fails that operation in every pass)
        t = time.perf_counter()
        checks: dict[str, dict] = {}
        for op in ops:
            spark.catalog.clearCache()
            t_check = time.perf_counter()
            try:
                c = op.check(spark)
                checks[op.name] = {"ok": c.ok, "rows": c.rows, "oracle_rows": c.oracle_rows,
                                   "vacuous": c.vacuous, "detail": c.detail}
            except Exception as e:  # an operation that raises fails in the timed passes too
                checks[op.name] = {"ok": None, "rows": None, "error": error_class(e)}
            checks[op.name]["check_s"] = time.perf_counter() - t_check
        session_spans["session.warm"] = time.perf_counter() - t
        wrong = {n for n, c in checks.items() if c["ok"] is False}

        def run_pass(tr) -> dict:
            rec = {"failed": False, "ops": {}}
            t_pass = time.perf_counter()
            for op in ops:
                spark.catalog.clearCache()
                first = tr.execution_count() if tr else 0
                built = first
                err = None
                t0 = time.perf_counter()
                b = x = 0.0
                t1 = t0
                try:
                    res = op.build(spark)
                    b = time.perf_counter() - t0
                    if tr:
                        built = tr.execution_count()
                    t1 = time.perf_counter()
                    if isinstance(res, DataFrame):
                        res.write.format("noop").mode("overwrite").save()
                    x = time.perf_counter() - t1
                except Exception as e:  # the operation failed: record it, run the next
                    err = error_class(e)
                    if t1 == t0:
                        b = time.perf_counter() - t0
                    else:
                        x = time.perf_counter() - t1
                ok = err is None and op.name not in wrong
                rec["ops"][op.name] = {"build_s": b, "exec_s": x, "ok": ok, "error": err}
                rec["failed"] |= not ok
                if tr:
                    if op.layer == "queries":
                        tr.span("queries.build", op.name, t0, b)
                        tr.span("queries.exec", op.name, t1, x)
                    else:
                        tr.span(op.layer, op.name, t0, b + x)
                    tr.harvest(op.name, op.layer, first, built, b + x)
            rec["wall_s"] = time.perf_counter() - t_pass
            return rec

        # untimed passes as in the timed loop: the check pass ran each
        # operation cold, the first repetition of the noop path is ~40%
        # slower still, and background JIT compilation settles over the next
        t = time.perf_counter()
        warm = [run_pass(None) for _ in range(WARM_PASSES)]
        session_spans["session.warm"] += time.perf_counter() - t
        setup_s = time.perf_counter() - _T0
        t_start = time.perf_counter()
        untraced_end = t_start + (args.seconds / 2 if args.trace else args.seconds)
        traced = []
        sampler.active = True
        passes = _passes_until(lambda: run_pass(None), untraced_end, MIN_PASSES)
        sampler.active = False
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark, cores)
            traced = _passes_until(lambda: run_pass(tracer), t_start + args.seconds)
            tracer.close()
        foreign_post = bench._foreign_spark_jvms()
    finally:
        stop_spark(spark)
        sampler.stop()

    attempted = sum(len(p["ops"]) for p in passes + traced)
    failed = sum(not o["ok"] for p in passes + traced for o in p["ops"].values())
    clean = summary.clean_pass_times(passes)
    op_medians = {}
    for op in ops:
        lat = [p["ops"][op.name]["build_s"] + p["ops"][op.name]["exec_s"]
               for p in passes if p["ops"][op.name]["ok"]]
        if lat:
            op_medians[op.name] = summary.median(lat)
    e2e = {
        "setup_s": setup_s,
        "pass_s": summary.median(clean) if clean else None,
        "op_geomean_s": summary.geomean(list(op_medians.values())) if op_medians else None,
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": sampler.peak_bytes / 1024**2,
    }
    layer = {}
    overhead = None
    if tracer is not None:
        layer = tracer.layer_metrics(len(traced))
        layer.update({f"{k}_s": v for k, v in session_spans.items()})
        t_clean = summary.clean_pass_times(traced)
        if clean and t_clean:
            overhead = summary.median(t_clean) / summary.median(clean) - 1.0
    contended = bool(foreign_pre or foreign_post)
    _report(wl, args, ops, checks, warm, passes, traced, e2e, layer, overhead, contended,
            input_rows, session_spans, tracer)

    if args.trace:
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _report(wl, args, ops, checks, warm, passes, traced, e2e, layer, overhead, contended,
            input_rows, session_spans, tracer) -> None:
    import summary

    err = sys.stderr
    print(f"perfbench {wl.name} seed={args.seed} passes={len(passes)} traced={len(traced)} "
          f"contended={contended} inputs={input_rows}", file=err)
    print(f"{'operation':34s} {'build_s':>8s} {'exec_s':>8s} {'rows':>7s}  check", file=err)
    for op in ops:
        rs = [p["ops"][op.name] for p in passes]
        good = [r for r in rs if r["ok"]]
        c = checks[op.name]
        status = ("error " + c["error"]) if "error" in c else (
            "ok" if c["ok"] else "WRONG " + c["detail"])
        if c.get("vacuous"):
            status += " (vacuous: 0 rows on both engines)"
        errs = sorted({r["error"] for r in rs if r["error"]})
        if errs:
            status += f"; failed in {len(rs) - len(good)}/{len(rs)} passes: {', '.join(errs)}"
        timed = good or rs  # a failed operation's times are its time to fail
        b = f"{summary.median([r['build_s'] for r in timed]):8.3f}"
        x = f"{summary.median([r['exec_s'] for r in timed]):8.3f}"
        rows = "-" if c.get("rows") is None else str(c["rows"])
        print(f"{op.name:34s} {b} {x} {rows:>7s}  {status}", file=err)
    for n, u in END_TO_END:
        v = e2e[n]
        print(f"  {n:14s} {'null' if v is None else f'{v:.4f}'} {u}", file=err)
    print(f"  failed_frac    {1.0 - e2e['ok_frac']:.4f}", file=err)
    if tracer is not None:
        for n, u in PER_LAYER + EXTRA_LAYER:
            print(f"  {n:30s} {layer.get(n, 0.0):.4f} {u}", file=err)
        if overhead is not None:
            print(f"  tracing overhead: {overhead:+.1%} of the untraced pass time", file=err)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "contended": contended, "input_rows": input_rows, "checks": checks,
            "order": [op.name for op in ops], "session": session_spans,
            "warm_passes": [p["wall_s"] for p in warm],
            "passes": passes, "traced_passes": traced, "end_to_end": e2e,
            "per_layer": layer, "tracing_overhead": overhead,
            "spans": tracer.records if tracer else [],
            "op_records": tracer.ops if tracer else [],
        }, f, indent=1)


def run_all(args) -> int:
    """Every workload in its own process; one table of end-to-end metrics."""
    from workloads import WORKLOADS

    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            rows.append((name, "exit", proc.returncode, ""))
            continue
        res = json.loads(lines[-1])
        rows.append((name, "correct", res["correct"], ""))
        rows.append((name, "failed/attempted", f"{res['failed']}/{res['attempted']}", ""))
        for metric, v in res["metrics"].items():
            val = v["value"]
            rows.append((name, metric, "null" if val is None else f"{val:.4f}", v["unit"]))
    width = max(len(r[1]) for r in rows)
    for wl, metric, val, unit in rows:
        print(f"{wl:16s} {metric:{width}s} {val} {unit}")
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
