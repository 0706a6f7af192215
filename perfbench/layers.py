"""Traced-run instrumentation: spans around each call into a layer, plus the
per-operator and per-stage statistics Spark's status stores already keep
for every execution (the UI need not be enabled).

Reads, after each operation:
- the SQL status store (``sharedState().statusStore()``): executions started
  since the last operation, their plan graphs and formatted node metrics;
- the app status store (``stageData``/``taskSummary``): task counts, run and
  CPU time, GC, shuffle bytes and fetch wait for each stage of those
  executions.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict

from summary import parse_spark_metric

# node names that pass rows through unchanged (or only wrap codegen), so a
# join under them still feeds the node above directly
_PASS_THROUGH = {
    "Project", "Filter", "Exchange", "AQEShuffleRead", "Sort", "InputAdapter",
    "ColumnarToRow", "BroadcastExchange", "ShuffleQueryStage",
    "BroadcastQueryStage", "TableCacheQueryStage", "AdaptiveSparkPlan",
}
_AGGREGATES = {"HashAggregate", "SortAggregate", "ObjectHashAggregate"}
# the similarity-join operations whose candidate / verified counts the
# functions layer reports
PAIR_OPS = ("q38_minhash_pairs", "q126_editdist_pairs", "q161_jaccard_prefix_join")


_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),\w+\)")
_EDGE = re.compile(r"SparkPlanGraphEdge\((\d+),(\d+)\)")
_MAP_ENTRY = re.compile(r"(?:^[A-Za-z]*Map\(|, )(\d+) -> ")


def _parse_metric_map(text: str) -> dict[int, str]:
    """Parse Scala's ``Map(12 -> 1,234, 13 -> 2.3 s (…))`` rendering of the
    accumulator id → formatted value map. Values hold commas and
    parentheses but never ``" -> "``, so entries split at ``", <id> -> "``."""
    body = text[:-1] if text.endswith(")") else text
    marks = list(_MAP_ENTRY.finditer(body))
    out = {}
    for i, m in enumerate(marks):
        end = marks[i + 1].start() if i + 1 < len(marks) else len(body)
        out[int(m.group(1))] = body[m.end():end]
    return out


def _is_join(name: str) -> bool:
    return "Join" in name or name.startswith("CartesianProduct")


def _base(name: str) -> str:
    return name.split(" (", 1)[0].strip()


class PlanGraph:
    """One execution's physical plan: nodes, child edges, metric values."""

    def __init__(self, conv, store, execution_id: int):
        # Scala toString renderings keep this to a few py4j calls per node
        # instead of several per metric
        self.metrics = _parse_metric_map(str(store.executionMetrics(execution_id)))
        graph = store.planGraph(execution_id)
        self.nodes = {}
        for n in conv.asJava(graph.allNodes()):
            ms = {m[0]: int(m[1]) for m in _PLAN_METRIC.findall(str(n.metrics()))}
            self.nodes[n.id()] = (n.name().strip(), ms)
        self.children = defaultdict(list)
        child_ids = set()
        for child, parent in _EDGE.findall(str(graph.edges())):
            self.children[int(parent)].append(int(child))
            child_ids.add(int(child))
        self.roots = sorted(i for i in self.nodes if i not in child_ids)

    def value(self, node_id: int, metric: str) -> float | None:
        acc = self.nodes[node_id][1].get(metric)
        return None if acc is None else parse_spark_metric(self.metrics.get(acc))

    def rows(self, node_id: int) -> float | None:
        return self.value(node_id, "number of output rows")

    def unique_metrics(self):
        """(node name, metric name, value) once per accumulator: cached
        relations repeat their child plan under every reader, with the same
        accumulators, so summing per node would count them repeatedly."""
        seen = set()
        for name, ms in self.nodes.values():
            for metric, acc in ms.items():
                if acc in seen:
                    continue
                seen.add(acc)
                v = parse_spark_metric(self.metrics.get(acc))
                if v is not None:
                    yield name, metric, v

    def _first_join(self, node_id: int, through: set[str]) -> int | None:
        """First join below ``node_id`` reached through ``through`` nodes."""
        for c in self.children.get(node_id, []):
            name = _base(self.nodes[c][0])
            if _is_join(name):
                return c
            if name in through or name.startswith("WholeStageCodegen"):
                j = self._first_join(c, through)
                if j is not None:
                    return j
        return None

    def pair_counts(self) -> tuple[float, float] | None:
        """(candidates, verified) of a block → join → verify pair generator.

        From the root, the first join reached through row-preserving nodes
        and the final deduplicating aggregates is the verify step. If its
        input is itself a join (through row-preserving nodes only), that
        input join is the blocking join: candidates are its output rows,
        verified pairs the verify join's. Otherwise verification is fused
        into the join: candidates are the join's output rows and verified
        pairs are the plan's output rows."""
        for root in self.roots:
            top = self._first_join(root, _PASS_THROUGH | _AGGREGATES)
            if top is None:
                continue
            inner = self._first_join(top, _PASS_THROUGH)
            if inner is not None:
                cand, ver = self.rows(inner), self.rows(top)
            else:
                cand, ver = self.rows(top), self._root_rows(root)
            if cand is not None and ver is not None:
                return cand, ver
        return None

    def _root_rows(self, node_id: int) -> float | None:
        r = self.rows(node_id)
        if r is not None:
            return r
        for c in self.children.get(node_id, []):
            r = self._root_rows(c)
            if r is not None:
                return r
        return None


class StreamingCounter:
    """Micro-batch count and duration from a StreamingQueryListener."""

    def __init__(self):
        self.batches = 0
        self.batch_ms = 0.0
        self.lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with counter.lock:
                    counter.batches += 1
                    counter.batch_ms += float(event.progress.batchDuration)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


class Tracer:
    """Spans and per-layer counters of one traced run."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.peak_mem_mb = 0.0  # largest "peak memory" total of any plan node
        self.ops: list[dict] = []
        self.records: list[dict] = []
        self._t0 = time.perf_counter()
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_q = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._q = spark.sparkContext._gateway.new_array(jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self.streaming = StreamingCounter()
        self._listener = self.streaming.listener()
        spark.streams.addListener(self._listener)
        self._longest_stage = (0.0, 0.0)  # (run time ms, max / median task)

    def span(self, name: str, op: str, start: float, seconds: float) -> None:
        """One span: a layer call made for operation ``op`` (its parent),
        starting at ``start`` (perf_counter) and lasting ``seconds``."""
        self.spans[name].append(seconds)
        self.records.append({"name": name, "op": op, "start": start - self._t0,
                             "end": start - self._t0 + seconds})

    def execution_count(self) -> int:
        self._bus.waitUntilEmpty()
        return self._sql.executionsCount()

    def harvest(self, op: str, layer: str, first: int, built: int, wall_s: float) -> None:
        """Fold executions ``first..`` (those with index < ``built`` started
        while the DataFrame was being built) into the layer counters."""
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount() - first
        execs = self._conv.asJava(self._sql.executionsList(first, n)) if n > 0 else []
        rec = {"op": op, "executions": n, "eager": max(0, built - first), "wall_s": wall_s}
        if layer == "queries":
            self.counts["queries.eager_execs"] += rec["eager"]
        elif layer == "ml.fit":
            self.counts["ml.jobs"] += n
        task_ms = 0.0
        for e in execs:
            g = PlanGraph(self._conv, self._sql, e.executionId())
            self._fold_nodes(g)
            if op in PAIR_OPS:
                pc = g.pair_counts()
                if pc is not None:
                    rec["candidates"], rec["verified"] = pc
            for sid in sorted(self._conv.asJava(e.stages())):
                task_ms += self._fold_stage(int(sid))
        if op in PAIR_OPS and "candidates" in rec:
            self.counts["functions.candidates"] += rec["candidates"]
            self.counts["functions.verified"] += rec["verified"]
        self.counts["executor.task_run_ms"] += task_ms
        self.counts["executor.wall_core_ms"] += wall_s * 1000.0 * self.cores
        self.ops.append(rec)

    def _fold_nodes(self, g: PlanGraph) -> None:
        c = self.counts
        for node, metric, v in g.unique_metrics():
            base = _base(node)
            if base.startswith("Scan ") or base.startswith("BatchScan"):
                key = {"number of output rows": "sources.scan_rows",
                       "size of files read": "sources.scan_bytes",
                       "scan time": "sources.scan_ms"}.get(metric)
                if key:
                    c[key] += v
            if metric == "number of written files":
                c["sources.files_written"] += v
            elif metric == "written output":
                c["sources.write_bytes"] += v
            elif metric == "time in aggregation build":
                c["operators.agg_build_ms"] += v
            elif metric == "sort time":
                c["operators.sort_ms"] += v
            elif metric == "spill size":
                c["operators.spill_bytes"] += v
            elif metric == "peak memory":
                self.peak_mem_mb = max(self.peak_mem_mb, v / 1024.0**2)
            elif metric == "data size" and base == "BroadcastExchange":
                c["operators.broadcast_bytes"] += v
            elif metric == "number of output rows" and _is_join(base):
                c["operators.join_rows"] += v

    def _fold_stage(self, stage_id: int) -> float:
        attempts = self._conv.asJava(
            self._app.stageData(stage_id, False, self._no_tasks, False, self._no_q))
        run_ms = 0.0
        c = self.counts
        for s in attempts:
            if str(s.status()) != "COMPLETE":
                continue
            c["executor.tasks"] += s.numCompleteTasks()
            c["executor.task_cpu_ms"] += s.executorCpuTime() / 1e6
            c["executor.gc_ms"] += s.jvmGcTime()
            c["executor.shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["executor.shuffle_read_bytes"] += s.shuffleReadBytes()
            c["executor.fetch_wait_ms"] += s.shuffleFetchWaitTime()
            stage_ms = float(s.executorRunTime())
            run_ms += stage_ms
            if stage_ms > self._longest_stage[0]:
                self._longest_stage = (stage_ms, self._skew(stage_id, s.attemptId()))
        return run_ms

    def _skew(self, stage_id: int, attempt: int) -> float:
        summary = self._app.taskSummary(stage_id, attempt, self._q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        return top / med if med > 0 else 1.0

    def close(self) -> None:
        self._bus.waitUntilEmpty()
        try:
            self.spark.streams.removeListener(self._listener)
        except Exception:
            pass

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Per-pass layer numbers: additive counters are divided by the
        number of traced passes, maxima and ratios are reported as is."""
        per = max(1, passes)
        c = self.counts
        out = {
            k: c[k] / per
            for k in (
                "queries.eager_execs", "sources.scan_rows", "sources.scan_bytes",
                "sources.scan_ms", "sources.files_written", "sources.write_bytes",
                "operators.agg_build_ms", "operators.sort_ms", "operators.join_rows",
                "operators.spill_bytes", "operators.broadcast_bytes",
                "functions.candidates", "functions.verified", "executor.tasks",
                "executor.task_run_ms", "executor.task_cpu_ms", "executor.gc_ms",
                "executor.shuffle_write_bytes", "executor.shuffle_read_bytes",
                "executor.fetch_wait_ms", "ml.jobs",
            )
        }
        out["operators.peak_mem_mb"] = self.peak_mem_mb
        out["functions.verify_yield"] = (
            c["functions.verified"] / c["functions.candidates"]
            if c["functions.candidates"] else 0.0)
        out["executor.task_skew"] = self._longest_stage[1]
        out["executor.core_util"] = (
            c["executor.task_run_ms"] / c["executor.wall_core_ms"]
            if c["executor.wall_core_ms"] else 0.0)
        with self.streaming.lock:
            out["streaming.batches"] = self.streaming.batches / per
            out["streaming.batch_ms"] = self.streaming.batch_ms / per
        for name, vals in self.spans.items():
            out[f"{name}_s"] = sum(vals) / per
        return out
