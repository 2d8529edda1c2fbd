"""Span tracer for the benchmark's traced runs.

A span is opened around a call into one layer of the warehouse. Each
span runs under its own Spark job group; when it closes, the tracer
waits for the listener bus to drain and reads the span's jobs and
stages back from Spark's status store
(``statusTracker().getJobIdsForGroup`` + ``statusStore()
.lastStageAttempt``). Jobs belong to the innermost open span, so a
span's job counters are its *self* counters; its self time is its wall
time minus the time its child spans cover. Time the tracer spends
harvesting is kept out of every span and reported as the overhead.

``install`` wraps the public entry points from outside the package:
``load_landing_file``, ``normalize_transactions``, ``add_report_data``,
``report_pivot``, ``run_streaming_mart`` and ``TableStore``'s
``overwrite_versioned`` / ``append`` / ``truncate``. The benchmark's
own modules call the entry points through ``api`` module attributes,
so the wrappers see every call.
"""

from __future__ import annotations

import contextlib
import re
import time

from py4j.protocol import Py4JJavaError

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display value as a number: counts as shown
    (``1,000``), timings in seconds (``12 ms``)."""
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


_DOT_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" '
                       r'label="(.*?)" tooltip=', re.M)
_DOT_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
# a metric aggregated over several tasks renders as a header line,
# ``name total (min, med, max (stageId: taskId))``, and its values on
# the next line, ``61 ms (14 ms, 16 ms, 17 ms (stage 2.0: task 5))``
_AGG_HEADER = re.compile(r"^(.*?) (?:total )?\(min, med, max\b.*\)$")


def parse_dot(dot: str) -> list[dict]:
    """Nodes of a ``SparkPlanGraph.makeDotFile`` rendering: label name,
    ``{metric: display value}`` and child node ids. A metric aggregated
    over several tasks maps to its total line, ``61 ms (14 ms, ...)``."""
    children: dict[int, list[int]] = {}
    for child, parent in _DOT_EDGE.findall(dot):
        children.setdefault(int(parent), []).append(int(child))
    nodes = []
    for nid, label in _DOT_NODE.findall(dot):
        parts = label.replace("<b>", "").replace("</b>", "").split("<br>")
        metrics = {}
        lines = iter(parts[1:])
        for line in lines:
            agg = _AGG_HEADER.match(line)
            if agg:
                metrics[agg.group(1).strip()] = next(lines, "").strip()
                continue
            name, sep, value = line.partition(": ")
            if sep:
                metrics[name.strip()] = value.strip()
        nodes.append({"id": int(nid), "name": parts[0].strip(),
                      "metrics": metrics,
                      "children": children.get(int(nid), [])})
    return nodes


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc, self.cores = spark.sparkContext, cores
        jvm_sc = self.sc._jsc.sc()
        self._bus, self._store = jvm_sc.listenerBus(), jvm_sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._stack: list[dict] = []
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._seq = 0

    # ---- spans --------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str, sql: bool = False):
        """Trace one call. ``sql=True`` also reads the SQL executions
        the span started (operator metrics, ``rec["sql"]``)."""
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "group": f"perfbench-{self._seq}",
               "parent_layer": parent["layer"] if parent else None,
               "child_s": 0.0, "extra_groups": [], "sql": [],
               "sql_from": self._sql.executionsCount() if sql else None}
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            rec["self_s"] = rec["wall_s"] - rec["child_s"]
            self._stack.pop()
            t = time.perf_counter()
            self._harvest(rec)
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t
            if parent is not None:
                parent["child_s"] += time.perf_counter() - start
            self.spans.append(rec)

    def in_layer(self, layer: str) -> bool:
        return bool(self._stack) and self._stack[-1]["layer"] == layer

    def off_span(self, t0: float) -> None:
        """Book tracer work since ``t0`` as overhead, outside the
        enclosing span's self time."""
        dt_ = time.perf_counter() - t0
        self.overhead_s += dt_
        if self._stack:
            self._stack[-1]["child_s"] += dt_

    # ---- harvest ------------------------------------------------------
    def _harvest(self, rec: dict) -> None:
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = []
        for g in [rec["group"], *rec["extra_groups"]]:
            jobs += list(tracker.getJobIdsForGroup(g))
        tot = {"jobs": len(jobs), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "shuffle_bytes": 0, "output_bytes": 0}
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:      # skipped stage: never attempted
                    continue
                tot["tasks"] += sd.numTasks()
                tot["run_s"] += sd.executorRunTime() / 1e3
                tot["cpu_s"] += sd.executorCpuTime() / 1e9
                tot["shuffle_bytes"] += sd.shuffleWriteBytes()
                tot["output_bytes"] += sd.outputBytes()
        rec.update(tot)
        if rec["sql_from"] is not None:
            rec["sql"] = self._sql_nodes(rec["sql_from"])

    def _sql_nodes(self, since: int) -> list[list[dict]]:
        """Plan nodes with metric values of every SQL execution started
        since execution count ``since``: one list of
        ``{"id", "name", "metrics", "children"}`` per execution.

        The plan graph is read as one DOT rendering per execution
        (``SparkPlanGraph.makeDotFile``): walking its nodes and metrics
        object by object costs a gateway round trip each."""
        out = []
        n = self._sql.executionsCount() - since
        if n <= 0:
            return out
        for e in self._conv.asJava(self._sql.executionsList(since, n)):
            # the readers need only pandas-UDF and file-write nodes;
            # skip every other plan without rendering its graph
            plan = e.physicalPlanDescription()
            if ("FlatMapGroupsInPandas" not in plan
                    and "InsertIntoHadoopFsRelation" not in plan):
                continue
            eid = e.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(
                self._sql.executionMetrics(eid))
            out.append(parse_dot(dot))
        return out

    def cached_bytes(self) -> int:
        """Storage memory held by cached RDDs right now."""
        return sum(info.memSize() for info in
                   self.sc._jsc.sc().getRDDStorageInfo())


def python_rows(executions: list[list[dict]]) -> int:
    """Rows shuffled into grouped-map pandas UDFs (``applyInPandas``):
    the ``shuffle records written`` of the exchange under each
    ``FlatMapGroupsInPandas`` node."""
    total = 0
    for nodes in executions:
        by_id = {n["id"]: n for n in nodes}
        for n in nodes:
            if n["name"] != "FlatMapGroupsInPandas":
                continue
            todo = list(n["children"])
            while todo:
                c = by_id.get(todo.pop(0))
                if c is None:
                    continue
                if c["name"] == "Exchange":
                    total += int(parse_metric(
                        c["metrics"].get("shuffle records written", "0")))
                    break
                todo += c["children"]
    return total


def commit_s(executions: list[list[dict]]) -> float:
    """Task + job commit time of the file writes in ``executions``."""
    total = 0.0
    for nodes in executions:
        for n in nodes:
            if n["name"].startswith("Execute InsertIntoHadoopFsRelation"):
                total += sum(parse_metric(n["metrics"].get(k, "0"))
                             for k in ("task commit time", "job commit time"))
    return total


def report_split_error(spans: list[dict]) -> str | None:
    """Why the split of a day's report write cannot be trusted, or None.
    Every ``add_report_data`` that appended rows leaves one write span
    under it, and that write's SQL metrics show a commit time above 0;
    otherwise the whole write would be booked as mart work."""
    writes = [s for s in spans
              if s["layer"] == "tablestore" and s["parent_layer"] == "mart"]
    appended = sum(1 for s in spans
                   if s["name"] == "add_report_data" and s["result"])
    if len(writes) != appended:
        return (f"{appended} report batches appended, "
                f"{len(writes)} report writes traced")
    for s in writes:
        if commit_s(s["sql"]) <= 0:
            return f"{s['name']}: its SQL metrics show no commit time"
    return None


def install(tracer: Tracer, api, store_cls) -> None:
    """Wrap the warehouse entry points on ``api`` (the public module the
    benchmark calls through) and on the ``TableStore`` class."""

    def wrap(fn, name, layer, sql=False, stream=False):
        def wrapped(*args, **kwargs):
            with tracer.span(name, layer, sql=sql) as rec:
                out = fn(*args, **kwargs)
                rec["result"] = out
                if stream:
                    # micro-batch jobs run under the query's run id
                    rec["extra_groups"].append(str(out.runId))
            if stream:
                t0 = time.perf_counter()
                rec["progress"] = [p["numInputRows"]
                                   for p in out.recentProgress]
                tracer.off_span(t0)
            return out
        wrapped.__wrapped__ = fn
        return wrapped

    api.load_landing_file = wrap(api.load_landing_file,
                                 "load_landing_file", "sources")
    api.normalize_transactions = wrap(api.normalize_transactions,
                                      "normalize_transactions", "etl")
    api.add_report_data = wrap(api.add_report_data, "add_report_data",
                               "mart", sql=True)
    api.report_pivot = wrap(api.report_pivot, "report_pivot", "mart")
    api.run_streaming_mart = wrap(api.run_streaming_mart,
                                  "run_streaming_mart", "streaming",
                                  stream=True)

    orig_over = store_cls.overwrite_versioned

    def overwrite_versioned(store, name, df, *args, **kwargs):
        t0 = time.perf_counter()
        v0 = store.current_version(name)
        before = store.bucket_files(name) if v0 >= 0 else {}
        tracer.off_span(t0)
        with tracer.span(f"overwrite_versioned:{name}", "tablestore") as rec:
            orig_over(store, name, df, *args, **kwargs)
        t0 = time.perf_counter()
        committed = store.current_version(name) != v0
        after = store.bucket_files(name)
        rec["committed"] = committed
        rec["buckets_total"] = len(after) if committed else 0
        rec["buckets_rewritten"] = (
            sum(1 for k in after.keys() | before.keys()
                if after.get(k) != before.get(k)) if committed else 0)
        tracer.off_span(t0)

    orig_append, orig_truncate = store_cls.append, store_cls.truncate

    def append(store, name, df, *args, **kwargs):
        # the report batch is lazy: its write re-runs the mart plan, so
        # that span reads its SQL metrics to split commit from compute
        with tracer.span(f"append:{name}", "tablestore",
                         sql=tracer.in_layer("mart")):
            orig_append(store, name, df, *args, **kwargs)

    def truncate(store, name, *args, **kwargs):
        with tracer.span(f"truncate:{name}", "tablestore"):
            orig_truncate(store, name, *args, **kwargs)

    store_cls.overwrite_versioned = overwrite_versioned
    store_cls.append = append
    store_cls.truncate = truncate


def day_layers(spans: list[dict], cores: int, landing_bytes: int) -> dict:
    """Per-layer metrics of one warehouse day from its closed spans.

    The report append (a ``tablestore`` span under ``add_report_data``)
    re-runs the lazy mart plan, so only its file-commit time is booked
    to the table store; the rest of its wall time and all of its jobs
    are mart work."""
    def of(layer):
        return [s for s in spans if s["layer"] == layer]

    def busy(group, wall):
        run = sum(s["run_s"] for s in group)
        return run / (cores * wall) if wall > 0 else 0.0

    etl, mart, src, stream = of("etl"), of("mart"), of("sources"), of("streaming")
    store = of("tablestore")
    report_w = [s for s in store if s["parent_layer"] == "mart"]
    store_own = [s for s in store if s["parent_layer"] != "mart"]
    over = [s for s in store if s["name"].startswith("overwrite_versioned")]
    commits = [s for s in over if s["committed"]]
    report_commit = sum(commit_s(s["sql"]) for s in report_w)
    appends = [s for s in store if s["name"].startswith("append")]
    store_own_s = sum(s["wall_s"] for s in store_own)
    written = sum(s["output_bytes"] for s in store)
    etl_self = sum(s["self_s"] for s in etl)
    mart_self = (sum(s["self_s"] for s in mart)
                 + sum(s["wall_s"] for s in report_w) - report_commit)
    src_wall = sum(s["wall_s"] for s in src)
    src_all = src + [s for s in store if s["parent_layer"] == "sources"]
    drain = sum(s["wall_s"] for s in stream)
    buckets_total = sum(s["buckets_total"] for s in commits)
    rewritten = sum(s["buckets_rewritten"] for s in commits)
    return {
        "etl.self_s": etl_self,
        "etl.jobs": sum(s["jobs"] for s in etl),
        "etl.tasks": sum(s["tasks"] for s in etl),
        "etl.cpu_s": sum(s["cpu_s"] for s in etl),
        "etl.shuffle_bytes": sum(s["shuffle_bytes"] for s in etl),
        "etl.rewrite_ratio": sum(1 for s in commits
                                 if s["parent_layer"] == "etl") / 8,
        "etl.busy_ratio": busy(etl, etl_self),
        "tablestore.overwrite_s": sum(s["wall_s"] for s in over),
        "tablestore.append_s": (sum(s["wall_s"] for s in appends
                                    if s["parent_layer"] != "mart")
                                + report_commit),
        "tablestore.commits": len(commits) + len(appends),
        "tablestore.report_commit_s": report_commit,
        "tablestore.buckets_rewritten": rewritten,
        "tablestore.bucket_rewrite_ratio": (rewritten / buckets_total
                                            if buckets_total else 0.0),
        "tablestore.bytes_written": written,
        "tablestore.bytes_written_per_landing_byte": written / landing_bytes,
        "tablestore.busy_ratio": busy(store_own, store_own_s),
        "mart.self_s": mart_self,
        "mart.jobs": (sum(s["jobs"] for s in mart)
                      + sum(s["jobs"] for s in report_w)),
        "mart.python_rows": sum(python_rows(s["sql"]) for s in mart),
        "mart.report_rows": sum(s["result"] for s in mart
                                if s["name"] == "add_report_data"),
        "mart.busy_ratio": busy(mart + report_w, mart_self),
        "sources.wall_s": src_wall,
        "sources.rows": sum(s["result"] for s in src),
        "sources.jobs": sum(s["jobs"] for s in src_all),
        "sources.busy_ratio": busy(src_all, src_wall),
        "streaming.drain_s": drain,
        "streaming.batches": sum(len(s["progress"]) for s in stream),
        "streaming.rows": sum(sum(s["progress"]) for s in stream),
        "streaming.busy_ratio": busy(stream, drain),
    }
