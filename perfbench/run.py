"""Warehouse benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: ``first_day`` times the
daily warehouse cycle, and ``operator_queries`` times the operator
queries cold and warm. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the ``end_to_end`` metrics of ``BENCHMARK.json``, with ``--trace 1``
its ``per_layer`` metrics from a traced run. The end-to-end figures
are the CPU seconds the process tree spends on a timed unit (a day, a
pass of queries) and the set-up's wall time; the units' wall-clock
latencies are in the record. The line before it, prefixed
``perfbench-record``, carries the full record: the context the run was
measured in, every day's or query's figures and any check failures.

Everything the run writes goes to ``.perfbench_work/`` under the
current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

from day import DayCycle
from ops import QUERIES, OperatorQueries
from opsgen import make_documents
from procfs import cpu_steal_ticks, tree_peak_rss_mb
from spans import Tracer, day_layers, install, report_split_error

WORKLOADS = ("first_day", "operator_queries")
DRIVER_MEMORY = "2g"
#: warm passes still speed up one after another as the JVM compiles
#: the queries' hot paths (CPU 18.6, 15.6, 14.0 s; wall 5.1, 4.4, 4.0 s
#: in one run), so a warm figure taken over however many passes fitted
#: into ``--seconds`` moves with the host's speed; every run makes at
#: least this many, and the warm figures are means over all of them,
#: which over ten seeds spread less than their medians or any one pass
MIN_WARM_PASSES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def source_digest(root: str) -> str:
    """The commit when the checkout is a git work tree, else a digest of
    the package sources (a checkout without ``.git`` has no commit)."""
    head = os.path.join(root, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(root, ".git", ref[5:])
            if os.path.isfile(path):
                with open(path) as f:
                    return f.read().strip()
        else:
            return ref
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "greenplum_dwh_spark", "**",
                                          "*.py"), recursive=True))
    for path in files + [os.path.join(root, "__spark_entry__.py")]:
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, root).encode() + b"\0" + f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def start_spark(work: str, cores: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    from greenplum_dwh_spark.session import get_spark
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        # a 2 GB heap is ample for these sizes and caps how far the
        # JVM's resident memory drifts with its heap-growth decisions
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it; its
    Python daemon and workers exit with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def context(spark, cores: int, root: str, args) -> dict:
    import pyspark
    conf = spark.sparkContext.getConf()
    return {
        "nproc": cores,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", "1g"),
        "commit": source_digest(root),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def run_days(spark, api, work, args, tracer, t_start) -> dict:
    cycle = DayCycle(spark, api, work, args.seed)
    d = 0
    setup_s = time.perf_counter() - t_start
    days, layers = [], []
    t0 = time.perf_counter()
    while True:
        n_spans = len(tracer.spans) if tracer else 0
        over0 = tracer.overhead_s if tracer else 0.0
        out = cycle.run_day(d)
        days.append(out)
        if tracer is not None:
            spans = tracer.spans[n_spans:]
            m = day_layers(spans, tracer.cores, out["extract_bytes"])
            out["error"] = out["error"] or report_split_error(spans)
            m["trace.overhead_s"] = tracer.overhead_s - over0
            m["trace.overhead_ratio"] = m["trace.overhead_s"] / out["latency_s"]
            layers.append(m)
        d += 1
        if out["error"] or time.perf_counter() - t0 >= args.seconds:
            break
    lat = [x["latency_s"] for x in days]
    cpu = [x["cpu_s"] for x in days]
    wh_ratio = du(cycle.wh_dir) / cycle.extract_bytes
    e2e = {"setup_s": setup_s,
           "cpu_s": statistics.median(cpu)}
    info = {"days": days,
            "latency_p50_s": statistics.median(lat),
            "cold_latency_s": lat[0],
            "batch_rows_per_s": sum(x["rows"] for x in days) / sum(lat),
            "wh_bytes_per_input_byte": wh_ratio,
            "stream_drain_s": statistics.median(x["stream_s"] for x in days)}
    per_layer = {}
    if layers:
        per_layer = {k: statistics.median(m[k] for m in layers)
                     for k in layers[0]}
        per_layer["tablestore.wh_bytes_per_input_byte"] = wh_ratio
    errors = [f"day {x['day']}: {x['error']}" for x in days if x["error"]]
    return {"e2e": e2e, "per_layer": per_layer, "info": info,
            "attempted": len(days), "failed": len(errors), "errors": errors}


def run_queries(spark, work, args, tracer, t_start) -> dict:
    sf = os.path.join(work, "tables")
    make_documents(sf, args.seed)
    oq = OperatorQueries(spark, sf, tracer)
    setup_s = time.perf_counter() - t_start
    over0 = tracer.overhead_s if tracer else 0.0
    cold, cold_cpu = oq.run_pass()
    # the cold pass happens once per session; warm passes fill --seconds
    warm, warm_cpu = [], []
    t0 = time.perf_counter()
    while True:
        wall, cpu = oq.run_pass()
        warm.append(wall)
        warm_cpu.append(cpu)
        if (len(warm) >= MIN_WARM_PASSES
                and time.perf_counter() - t0 >= args.seconds):
            break
    passes = 1 + len(warm)
    errs = oq.check()
    e2e = {"setup_s": setup_s,
           "cpu_s": statistics.fmean(warm_cpu)}
    cold_s = {q: oq.times[q][0] for q in QUERIES}
    warm_s = {q: statistics.fmean(oq.times[q][1:]) for q in QUERIES}
    per_layer = {}
    if tracer is not None:
        run = wall = 0.0
        for q in QUERIES:
            lay = oq.layer[q]
            per_layer.update({
                f"operators.{q}.cold_s": cold_s[q],
                f"operators.{q}.warm_s": warm_s[q],
                f"operators.{q}.jobs": lay["jobs"],
                f"operators.{q}.shuffle_bytes": lay["shuffle_bytes"],
                f"operators.{q}.cached_bytes": lay["cached_bytes"],
            })
            run += lay["run_s"]
            wall += cold_s[q]
        per_layer["operators.busy_ratio"] = run / (tracer.cores * wall)
        per_layer.update(oq.counters)
        per_layer["trace.overhead_s"] = (tracer.overhead_s - over0) / passes
        per_layer["trace.overhead_ratio"] = (
            (tracer.overhead_s - over0) / (cold + sum(warm)))
    info = {"cold_s": cold_s, "warm_s": warm_s,
            "query_cold_s": cold, "cold_cpu_s": cold_cpu,
            "query_warm_s": statistics.fmean(warm),
            "passes": passes, "warm_pass_s": warm, "warm_pass_cpu_s": warm_cpu}
    errors = [f"{q}: {e}" for q, e in errs.items() if e]
    return {"e2e": e2e, "per_layer": per_layer, "info": info,
            "attempted": passes * len(QUERIES),
            "failed": passes * len(errors), "errors": errors}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    steal0 = cpu_steal_ticks()
    args = parse_args(argv)
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)       # the program under test
    from greenplum_dwh_spark import api
    from greenplum_dwh_spark.tablestore import TableStore

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work, cores)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            tracer = Tracer(spark, cores)
            install(tracer, api, TableStore)
        if args.workload == "operator_queries":
            res = run_queries(spark, work, args, tracer, t_start)
        else:
            res = run_days(spark, api, work, args, tracer, t_start)
        res["e2e"]["peak_rss_mb"] = tree_peak_rss_mb()
        ctx = context(spark, cores, root, args)
        steal1 = cpu_steal_ticks()
        if steal0 and steal1 and steal1[1] > steal0[1]:
            # share of the CPUs' time the hypervisor gave to other guests
            # during the run: the host's slow periods show up here
            ctx["cpu_steal"] = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    if args.trace:
        # a layer the workload never enters reads 0 (operators on a day
        # workload, the warehouse layers on operator_queries)
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record = {"context": ctx, "e2e": res["e2e"], "info": res["info"],
              "per_layer": res["per_layer"], "errors": res["errors"]}
    print("perfbench-record " + json.dumps(record, default=str))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
