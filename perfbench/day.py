"""Daily warehouse cycle workload ``first_day``.

It times the warehouse's first day (the initial load of every
dimension) and, where ``--seconds`` leaves room, the days after it. One
timed day: the day's extract is written (untimed), then the clock runs
through ``load_landing_file`` → ``normalize_transactions`` →
``add_report_data('scd2')`` → ``report_pivot`` collected. The
streaming mart then drains that extract (``run_streaming_mart``,
availableNow), timed on its own. Over the timed region the day's CPU
time (user + system, the whole process tree) is read as well. Every day
is checked against what the generator declared; a mismatch fails the
day.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from functools import reduce

from bankgen import FRAUD_TYPES, HIST, ACCOUNT, PASSPORT, BankGenerator, Shape
from bankgen import write_extract
from procfs import cpu_steal_ticks, tree_cpu_s

#: 100 clients x 8 txns/day; on day 0 every entity is new, so all 8
#: dimensions are written in full; from day 1 on, 1% (at least one) of
#: clients and terminals change per day
SHAPE = Shape(clients=100, tx_per_client=8, churn=0.01)
RUN_TS = dt.datetime(2020, 6, 1)


class DayCycle:
    def __init__(self, spark, api, workdir: str, seed: int):
        self.spark, self.api = spark, api
        self.gen = BankGenerator(SHAPE, seed)
        self.ext_dir = os.path.join(workdir, "extracts")
        self.wh_dir = os.path.join(workdir, "wh")
        self.stream_dir = os.path.join(workdir, "stream_report")
        os.makedirs(self.ext_dir, exist_ok=True)
        self.wh = api.Warehouse(spark, self.wh_dir)     # the DDL
        self.extract_bytes = 0
        self.landed = 0
        self.report: dict[dt.date, dict[str, int]] = {}
        self.versions = {h: [0, 0] for h in HIST}   # [total, current]

    def run_day(self, d: int) -> dict:
        table, exp = self.gen.day(d)
        path = os.path.join(self.ext_dir,
                            f"transactions_{exp['date'].isoformat()}.parquet")
        nbytes = write_extract(table, path)
        api, wh = self.api, self.wh
        s0, c0, t0 = cpu_steal_ticks(), tree_cpu_s(), time.perf_counter()
        rows = api.load_landing_file(wh, path)
        api.normalize_transactions(wh)
        api.add_report_data(wh, "scd2", run_ts=RUN_TS)
        pivot = api.report_pivot(wh.read("report")).collect()
        latency = time.perf_counter() - t0
        cpu, s1 = tree_cpu_s() - c0, cpu_steal_ticks()
        t1 = time.perf_counter()
        api.run_streaming_mart(wh, self.ext_dir, self.stream_dir,
                               run_ts=RUN_TS)
        stream_s = time.perf_counter() - t1
        self.extract_bytes += nbytes
        self.landed += exp["rows"]
        self.report[exp["date"]] = exp["report"]
        for h, c in exp["churn"].items():
            self.versions[h][0] += c["new_keys"] + c["changes"]
            self.versions[h][1] += c["new_keys"]
        steal = (s1[0] - s0[0]) / (s1[1] - s0[1]) if s0 and s1 else None
        return {"day": d, "latency_s": latency, "cpu_s": cpu, "steal": steal,
                "stream_s": stream_s,
                "rows": exp["rows"], "extract_bytes": nbytes,
                "error": self.check(rows, exp["rows"], pivot)}

    # ---- correctness (outside the timed region) ---------------------
    def check(self, rows: int, want_rows: int, pivot) -> str | None:
        """None when the warehouse holds exactly what was declared."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F
        if rows != want_rows:
            return f"landed {rows} rows, generated {want_rows}"
        got = {r["fraud_date"]: {t: r[t] or 0 for t in FRAUD_TYPES
                                 if t in r.asDict()} for r in pivot}
        for day, want in self.report.items():
            have = {t: got.get(day, {}).get(t, 0) for t in FRAUD_TYPES}
            if have != {t: want.get(t, 0) for t in FRAUD_TYPES}:
                return f"report {day}: got {have}, planted {want}"
        if set(got) - set(self.report):
            return f"report has unplanted days {sorted(set(got) - set(self.report))}"
        # one job counts the fact and every SCD2 dim's versions
        n = F.count(F.lit(1)).alias("n")
        parts = [self.wh.read("fact_transactions").agg(
            F.lit("fact").alias("t"), n, F.lit(0).cast("long").alias("cur"))]
        parts += [self.wh.read(h).agg(
            F.lit(h).alias("t"), n,
            F.count_if(F.col("end_dt").isNull()).alias("cur")) for h in HIST]
        got = {r["t"]: (r["n"], r["cur"])
               for r in reduce(DataFrame.unionByName, parts).collect()}
        if got["fact"][0] != self.landed:
            return f"fact holds {got['fact'][0]} rows, landed {self.landed}"
        for h, want in self.versions.items():
            if got[h] != tuple(want):
                return (f"{h}: {got[h][0]} versions / {got[h][1]} current, "
                        f"churn log says {want[0]} / {want[1]}")
        return self._check_stream()

    def _check_stream(self) -> str | None:
        from pyspark.sql import functions as F
        rows = (self.spark.read.parquet(self.stream_dir)
                .groupBy(F.to_date("fraud_dt").alias("d"), "fraud_type")
                .count().collect())
        got = {(r["d"], r["fraud_type"]): r["count"] for r in rows}
        want = {(d, t): n for d, rep in self.report.items()
                for t, n in rep.items() if t in (PASSPORT, ACCOUNT)}
        if got != want:
            return f"stream report {got} != planted {want}"
        return None
