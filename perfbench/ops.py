"""Operator-query workload: two queries of the dedup family, each run
once cold (its first call in a fresh session) and then warm, over
seeded tables (``opsgen``). A call is timed from the
query function's call to its result collected to pandas; a pass's
CPU time is the process tree's over the whole pass. Results are
checked against the queries' DuckDB oracles after the timed region.
"""

from __future__ import annotations

import time

from procfs import tree_cpu_s

QUERIES = [
    # the PPJoin prefix and minhash paths of the dedup family, whose
    # operator-internal caches decide cold vs warm
    "dedup_jaccard_prefix", "dedup_minhash_lsh",
]
#: queries that run the PPJoin pruning stack / the hot-band guard
#: (read through ``last_ppjoin_metrics`` / ``last_band_guard_metrics``)
PPJOIN = ("dedup_jaccard_prefix",)
GUARDED = ("dedup_minhash_lsh",)


class _Collected:
    """A collected result in the shape ``parity.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class OperatorQueries:
    def __init__(self, spark, sf_dir: str, tracer=None):
        from greenplum_dwh_spark.operators import dedup
        import __spark_entry__ as entry
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        fns, self.oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: fns[q] for q in QUERIES}
        self._dedup = dedup
        self.results: dict[str, list] = {q: [] for q in QUERIES}
        self.times: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.layer: dict[str, dict] = {q: {} for q in QUERIES}
        self.counters = {"ppjoin.n_candidates": 0,
                         "band_guard.dropped_rows": 0}

    def run_pass(self) -> tuple[float, float]:
        """Every query once; returns the pass's summed query time and
        the CPU time the process tree spent over the pass."""
        total, c0 = 0.0, tree_cpu_s()
        for q in QUERIES:
            if self.tracer is None:
                t0 = time.perf_counter()
                pdf = self.fns[q](self.spark, self.sf_dir).toPandas()
                wall = time.perf_counter() - t0
            else:
                with self.tracer.span(q, "operators") as rec:
                    pdf = self.fns[q](self.spark, self.sf_dir).toPandas()
                wall = rec["wall_s"]
                self._observe(q, rec)
            self.results[q].append(pdf)
            self.times[q].append(wall)
            total += wall
        return total, tree_cpu_s() - c0

    def _observe(self, q: str, rec: dict) -> None:
        t0 = time.perf_counter()
        first = not self.layer[q]
        if first:
            self.layer[q] = {"jobs": rec["jobs"],
                             "shuffle_bytes": rec["shuffle_bytes"],
                             "cached_bytes": self.tracer.cached_bytes(),
                             "run_s": rec["run_s"]}
            if q in PPJOIN:
                m = self._dedup.last_ppjoin_metrics() or {}
                self.counters["ppjoin.n_candidates"] += m.get("n_candidates", 0)
            if q in GUARDED:
                m = self._dedup.last_band_guard_metrics() or {}
                self.counters["band_guard.dropped_rows"] += m.get(
                    "dropped_rows", 0)
        self.tracer.off_span(t0)

    def check(self) -> dict[str, str | None]:
        """Per query: None when the cold result matches the DuckDB
        oracle and every warm result matches the cold one."""
        from greenplum_dwh_spark.plans.parity import compare, normalize
        out = {}
        for q in QUERIES:
            cold, *warm = self.results[q]
            r = compare(_Collected(cold), self.oracles[q], self.sf_dir)
            err = None if r["ok"] else f"oracle: {r['detail']}"
            ref = normalize(cold)
            for i, pdf in enumerate(warm):
                if err is None and not normalize(pdf).equals(ref):
                    err = f"warm run {i + 1} differs from the cold run"
            out[q] = err
        return out
