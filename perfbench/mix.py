"""``mix``: the relational and LLM-corpus query surface, one client.

Each pass runs every query of the mix once, in an order the seed
shuffles: built from the query registry over generated tables, and its
result collected to the client. After the timed window each query's last
output is checked against its DuckDB oracle SQL with the same
order-insensitive comparison as the repository's oracle tests.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

from solana_etl_pipeline_spark.queries import QUERIES

from perfbench import gen
from perfbench.trace import overhead, quantile

#: relational queries (the ``queries`` and ``operators`` layers): a
#: scan-aggregate, a six-way join, an IN-subquery aggregate, and the
#: engine's flagship risk operator
RELATIONAL = (
    "tpch_q1_pricing_summary",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "risk_scores_topk",
)
#: corpus-curation queries (the ``llm`` layer): LSH near-dup detection
#: and BM25 ranking
CORPUS = (
    "llm_minhash_near_dup",
    "llm_bm25_search",
)
MIX = RELATIONAL + CORPUS
TABLE_SCALE = 0.1  # lineitem ~600 k rows, as the fixture tables at sf0.1
MIN_PASSES = 3  # the median of three absorbs one disturbed pass


class Mix:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.tables = os.path.join(work, "tables")
        self.runs: list[dict] = []  # one per query execution in the window
        self.passes: list[float] = []
        self.errors: list[str] = []
        self.last: dict[str, tuple[list[str], list]] = {}  # query -> its last output

    def setup(self) -> None:
        gen.write_tables(self.seed, self.tables, TABLE_SCALE)
        self._pass(-1, record=False)  # the cold pass: JIT, codegen, Python workers

    def _pass(self, index: int, record: bool = True) -> None:
        tr = self.tracer
        order = list(MIX)
        random.Random(f"{self.seed}-{index}").shuffle(order)
        t0 = time.perf_counter()
        # which passes are traced moves with the seed; the cold pass never is
        with tr.sampled(index + self.seed if index >= 0 else 1), tr.span("pass"):
            traced = tr.on
            for name in order:
                rec = {"query": name, "ok": False, "traced": traced}
                q0 = time.perf_counter()
                try:
                    with tr.span(f"query.{name}", count_tasks=True) as span:
                        with tr.span("build"):
                            df = QUERIES[name].spark(self.spark, self.tables)
                        rec["build_s"] = time.perf_counter() - q0
                        with tr.span("execute"):
                            rows = df.collect()
                    if record:
                        self.last[name] = (df.columns, rows)
                    rec["tasks"] = span.get("tasks", 0)
                    rec["ok"] = True
                except Exception as exc:  # a failed query is counted, the pass goes on
                    self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                rec["latency_s"] = time.perf_counter() - q0
                if record:
                    self.runs.append(rec)
        if record:
            self.passes.append(time.perf_counter() - t0)

    def run(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline or i < MIN_PASSES:
            self._pass(i)
            i += 1

    def counts(self) -> tuple[int, int]:
        return len(self.runs), sum(not r["ok"] for r in self.runs)

    def check(self) -> list[str]:
        """Compare each query's last output in the window with its oracle."""
        from tests.oracle_utils import assert_matches_oracle, duckdb_connection

        con = duckdb_connection(self.tables)
        problems = []
        try:
            for name in MIX:
                if name not in self.last:
                    problems.append(f"{name}: no successful execution to check")
                    continue
                try:
                    assert_matches_oracle(_Collected(*self.last[name]), con, QUERIES[name].oracle, name=name)
                except AssertionError as exc:
                    problems.append(str(exc)[:500])
        finally:
            con.close()
        return problems

    def _medians(self) -> dict[str, float]:
        per: dict[str, list[float]] = {}
        for r in self.runs:
            if r["ok"]:
                per.setdefault(r["query"], []).append(r["latency_s"])
        return {q: statistics.median(v) for q, v in per.items()}

    def metrics(self) -> dict:
        ok = [r["latency_s"] for r in self.runs if r["ok"]]
        medians = self._medians()
        geomean = _geomean(medians.values())
        sweep = statistics.median(self.passes)
        named = {
            "mix_sweep_s": (sweep, "s"),
            "mix_query_geomean_s": (geomean, "s"),
            "mix_passes": (len(self.passes), "count"),
        }
        for label, names in (("analytics", RELATIONAL), ("corpus", CORPUS)):
            part = [medians[q] for q in names if q in medians]
            if part:
                named[f"{label}_query_geomean_s"] = (_geomean(part), "s")
                named[f"{label}_sweep_s"] = (sum(part), "s")
        return {
            "throughput_per_s": len(ok) / sum(ok),
            "latency_ms": geomean * 1e3,
            "request_p50_ms": statistics.median(ok) * 1e3,
            "request_p75_ms": quantile(sorted(ok), 0.75) * 1e3,
            "named": named,
        }

    def layer_metrics(self) -> dict:
        by_flag: dict[bool, dict[str, list[dict]]] = {True: {}, False: {}}
        for r in self.runs:
            if r["ok"]:
                by_flag[r["traced"]].setdefault(r["query"], []).append(r)
        traced, bare = by_flag[True], by_flag[False]
        out = {}
        for name in MIX:
            runs = traced.get(name, [])
            out[f"queries.{name}.s"] = statistics.median(r["latency_s"] for r in runs) if runs else 0.0
            out[f"queries.{name}.tasks"] = runs[-1]["tasks"] if runs else 0
        n_passes = max((len(v) for v in traced.values()), default=1)
        out["queries.build_s"] = sum(r["build_s"] for v in traced.values() for r in v) / n_passes
        ratios = [
            overhead([r["latency_s"] for r in traced[q]], [r["latency_s"] for r in bare[q]]) + 1.0
            for q in traced
            if q in bare
        ]
        out["trace.overhead_pct"] = 100 * (_geomean(ratios) - 1.0) if ratios else 0.0
        return out


class _Collected:
    """Rows already collected, in the shape the oracle comparison reads."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def _geomean(values) -> float:
    values = list(values)
    return math.exp(statistics.fmean(math.log(v) for v in values))
