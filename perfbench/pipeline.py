"""``pipeline``: landed files -> silver -> gold, with a dashboard reading.

The writer is a closed loop, one cycle at a time: land a generated
batch, drain it with an availableNow streaming query into silver (one
checkpoint kept across cycles), refresh gold, then ``refresh()`` the
dashboard. The wiring is the pipeline soak test's: landing text ->
``dispatch_and_flatten`` / ``normalize_websocket_messages`` ->
``deduplicated_within_watermark`` on (mint, signature) ->
``run_available_now_to_parquet`` -> ``refresh_gold``.

Beside it, two reader threads run a closed loop of ``Dashboard``
requests over the same silver table, which is much larger than the
dashboard's working set, so readers meet snapshot reloads and the
stale-serve path. Each reader submits its jobs to a fair-scheduler pool
of its own; the writer uses the default pool.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from solana_etl_pipeline_spark.pipelines import (
    dispatch_and_flatten,
    normalize_websocket_messages,
    refresh_gold,
)
from solana_etl_pipeline_spark.serving import Dashboard
from solana_etl_pipeline_spark.streaming import (
    deduplicated_within_watermark,
    run_available_now_to_parquet,
)

from perfbench import gen
from perfbench.trace import overhead, quantile

SEED_DOCS = 40_000  # backlog drained during set-up
CYCLE_DOCS = 4000  # landed documents and messages per cycle
FILES_PER_KIND = 4
DRAIN_TIMEOUT_S = 120
MIN_CYCLES = 3
WORKING_SET_ROWS = 10_000
READERS = 2
TOP_K = 10
#: One reader round: each request once, in a seed-shuffled order, with
#: the views it makes. ``page`` is what ``serve_http`` serves: its
#: ``overview_html`` makes one ``top_safest`` and one
#: ``recent_transactions(100)`` (the HTML string built around them is
#: left out). No caller in the repository fixes how often
#: ``token_detail`` and ``overview_text`` are asked for; once each per
#: page is an assumption.
REQUESTS = {
    "page": ("top_safest", "recent_transactions"),
    "token_detail": ("token_detail",),
    "overview_text": ("overview_text",),
}
VIEWS = tuple(view for views in REQUESTS.values() for view in views)


class WrongOutput(Exception):
    """A view returned output that fails its correctness gate."""


class _Progress(StreamingQueryListener):
    """Collects every micro-batch's progress, keyed by query run."""

    def __init__(self):
        self.runs: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.runs.append(str(event.runId))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Pipeline:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.feed = gen.IngestFeed(seed)
        self.landing = os.path.join(work, "landing")
        self.silver = os.path.join(work, "silver")
        self.gold = os.path.join(work, "gold")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.cycles: list[dict] = []
        self.requests: list[dict] = []
        self.errors: list[str] = []
        self.gold_rows = 0
        self._listener = None
        self._batch = 0
        self._lock = threading.Lock()
        self._reload_pending = False
        self._stop = threading.Event()

    # -- set-up ---------------------------------------------------------

    def _stream(self):
        spark = self.spark
        helius = spark.readStream.text(os.path.join(self.landing, "helius"))
        ws = spark.readStream.text(os.path.join(self.landing, "ws"))
        rows = dispatch_and_flatten(helius, json_col="value").unionByName(
            normalize_websocket_messages(ws, json_col="value")
        )
        stamped = rows.withColumn("ingest_ts", F.current_timestamp())
        return deduplicated_within_watermark(
            stamped, keys=["mint", "signature"], ts_col="ingest_ts", watermark="1 hour"
        ).drop("ingest_ts")

    def setup(self) -> None:
        if self.tracer.enabled:
            self._listener = _Progress()
            self.spark.streams.addListener(self._listener)
        self._land(SEED_DOCS, FILES_PER_KIND * 4)
        self.result = self._stream()
        run_available_now_to_parquet(self.result, self.silver, self.checkpoint, timeout_sec=DRAIN_TIMEOUT_S)
        self.gold_rows = refresh_gold(self.spark, self.silver, self.gold).count()
        self.dash = Dashboard(self.spark, self.silver, working_set_rows=WORKING_SET_ROWS, data_ttl_sec=300.0)
        # the first cycle after the backlog runs about 20 % slower than
        # the ones after it (the dedup state is loaded from the checkpoint)
        self.cycle(-1, record=False)
        rng = random.Random(f"warmup-{self.seed}")
        for kind in REQUESTS:
            self._request(kind, rng, record=False, index=1)

    # -- writer: one cycle ----------------------------------------------

    def _land(self, n_docs: int, n_files: int) -> tuple[int, int, int]:
        batch = self.feed.batch(n_docs, n_files)
        files, size = gen.write_landing(batch, self.landing, f"b{self._batch:05d}")
        self._batch += 1
        return n_docs, files, size

    def cycle(self, index: int, record: bool = True) -> None:
        """One closed-loop cycle; unrecorded (warm-up) cycles are never
        traced, and a failure in one ends the run."""
        tr = self.tracer
        rec = {"index": index, "ok": False, "seen_s": None}
        with tr.sampled(index + self.seed if record else 1), tr.span("cycle"):
            rec["traced"] = tr.on
            t0 = time.perf_counter()
            with tr.span("land"):
                rec["docs"], rec["files"], rec["bytes"] = self._land(CYCLE_DOCS, FILES_PER_KIND)
            rec["newest_ts"] = self.feed.batch_first_time
            landed = time.perf_counter()
            try:
                with tr.span("drain") as span:
                    run_available_now_to_parquet(
                        self.result, self.silver, self.checkpoint, timeout_sec=DRAIN_TIMEOUT_S
                    )
                rec["committed"] = time.perf_counter()
                if tr.on and self._listener:
                    span["run"] = len(self._listener.runs) - 1
                with tr.span("refresh"):
                    self.gold_rows = refresh_gold(self.spark, self.silver, self.gold).count()
                rec["ok"] = True
            except Exception as exc:  # a failed cycle is counted, the run goes on
                if not record:
                    raise
                self.errors.append(f"cycle {index}: {type(exc).__name__}: {exc}"[:500])
            end = time.perf_counter()
        rec["latency_s"] = end - landed
        rec["cycle_s"] = end - t0
        if rec["ok"]:
            self.dash.refresh()
        if record:
            with self._lock:
                self._reload_pending = self._reload_pending or rec["ok"]
                self.cycles.append(rec)

    # -- readers ----------------------------------------------------------

    def _request(self, kind: str, rng: random.Random, record: bool = True, index: int = 0) -> None:
        tr = self.tracer
        rec = {"request": kind, "ok": False, "views": []}
        with tr.sampled(index), tr.span("request"):
            rec["traced"] = tr.on
            with self._lock:  # the first request after a refresh pays the reload
                rec["after_refresh"], self._reload_pending = self._reload_pending, False
            t0 = rec["start"] = time.perf_counter()
            try:
                for name in REQUESTS[kind]:
                    v0 = time.perf_counter()
                    with tr.span(f"view.{name}", count_tasks=True) as span:
                        out = self._call(name, rng)
                    took = time.perf_counter() - v0
                    rec["views"].append({"view": name, "latency_s": took, "tasks": span.get("tasks")})
                    self._verify(name, out, t0)
                rec["ok"] = True
            except Exception as exc:  # a failed request is counted, the run goes on
                self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:500])
            rec["end"] = time.perf_counter()
        rec["latency_s"] = rec["end"] - t0
        if record:
            with self._lock:
                self.requests.append(rec)

    def _verify(self, name: str, out, t0: float) -> None:
        """Check a view's output; for ``recent_transactions``, also mark
        the cycles committed before the request began that it shows."""
        if name == "top_safest":
            scores = [r["safety_score"] for r in out]
            if len(out) != TOP_K or scores != sorted(scores, reverse=True):
                raise WrongOutput(f"top_safest returned {len(out)} rows, scores {scores}")
        if name == "recent_transactions" and out:
            newest = max(r["ts"] for r in out if r["ts"] is not None).timestamp()
            seen = time.perf_counter()
            with self._lock:
                for c in self.cycles:
                    if c["ok"] and c["seen_s"] is None and t0 >= c["committed"] and newest >= c["newest_ts"]:
                        c["seen_s"] = seen - c["committed"]

    def _call(self, name: str, rng: random.Random):
        dash = self.dash
        if name == "token_detail":
            return dash.token_detail(self.feed.hot_mint(rng))
        if name == "top_safest":
            return dash.top_safest(TOP_K)
        if name == "recent_transactions":
            return dash.recent_transactions(100)
        return dash.overview_text()

    # -- the timed window -------------------------------------------------

    def run(self, seconds: float) -> None:
        def reader(r: int) -> None:
            rng = random.Random(f"reader-{self.seed}-{r}")
            # Each reader is its own fair-scheduler pool, as if it were a
            # separate dashboard user: under the default FIFO order its
            # small jobs would wait behind whole 32-task writer stages,
            # and a request's latency would depend mostly on where in
            # the writer's cycle it happened to start.
            self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"reader{r}")
            i = self.seed + r  # which requests are traced moves with the seed
            while not self._stop.is_set():
                for kind in rng.sample(list(REQUESTS), len(REQUESTS)):
                    if self._stop.is_set():
                        break
                    self._request(kind, rng, index=i)
                    i += 1

        threads = [threading.Thread(target=reader, args=(r,)) for r in range(READERS)]
        for t in threads:
            t.start()
        try:
            deadline = time.perf_counter() + seconds
            i = 0
            while time.perf_counter() < deadline or i < MIN_CYCLES:
                self.cycle(i)
                i += 1
        finally:
            self._stop.set()
            for t in threads:
                t.join()
        # every committed batch must show in a page after its refresh
        self._request("page", random.Random(0), record=False, index=1)

    # -- results ----------------------------------------------------------

    def counts(self) -> tuple[int, int]:
        ops = self.cycles + self.requests
        return len(ops), sum(not o["ok"] for o in ops)

    def check(self) -> list[str]:
        problems = [e for e in self.errors if WrongOutput.__name__ in e]
        unseen = [c["index"] for c in self.cycles if c["ok"] and c["seen_s"] is None]
        if unseen:
            problems.append(f"cycles never shown by the dashboard after refresh: {unseen}")
        expected = self.feed.write_manifest(os.path.join(self.work, "manifest.json"))
        silver = self.spark.read.parquet(self.silver)
        rows = silver.count()
        keys = silver.select("mint", "signature").distinct().count()
        if rows != keys:
            problems.append(f"silver has {rows} rows but {keys} distinct (mint, signature)")
        if keys != expected["keys"]:
            problems.append(f"silver has {keys} keys, manifest {expected['keys']}")
        gold_rows = self.spark.read.parquet(self.gold).count()
        if gold_rows != expected["gold_mints"]:
            problems.append(f"gold has {gold_rows} rows, manifest {expected['gold_mints']} mints")
        return problems

    def metrics(self) -> dict:
        cycles = [c for c in self.cycles if c["ok"]]
        cycle_lat = [c["latency_s"] for c in cycles]
        rate = sum(c["docs"] for c in cycles) / sum(c["cycle_s"] for c in cycles)
        ok = [r for r in self.requests if r["ok"]]
        requests = sorted(r["latency_s"] for r in ok)
        views = sorted(v["latency_s"] for r in ok for v in r["views"])
        window = max(r["end"] for r in self.requests) - min(r["start"] for r in self.requests)
        fresh = [c["seen_s"] for c in self.cycles if c["seen_s"] is not None]
        return {
            "throughput_per_s": rate,
            "latency_ms": statistics.median(cycle_lat) * 1e3,
            "request_p50_ms": statistics.median(requests) * 1e3,
            "request_p75_ms": quantile(requests, 0.75) * 1e3,
            "named": {
                "ingest_events_per_s": (rate, "1/s"),
                "ingest_cycle_p50_s": (statistics.median(cycle_lat), "s"),
                "dashboard_requests_per_s": (len(requests) / window, "1/s"),
                "dashboard_request_p95_ms": (quantile(requests, 0.95) * 1e3, "ms"),
                "dashboard_requests": (len(requests), "count"),
                "dashboard_view_p50_ms": (statistics.median(views) * 1e3, "ms"),
                "dashboard_view_p95_ms": (quantile(views, 0.95) * 1e3, "ms"),
                "dashboard_views": (len(views), "count"),
                "ingest_cycles": (len(cycle_lat), "count"),
                "dashboard_fresh_p50_s": (statistics.median(fresh) if fresh else float("nan"), "s"),
            },
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        ok = [r for r in self.requests if r["ok"]]
        traced = [r for r in ok if r["traced"]]
        reloads = [r["latency_s"] for r in ok if r["after_refresh"]]
        tasks = [v["tasks"] for r in traced for v in r["views"]]
        out = {f"serving.{n}_ms": tr.median(f"view.{n}", 1e3) for n in VIEWS}
        out.update(
            {
                "serving.reload_s": statistics.median(reloads) if reloads else 0.0,
                "serving.tasks_per_view": statistics.median(tasks) if tasks else 0,
                "serving.fresh_s": statistics.median(
                    [c["seen_s"] for c in self.cycles if c["seen_s"] is not None] or [0.0]
                ),
                "pipelines.gold.refresh_s": tr.median("refresh"),
                "pipelines.gold.rows": self.gold_rows,
                "sources.landing.files": sum(c["files"] for c in self.cycles),
                "sources.landing.bytes": sum(c["bytes"] for c in self.cycles),
                "trace.overhead_pct": 100 * overhead(
                    [c["latency_s"] for c in self.cycles if c["ok"] and c["traced"]],
                    [c["latency_s"] for c in self.cycles if c["ok"] and not c["traced"]],
                ),
                "trace.request_overhead_pct": 100 * overhead(
                    [r["latency_s"] for r in traced], [r["latency_s"] for r in ok if not r["traced"]]
                ),
            }
        )
        out.update(self._silver_files())
        out.update(self._streaming())
        return out

    def _silver_files(self) -> dict:
        files, size = 0, 0
        for root, _, names in os.walk(self.silver):
            if "_spark_metadata" not in root:
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, n))
        rows = self.spark.read.parquet(self.silver).count()
        return {"sources.silver.files": files, "sources.silver.bytes_per_row": size / rows if rows else 0.0}

    def _streaming(self) -> dict:
        tr = self.tracer
        drains = [s for s in tr.spans if s["name"] == "drain" and "run" in s]
        batches, overheads = [], []
        for span in drains:
            progress = self._listener.progress.get(self._listener.runs[span["run"]], [])
            batches.extend(progress)
            busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3
            overheads.append((span["end"] - span["start"]) - busy)
        ops = [op for p in batches for op in p.get("stateOperators", ())]

        def med(values):
            return statistics.median(values) if values else 0.0

        def duration(key):
            return med([p["durationMs"].get(key, 0) for p in batches])

        updated = sum(op.get("numRowsUpdated", 0) for op in ops)
        dropped = sum(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in ops)
        return {
            "streaming.drain_s": tr.median("drain"),
            "streaming.start_overhead_s": med(overheads),
            "streaming.micro_batches": len(batches),
            "streaming.add_batch_ms": duration("addBatch"),
            "streaming.query_planning_ms": duration("queryPlanning"),
            "streaming.get_batch_ms": duration("getBatch"),
            "streaming.wal_commit_ms": duration("walCommit"),
            "streaming.input_rows": sum(p.get("numInputRows", 0) for p in batches),
            "streaming.output_rows": updated,
            "streaming.dedup_keep_ratio": updated / (updated + dropped) if updated + dropped else 0.0,
            "streaming.state_rows_total": ops[-1].get("numRowsTotal", 0) if ops else 0,
            "streaming.state_rows_removed": sum(op.get("numRowsRemoved", 0) for op in ops),
            "streaming.state_memory_bytes": ops[-1].get("memoryUsedBytes", 0) if ops else 0,
            "streaming.state_commit_ms": med([op.get("commitTimeMs", 0) for op in ops]),
        }
