"""The benchmark's four workloads.

Each workload generates its inputs from the seed (``prepare``), warms a
fresh session (``warm_up``), runs its timed loop (``measure``) and checks
every output against a reference (``check``). ``measure`` can be called
twice in one process; the traced run calls it once with tracing off and
once with tracing on, and reports the difference as tracing overhead.
"""

from __future__ import annotations

import json
import logging
import os
import statistics
import time

import numpy as np

from . import engine, gen
from .reference import stream_reference
from .trace import patched

# ----------------------------------------------------------------- results


class Phase:
    """What one call of ``measure`` observed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.items = 0  # events, documents or queries completed
        self.latencies_ms: list[float] = []
        self.entry_s: dict[str, list[float]] = {}
        self.elapsed_s = 0.0
        self.context: dict = {}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------- streaming

class SinkLog:
    """The in-memory writer behind ``influx_lines_foreach_batch``: records
    each batch's lines with the time it received them."""

    def __init__(self):
        self.batch_id = None
        self.records: list[tuple[int, float, list[str]]] = []

    def receive(self, lines: list[str]) -> None:
        self.records.append((self.batch_id, time.perf_counter(), lines))

    def state(self):
        """Final value per (timestamp seconds, tag set); last write wins."""
        out = {}
        for _, _, lines in self.records:
            for line in lines:
                head, fields, ts = line.rsplit(" ", 2)
                tags = tuple(sorted(head.split(",")[1:]))
                value = int(fields.split("=", 1)[1].rstrip("i"))
                out[(int(ts) // 1_000_000_000, tags)] = value
        return out


class DroppedPoints(logging.Handler):
    """Counts points the sink drops for having no renderable field."""

    def __init__(self):
        super().__init__()
        self.count = 0

    def emit(self, record):
        if record.args:
            self.count += int(record.args[0])


class StreamJob:
    """The reference's four analytics as concurrent streaming queries
    over one watched directory, each sinking InfluxDB lines."""

    QUERIES = ("qa_trending", "qb_windowed", "qc_total", "qd_per_second")

    def __init__(self, spark, src_dir: str, ckpt_dir: str, tracer, *, files_per_trigger: int,
                 available_now: bool, schema):
        from pyspark.sql import functions as F

        from flink_streaming_twitter_spark.sources.files import stream_from_directory
        from flink_streaming_twitter_spark.streaming import sinks
        from flink_streaming_twitter_spark.streaming.runner import StreamingPipelines, start_query

        self.spark, self.tracer = spark, tracer
        self.progress: list[dict] = []
        self.filled = 0  # progress events taken from recentProgress, not the listener
        self.timeout_info: dict = {}
        self.listener = engine.progress_listener(self.progress)
        spark.streams.addListener(self.listener)
        stream = stream_from_directory(spark, src_dir, schema, max_files_per_trigger=files_per_trigger)
        pipe = StreamingPipelines(stream, "ts", "event_type")
        ts = lambda c: F.timestamp_seconds(F.col(c))  # noqa: E731
        plans = {
            "qa_trending": (
                pipe.trending_two_stage_append().withColumn("ts", ts("sample_w_start")),
                "trending", {"hashtag": "top_event_type"}, {"count": "top_cnt"}, "append", "rocksdb",
            ),
            "qb_windowed": (
                pipe.windowed_counts().withColumn("ts", ts("w_start")),
                "windowed", {"hashtag": "event_type"}, {"count": "cnt"}, "update", "hdfs",
            ),
            "qc_total": (
                pipe.running_total().withColumn("ts", F.timestamp_seconds(F.lit(0)))
                .withColumn("q", F.lit("qc")),
                "total", {"query": "q"}, {"count": "total"}, "update", "hdfs",
            ),
            "qd_per_second": (
                pipe.counts_per_second().withColumn("ts", ts("w_start")).withColumn("q", F.lit("qd")),
                "per_second", {"query": "q"}, {"count": "cnt"}, "update", "hdfs",
            ),
        }
        self.sinks = {n: SinkLog() for n in self.QUERIES}
        self.queries = {}
        self.start_s: list[float] = []
        for name, (df, meas, tags, fields, mode, store) in plans.items():
            points = sinks.to_influx_points(df, meas, "ts", tags, fields)
            t0 = time.perf_counter()
            with tracer.span("runner.start_query"):
                self.queries[name] = start_query(
                    points, name=name, output_mode=mode, trigger_interval=None,
                    foreach_batch=self._foreach(self.sinks[name], sinks),
                    checkpoint_dir=os.path.join(ckpt_dir, name), available_now=available_now,
                    state_store=store,
                )
            self.start_s.append(time.perf_counter() - t0)

    def _foreach(self, sink: SinkLog, sinks):
        write = sinks.influx_lines_foreach_batch(writer=sink.receive)
        tracer = self.tracer

        def on_batch(df, batch_id):
            sink.batch_id = batch_id
            with tracer.span("sinks.write") as s:
                write(df, batch_id)
                if s is not None:
                    s["lines"] = len(sink.records[-1][2])

        return on_batch

    def data_batches(self, name: str) -> list[dict]:
        """Progress of the query's batches that read input, in order."""
        ps = [p for p in self.progress if p["name"] == name and p["numInputRows"] > 0]
        return sorted(ps, key=lambda p: p["batchId"])

    def wait_idle(self, n_batches: int, timeout_s: float) -> bool:
        """Wait until every query has run ``n_batches`` data batches and
        has nothing left to run, and its progress events are all in."""
        deadline = time.perf_counter() + timeout_s
        quiet = 0
        while time.perf_counter() < deadline:
            done = all(self._committed(q) >= n_batches for q in self.queries.values())
            idle = all(
                not q.status["isTriggerActive"] and not q.status["isDataAvailable"]
                for q in self.queries.values()
            )
            quiet = quiet + 1 if done and idle else 0
            if quiet >= 3:
                self._settle_progress()
                return True
            time.sleep(0.1)
        self.timeout_info = {
            n: {"status": q.status, "active": q.isActive, "committed": self._committed(q),
                "listener_data_batches": len(self.data_batches(n)),
                "exception": str(q.exception()) if not q.isActive else None}
            for n, q in self.queries.items()
        }
        return False

    @staticmethod
    def _committed(q) -> int:
        """Data batches the query has completed, from its own recent
        progress (the last 100 triggers; a run here has far fewer)."""
        return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    def _settle_progress(self) -> None:
        """The listener bus delivers progress asynchronously: wait for it to
        catch up with each query's last progress, and fill any batch still
        missing after 10 s from the query's own recent progress."""
        deadline = time.perf_counter() + 10
        while True:
            missing = {}
            for n, q in self.queries.items():
                have = {p["batchId"] for p in self.progress if p["name"] == n}
                want = set(range((q.lastProgress or {}).get("batchId", -1) + 1))
                if want - have:
                    missing[n] = want - have
            if not missing or time.perf_counter() > deadline:
                break
            time.sleep(0.05)
        for n, ids in missing.items():
            for p in self.queries[n].recentProgress:
                if p["batchId"] in ids:
                    d = json.loads(p.json)
                    d["_received"] = time.perf_counter()
                    self.progress.append(d)
                    self.filled += 1

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.spark.streams.removeListener(self.listener)

    def sink_state(self) -> dict:
        """Final sink state per query, keyed as the reference keys it."""
        st = {n: s.state() for n, s in self.sinks.items()}
        tag = lambda tags: dict(t.split("=") for t in tags)["hashtag"]  # noqa: E731
        return {
            "qa_trending": {ts: (tag(tags), v) for (ts, tags), v in st["qa_trending"].items()},
            "qb_windowed": {(ts, tag(tags)): v for (ts, tags), v in st["qb_windowed"].items()},
            "qc_total": max(st["qc_total"].values(), default=0),
            "qd_per_second": {ts: v for (ts, _), v in st["qd_per_second"].items()},
        }

    def dropped_by_watermark(self, name: str) -> int:
        return int(sum(op.get("numRowsDroppedByWatermark", 0)
                       for p in self.progress if p["name"] == name
                       for op in p.get("stateOperators", [])))

    def batch_sequence(self, name: str, groups: list[list[int]]) -> list[list[int]]:
        """The files each batch of the query read, in batch order: data
        batches take the file groups in order, no-data batches none."""
        seq, it = [], iter(groups)
        for p in sorted((p for p in self.progress if p["name"] == name), key=lambda p: p["batchId"]):
            seq.append(next(it) if p["numInputRows"] > 0 else [])
        return seq


def compare_stream(job: StreamJob, files: list[str], groups: list[list[int]]) -> tuple[int, dict]:
    """Mismatched results between the sinks and the DuckDB reference, per
    query: every differing sink key, a differing total, and a differing
    count of groups dropped as late."""
    ref = stream_reference(files, {n: job.batch_sequence(n, groups) for n in job.QUERIES})
    got = job.sink_state()
    bad = dropped = ref_dropped = results = 0
    for n in job.QUERIES:
        a, b = got[n], ref[n]["state"]
        if isinstance(a, dict):
            bad += sum(1 for k in a.keys() | b.keys() if a.get(k) != b.get(k))
            results += len(a)
        else:
            bad += int(a != b)
            results += 1
        d = job.dropped_by_watermark(n)
        bad += int(d != ref[n]["dropped"])
        dropped, ref_dropped = dropped + d, ref_dropped + ref[n]["dropped"]
    return bad, {"late_groups_dropped": dropped, "late_groups_reference": ref_dropped,
                 "sink_results": results, "progress_from_recent": job.filled}


PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch")


def stream_layers(progress: list[dict], since: float) -> dict:
    """Per-trigger medians of the engine's own progress phases, state
    counters and input sizes for the batches reported after ``since``."""
    ps = [p for p in progress if p["_received"] >= since and p["numInputRows"] > 0]
    med = _median
    dur = lambda k: med([p["durationMs"].get(k, 0) for p in ps])  # noqa: E731
    last = {}
    for p in progress:
        last[p["name"]] = p
    ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in ps]
    phases = [sum(p["durationMs"].get(k, 0) for k in PHASES) for p in ps]
    return {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "sources.rows_per_batch": med([p["numInputRows"] for p in ps]),
        "runner.query_planning_ms": dur("queryPlanning"),
        "runner.wal_commit_ms": dur("walCommit"),
        "runner.commit_offsets_ms": dur("commitOffsets"),
        "runner.add_batch_ms": dur("addBatch"),
        "runner.trigger_ms": med(trig),
        "runner.phase_share": (med(phases) / med(trig)) if trig and med(trig) else 0.0,
        "runner.batches": float(len(ps)),
        "state.commit_ms": med([sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", []))
                                for p in ps]),
        "state.rows_total": float(sum(op.get("numRowsTotal", 0) for op in ops)),
        "state.memory_bytes": float(sum(op.get("memoryUsedBytes", 0) for op in ops)),
    }


class _StreamBase:
    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.n_dirs = 0
        self.job: StreamJob | None = None
        self.mismatched = 0
        self.checks: dict = {}
        self.dropped_points = DroppedPoints()
        logging.getLogger("flink_streaming_twitter_spark.streaming.sinks").addHandler(
            self.dropped_points)

    def _new_dir(self, kind: str) -> str:
        self.n_dirs += 1
        return os.path.join(self.work, f"{kind}{self.n_dirs}")

    def _schema(self, spark, path):
        return spark.read.parquet(path).schema

    def layers(self, phase_start: float) -> dict:
        out = stream_layers(self.job.progress if self.job else [], phase_start)
        out["state.rows_dropped_by_watermark"] = float(self.checks.get("late_groups_dropped", 0))
        writes = [s for s in self.tracer.spans if s["name"] == "sinks.write" and "end" in s]
        out["sinks.write_ms"] = 1000 * _median([s["end"] - s["start"] for s in writes])
        out["sinks.lines"] = float(sum(s.get("lines", 0) for s in writes))
        out["sinks.points_dropped"] = float(self.dropped_points.count)
        out["runner.start_query_s"] = _median(self.job.start_s) if self.job else 0.0
        return out


class StreamLive(_StreamBase):
    """Open loop: one seeded file per tick at a fixed offered rate."""

    name = "stream_live"
    # the rate of Twitter's 1% sample stream, which the reference job reads,
    # and a tick above the job's measured busy period per file (README.md,
    # "stream_live traffic"); a file holds one tick of event time
    OFFERED_EVENTS_PER_S = 57
    TICK_S = 5.0
    ROWS_PER_FILE = round(OFFERED_EVENTS_PER_S * TICK_S)
    LEAD_IN = 2  # files taken during the warm-up

    def prepare(self, seconds: int, phases: int) -> dict:
        self.write_files(self.LEAD_IN + phases * int(seconds / self.TICK_S))
        return {"rows_per_file": self.ROWS_PER_FILE, "tick_s": self.TICK_S,
                "offered_events_per_s": self.ROWS_PER_FILE / self.TICK_S,
                "event_time_per_file_s": self.TICK_S, "lead_in_files": self.LEAD_IN}

    def write_files(self, n: int) -> None:
        events = gen.EventStream(self.seed, self.ROWS_PER_FILE, span_s=self.TICK_S)
        self.staging = os.path.join(self.work, "staging")
        os.makedirs(self.staging)
        self.files = []
        for i in range(n):
            path = os.path.join(self.staging, f"events_{i:05d}.parquet")
            events.write(i, path)
            self.files.append(path)
        self.next_file = 0

    def _publish(self, i: int) -> str:
        """Move the pre-written file into the watched directory (an atomic
        rename), stamped with the current time: the file source orders
        files by modification time."""
        dst = os.path.join(self.src, os.path.basename(self.files[i]))
        now = time.time()
        os.utime(self.files[i], (now, now))
        os.rename(self.files[i], dst)
        return dst

    def warm_up(self, spark) -> None:
        """Start the four queries and let them take the lead-in files one
        by one; they keep running into the timed phase."""
        self.src, ckpt = self._new_dir("stream"), self._new_dir("ckpt")
        os.makedirs(self.src)
        self.published: list[tuple[str, float, float]] = []  # path, due, actual
        schema = self._schema(spark, self.files[0])
        self.job = StreamJob(spark, self.src, ckpt, self.tracer, files_per_trigger=1,
                             available_now=False, schema=schema)
        for i in range(self.LEAD_IN):
            now = time.perf_counter()
            self.published.append((self._publish(i), now, now))
            self.next_file = i + 1
            if not self.job.wait_idle(i + 1, 120):
                raise RuntimeError(f"stream_live: lead-in file {i} was not processed: "
                                   f"{self.job.timeout_info}")

    def measure(self, spark, seconds: int) -> Phase:
        ph = Phase()
        first = self.next_file
        n = int(seconds / self.TICK_S)
        t0 = time.perf_counter()
        for k in range(n):
            due = t0 + k * self.TICK_S
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            path = self._publish(self.next_file)
            self.published.append((path, due, time.perf_counter()))
            self.next_file += 1
        end = t0 + n * self.TICK_S
        time.sleep(max(0.0, end - time.perf_counter()))
        t_end = time.perf_counter()
        ok = self.job.wait_idle(len(self.published), 60)
        ph.failed += int(not ok)
        backlog, last_delivery = [], []
        for q in StreamJob.QUERIES:
            recv = {bid: t for bid, t, _ in self.job.sinks[q].records}
            done = {k: recv.get(p["batchId"]) for k, p in enumerate(self.job.data_batches(q))}
            for k in range(first, self.next_file):
                ph.attempted += 1
                if done.get(k) is None:
                    ph.failed += 1
                    continue
                ph.latencies_ms.append(1000 * (done[k] - self.published[k][1]))
            if done.get(self.next_file - 1) is not None:
                last_delivery.append(done[self.next_file - 1])
            in_time = {k for k, t in done.items() if t is not None and t <= t_end}
            backlog.append(sum(1 for k in range(self.next_file) if k not in in_time))
        # open loop: the events offered in the phase, over the time from the
        # first file's due time until the last sink received the last file
        # (a file a sink never received counts as failed above)
        ph.items = n * self.ROWS_PER_FILE
        ph.elapsed_s = max(last_delivery, default=t_end) - t0
        late = [1000 * (a - d) for _, d, a in self.published[first:]]
        ph.context = {"backlog_end_files": max(backlog), "generator_late_ms_p50": _median(late),
                      "generator_late_ms_max": max(late, default=0.0), "files": n}
        return ph

    def check(self, spark) -> None:
        self.job.stop()
        files = [p for p, _, _ in self.published]
        bad, info = compare_stream(self.job, files, [[i] for i in range(len(files))])
        self.mismatched += bad
        self.checks.update(info)


class StreamCatchup(_StreamBase):
    """Closed loop: a written backlog drained with availableNow."""

    name = "stream_catchup"
    ROWS_PER_FILE = 10000
    BACKLOG_FILES = 24
    FILES_PER_TRIGGER = 6
    SPAN_S = 20

    def prepare(self, seconds: int, phases: int) -> dict:
        ev = gen.EventStream(self.seed, self.ROWS_PER_FILE, self.SPAN_S)
        self.backlog = os.path.join(self.work, "backlog")
        self.warm = os.path.join(self.work, "warm")
        for d in (self.backlog, self.warm):
            os.makedirs(d)
        self.files = []
        for i in range(self.BACKLOG_FILES):
            path = os.path.join(self.backlog, f"events_{i:05d}.parquet")
            ev.write(i, path)
            os.utime(path, (1e9 + i, 1e9 + i))
            self.files.append(path)
        for i in range(2):
            path = os.path.join(self.warm, f"events_{i:05d}.parquet")
            gen.EventStream(self.seed + 1, self.ROWS_PER_FILE // 10, self.SPAN_S).write(i, path)
            os.utime(path, (1e9 + i, 1e9 + i))
        return {"rows_per_file": self.ROWS_PER_FILE, "backlog_files": self.BACKLOG_FILES,
                "files_per_trigger": self.FILES_PER_TRIGGER, "event_time_per_file_s": self.SPAN_S}

    def _drain(self, spark, src: str, files_per_trigger: int) -> StreamJob:
        ckpt = self._new_dir("ckpt")
        job = StreamJob(spark, src, ckpt, self.tracer, files_per_trigger=files_per_trigger,
                        available_now=True, schema=self._schema(spark, self.files[0]))
        for q in job.queries.values():
            q.awaitTermination(150)
        job._settle_progress()
        spark.streams.removeListener(job.listener)
        return job

    def warm_up(self, spark) -> None:
        self._drain(spark, self.warm, 1)

    def measure(self, spark, seconds: int) -> Phase:
        ph = Phase()
        groups = [list(range(i, min(i + self.FILES_PER_TRIGGER, len(self.files))))
                  for i in range(0, len(self.files), self.FILES_PER_TRIGGER)]
        self.drains = []
        t0 = time.perf_counter()
        while True:
            d0 = time.perf_counter()
            job = self._drain(spark, self.backlog, self.FILES_PER_TRIGGER)
            self.drains.append(job)
            for q in StreamJob.QUERIES:
                batches = job.data_batches(q)
                recv = {bid: t for bid, t, _ in job.sinks[q].records}
                ph.attempted += len(groups)
                ph.failed += max(0, len(groups) - len(batches))
                ph.latencies_ms += [1000 * (recv[p["batchId"]] - d0)
                                    for p in batches if p["batchId"] in recv]
            ph.items += self.BACKLOG_FILES * self.ROWS_PER_FILE
            self.job = job
            if time.perf_counter() - t0 >= seconds:
                break
        ph.elapsed_s = time.perf_counter() - t0
        ph.context = {"drains": len(self.drains)}
        self.groups = groups
        return ph

    def check(self, spark) -> None:
        for job in self.drains:
            bad, info = compare_stream(job, self.files, self.groups)
            self.mismatched += bad
            self.checks.update(info)


# ------------------------------------------------------------------- batch


class _Arrow:
    """A collected result in the shape ``check_oracle.compare`` reads."""

    def __init__(self, df):
        self.schema = df.schema
        self.columns = df.columns
        self.table = df.toArrow()

    def toArrow(self):
        return self.table

    def toPandas(self):
        return self.table.to_pandas()


CORPUS_ENTRIES = (
    # dedup_clusters runs minhash_lsh_dedup for its near-duplicate
    # evidence, so the LSH tier is timed inside it, not as its own entry
    "q_text_normalize_nfc", "text_quality", "dedup_exact", "dedup_clusters",
    "similarity_lsh_topk", "similarity_brute_topk",
)
MIX_ENTRIES = (
    "qb_trending_single", "tpch_q9_product_profit",
    "tpch_q18_large_orders", "q_asof_last_error",
    "q_range_join_error_impact", "q_cap_per_source_salted",
)


class _BatchBase:
    """Closed loop, one client: passes over batch entries until the pass
    boundary nearest to ``seconds`` (at least one pass), each result
    collected and kept for the check.

    The inputs are the ten batch tables at ``SCALE`` (1 = 60,000 lineitem
    rows), with ``documents``/``embeddings`` replaced by a dedup corpus of
    ``N_BASE`` documents plus exact and near duplicates."""

    ENTRIES: tuple[str, ...] = ()
    SCALE = 1.0
    N_BASE, DUP_SHARE, NEAR_SHARE, N_VECTORS = 1000, 0.10, 0.15, 600

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.mismatched = 0
        self.checks: dict = {"mismatched_entries": []}
        self.results: dict[str, list] = {}
        self.graph_groups: list[str] = []
        self.rng = np.random.default_rng([seed, 3])

    def prepare(self, seconds: int, phases: int) -> dict:
        self.data_dir = os.path.join(self.work, "tables")
        self.warm_dir = os.path.join(self.work, "tables_warm")
        rows = gen.write_tables(self.data_dir, self.seed, self.SCALE)
        rows.update(gen.write_corpus(self.data_dir, self.seed, self.N_BASE, self.DUP_SHARE,
                                     self.NEAR_SHARE, self.N_VECTORS))
        gen.write_tables(self.warm_dir, self.seed + 1, 0.05)
        gen.write_corpus(self.warm_dir, self.seed + 1, 150, self.DUP_SHARE, self.NEAR_SHARE, 100)
        self.n_docs = rows["documents"]
        return {"rows": rows, "entries": list(self.ENTRIES), "dup_share": self.DUP_SHARE,
                "near_share": self.NEAR_SHARE}

    def _entries(self):
        import __spark_entry__

        q = __spark_entry__.queries()
        return {n: q[n] for n in self.ENTRIES}

    def _run_entry(self, spark, name, fn, data_dir, ph: Phase | None):
        with self.tracer.span("entry." + name):
            t = time.perf_counter()
            res = _Arrow(fn(spark, data_dir))
            dt = time.perf_counter() - t
        spark.catalog.clearCache()
        if ph is not None:
            ph.latencies_ms.append(1000 * dt)
            ph.entry_s.setdefault(name, []).append(dt)
            self.results.setdefault(name, []).append(res)

    def warm_up(self, spark) -> None:
        for name, fn in self._entries().items():
            self._run_entry(spark, name, fn, self.warm_dir, None)

    def _pass(self, spark, ph: Phase) -> None:
        entries = self._entries()
        names = [list(entries)[i] for i in self.rng.permutation(len(entries))]
        for name in names:
            ph.attempted += 1
            try:
                self._run_entry(spark, name, entries[name], self.data_dir, ph)
            except Exception as e:  # an entry failure is a result, not a crash
                ph.failed += 1
                self.checks.setdefault("errors", []).append(f"{name}: {type(e).__name__}: {e}")

    def measure(self, spark, seconds: int) -> Phase:
        self.spark = spark
        ph = Phase()
        with self.layer_hooks():
            t0 = time.perf_counter()
            passes = 0
            while True:  # stop at the pass boundary nearest to `seconds`
                self._pass(spark, ph)
                passes += 1
                elapsed = time.perf_counter() - t0
                if elapsed + elapsed / passes / 2 >= seconds:
                    break
            ph.elapsed_s = elapsed
        ph.items = passes * self.items_per_pass()
        ph.context = {"passes": passes}
        self.passes = passes
        return ph

    def items_per_pass(self) -> int:
        return len(self.ENTRIES)

    def layer_hooks(self):
        """In a traced phase, time the corpus operators' layers and
        materialize each one's output at its boundary."""
        import contextlib

        from flink_streaming_twitter_spark.operators import dedup, graph, textops
        from flink_streaming_twitter_spark.plans import pipeline, similarity

        tracer = self.tracer
        if not tracer.enabled:
            return contextlib.nullcontext()

        def timed(span_name):
            def wrap(fn):
                def run(*a, **kw):
                    with tracer.span(span_name):
                        return fn(*a, **kw).localCheckpoint()
                return run
            return wrap

        def closure(fn):
            """Time the closure alone, in a job group of its own so that its
            stages can be counted after the phase (see ``counters``)."""
            inner = timed("graph.components")(fn)

            def run(edges, *a, **kw):
                with tracer.span("dedup.evidence"):
                    edges = edges.localCheckpoint()
                self.graph_groups.append(f"graph.components-{len(self.graph_groups)}")
                with engine.job_group(self.spark, self.graph_groups[-1]):
                    return inner(edges, *a, **kw)
            return run

        stack = contextlib.ExitStack()
        for mod, attr, wrapper in (
            (pipeline, "normalize_text", timed("textops.normalize")),
            (textops, "quality_metrics", timed("textops.quality")),
            (dedup, "exact_dedup", timed("dedup.exact")),
            (dedup, "minhash_lsh_dedup", timed("dedup.minhash_lsh")),
            (graph, "connected_components", closure),
            (similarity, "lsh_topk", timed("similarity.lsh_topk")),
            (similarity, "brute_force_topk", timed("similarity.brute_topk")),
        ):
            stack.enter_context(patched(mod, attr, wrapper))
        return stack

    def counters(self, spark) -> dict:
        """After the traced phase: stages per pass of the closure, read from
        the status store once the phase is over (it is filled
        asynchronously), and the LSH tier's candidate and near-duplicate
        pair counts."""
        if "dedup_clusters" not in self.ENTRIES:
            return {}
        from flink_streaming_twitter_spark.operators import dedup
        from flink_streaming_twitter_spark.plans import params as P
        from flink_streaming_twitter_spark.sources.files import load_table

        stages = sum(engine.group_stages(spark, g) for g in self.graph_groups)
        docs = load_table(spark, self.data_dir, "documents")
        kw = dict(num_perm=P.MINHASH_PERMS, bands=P.MINHASH_BANDS, shingle_k=P.SHINGLE_K)
        near = dedup.minhash_lsh_dedup(docs, est_threshold=P.MINHASH_EST_THRESHOLD, **kw).count()
        cand = dedup.minhash_lsh_dedup(docs, est_threshold=0.0, **kw).count()
        spark.catalog.clearCache()
        return {"graph.stages": stages / self.passes,
                "dedup.candidate_pairs": float(cand), "dedup.near_pairs": float(near),
                "dedup.pair_yield": near / cand if cand else 0.0}

    def check(self, spark) -> None:
        import duckdb

        import __spark_entry__
        from tools.check_oracle import compare

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.data_dir):
                con.execute(f"CREATE VIEW {t.split('.')[0]} AS FROM "
                            f"'{os.path.join(self.data_dir, t)}'")
            for name, results in self.results.items():
                ref = con.execute(oracles[name]).fetch_arrow_table()
                for res in results:
                    if compare(name, res, ref):
                        self.mismatched += 1
                        self.checks["mismatched_entries"].append(name)
        finally:
            con.close()
        self.results.clear()


class BatchMix(_BatchBase):
    """The corpus-preparation entries and the batch query entries,
    interleaved in a seed-permuted order on every pass."""

    name = "batch_mix"
    ENTRIES = CORPUS_ENTRIES + MIX_ENTRIES


class CorpusDedup(_BatchBase):
    """The corpus-preparation entries alone; throughput in documents."""

    name = "corpus_dedup"
    ENTRIES = CORPUS_ENTRIES

    def items_per_pass(self) -> int:
        return self.n_docs


class QueryMix(_BatchBase):
    """The batch query entries alone; throughput in queries."""

    name = "query_mix"
    ENTRIES = MIX_ENTRIES


WORKLOADS = {w.name: w for w in (StreamLive, StreamCatchup, BatchMix, CorpusDedup, QueryMix)}
