"""Benchmark command: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed`` under ``.perfbench_work/``
at the checkout root, starts the engine's SparkSession (sized from the
host; this launches the JVM) and runs one warm-up pass, measures for
``--seconds``, checks every output against a reference and prints, as
the last line, ``{"correct", "attempted", "failed", "metrics"}``. The
line before it carries the metrics under their planning names
(``stream_latency_p50_ms``, ``corpus_docs_per_s``, ...), the resolved
settings and context (steal, generator lateness, latencies). ``--trace 1``
measures once untraced and once traced and prints the per-layer metrics
instead; spans go to ``.perfbench_work/spans-*.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import engine  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SPARK_KEYS = ("task_cpu_s", "python_cpu_s", "executor_run_s", "stages", "tasks",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s")

STREAM_LAYERS = (
    ("sources.latest_offset_ms", "ms"), ("sources.get_batch_ms", "ms"),
    ("sources.rows_per_batch", "count"), ("runner.query_planning_ms", "ms"),
    ("runner.wal_commit_ms", "ms"), ("runner.commit_offsets_ms", "ms"),
    ("runner.add_batch_ms", "ms"), ("runner.trigger_ms", "ms"), ("runner.phase_share", "ratio"),
    ("runner.batches", "count"), ("runner.start_query_s", "s"), ("state.commit_ms", "ms"),
    ("state.rows_total", "count"), ("state.memory_bytes", "bytes"),
    ("state.rows_dropped_by_watermark", "count"), ("sinks.write_ms", "ms"),
    ("sinks.lines", "count"), ("sinks.points_dropped", "count"),
)
CORPUS_LAYERS = (
    ("textops.normalize_s", "s"), ("textops.quality_s", "s"), ("dedup.exact_s", "s"),
    ("dedup.minhash_lsh_s", "s"), ("dedup.evidence_s", "s"), ("dedup.candidate_pairs", "count"),
    ("dedup.near_pairs", "count"), ("dedup.pair_yield", "ratio"), ("graph.components_s", "s"),
    ("graph.stages", "count"), ("similarity.lsh_topk_s", "s"), ("similarity.brute_topk_s", "s"),
)
SPARK_LAYERS = (
    ("spark.task_cpu_s", "s"), ("spark.python_cpu_s", "s"), ("spark.executor_run_s", "s"),
    ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
)
TRACE_LAYERS = (("trace.overhead_pct", "%"), ("trace.spans", "count"))
# Result latency is printed, not gated: on the shared 4-core host the
# same code gave it a spread (quartile distance over median) of 0.32 over
# ten seeded runs, above the 0.25 a gated metric may have (README.md).
END_TO_END = (("setup_s", "s"), ("cpu_ms_per_item", "ms"))


def per_layer_names(mix_entries) -> list[tuple[str, str]]:
    mix = tuple((f"mix.entry.{n}_s", "s") for n in mix_entries)
    return [*STREAM_LAYERS, *CORPUS_LAYERS, *mix, *SPARK_LAYERS, *TRACE_LAYERS]


def measured(wl, spark, seconds: int) -> dict:
    """One timed phase with the engine and /proc counters around it."""
    proc = engine.ProcTree()
    st0, steal0 = engine.stage_totals(spark), engine.steal_s()
    snap = proc.start()
    t0 = time.perf_counter()
    ph = wl.measure(spark, seconds)
    wall = time.perf_counter() - t0
    cpu = proc.stop(snap)
    spark_d = engine.stage_diff(st0, engine.stage_totals(spark))
    spark_d["python_cpu_s"] = cpu["python_cpu_s"]
    return {"phase": ph, "cpu": cpu, "spark": spark_d, "wall_s": wall,
            "steal_s": engine.steal_s() - steal0, "start": t0}


def tail_latency(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it (nearest
    rank), and its value."""
    xs = sorted(samples)
    rank = max(1, len(xs) - 10)
    return 100.0 * rank / len(xs), xs[rank - 1]


def end_to_end(wl, m: dict, setup_s: float) -> tuple[dict, dict]:
    ph = m["phase"]
    lat = ph.latencies_ms or [0.0]
    tail_pct, tail = tail_latency(lat)
    tput = ph.items / ph.elapsed_s if ph.elapsed_s else 0.0
    metrics = {
        "setup_s": setup_s,
        "cpu_ms_per_item": 1000 * m["cpu"]["cpu_s"] / max(ph.items, 1),
    }
    ratio = ph.failed / max(ph.attempted, 1)
    named = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (m["cpu"]["cpu_s"], "s"),
        "peak_rss_mb": (m["cpu"]["peak_rss_mb"], "MB"),
        # the mean as well as the median: results fall in modes (the four
        # stream queries, the batch entries), and a median between modes jumps
        "latency_mean_ms": (statistics.mean(lat), "ms"),
        "throughput_per_s": (tput, "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (tail, "ms"),
        "latency_tail_percentile": (tail_pct, "%"),
        "latency_samples": (len(ph.latencies_ms), "count"),
        "ops_failed_ratio": (ratio, "ratio"),
        "results_mismatched": (wl.mismatched, "count"),
    }
    if wl.name == "stream_live":
        named.update({
            "stream_latency_p50_ms": (statistics.median(lat), "ms"),
            "stream_latency_tail_ms": (tail, "ms"),
            "stream_latency_tail_percentile": (tail_pct, "%"),
            "stream_latency_samples": (len(ph.latencies_ms), "count"),
            "stream_backlog_end_files": (ph.context["backlog_end_files"], "files"),
        })
    elif wl.name == "stream_catchup":
        named["stream_events_per_s"] = (tput, "events/s")
    else:
        from perfbench.workloads import CORPUS_ENTRIES, MIX_ENTRIES

        def busy(names):
            return sum(sum(ph.entry_s.get(n, ())) for n in names)

        passes = ph.context["passes"]
        if set(CORPUS_ENTRIES) <= set(wl.ENTRIES):
            named["corpus_docs_per_s"] = (wl.n_docs * passes / busy(CORPUS_ENTRIES), "docs/s")
        if set(MIX_ENTRIES) <= set(wl.ENTRIES):
            named["mix_queries_per_s"] = (len(MIX_ENTRIES) * passes / busy(MIX_ENTRIES),
                                          "queries/s")
    return metrics, named


def layer_metrics(wl, tracer: Tracer, traced: dict, untraced: dict, mix_entries) -> dict:
    out = {name: 0.0 for name, _ in per_layer_names(mix_entries)}
    ph = traced["phase"]
    if wl.name.startswith("stream"):
        out.update(wl.layers(traced["start"]))
    else:
        passes = ph.context["passes"]
        self_s = tracer.self_times()
        for name, unit in CORPUS_LAYERS:
            if unit == "s":
                out[name] = self_s.get(name[:-2], 0.0) / passes
        out.update(wl.counters_)
        for name, times in ph.entry_s.items():
            if f"mix.entry.{name}_s" in out:
                out[f"mix.entry.{name}_s"] = statistics.median(times)
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = float(traced["spark"][k])

    def cost(m):  # lower is better; per result for the open loop, per item otherwise
        p = m["phase"]
        if wl.name == "stream_live":
            return statistics.mean(p.latencies_ms or [0.0])
        return p.elapsed_s / max(p.items, 1)

    out["trace.overhead_pct"] = 100.0 * (cost(traced) / cost(untraced) - 1.0) if cost(untraced) else 0.0
    out["trace.spans"] = float(len(tracer.spans))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must be importable: fail before writing anything
    import flink_streaming_twitter_spark  # noqa: F401

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    settings = engine.host_settings(work)
    engine.apply_host_settings(settings)
    tracer = Tracer(enabled=False)
    wl = workloads.WORKLOADS[args.workload](args.seed, work, tracer)
    spark = None
    try:
        inputs = wl.prepare(args.seconds, phases=2 if args.trace else 1)
        # set-up: the session start, which launches the JVM, then one
        # warm-up pass on the fresh session
        t0 = time.perf_counter()
        spark = engine.build(work)
        start_s = time.perf_counter() - t0
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        untraced = measured(wl, spark, args.seconds)
        traced = None
        if args.trace:
            tracer.enabled = True
            traced = measured(wl, spark, args.seconds)
            tracer.enabled = False
        wl.check(spark)
        if args.trace and not args.workload.startswith("stream"):
            wl.counters_ = wl.counters(spark)
        conf = {k: spark.conf.get(k) for k in (
            "spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
            "spark.sql.adaptive.enabled")}
    finally:
        if spark is not None:
            engine.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    metrics, named = end_to_end(wl, untraced, setup_s)
    phases = [untraced] + ([traced] if traced else [])
    attempted = sum(m["phase"].attempted for m in phases)
    failed = sum(m["phase"].failed for m in phases)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "named_metrics": {k: {"value": v, "unit": u}
                                               for k, (v, u) in named.items()},
        "session_start_s": start_s, "warm_up_s": setup_s - start_s, "inputs": inputs,
        "settings": settings, "spark_conf": conf,
        "steal_s": untraced["steal_s"], "timed_wall_s": untraced["wall_s"],
        "context": untraced["phase"].context, "checks": wl.checks,
        "spark": untraced["spark"], "latencies_ms": untraced["phase"].latencies_ms,
    }
    print(json.dumps(detail, default=float))
    if args.trace:
        values = layer_metrics(wl, tracer, traced, untraced, workloads.MIX_ENTRIES)
        units = dict(per_layer_names(workloads.MIX_ENTRIES))
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        values, units = metrics, dict(END_TO_END)
    result = {
        "correct": wl.mismatched == 0 and failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
