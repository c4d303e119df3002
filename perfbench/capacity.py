"""Busy period per file of the ``stream_live`` job, the basis of its tick.

    python3 perfbench/capacity.py --files 10

Runs ``stream_live``'s set-up (session, four queries, lead-in files),
then publishes its files closed loop: the next file only once every query
is idle, so nothing queues. For each file it prints the latency (from
publication until the last of the four sinks received the file's data
batch) and the busy period (from publication to the last progress event
the file caused: its data batch and the no-data batch that follows when
the watermark moves). The median
busy period is the job's drain time for one file; ``StreamLive.TICK_S``
must stay above it for the offered rate to be sustainable.
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
from perfbench.workloads import StreamJob, StreamLive  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--files", type=int, default=10)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work", f"capacity-{os.getpid()}")
    os.makedirs(work)
    engine.apply_host_settings(engine.host_settings(work))
    wl = StreamLive(1, work, Tracer(enabled=False))
    wl.write_files(StreamLive.LEAD_IN + args.files)
    spark = engine.build(work)
    try:
        wl.warm_up(spark)
        job, busy, latency = wl.job, [], []
        for i in range(StreamLive.LEAD_IN, StreamLive.LEAD_IN + args.files):
            t0 = time.perf_counter()
            wl.published.append((wl._publish(i), t0, t0))
            if not job.wait_idle(i + 1, 120):
                raise RuntimeError(f"file {i} was not processed: {job.timeout_info}")
            last = [p["_received"] for p in job.progress if p["_received"] > t0]
            busy.append(max(last) - t0)
            recv = {(q, b): t for q in StreamJob.QUERIES for b, t, _ in job.sinks[q].records}
            latency.append(max(recv[q, job.data_batches(q)[-1]["batchId"]]
                               for q in StreamJob.QUERIES) - t0)
            print(f"file {i}: latency {latency[-1]:.3f} s, busy {busy[-1]:.3f} s", flush=True)
        job.stop()
    finally:
        engine.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    b = statistics.median(busy)
    print(json.dumps({
        "rows_per_file": StreamLive.ROWS_PER_FILE, "cpus": len(os.sched_getaffinity(0)),
        "latency_median_s": statistics.median(latency), "busy_median_s": b,
        "busy_max_s": max(busy), "drain_events_per_s": StreamLive.ROWS_PER_FILE / b,
        "offered_events_per_s": StreamLive.ROWS_PER_FILE / StreamLive.TICK_S,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
