"""Reference results for the streaming workloads, computed by DuckDB
over the generated files.

The engine's watermark is ``max event time seen - 300 s``, taken at the
start of each micro-batch from the batches before it (the eviction
watermark, in ms). A batch drops an input (window, key) group as late when
the window end is at or before the eviction watermark of the batch before
it, so whether an empty (no-data) batch ran in between matters. The
reference therefore takes, per query, the batch sequence the engine ran
(which files each batch read, none for a no-data batch) and applies the
same rule; it reproduces the sink's final state, including what late rows
changed, and the engine's count of dropped groups.
"""

from __future__ import annotations

import duckdb

WATERMARK_US = 300 * 1_000_000
SIZE_US, SLIDE_US = 30 * 1_000_000, 5 * 1_000_000


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _watermarks(batches: list[list[int]], file_max: dict[int, int]):
    """Per data batch (file index -> late watermark in µs or None), and
    the eviction watermark of the last batch."""
    seen = None  # max event time of the batches before the current one
    evict_prev = None
    late_by_file: dict[int, int | None] = {}
    for files in batches:
        evict = None if seen is None else (seen // 1000) * 1000 - WATERMARK_US
        for f in files:
            late_by_file[f] = evict_prev
        if files:
            m = max(file_max[f] for f in files)
            seen = m if seen is None else max(seen, m)
        evict_prev = evict
    return late_by_file, evict_prev


def stream_reference(files: list[str], batches: dict[str, list[list[int]]]) -> dict:
    """Final sink state and dropped-group count per query.

    ``files`` are the generated files; ``batches[query]`` lists, in batch
    order, the indices of the files each micro-batch of that query read.
    Timestamps in the result are in seconds.
    """
    con = duckdb.connect()
    out = {}
    try:
        con.execute("CREATE TABLE fmap (filename VARCHAR, fi INTEGER)")
        con.executemany("INSERT INTO fmap VALUES (?, ?)", list(zip(files, range(len(files)))))
        con.execute(f"""
CREATE TABLE ev AS
SELECT epoch_us(e.ts) AS t, e.event_type AS k, fmap.fi
FROM read_parquet({_sql_list(files)}, filename = true) e JOIN fmap USING (filename)""")
        file_max = dict(con.execute("SELECT fi, max(t) FROM ev GROUP BY fi").fetchall())
        for query, seq in batches.items():
            late_by_file, final_wm = _watermarks(seq, file_max)
            con.execute("CREATE OR REPLACE TABLE fb (fi INTEGER, b INTEGER, wm BIGINT)")
            con.executemany(
                "INSERT INTO fb VALUES (?, ?, ?)",
                [(f, b, late_by_file[f]) for b, fs in enumerate(seq) for f in fs],
            )
            out[query] = _query_reference(con, query, final_wm)
    finally:
        con.close()
    return out


def _query_reference(con, query: str, final_wm) -> dict:
    if query == "qc_total":
        (n,) = con.execute("SELECT count(*) FROM ev JOIN fb USING (fi)").fetchone()
        return {"state": n, "dropped": 0}
    if query == "qd_per_second":
        src = "SELECT b, NULL AS k, t - (t % 1000000) AS ws, wm FROM ev JOIN fb USING (fi)"
        size = 1_000_000
    else:
        src = f"""
SELECT b, k, (t - (t % {SLIDE_US})) - s.i * {SLIDE_US} AS ws, wm
FROM ev JOIN fb USING (fi), range(0, {SIZE_US // SLIDE_US}) s(i)"""
        size = SIZE_US
    late = f"(wm IS NOT NULL AND ws + {size} <= wm)"
    con.execute(f"CREATE OR REPLACE TABLE win AS {src}")
    counts = con.execute(
        f"SELECT ws // 1000000, k, count(*) FROM win WHERE NOT {late} GROUP BY ALL"
    ).fetchall()
    (dropped,) = con.execute(
        f"SELECT count(*) FROM (SELECT DISTINCT b, ws, k FROM win WHERE {late})"
    ).fetchone()
    if query == "qd_per_second":
        return {"state": {ws: c for ws, _, c in counts}, "dropped": dropped}
    if query == "qb_windowed":
        return {"state": {(ws, k): c for ws, k, c in counts}, "dropped": dropped}
    # Q-A: per window end at or before the final eviction watermark, the
    # top (count, tag); ties go to the greatest tag, as in the engine
    top: dict[int, tuple[int, str]] = {}
    for ws, k, c in counts:
        end = ws + SIZE_US // 1_000_000
        if final_wm is not None and end * 1_000_000 <= final_wm and (c, k) > top.get(end, (0, "")):
            top[end] = (c, k)
    return {"state": {e: (k, c) for e, (c, k) in top.items()}, "dropped": dropped}
