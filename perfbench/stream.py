"""The real-time ingest operation of tenant_rt: incremental
sessionization of landing events.

The generated events table is cut into slices of one calendar day
(UTC) each, the corpus's own landing unit: it spans 30 days, about
3,300 events a day at sf0.1. The slices are consecutive days from a
seeded first day. Each slice's rows are shuffled by the seed and staged
as one parquet file. One
operation lands the next slice in the source directory (untimed) and
calls `streaming.sessionize.run_sessionize` once (availableNow) against
the same sink and checkpoint, so session state carries across batches.

Correctness: DuckDB applies the batch sessionize rule (a new session
starts when ts > lag(ts) + 30 min) to every landed event. A session
closes in the batch whose slice holds the first event of the next
session. Each batch's new sink rows must equal exactly the sessions
that close in it.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timedelta

from harness import median

MAX_SLICES = 12
QUERY_NAME = "perfbench_sessionize"
DURATIONS = {
    "trigger_ms": "triggerExecution",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def _stage_slices(corpus_dir: str, stage: str, seed: int) -> list[tuple[str, int]]:
    """Write the seeded day slices; returns their staged paths and row
    counts in landing order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    table = ds.dataset(
        os.path.join(corpus_dir, "events.parquet"), format="parquet"
    ).to_table().sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ts = table.column("ts")
    first = pc.min(ts).as_py().date()
    days = (pc.max(ts).as_py().date() - first).days + 1
    start = first + timedelta(days=rng.randrange(days - MAX_SLICES + 1))
    os.makedirs(stage)
    out = []
    for i in range(MAX_SLICES):
        lo = datetime.combine(start + timedelta(days=i), datetime.min.time())
        hi = lo + timedelta(days=1)
        part = table.filter(pc.and_(
            pc.greater_equal(ts, pa.scalar(lo, ts.type)),
            pc.less(ts, pa.scalar(hi, ts.type)),
        ))
        order = list(range(part.num_rows))
        rng.shuffle(order)
        path = os.path.join(stage, f"slice-{i:05d}.parquet")
        pq.write_table(part.take(order), path, coerce_timestamps="us")
        out.append((path, part.num_rows))
    return out


def _sink_rows(paths: list[str]) -> list[tuple]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for p in paths:
        t = pq.read_table(p)
        cols = [
            t.column(c).cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
            if c.startswith("session_") else t.column(c).to_pylist()
            for c in ("user_id", "session_start", "session_end", "n_events")
        ]
        rows.extend(zip(*cols))
    return sorted(tuple(int(v) for v in r) for r in rows)


def _listener():
    """A StreamingQueryListener that keeps every event (trace runs)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[tuple] = []

        def onQueryStarted(self, event) -> None:
            self.events.append(("started", str(event.runId)))

        def onQueryProgress(self, event) -> None:
            self.events.append(("progress", event.progress))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.events.append(("terminated", str(event.runId)))

    return Listener()


class SessionizeFeed:
    """Staged slices, the source/sink directories and the check."""

    def __init__(self, spark, corpus_dir: str, scratch: str, seed: int,
                 tracer=None) -> None:
        base = os.path.join(scratch, "stream")
        self.spark = spark
        self.src = os.path.join(base, "src")
        self.sink = os.path.join(base, "sessions")
        self.staged = _stage_slices(corpus_dir, os.path.join(base, "stage"), seed)
        os.makedirs(self.src)
        self.landed = 0
        self.seen: set[str] = set()
        self.tracer = tracer
        self.listener = None
        if tracer is not None:
            self.listener = _listener()
            spark.streams.addListener(self.listener)

    def close(self) -> None:
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None

    def run_next(self, op: dict, traced: bool) -> None:
        """Land one slice and run one batch; fills op's wall time, the
        batch's new sink rows and, when traced, its progress."""
        from citus_spark.streaming.sessionize import run_sessionize

        if self.landed >= MAX_SLICES:
            raise RuntimeError(f"ran out of slices ({MAX_SLICES} staged)")
        i = self.landed
        staged, op["rows"] = self.staged[i]
        os.rename(staged, os.path.join(self.src, os.path.basename(staged)))
        self.landed += 1
        op["batch"] = i
        mark = len(self.listener.events) if self.listener else 0
        t0 = time.perf_counter()
        try:
            run_sessionize(self.spark, self.src, self.sink, queryName=QUERY_NAME)
        finally:
            op["wall"] = time.perf_counter() - t0
            new = sorted(
                f for f in os.listdir(self.sink)
                if f.endswith(".parquet") and f not in self.seen
            ) if os.path.isdir(self.sink) else []
            self.seen.update(new)
            op["sink_rows"] = _sink_rows([os.path.join(self.sink, f) for f in new])
        if traced:
            op.update(self._trace(mark))

    def expected(self) -> tuple[dict[int, list], float]:
        """{batch: sorted sessions closed by that batch's slice} from
        the batch rule over every landed slice, and DuckDB's seconds."""
        import duckdb

        con = duckdb.connect()
        t0 = time.perf_counter()
        rows = con.execute(f"""
            WITH e AS (
              SELECT user_id, ts,
                     CAST(regexp_extract(filename, 'slice-(\\d+)', 1) AS INT) AS b
              FROM read_parquet('{self.src}/slice-*.parquet', filename = true)
            ), f AS (
              SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                               OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                             THEN 1 ELSE 0 END AS is_new
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
              FROM f
            ), sessions AS (
              SELECT user_id, sid, epoch_us(min(ts)) AS s0,
                     epoch_us(max(ts)) AS s1, count(*) AS n
              FROM s GROUP BY user_id, sid
            ), closers AS (
              SELECT user_id, sid - 1 AS sid, b FROM s
              WHERE is_new = 1 AND sid > 1
            )
            SELECT c.b, x.user_id, x.s0, x.s1, x.n
            FROM sessions x JOIN closers c USING (user_id, sid)
        """).fetchall()
        busy = time.perf_counter() - t0
        con.close()
        out: dict[int, list] = {b: [] for b in range(self.landed)}
        for b, *session in rows:
            out[b].append(tuple(int(v) for v in session))
        return {b: sorted(v) for b, v in out.items()}, busy

    def _trace(self, mark: int) -> dict:
        """Progress and executor counts of the query run that started
        after `mark` in the listener's event list."""
        deadline = time.time() + 30
        while time.time() < deadline:
            evs = self.listener.events[mark:]
            if any(kind == "terminated" for kind, _ in evs):
                break
            time.sleep(0.02)
        else:
            raise RuntimeError("no termination event from the streaming listener")
        run_id = next(v for kind, v in evs if kind == "started")
        progress = [v for kind, v in evs if kind == "progress"]
        out = {f"streaming.{k}": 0.0 for k in DURATIONS}
        for p in progress:
            for k, key in DURATIONS.items():
                out[f"streaming.{k}"] += float(p.durationMs.get(key, 0))
        last = next((p for p in reversed(progress) if p.stateOperators), None)
        if last is not None:
            st = last.stateOperators[0]
            out["streaming.state_update_ms"] = float(st.allUpdatesTimeMs)
            out["streaming.state_commit_ms"] = float(st.commitTimeMs)
            out["streaming.state_rows"] = float(st.numRowsTotal)
            out["streaming.state_memory_bytes"] = float(st.memoryUsedBytes)
        # a streaming query's micro-batches run under its run id as
        # the job group
        out["stats"] = self.tracer.stage_totals([run_id])
        return out


def layers(traced: list[dict], untraced: list[dict]) -> dict:
    """Per-op medians of the traced batches; batch latency and rows/s
    from the untraced ones."""
    out: dict[str, float] = {}
    if untraced:
        walls = [op["wall"] for op in untraced]
        out["streaming.batch_p50_ms"] = median(walls) * 1e3
        out["streaming.rows_per_s"] = sum(op["rows"] for op in untraced) / sum(walls)
    if traced:
        for k in [k for k in traced[0] if k.startswith("streaming.")]:
            out[k] = median([op[k] for op in traced])
        out["streaming.start_ms"] = median(
            [op["wall"] * 1e3 - op["streaming.trigger_ms"] for op in traced]
        )
    return out
