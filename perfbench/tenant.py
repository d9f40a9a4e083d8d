"""tenant_rt — Citus's real-time multi-tenant shape: per-tenant reads
and writes through `DistributedSession.sql`, next to real-time ingest
through `streaming.sessionize.run_sessionize`.

Set-up: `load_tables` over the generated events table, then, in SQL, a
writable copy `tenant_events` hash-distributed on user_id and a
co-located per-tenant rollup `tenant_rollup`; the ingest slices are
staged (stream.py).

One closed-loop client runs whole rounds of eight operations in a
seeded order; the SQL ones are keyed to a Zipf-skewed tenant:
  5 router SELECTs written with PG idioms (`::` casts),
  1 multi-row `INSERT ... VALUES` into tenant_events,
  1 rollup upsert `INSERT ... SELECT ... ON CONFLICT DO UPDATE`,
  1 sessionize batch over the next landed day of events.
A SQL operation is one `sess.sql(text)` call plus `collect()` of what
it returns.

Where the traffic's numbers come from (README.md has the reasons):
  - tenants are ranked by their event count in the corpus, most first,
    and drawn by Zipf's law over that rank (exponent 1);
  - an INSERT carries 5 to 15 rows, like a TPC-C New-Order's order
    lines (TPC-C spec clause 2.4.1.3; HammerDB's TPROC-C is the
    reference's own performance workload), each row copying the ts,
    event_type and value of a seeded random corpus event;
  - the 5:1:1:1 mix of a round is an assumption, sized to the time
    budget, not taken from any trace.

Correctness: DuckDB replays the benchmark's own SQL log, the same text,
from the same starting rows. Every SELECT's rows and every write's row
count are matched against the replay, and both final tables are
hash-matched order-insensitively. Sessionize batches are checked by
stream.py against the batch rule.
"""

from __future__ import annotations

import bisect
import collections
import os
import random
import time

import stream
from harness import (
    EXECUTOR_KEYS,
    MIN_ROUNDS,
    Tracer,
    add_into,
    client_summary,
    corpus,
    measure_rounds,
    median,
    parquet_glob,
    phase_ms,
    result_hash,
)

ROUND = ("select",) * 5 + ("insert", "upsert", "sessionize")
# the warm-up is part of set-up: every kind at least once
WARMUP = ("select",) * 2 + ("insert", "upsert", "sessionize")
KINDS = ("select", "insert", "upsert", "sessionize")
ROWS_PER_INSERT = (5, 15)  # inclusive, uniform: TPC-C's order lines
ZIPF_S = 1.0
FIRST_NEW_EVENT_ID = 10**9

SETUP_SQL = (
    "CREATE TABLE tenant_events (event_id bigint, ts timestamp, "
    "user_id bigint, event_type text, value double precision)",
    "SELECT create_distributed_table('tenant_events', 'user_id')",
    "INSERT INTO tenant_events "
    "SELECT event_id, ts, user_id, event_type, value FROM events",
    "CREATE TABLE tenant_rollup (user_id bigint, event_type text, "
    "n bigint, total numeric(18,2), PRIMARY KEY (user_id, event_type))",
    "SELECT create_distributed_table('tenant_rollup', 'user_id', "
    "colocate_with => 'tenant_events')",
)
SELECT_SQL = (
    "SELECT event_type, count(*)::bigint AS n, "
    "sum(value::numeric(18,2)) AS total FROM tenant_events "
    "WHERE user_id = {k}::bigint GROUP BY event_type",
    "SELECT event_id, ts, value FROM tenant_events "
    "WHERE user_id = {k}::bigint ORDER BY ts DESC, event_id DESC LIMIT 10",
)
UPSERT_SQL = (
    "INSERT INTO tenant_rollup (user_id, event_type, n, total) "
    "SELECT user_id, event_type, count(*), sum(value::numeric(18,2)) "
    "FROM tenant_events WHERE user_id = {k} GROUP BY user_id, event_type "
    "ON CONFLICT (user_id, event_type) DO UPDATE "
    "SET n = EXCLUDED.n, total = EXCLUDED.total"
)


def _corpus_events(corpus_dir: str) -> tuple[list[int], list[tuple]]:
    """The corpus's tenants ranked by event count (most first, ties by
    id) and the (ts, event_type, value) of each of its events."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    t = ds.dataset(
        os.path.join(corpus_dir, "events.parquet"), format="parquet"
    ).to_table(columns=["ts", "user_id", "event_type", "value"])
    counts = collections.Counter(t.column("user_id").to_pylist())
    ranked = sorted(counts, key=lambda u: (-counts[u], u))
    payloads = list(zip(
        t.column("ts").cast(pa.timestamp("us")).to_pylist(),
        t.column("event_type").to_pylist(),
        t.column("value").to_pylist(),
    ))
    return ranked, payloads


class OpLog:
    """Seeded generator of the statement stream; keeps every statement
    issued so DuckDB can replay it."""

    def __init__(self, seed: int, ranked: list[int], payloads: list[tuple]) -> None:
        self.rng = random.Random(seed)
        self.tenant_of_rank = ranked
        self.payloads = payloads
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(ranked))]
        total = sum(weights)
        acc = 0.0
        self.cdf = []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)
        self.next_event_id = FIRST_NEW_EVENT_ID
        self.n_selects = 0
        self.log: list[dict] = []

    def tenant(self) -> int:
        r = bisect.bisect_left(self.cdf, self.rng.random())
        return self.tenant_of_rank[min(r, len(self.cdf) - 1)]

    def round(self, kinds=ROUND) -> list[dict]:
        kinds = list(kinds)
        self.rng.shuffle(kinds)
        return [self._op(kind) for kind in kinds]

    def _op(self, kind: str) -> dict:
        if kind == "sessionize":
            return {"kind": kind}
        k = self.tenant()
        if kind == "select":
            sql = SELECT_SQL[self.n_selects % len(SELECT_SQL)].format(k=k)
            self.n_selects += 1
        elif kind == "insert":
            values = []
            for _ in range(self.rng.randint(*ROWS_PER_INSERT)):
                ts, event_type, value = self.rng.choice(self.payloads)
                values.append(
                    f"({self.next_event_id}, '{ts.isoformat(sep=' ')}'::timestamp, "
                    f"{k}, '{event_type}', {value:.2f})"
                )
                self.next_event_id += 1
            sql = (
                "INSERT INTO tenant_events (event_id, ts, user_id, "
                "event_type, value) VALUES " + ", ".join(values)
            )
        else:
            sql = UPSERT_SQL.format(k=k)
        op = {"kind": kind, "sql": sql}
        if kind == "insert":
            op["values"] = len(values)
        self.log.append(op)
        return op


def _table_files(spark, name: str) -> tuple[int, int]:
    """(files, bytes) behind a registered table."""
    files = spark.table(name).inputFiles()
    paths = [f[len("file:"):] if f.startswith("file:") else f for f in files]
    return len(paths), sum(os.path.getsize(p) for p in paths)


def _replay(corpus_dir: str, log: list[dict]):
    """Replay the SQL log in DuckDB; returns (per-statement results,
    final table hashes, seconds spent in DuckDB)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE tenant_events AS SELECT event_id, ts, user_id, "
        "event_type, value FROM "
        f"read_parquet('{parquet_glob(corpus_dir, 'events')}')"
    )
    con.execute(SETUP_SQL[3])
    results = []
    t0 = time.perf_counter()
    for op in log:
        res = con.execute(op["sql"])
        rows = res.fetchall()
        if op["kind"] == "select":
            results.append(result_hash([d[0] for d in res.description], rows))
        else:
            results.append(int(rows[0][0]))
    busy = time.perf_counter() - t0
    finals = {}
    for t in ("tenant_events", "tenant_rollup"):
        res = con.execute(f"SELECT * FROM {t}")
        finals[t] = result_hash([d[0] for d in res.description], res.fetchall())
    con.close()
    return results, finals, busy


def run(ctx) -> dict:
    from citus_spark.session import DistributedSession

    spark = ctx.spark
    corpus_dir = ctx.timed_corpus(lambda: corpus(spark, ("events",)))
    ctx.mark("session")
    sess = DistributedSession(spark)
    sess.load_tables(corpus_dir, ("events",))
    ctx.mark("load_tables")
    for sql in SETUP_SQL:
        sess.sql(sql).collect()
    ctx.mark("create_tables")
    tracer = Tracer(spark) if ctx.trace else None
    feed = stream.SessionizeFeed(spark, corpus_dir, ctx.scratch, ctx.seed, tracer)
    ctx.mark("stage_slices")

    gen = OpLog(ctx.seed, *_corpus_events(corpus_dir))
    ops: list[dict] = []

    def execute(op: dict, traced: bool, round_no: int) -> None:
        op.update(round=round_no, traced=traced)
        ops.append(op)
        kind = op["kind"]
        try:
            if kind == "sessionize":
                feed.run_next(op, traced)
                return
            if traced and kind == "insert":
                before = _table_files(spark, "tenant_events")[1]
            t0 = time.perf_counter()
            gid = tracer.group(kind) if traced else None
            df = sess.sql(op["sql"])
            t1 = time.perf_counter()
            if traced and kind == "select":
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            if kind == "select":
                rows = [tuple(r) for r in df.collect()]
            else:
                got = int(df.collect()[0][0])
            t3 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — counted as failed
            ctx.errors.append(f"{kind} {op.get('sql', '')[:60]}: {exc!r}"[:400])
            op["error"] = True
            return
        if kind == "select":
            op["got"] = result_hash(df.columns, rows)
            op["rows"] = len(rows)
        else:
            op["got"] = got
        op.update(wall=t3 - t0, sql_s=t1 - t0, plan_s=t2 - t1, drain_s=t3 - t2)
        if traced:
            op["stats"] = tracer.stage_totals([gid])
            if kind == "select":
                op["phases"] = phase_ms(df)
            if kind == "insert":
                op["bytes_added"] = _table_files(spark, "tenant_events")[1] - before

    try:
        for op in gen.round(WARMUP):  # checked like the rest
            execute(op, False, -1)
        ctx.mark("warm_up")
        ctx.setup_done()

        def one_round(i: int) -> None:
            # a traced run runs untraced, traced, untraced rounds: the trace
            # overhead is measured inside the run, and the traced round's
            # extra warm-up is offset by the untraced round after it
            traced = ctx.trace and i % 2 == 1
            for op in gen.round():
                execute(op, traced, i)

        rounds = measure_rounds(ctx.seconds, one_round, 3 if ctx.trace else MIN_ROUNDS)
    finally:
        feed.close()

    failed = 0
    sql_ops = [op for op in ops if op["kind"] != "sessionize"]
    expected, finals, duck_s = _replay(corpus_dir, gen.log)
    for op, want in zip(sql_ops, expected):
        if op.get("error") or op["got"] != want:
            op["failed"] = True
            failed += 1
            ctx.errors.append(f"{op['sql'][:80]}: differs from the DuckDB replay")
    for t in ("tenant_events", "tenant_rollup"):
        if result_hash(*_spark_table(spark, t)) != finals[t]:
            failed += 1
            ctx.errors.append(f"final {t} differs from the DuckDB replay")
    sessions, stream_duck_s = feed.expected()
    for op in ops:
        if op["kind"] == "sessionize" and (
            op.get("error") or op["sink_rows"] != sessions[op["batch"]]
        ):
            op["failed"] = True
            failed += 1
            ctx.errors.append(f"sessionize batch {op['batch']} differs from the batch rule")

    good = [op for op in ops if not op.get("failed") and op["round"] >= 0]
    timed = [op for op in good if not op["traced"]]
    if not timed:
        raise RuntimeError("no tenant operation succeeded: " + "; ".join(ctx.errors[:3]))
    by_kind = {k: [op["wall"] * 1e3 for op in timed if op["kind"] == k] for k in KINDS}
    ctx.detail.update(
        rounds=rounds,
        ops_per_round=len(ROUND),
        op_samples=len(timed),
        ms_by_kind={k: [round(v, 1) for v in vs] for k, vs in by_kind.items()},
        sessions_checked=sum(len(v) for v in sessions.values()),
    )
    layers = {"host.duckdb_round_s": duck_s + stream_duck_s}
    # a kind whose every timed op failed has no p50; its failures are
    # counted in `failed`
    for key, kind in (("session.select_p50_ms", "select"),
                      ("session_writes.insert_p50_ms", "insert"),
                      ("session_writes.upsert_p50_ms", "upsert")):
        if by_kind[kind]:
            layers[key] = median(by_kind[kind])
    layers.update(stream.layers(
        [op for op in good if op["traced"] and op["kind"] == "sessionize"],
        [op for op in timed if op["kind"] == "sessionize"],
    ))
    if ctx.trace:
        layers.update(_layers(spark, sess, good))
    return {
        # + the two final-table checks
        "attempted": len(ops) + 2,
        "failed": failed,
        "client": client_summary(timed),
        "layers": layers,
    }


def _spark_table(spark, name: str):
    df = spark.table(name)
    return df.columns, df.collect()


def _layers(spark, sess, good: list[dict]) -> dict:
    traced = [op for op in good if op["traced"]]
    n_rounds = len({op["round"] for op in traced}) or 1
    sel = [op for op in traced if op["kind"] == "select"]
    ins = [op for op in traced if op["kind"] == "insert"]
    ups = [op for op in traced if op["kind"] == "upsert"]
    out: dict[str, float] = {}
    stats: dict[str, float] = {}
    phases: dict[str, float] = {}
    for op in traced:
        add_into(stats, op["stats"])
        if "phases" in op:
            add_into(phases, op["phases"])
    for k in EXECUTOR_KEYS:
        out[f"executor.{k}"] = stats.get(k, 0.0) / n_rounds
    for k, v in phases.items():
        out[f"catalyst.phase_ms.{k}"] = v / n_rounds
    out["catalyst.plan_ms"] = sum(op["plan_s"] for op in sel) * 1e3 / n_rounds
    out["executor.drain_ms"] = sum(
        op.get("drain_s", op["wall"]) for op in traced
    ) * 1e3 / n_rounds
    if sel:
        out["session.select_sql_ms"] = median([op["sql_s"] * 1e3 for op in sel])
        out["executor.select_drain_ms"] = median([op["drain_s"] * 1e3 for op in sel])
        out["executor.select_tasks"] = median([op["stats"]["tasks"] for op in sel])
        returned = sum(op["rows"] for op in sel)
        scanned = sum(op["stats"]["input_records"] for op in sel)
        out["executor.select_rows_scanned_per_row_returned"] = scanned / max(returned, 1)
    if ins:
        out["session_writes.insert_jobs"] = median([op["stats"]["jobs"] for op in ins])
        out["session_writes.bytes_written_per_row"] = (
            sum(op["bytes_added"] for op in ins) / sum(op["values"] for op in ins)
        )
    if ups:
        out["session_writes.upsert_jobs"] = median([op["stats"]["jobs"] for op in ups])
    out["session_writes.table_files_end"] = float(_table_files(spark, "tenant_events")[0])
    # router-shaped SELECTs that citus_stat_statements lists as router
    calls = router = 0
    for row in sess.citus_stat_statements().collect():
        if row.query.startswith(("SELECT event_type", "SELECT event_id")) and (
            "FROM tenant_events WHERE user_id" in row.query
        ):
            calls += row.calls
            router += row.calls if row.executor == "router" else 0
    out["stats.router_classified_frac"] = router / max(calls, 1)
    # traced over untraced, kind by kind, weighted by the round's mix
    untraced = [op for op in good if not op["traced"]]
    t_sum = u_sum = 0.0
    for kind in KINDS:
        t = [op["wall"] for op in traced if op["kind"] == kind]
        u = [op["wall"] for op in untraced if op["kind"] == kind]
        if t and u:
            t_sum += median(t) * ROUND.count(kind)
            u_sum += median(u) * ROUND.count(kind)
    out["trace.overhead_frac"] = t_sum / u_sum - 1 if u_sum else 0.0
    return out
