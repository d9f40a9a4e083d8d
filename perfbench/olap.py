"""olap_sf0.1 — the bench.py HEADLINE queries over the generated
sf0.1 corpus (about 17 MB, below every scale cutover).

One closed-loop client runs whole rounds; each round runs every query
once, in an order drawn from the seed. One operation is one query:
`QUERIES[name](spark, dir)` (the `queries` layer's build) followed by
`collect()` (Catalyst planning plus the executor's drain and the rows'
trip to Python), after an untimed clearCache.

Correctness: DuckDB runs every query's unrewritten ORACLES SQL over the
same parquet files once, in set-up. The rows of every execution, the
untimed warm-up pass and each timed one, are hash-matched
order-insensitively (tools/oracle_check's canonicalisation) against
DuckDB's; the hashing runs after the timed span.
"""

from __future__ import annotations

import random
import time

from harness import (
    EXECUTOR_KEYS,
    PHASES,
    MIN_ROUNDS,
    DuckOracle,
    Tracer,
    add_into,
    client_summary,
    corpus,
    headline,
    measure_rounds,
    median,
    phase_ms,
    plan_shape,
    result_hash,
    scale_confs,
)

# the trace spans of one query (build, plan, drain) must cover its
# measured wall time to within this share, or within CLOSURE_FLOOR_S;
# what they leave out is the job-group tagging between them, two py4j
# calls of about a millisecond each
CLOSURE_TOLERANCE = 0.05
CLOSURE_FLOOR_S = 0.025


class GateError(RuntimeError):
    """The corpus ran on the wrong side of the scale cutover."""


def run(ctx) -> dict:
    from citus_spark.queries import QUERIES, corpus_above_cutover, load_views

    spark = ctx.spark
    names = headline()
    corpus_dir = ctx.timed_corpus(lambda: corpus(spark))
    ctx.mark("session")
    load_views(spark, corpus_dir)
    ctx.mark("load_views")
    confs = scale_confs(spark)
    ctx.detail["scale_confs"] = confs
    if corpus_above_cutover(corpus_dir) or confs[
        "spark.sql.adaptive.enabled"
    ] != "false":
        raise GateError(
            f"olap_sf0.1 must run below the scale cutover; confs={confs}"
        )

    def hygiene() -> None:
        # drop what a previous query persisted (the LSH band tables),
        # outside every timed span
        spark.catalog.clearCache()

    # DuckDB's result hash per query; a warm-up pass runs every query
    # once and matches it
    duck = DuckOracle()
    oracle: dict[str, str] = {}
    duck_s = 0.0
    failed = 0
    for name in names:
        hygiene()
        secs, cols, rows = duck.run(name)
        duck_s += secs
        oracle[name] = result_hash(cols, rows)
        try:
            df = QUERIES[name](spark, corpus_dir)
            got = result_hash(df.columns, df.collect())
        except Exception as exc:  # noqa: BLE001 — counted as failed
            ctx.errors.append(f"warm-up {name}: {exc!r}"[:400])
            got = None
        if got != oracle[name]:
            ctx.errors.append(f"warm-up {name}: result differs from DuckDB")
            failed += 1
    duck.close()
    ctx.mark("warm_up")
    ctx.setup_done()

    rng = random.Random(ctx.seed)
    tracer = Tracer(spark) if ctx.trace else None
    ops: list[dict] = []  # one per timed query execution

    def one(name: str, traced: bool, round_no: int) -> None:
        hygiene()
        op = {"name": name, "round": round_no, "traced": traced}
        ops.append(op)
        try:
            # spans cover only the calls into the program; the job-group
            # tagging between them is trace overhead that closure bounds
            t0 = time.perf_counter()
            gb = tracer.group("build") if traced else None
            b0 = time.perf_counter()
            df = QUERIES[name](spark, corpus_dir)
            b1 = time.perf_counter()
            if traced:
                plan = df._jdf.queryExecution().executedPlan()
                p1 = time.perf_counter()
                gd = tracer.group("drain")
                d0 = time.perf_counter()
            else:
                p1 = d0 = b1
            rows = df.collect()
            t3 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — counted as failed
            ctx.errors.append(f"{name}: {exc!r}"[:400])
            op["failed"] = True
            return
        if result_hash(df.columns, rows) != oracle[name]:
            ctx.errors.append(f"{name}: result differs from DuckDB")
            op["failed"] = True
            return
        op.update(wall=t3 - t0, build=b1 - b0, plan=p1 - b1, drain=t3 - d0)
        if traced:
            op["phases"] = phase_ms(df)
            op["shape"] = plan_shape(plan.toString())
            op["build_stats"] = tracer.stage_totals([gb])
            op["drain_stats"] = tracer.stage_totals([gd])

    def one_round(i: int) -> None:
        order = list(names)
        rng.shuffle(order)
        # a traced run runs untraced, traced, untraced rounds: the trace
        # overhead is measured inside the run, and the traced round's
        # extra warm-up is offset by the untraced round after it
        traced = ctx.trace and i % 2 == 1
        for name in order:
            one(name, traced, i)

    rounds = measure_rounds(ctx.seconds, one_round, 3 if ctx.trace else MIN_ROUNDS)

    failed += sum(1 for op in ops if op.get("failed"))
    good = [op for op in ops if not op.get("failed")]
    if not good:
        raise RuntimeError("no OLAP operation succeeded: " + "; ".join(ctx.errors[:3]))
    timed = [op for op in good if not op["traced"]]
    ctx.detail.update(
        rounds=rounds,
        queries_per_round=len(names),
        op_samples=len(timed),
        query_ms={
            n: [round(op["wall"] * 1e3, 2) for op in timed if op["name"] == n]
            for n in names
        },
    )
    layers = {"host.duckdb_round_s": duck_s}
    if ctx.trace:
        layers.update(_layers(ctx, names, good))
    return {
        "attempted": len(names) + len(ops),
        "failed": failed,
        "client": client_summary(timed),
        "layers": layers,
    }


def _layers(ctx, names: list[str], good: list[dict]) -> dict:
    """Per-round means over the traced rounds."""
    traced = [op for op in good if op["traced"]]
    n_rounds = len({op["round"] for op in traced}) or 1
    out: dict[str, float] = {}
    build_stats: dict[str, float] = {}
    drain_stats: dict[str, float] = {}
    phases: dict[str, float] = {}
    gaps = []
    for op in traced:
        add_into(build_stats, op["build_stats"])
        add_into(drain_stats, op["drain_stats"])
        add_into(phases, op["phases"])
        ex, bc = op["shape"]
        out["plans.exchanges"] = out.get("plans.exchanges", 0.0) + ex
        out["plans.broadcasts"] = out.get("plans.broadcasts", 0.0) + bc
        gap = abs(op["wall"] - (op["build"] + op["plan"] + op["drain"]))
        if gap > max(CLOSURE_FLOOR_S, CLOSURE_TOLERANCE * op["wall"]):
            raise RuntimeError(
                f"trace closure: {op['name']} spans miss {gap * 1e3:.1f} ms "
                f"of {op['wall'] * 1e3:.1f} ms"
            )
        gaps.append(gap / op["wall"])
    for name in names:
        mine = [op for op in traced if op["name"] == name]
        if mine:
            out[f"queries.build_ms.{name}"] = median([op["build"] * 1e3 for op in mine])
            out[f"executor.drain_ms.{name}"] = median([op["drain"] * 1e3 for op in mine])
    out["queries.build_ms"] = sum(op["build"] for op in traced) * 1e3
    out["catalyst.plan_ms"] = sum(op["plan"] for op in traced) * 1e3
    out["executor.drain_ms"] = sum(op["drain"] for op in traced) * 1e3
    out["queries.build_jobs"] = build_stats.get("jobs", 0.0)
    for k in PHASES:
        out[f"catalyst.phase_ms.{k}"] = phases.get(k, 0.0)
    for k in EXECUTOR_KEYS:
        out[f"executor.{k}"] = drain_stats.get(k, 0.0)
    for k in list(out):
        if not k.startswith(("queries.build_ms.", "executor.drain_ms.")):
            out[k] /= n_rounds
    # paired per query: traced wall over untraced wall, minus one
    untraced = [op for op in good if not op["traced"]]
    t_sum = u_sum = 0.0
    for name in names:
        t = [op["wall"] for op in traced if op["name"] == name]
        u = [op["wall"] for op in untraced if op["name"] == name]
        if t and u:
            t_sum += median(t)
            u_sum += median(u)
    out["trace.overhead_frac"] = t_sum / u_sum - 1 if u_sum else 0.0
    out["trace.closure_gap_frac"] = max(gaps) if gaps else 0.0
    ctx.detail["closure_tolerance"] = CLOSURE_TOLERANCE
    return out
