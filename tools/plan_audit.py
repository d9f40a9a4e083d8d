"""Registry-wide physical-plan audit for scale-killers.

For EVERY registry entry, build the DataFrame at the given corpus and
scan its physical plan for patterns that do not survive 100 TB:

  - CartesianProduct / BroadcastNestedLoopJoin (non-constant inputs)
  - BatchEvalPython (row-at-a-time Python)
  - Window with an empty PARTITION BY over a non-limited input
    (single-partition WindowExec)
  - Exchange count (informational)

Prints one line per entry plus a summary of flagged entries. Exit 0
always — this is a survey tool; gates live in tests/test_plan_quality.

Usage: python tools/plan_audit.py [sf_dir] [--json out.json]

The corpus's ScalePolicy (fields, fingerprint, gate sides and confs)
heads the output, so an audit shows which side of each scale gate it
ran on; the JSON file is {"policy": ..., "entries": {name: audit}}.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit_plan(plan: str) -> dict:
    # Count UNIQUE exchange nodes: cached lineage (InMemoryRelation) is
    # re-printed at every InMemoryTableScan reference in toString(), so
    # a raw substring count over-reports any plan that references a
    # cached intermediate more than once (r12: pagerank's once-built
    # edge table printed its one repartition exchange 8x). Exchange
    # lines carry a stable [plan_id=N]; dedupe on it, falling back to
    # the raw count for lines without one.
    ex_lines = re.findall(
        r"\bExchange (?:hash|range|Single)[^\n]*", plan
    )
    seen_ids = set()
    exchanges = 0
    for line in ex_lines:
        m = re.search(r"\[plan_id=(\d+)\]", line)
        if m:
            seen_ids.add(m.group(1))
        else:
            exchanges += 1
    exchanges += len(seen_ids)
    single_part = len(
        {
            m.group(1)
            for m in re.finditer(
                r"Exchange SinglePartition[^\n]*\[plan_id=(\d+)\]", plan
            )
        }
    ) or plan.count("Exchange SinglePartition")
    info = {
        "exchanges": exchanges,
        "single_partition_exchanges": single_part,
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "batch_eval_python": plan.count("BatchEvalPython"),
        "arrow_eval_python": plan.count("ArrowEvalPython")
        + plan.count("MapInArrow")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas"),
        # Window [...] windowspecdefinition(...) with no partition cols:
        # spec starts directly with the order spec. Detect Window nodes
        # whose partition expression list is empty.
        "global_window": len(
            re.findall(r"Window \[[^\n]*\], \[\]$|Window \[[^\n]*windowspecdefinition\((?:[^,()]+ (?:ASC|DESC))", plan, re.M)
        ),
    }
    return info


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--json" in sys.argv:
        args = [a for a in args if a != sys.argv[sys.argv.index("--json") + 1]]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])  # optional: audit just these entries
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]

    from citus_spark.session import get_spark
    import citus_spark.queries as q

    spark = get_spark("citus_spark_plan_audit")
    # which side of each scale gate this audit ran on
    p = q.scale_policy(spark, sf_dir)
    policy = {
        **dataclasses.asdict(p),
        "above_cutover": p.above_cutover,
        "small_corpus": p.small_corpus,
        **p.confs(),
    }
    print("policy", json.dumps(policy))
    results: dict[str, dict] = {}
    for name, fn in q.QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            results[name] = audit_plan(plan)
        except Exception as exc:  # noqa: BLE001 — survey must not die
            results[name] = {"error": str(exc)[:200]}
            continue

    flagged = {
        n: r
        for n, r in results.items()
        if r.get("cartesian") or r.get("batch_eval_python")
    }
    for name, r in sorted(results.items()):
        print(name, json.dumps(r))
    print("---- flagged (cartesian / BatchEvalPython):", len(flagged))
    for name, r in flagged.items():
        print("FLAG", name, json.dumps(r))
    if json_out:
        with open(json_out, "w") as fh:
            json.dump({"policy": policy, "entries": results}, fh, indent=1)


if __name__ == "__main__":
    main()
