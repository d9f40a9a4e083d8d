"""Capture .explain("formatted") output for headline queries.

Usage: python tools/plan_capture.py <out_dir> [suffix] [name ...]

Writes <out_dir>/<query>_<suffix>.txt for each headline query (or the
explicitly listed names) at $SPARK_GRAFT_SF_DIR. Plans are captured
without executing the query (below the AQE cutover the static physical
plan IS the executed plan; above it the file records the initial
adaptive plan, which still shows join strategy / exchange placement /
pushed filters). Each file's first line is the corpus's ScalePolicy
(fields, fingerprint, gate sides and confs).
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q7", "tpch_q10", "tpch_q12",
    "tpch_q14", "tpch_q19", "tpch_q9", "topn_operator",
    "window_running_sum", "sessionize_events", "having_filter",
    "dedup_exact", "minhash_lsh_pairs", "text_quality", "ann_cosine_topk",
]


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from citus_spark.session import get_spark
    import citus_spark.queries as q

    spark = get_spark("citus_spark_plan_capture")
    # which side of each scale gate the plans were captured on
    p = q.scale_policy(spark, sf_dir)
    policy = json.dumps({
        **dataclasses.asdict(p),
        "above_cutover": p.above_cutover,
        "small_corpus": p.small_corpus,
        **p.confs(),
    })
    for name in names:
        df = q.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- scale policy: {policy}\n{plan}")
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")


if __name__ == "__main__":
    main()
