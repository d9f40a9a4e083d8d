#!/usr/bin/env python3
"""citus_spark benchmark: one command per workload run.

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 10 --trace 0

Workloads (README.md says why each exists and what each metric means):
  olap_sf0.1  the 17 bench.py headline queries over the generated sf0.1
              corpus
  tenant_rt   router SELECTs, INSERTs and ON CONFLICT upserts through
              DistributedSession.sql, plus one run_sessionize batch per
              round over landing event slices

Run from the repository root. With --trace 0 the last stdout line
carries the end-to-end metrics, with --trace 1 the per-layer ones; the
line before it is the run's full detail (seed, provenance, samples).
Exits non-zero, printing no result, when the program is missing or a
run-level check (scale gate, trace closure) fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = {"olap_sf0.1": "olap", "tenant_rt": "tenant"}


class Context:
    """What a workload module gets: the session, the run's arguments,
    and the set-up clock."""

    def __init__(self, args, spark, t_process: float, scratch: str) -> None:
        self.spark = spark
        self.scratch = scratch
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.t_process = t_process
        self.gen_s = 0.0
        self.setup_s: float | None = None
        self.errors: list[str] = []
        self.detail: dict = {}

    def timed_corpus(self, make):
        """Corpus generation is input generation: its time is kept out
        of setup_s."""
        t0 = time.time()
        out = make()
        self.gen_s += time.time() - t0
        return out

    def mark(self, phase: str) -> None:
        """Record the wall time of one set-up phase (since the last
        mark, or since process start), corpus generation excluded."""
        now = time.time()
        spans = self.detail.setdefault("setup_phases_s", {})
        last = self.t_process + sum(spans.values()) + self.gen_s
        spans[phase] = round(now - last, 4)

    def setup_done(self) -> None:
        self.setup_s = time.time() - self.t_process - self.gen_s


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_process = harness.process_start_time()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(harness.ROOT, "citus_spark", "__init__.py")):
        print("perfbench: citus_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    scratch = harness.Scratch()
    spark = None
    try:
        scratch.configure_env()
        module = importlib.import_module(WORKLOADS[args.workload])
        spark = harness.start_spark()
        ctx = Context(args, spark, t_process, scratch.path)
        out = module.run(ctx)
        peak = harness.peak_rss_mib()
        detail = harness.provenance(spark, args.seed, args.workload)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        scratch.close()

    raw = out["client"]
    e2e = {"setup_s": ctx.setup_s, "op_geomean_ms": raw["op_geomean_ms"]}
    layers = dict(
        out["layers"],
        **{"client.op_p50_ms": raw["op_p50_ms"],
           "client.op_p90_ms": raw["op_p90_ms"],
           "client.round_s": raw["round_s"],
           "driver.peak_rss_mib": peak},
    )
    if args.trace:
        catalogue = harness.per_layer_catalogue()
        # a layer the workload does not cross reports 0
        values = {k: float(layers.get(k, 0.0)) for k in catalogue}
    else:
        catalogue = harness.END_TO_END
        values = {k: float(e2e[k]) for k in catalogue}
        for k, v in values.items():
            if not v > 0:
                raise RuntimeError(f"end-to-end metric {k} read {v}")
    detail.update(ctx.detail, trace=args.trace, seconds=args.seconds,
                  setup_s=ctx.setup_s, corpus_gen_s=ctx.gen_s,
                  end_to_end=e2e, client=raw, peak_rss_mib=peak,
                  errors=ctx.errors[:20])
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {
            k: {"value": v, "unit": catalogue[k][0]} for k, v in values.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
