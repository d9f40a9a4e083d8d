"""Plumbing shared by the workloads.

- scratch space inside the checkout, so the program, Spark and its
  Python workers write nothing outside it;
- the generated corpus, cached under the checkout and reused only
  while `tools/gen_sf.py`'s `_GEN_OK` signature matches;
- the Spark session's life cycle, ending with every process it
  started stopped and waited for;
- trace probes that read Spark's status store and the query-execution
  tracker around calls into the program;
- the metric catalogue, percentiles and provenance.

Nothing here reaches into the program: every layer is measured from
outside the public entry points that the workload modules call.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import math
import os
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
CORPUS_SF = 0.1
FULL_CORPUS = os.path.join(CACHE, "corpus", f"sf{CORPUS_SF:g}")

# name -> (unit, better). Every workload prints every end-to-end
# metric; each one is defined per workload in README.md.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_geomean_ms": ("ms", "lower"),
}

_PER_LAYER_BASE = {
    "client.op_p50_ms": ("ms", "lower"),
    "client.op_p90_ms": ("ms", "lower"),
    "client.round_s": ("s", "lower"),
    "driver.peak_rss_mib": ("MiB", "lower"),
    "queries.build_ms": ("ms", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "catalyst.plan_ms": ("ms", "lower"),
    "catalyst.phase_ms.analysis": ("ms", "lower"),
    "catalyst.phase_ms.optimization": ("ms", "lower"),
    "catalyst.phase_ms.planning": ("ms", "lower"),
    "plans.exchanges": ("count", "lower"),
    "plans.broadcasts": ("count", "lower"),
    "executor.drain_ms": ("ms", "lower"),
    "executor.jobs": ("count", "lower"),
    "executor.stages": ("count", "lower"),
    "executor.tasks": ("count", "lower"),
    "executor.run_ms": ("ms", "lower"),
    "executor.cpu_ms": ("ms", "lower"),
    "executor.gc_ms": ("ms", "lower"),
    "executor.shuffle_read_bytes": ("bytes", "lower"),
    "executor.shuffle_write_bytes": ("bytes", "lower"),
    "executor.input_bytes": ("bytes", "lower"),
    "session.select_sql_ms": ("ms", "lower"),
    "session.select_p50_ms": ("ms", "lower"),
    "executor.select_drain_ms": ("ms", "lower"),
    "executor.select_tasks": ("count", "lower"),
    "executor.select_rows_scanned_per_row_returned": ("ratio", "lower"),
    "session_writes.insert_p50_ms": ("ms", "lower"),
    "session_writes.upsert_p50_ms": ("ms", "lower"),
    "session_writes.insert_jobs": ("count", "lower"),
    "session_writes.upsert_jobs": ("count", "lower"),
    "session_writes.bytes_written_per_row": ("bytes", "lower"),
    "session_writes.table_files_end": ("count", "lower"),
    "stats.router_classified_frac": ("ratio", "higher"),
    "streaming.batch_p50_ms": ("ms", "lower"),
    "streaming.rows_per_s": ("1/s", "higher"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.start_ms": ("ms", "lower"),
    "streaming.state_update_ms": ("ms", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_memory_bytes": ("bytes", "lower"),
    "host.duckdb_round_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.closure_gap_frac": ("ratio", "lower"),
}


# bench.py HEADLINE queries left out of a round. A run pays every
# query twice (the cold warm-up pass and the measured round); with all
# 17 a run takes about 60 s on 4 cores, and the benchmark's time budget
# (48 runs within 57 minutes) does not hold that once the shared host
# slows. The ten kept still cover every layer: scan-aggregate (q1, q6),
# join rewrites (q3, q9 with its build-time statistics job), windows
# (sessionize), the shuffle floor (dedup) and all four operator-backed
# queries (topn, minhash, text_quality, ANN).
HEADLINE_LEFT_OUT = frozenset({
    "tpch_q7", "tpch_q10", "tpch_q12", "tpch_q14", "tpch_q19",
    "window_running_sum", "having_filter",
})


def headline() -> list[str]:
    """The OLAP round: bench.py's HEADLINE list, imported (not copied),
    minus HEADLINE_LEFT_OUT."""
    sys.path.insert(0, ROOT)
    from bench import HEADLINE

    return [n for n in HEADLINE if n not in HEADLINE_LEFT_OUT]


def per_layer_catalogue() -> dict[str, tuple[str, str]]:
    out = dict(_PER_LAYER_BASE)
    for name in headline():
        out[f"queries.build_ms.{name}"] = ("ms", "lower")
        out[f"executor.drain_ms.{name}"] = ("ms", "lower")
    return out


# --------------------------------------------------------------------
# process and scratch space
# --------------------------------------------------------------------


def process_start_time() -> float:
    """Wall-clock time at which this process was created (Linux)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of proc(5)
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Scratch:
    """uid- and pid-scoped directory under the checkout's cache. The
    process, the JVM and the Python workers get it as their temp
    directory and Spark local dir; `close` removes it."""

    def __init__(self) -> None:
        self.path = os.path.join(CACHE, f"run-{os.getuid()}-{os.getpid()}")
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "spark-local")
        os.makedirs(self.tmp)
        os.makedirs(self.local)

    def configure_env(self) -> None:
        """Point every temp-file user at the scratch dir. Must run
        before pyspark is imported."""
        import tempfile

        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None  # re-read TMPDIR
        # Python-side timestamps (collect, DuckDB) read as UTC, the
        # session time zone the program sets
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Djava.io.tmpdir={self.tmp} "
            "-XX:-UsePerfData' pyspark-shell"
        )
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


@contextlib.contextmanager
def _locked(path: str):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def _marker_matches(marker: str, sig: str) -> bool:
    try:
        with open(marker) as fh:
            return fh.read().strip() == sig
    except FileNotFoundError:
        return False


def corpus(spark, tables: tuple[str, ...] | None = None) -> str:
    """Directory of the generated sf0.1 corpus (all tables, or a copy
    holding only `tables`). Generated once per checkout by
    tools/gen_sf.py and reused only while its `_GEN_OK` signature
    matches the generator source."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from gen_sf import _gen_signature, generate

    full = FULL_CORPUS
    with _locked(full + ".lock"):
        generate(spark, CORPUS_SF, full)
        if tables is None:
            return full
        sub = f"{full}-{'-'.join(tables)}"
        marker = os.path.join(sub, "_GEN_OK")
        sig = _gen_signature(CORPUS_SF)
        if not _marker_matches(marker, sig):
            shutil.rmtree(sub, ignore_errors=True)
            os.makedirs(sub)
            for t in tables:
                shutil.copytree(
                    os.path.join(full, f"{t}.parquet"),
                    os.path.join(sub, f"{t}.parquet"),
                )
            with open(marker, "w") as fh:
                fh.write(sig)
        return sub


def parquet_glob(corpus_dir: str, table: str) -> str:
    """DuckDB read path of one corpus table (a file or a directory of
    part files)."""
    p = os.path.join(corpus_dir, f"{table}.parquet")
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p


def corpus_fingerprint(corpus_dir: str) -> dict:
    files = []
    for r, _d, fs in os.walk(corpus_dir):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                files.append((os.path.relpath(p, corpus_dir), os.path.getsize(p)))
    files.sort()
    listing = "\n".join(f"{p} {s}" for p, s in files)
    return {
        "dir": os.path.relpath(corpus_dir, ROOT),
        "files": len(files),
        "bytes": sum(s for _p, s in files),
        "sha1": hashlib.sha1(listing.encode()).hexdigest()[:16],
    }


# --------------------------------------------------------------------
# Spark session life cycle
# --------------------------------------------------------------------


def start_spark():
    from citus_spark.session import get_spark

    return get_spark("perfbench")


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mib() -> float:
    """Peak resident memory of the driver JVM plus this process."""
    import resource

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = _jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    workers = _children(proc.pid) if proc is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(_alive(p) for p in workers) and time.time() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            os.kill(p, 9)


# --------------------------------------------------------------------
# trace probes
# --------------------------------------------------------------------

PHASES = ("analysis", "optimization", "planning")
# the stage totals reported as executor.<key>
EXECUTOR_KEYS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
)
STAGE_KEYS = EXECUTOR_KEYS + ("input_records",)


class Tracer:
    """Counts read from Spark around one call into the program: jobs
    tagged with a job group while the call runs, their stages from the
    driver's status store, and Catalyst phase times from the query
    execution's tracker. Reading happens after the call returns and
    after the listener bus drains, outside every timed span."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._n = 0

    def group(self, tag: str) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}-{tag}"
        self.sc.setJobGroup(gid, tag)
        return gid

    def settle(self) -> None:
        self._bus.waitUntilEmpty()

    def stage_totals(self, groups: list[str]) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        self.settle()
        tracker = self.sc.statusTracker()
        jobs: set[int] = set()
        for g in groups:
            jobs.update(tracker.getJobIdsForGroup(g))
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        out["jobs"] = float(len(jobs))
        for s in stage_ids:
            try:
                sd = self._store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # never attempted (skipped, reused shuffle)
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["input_bytes"] += sd.inputBytes()
            out["input_records"] += sd.inputRecords()
        return out


def phase_ms(df) -> dict[str, float]:
    """Catalyst phase times recorded by the DataFrame's query
    execution (`tracker().phases()`)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in PHASES:
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def plan_shape(plan: str) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) of a physical plan
    string; exchanges are counted by tools/plan_audit.audit_plan."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from plan_audit import audit_plan

    broadcasts = len(
        set(re.findall(r"BroadcastExchange [^\n]*\[plan_id=(\d+)\]", plan))
    ) or plan.count("BroadcastExchange")
    return audit_plan(plan)["exchanges"], broadcasts


def result_hash(cols, rows) -> str:
    """Order-insensitive fingerprint of a result: columns sorted by
    name, values canonicalised by tools/oracle_check.canon, rows
    combined as a multiset (a sum of per-row digests), so equal
    results hash equal in any row order without a sort."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import canon

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    acc = 0
    for r in rows:
        key = repr(tuple(canon(r[i]) for i in order)).encode()
        acc += int.from_bytes(hashlib.blake2b(key, digest_size=16).digest(), "big")
    names = ",".join(cols[i] for i in order)
    return f"{names}|{len(rows)}|{acc % (1 << 128):032x}"


class DuckOracle:
    """DuckDB over the full corpus, running the unrewritten ORACLES SQL
    of the OLAP round's queries. Its results are the OLAP oracle; the
    time of one pass over the round is the host-speed canary
    `host.duckdb_round_s` (DuckDB is not part of the program)."""

    def __init__(self) -> None:
        import duckdb

        from citus_spark.queries import ALL_TABLES, ORACLES

        self._sql = ORACLES
        self._con = duckdb.connect()
        for t in ALL_TABLES:
            if os.path.exists(os.path.join(FULL_CORPUS, f"{t}.parquet")):
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{parquet_glob(FULL_CORPUS, t)}')"
                )

    def run(self, name: str) -> tuple[float, list, list]:
        """Run one query; returns (seconds, column names, rows)."""
        t0 = time.perf_counter()
        res = self._con.execute(self._sql[name])
        rows = res.fetchall()
        return time.perf_counter() - t0, [d[0] for d in res.description], rows

    def close(self) -> None:
        self._con.close()


def add_into(acc: dict[str, float], part: dict[str, float]) -> None:
    for k, v in part.items():
        acc[k] = acc.get(k, 0.0) + v


# --------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated percentile, p in [0, 1]."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p
    f = int(k)
    c = min(f + 1, len(s) - 1)
    return s[f] + (s[c] - s[f]) * (k - f)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def client_summary(timed: list[dict]) -> dict:
    """Latency summaries of the untraced timed operations."""
    lat = [op["wall"] * 1e3 for op in timed]
    rounds = sorted({op["round"] for op in timed})
    return {
        "op_p50_ms": median(lat),
        "op_geomean_ms": geomean(lat),
        "op_p90_ms": percentile(lat, 0.9),
        "round_s": median([
            sum(op["wall"] for op in timed if op["round"] == r) for r in rounds
        ]),
    }


# The first measured round still runs slower than the rest (the
# second took a median 0.85 of its time), so a run of one round reads
# high. Letting host speed pick between one and two rounds split the
# same code's op_geomean_ms into two clusters 20 % apart.
MIN_ROUNDS = 2


def measure_rounds(seconds: float, run_round, min_rounds: int) -> int:
    """Closed loop over whole rounds until the window has passed, and
    at least `min_rounds`: the measured span is `seconds` plus the
    rest of the round running when it ends. Returns the number of
    rounds run."""
    t0 = time.perf_counter()
    n = 0
    while n < min_rounds or time.perf_counter() - t0 < seconds:
        run_round(n)
        n += 1
    return n


def provenance(spark, seed: int, workload: str) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "corpus": corpus_fingerprint(FULL_CORPUS),
    }


SCALE_CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
)


def scale_confs(spark) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in SCALE_CONFS}
