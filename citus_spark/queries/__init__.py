"""Query registry: the engine's e2e surface, mirrored from the
reference's regression suites (SURVEY.md §5).

Two registration styles:

- **shared SQL**: one ANSI-SQL string executed verbatim by both Spark
  and the DuckDB oracle. This is the preferred style (it is also how
  the reference tests itself — the same SQL against Citus tables and
  plain PostgreSQL, src/test/regress/citus_tests/query_generator).
  Aggregates over doubles are written as
  `CAST(sum(CAST(expr AS DECIMAL(18,6))) AS DOUBLE)` so the result is
  bit-identical regardless of partition/summation order — exact
  decimal arithmetic makes the comparison scale-independent.

- **split impl**: a Spark-side callable (DataFrame API / UDF path)
  plus a DuckDB-dialect oracle SQL, used where dialects diverge
  (json, array lambdas) or where the Spark plan is the point
  (LSH, pandas-UDF operators). Entries with no oracle get the
  driver's weaker rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from citus_spark.scale import ScalePolicy, corpus_policy, fanout_width, tree_stat

ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> spark callable
QUERIES: dict[str, QueryFn] = {}
# name -> duckdb-runnable oracle SQL (omit for rows-only checks)
ORACLES: dict[str, str] = {}


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a plain TIMESTAMP across fixture
    generations: TIMESTAMP(NANOS) parquet surfaces as a long under
    spark.sql.legacy.parquet.nanosAsLong=true → integer-div to micros
    (the long exceeds double precision); TIMESTAMP(MICROS,
    isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ → cast to the
    session type (UTC session zone, so wall-clock values are unchanged,
    matching DuckDB's naive read). Works on batch and streaming frames.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table present in sf_dir as a temp view and
    apply the corpus's ScalePolicy confs to `spark`.

    Every query sees a plain TIMESTAMP for each timestamp column,
    whatever the fixture generation wrote (see normalize_events_ts).
    """
    from pyspark.sql import functions as F

    # defensive: the harness may hand us a vanilla session; both confs
    # are runtime-settable and required for correct reads/compares
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_package(spark)

    # The corpus's ScalePolicy (citus_spark/scale.py) owns every
    # scale-dependent conf; they are applied to THIS session on EVERY
    # call, not just at first registration: Spark reads them at
    # execution time, so a session alternating between two corpora
    # would otherwise execute corpus-B queries under corpus-A's
    # AQE/reducer settings (r7 verdict finding #3). Re-applying is five
    # runtime-settable conf.set calls plus the one corpus walk per call
    # that fingerprints it (a stat per table file); the expensive work
    # (view registration, parquet footer reads) stays behind the
    # fingerprint guard below. The policy is kept on the session, so
    # the readers that run while a query is built (scale_policy) never
    # walk the corpus again. The contract this gives: a query built
    # via load_views(dir) and executed before the next load_views call
    # — the pattern every registry wrapper and every entry() caller
    # follow — runs under its own corpus's confs and policy. They stay
    # on the caller's session, not a child session: the benchmark and
    # entry() callers read them back from the session they passed.
    paths = _table_paths(sf_dir)
    if not paths:
        # fail loudly rather than silently querying stale temp views
        raise FileNotFoundError(f"no *.parquet test tables under {sf_dir}")
    par = spark.sparkContext.defaultParallelism or 8
    policy = corpus_policy(sf_dir, paths, par)
    spark._citus_policies = {
        **getattr(spark, "_citus_policies", {}),
        os.path.abspath(sf_dir): policy,
    }
    for k, v in policy.confs().items():
        spark.conf.set(k, v)

    # View registration is idempotent per (session, corpus content):
    # re-registering the same ten views costs ~0.8 s per call (parquet
    # footer reads + plan-construction JVM round trips), which the
    # correctness gate pays 170× and the bench 3×/query without this
    # guard. Keyed by the fingerprint, so a table rewritten in place
    # is re-registered.
    if getattr(spark, "_citus_views_dir", None) == policy.fingerprint:
        return

    for t, path in paths.items():
        # Single-file single-row-group fixtures give Spark exactly ONE
        # input split — maxPartitionBytes can't split below row-group
        # granularity — so every scan stage, including lineitem's 600k
        # rows and the CPU-dense documents/embeddings kernels, runs as
        # one task on one core. Materialize a fanned-out multi-file
        # copy ONCE per fixture dir (hash-partitioned on the lead
        # column, content-addressed temp cache shared across
        # processes) and register the view over it: every query then
        # gets `par` native splits with no per-query exchange. At real
        # scale file count ≫ cores and the gate inside never fires.
        read_path = _fanout_cache(spark, t, path, policy.par) or path
        df = spark.read.parquet(read_path)
        if t == "events":
            df = normalize_events_ts(df)
        # fixture generations differ in timestamp annotation (NANOS,
        # MICROS-UTC, MICROS-naive); normalize every NTZ column to the
        # session type so query code sees one stable schema (UTC
        # session zone → wall-clock values unchanged, = DuckDB's read)
        for c, dt in df.dtypes:
            if dt == "timestamp_ntz":
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        df.createOrReplaceTempView(t)
    spark._citus_views_dir = policy.fingerprint


def _table_paths(sf_dir: str) -> dict[str, str]:
    paths = {t: os.path.join(sf_dir, f"{t}.parquet") for t in ALL_TABLES}
    return {t: p for t, p in paths.items() if os.path.exists(p)}


def scale_policy(spark: SparkSession, sf_dir: str) -> ScalePolicy:
    """The ScalePolicy the last load_views(spark, sf_dir) applied, so
    readers do not re-walk the corpus; a corpus this session never
    loaded is walked (and not kept)."""
    policy = getattr(spark, "_citus_policies", {}).get(os.path.abspath(sf_dir))
    if policy is None:
        par = spark.sparkContext.defaultParallelism or 8
        policy = corpus_policy(sf_dir, _table_paths(sf_dir), par)
    return policy


def corpus_above_cutover(sf_dir: str) -> bool:
    """True when the corpus is above ScalePolicy.cutover, where
    full-table windows and other fixture-scale formulations switch to
    their scale paths (r10 verdict item #5), as AQE/SMJ do."""
    return scale_policy(SparkSession.active(), sf_dir).above_cutover


def _fanout_cache(spark: SparkSession, t: str, path: str, par: int) -> str | None:
    """Return the path of a fanned-out (multi-file) copy of `path`,
    building it on first use. Content-addressed by (path, size, mtime,
    par) so fixture updates invalidate naturally; the build writes to
    a pid-suffixed temp dir and renames into place, so concurrent
    driver processes race benignly. Values are byte-identical to the
    source (parquet roundtrip; events.ts pre-normalized to micros —
    the same cast every reader applies). Row ORDER differs from the
    source file, which every registered query must tolerate anyway
    (the driver compare sorts; Spark guarantees no intra-file order)."""
    import hashlib
    import shutil
    import tempfile

    size, _mtime, files = tree_stat(path)
    # data-proportional width (scale.fanout_width); gate on the WIDTH,
    # not the core count — a source already split at least this wide
    # must pass through untouched (repartitioning 12 files down to 8
    # would pay the build to LOSE scan splits)
    par = fanout_width(size, par)
    if par is None or files >= par:
        return None
    sig = hashlib.sha1(
        f"{os.path.abspath(path)}|{size}|{int(os.path.getmtime(path))}|{par}"
        .encode()
    ).hexdigest()[:16]
    dest = os.path.join(
        tempfile.gettempdir(), "citus_spark_fanout", f"{t}_{sig}"
    )
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return dest
    df = spark.read.parquet(path)
    if t == "events":
        df = normalize_events_ts(df)
    tmp = f"{dest}.tmp{os.getpid()}"
    (
        df.repartition(par, df.columns[0])
        .sortWithinPartitions(df.columns[0])
        .write.mode("overwrite").parquet(tmp)
    )
    try:
        os.rename(tmp, dest)
        return dest
    except OSError:
        pass
    # rename refused: either another process won the race (its copy
    # is equivalent) or a crashed half-build occupies dest. NEVER
    # delete dest — a concurrent reader may have planned a scan over
    # it; our tmp copy is complete and serves this process instead.
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        shutil.rmtree(tmp, ignore_errors=True)
        return dest
    return tmp


def _ship_package(spark: SparkSession) -> None:
    """Make `citus_spark` importable on Spark's Python workers.

    Pandas-UDF/applyInPandas kernels defined in this package pickle by
    reference, so workers must import the package — but workers only
    inherit the driver's cwd, not runtime sys.path edits. Shipping a
    package zip via addPyFile works for any session, local or cluster
    (at cluster scale this is also the correct deployment mechanism).
    """
    sc = spark.sparkContext
    if getattr(sc, "_citus_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sc.addPyFile(_write_pkg_zip(pkg_dir))
    sc._citus_spark_shipped = True


def _write_pkg_zip(pkg_dir: str) -> str:
    """Build the package zip under a CONTENT-ADDRESSED name.

    A fixed path (the old /tmp/citus_spark_pkg.zip) is a race between
    concurrent sessions from DIFFERENT source trees on one host: the
    second process rewrites the zip in place, and the first's executors
    then fail Spark's fetch consistency check ("exists and does not
    match contents"). Hashing the bytes into the filename means a
    different tree gets a different file, an identical tree re-lands
    the same bytes, and the write-then-atomic-rename never exposes a
    half-written zip to a concurrent reader."""
    import glob
    import hashlib
    import stat
    import tempfile
    import time
    import zipfile

    def sha256(path: str) -> str:
        with open(path, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    # The zip runs on the driver and every executor, and on a shared
    # sticky-bit /tmp anyone can precompute a content-addressed name
    # and plant a file under it: so it lives in a 0700 directory of
    # this user's, and an existing zip is reused only when its full
    # sha256 matches the one just built.
    uid = os.getuid()
    zdir = os.path.join(tempfile.gettempdir(), f"citus_spark_pkg-{uid}")
    os.makedirs(zdir, mode=0o700, exist_ok=True)
    st = os.lstat(zdir)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != uid or (
        stat.S_IMODE(st.st_mode) != 0o700
    ):
        # someone else holds the name (or opened it up): use a fresh
        # private directory for this process
        zdir = tempfile.mkdtemp(prefix=f"citus_spark_pkg-{uid}-")
    fd, tmp = tempfile.mkstemp(dir=zdir, suffix=".zip")
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp, "w") as z:
            for root, dirs, files in os.walk(pkg_dir):
                # prune + sort in place: no __pycache__ descent, and a
                # deterministic walk → deterministic bytes
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(
                            full, os.path.dirname(pkg_dir)
                        )
                        z.write(full, rel)
        digest = sha256(tmp)
        zpath = os.path.join(zdir, f"citus_spark_pkg_{digest[:12]}.zip")
        # the mode shipped zips have always had (mkstemp makes 0600);
        # the 0700 directory is what keeps other users out
        os.chmod(tmp, 0o644)
        try:
            reuse = sha256(zpath) == digest
            if reuse:
                # in use again: keep it clear of the 7-day aging below
                os.utime(zpath)
        except OSError:  # absent, or aged away meanwhile
            reuse = False
        if reuse:
            os.unlink(tmp)
        else:
            os.replace(tmp, zpath)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    # best-effort aging of stale digests from old trees (never the one
    # just landed — deleting by name-mismatch alone would break a
    # concurrent live session still fetching its own digest)
    cutoff = time.time() - 7 * 86400
    for old in glob.glob(os.path.join(zdir, "citus_spark_pkg_*.zip")):
        try:
            if old != zpath and os.path.getmtime(old) < cutoff:
                os.unlink(old)
        except OSError:
            pass
    return zpath


def _serial_final_jsession(spark: SparkSession, policy: ScalePolicy):
    """JVM-side clone of the session pinned to ONE shuffle partition,
    for the two-stage terminal-sort plan (see single_partition_sort).

    cloneSession() copies the parent's session state at clone time; on
    EVERY call the clone is re-set to the corpus's policy confs (the
    caller runs only below the cutover, so AQE is off) with one shuffle
    partition, so a DataFrame planned under the clone can never see a
    conf flip between construction and execution — the property the
    parent session cannot give (its confs are re-applied per corpus on
    every load_views call)."""
    j = getattr(spark, "_citus_serial_jsession", None)
    if j is None:
        j = spark._jsparkSession.cloneSession()
        spark._citus_serial_jsession = j
    conf = j.conf()
    for k, v in {**policy.confs(), "spark.sql.shuffle.partitions": "1"}.items():
        conf.set(k, v)
    return j


def _joins_broadcast_safe(node, thresh: int) -> bool:
    """True when every Join in the logical subtree can be planned as a
    broadcast join on a side its join type legally allows, judged by
    the same logical size stats the planner's broadcast decision
    reads: Inner/Cross may broadcast either side (min side ≤ the
    session threshold), LeftOuter/LeftSemi/LeftAnti only the right,
    RightOuter only the left; FullOuter can never broadcast and any
    non-Join *Join node class (LateralJoin, AsOfJoin, …) disqualifies.
    When this holds, the 1-partition plan keeps every join a broadcast
    join over the scan's native splits, so no raw-row shuffle
    serializes. Main-tree walk only; joins inside scalar subqueries
    execute as separate one-value subquery jobs."""
    cls = node.getClass().getSimpleName()
    if cls == "Join":
        jt = node.joinType().toString()
        left = int(node.left().stats().sizeInBytes())
        right = int(node.right().stats().sizeInBytes())
        # which side(s) may the planner broadcast for this join type?
        # Inner/Cross: either; outer/semi/anti: only the side that is
        # not outer-preserved. FullOuter can never broadcast → reject.
        if jt in ("Inner", "Cross"):
            ok = min(left, right) <= thresh
        elif jt in ("LeftOuter", "LeftSemi", "LeftAnti"):
            ok = right <= thresh
        elif jt == "RightOuter":
            ok = left <= thresh
        else:
            ok = False
        if not ok:
            return False
    elif cls.endswith("Join"):
        return False
    ch = node.children()
    for i in range(ch.size()):
        if not _joins_broadcast_safe(ch.apply(i), thresh):
            return False
    return True


# The two-stage serial-final plan has its own, TIGHTER gate below the
# cutover: its 1-task final stage costs O(G log G) in the GROUP
# cardinality G (measurements at ScalePolicy.small). The gate is
# therefore CARDINALITY-aware (r11 verdict item #5): when every
# grouping key provably traces to a base parquet column, G is bounded
# by the product of per-column NDVs (approx_count_distinct, computed
# once per corpus at first need — the engine's ANALYZE) and the fold
# is taken iff that bound stays under ScalePolicy.fold_max_groups,
# anywhere below the cutover. When the bound is unknowable (expression
# keys, derived columns) the corpus-byte proxy keeps the measured r11
# behavior: a corpus under ScalePolicy.small folds, larger ones keep
# the r10 single-partition sort.


def _column_ndv(spark: SparkSession, policy: ScalePolicy,
                col: str) -> int | None:
    """Max approx_count_distinct of `col` across every registered base
    table that carries it (an upper bound on the column's NDV wherever
    its values flow), or None when no table does. One tiny aggregate
    job per (corpus, column), memoized on the corpus's policy — this
    runs at DataFrame-BUILD time, the same place Catalyst planning
    happens, never inside the bench's timed drain."""
    from pyspark.sql import functions as F

    def probe() -> int | None:
        ndv = None
        for t in ALL_TABLES:
            try:
                tdf = spark.table(t)
            except Exception:
                continue
            if col in tdf.columns:
                n = tdf.agg(F.approx_count_distinct(col)).collect()[0][0]
                ndv = max(ndv or 0, int(n))
        return ndv

    return policy.memo(("ndv", col), probe)


def _estimated_groups(spark: SparkSession, agg,
                      policy: ScalePolicy) -> int | None:
    """Upper bound on the terminal aggregate's group cardinality, or
    None when it cannot be bounded. Sound only for grouping keys that
    are direct base-column references: each key must be an
    AttributeReference whose exprId appears verbatim in a parquet
    LogicalRelation leaf's output (aliases/derived columns mint fresh
    exprIds and CTE/view projections re-alias, so an exprId surviving
    to a leaf proves provenance). The bound is the product of the
    keys' per-column NDVs — filters and joins can only drop key
    values, never mint new ones."""
    cls = agg.getClass().getSimpleName()
    if cls == "Distinct":
        groups = agg.child().output()
    else:
        groups = agg.groupingExpressions()
    glist = [groups.apply(i) for i in range(groups.size())]
    if not glist:
        return 1  # global aggregate: one group
    leaf_ids = set()
    leaves = agg.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        out = leaf.output()
        for j in range(out.size()):
            a = out.apply(j)
            leaf_ids.add((a.name(), a.exprId().id()))
    prod = 1
    for g in glist:
        if g.getClass().getSimpleName() != "AttributeReference":
            return None
        if (g.name(), g.exprId().id()) not in leaf_ids:
            return None
        ndv = _column_ndv(spark, policy, g.name())
        if ndv is None:
            return None
        prod *= max(1, ndv)
    return prod


# Narrow (partitioning-preserving) logical nodes the two-stage rewrite
# may walk through between the terminal Sort and the Aggregate whose
# exchange will establish the single partition.
_NARROW_TOPS = ("Project", "Filter", "Window", "SubqueryAlias")
# Terminal nodes that plan as a partial/final physical pair around one
# hash exchange (map-side combine BEFORE the wire — Distinct plans as
# a grouping-only HashAggregate pair).
_AGG_TOPS = ("Aggregate", "Distinct")


def _window_chain_needs_coalesce(chain, agg) -> bool:
    """True when some Window in the narrow chain demands a distribution
    that the aggregate's own 1-partition exchange does NOT already
    satisfy — only then is the no-shuffle Repartition(1) worth its
    codegen-span split (r11 review finding #1).

    Physical satisfaction rules (Partitioning.satisfies): a GLOBAL
    aggregate plans an ``Exchange SinglePartition``, which satisfies
    every distribution; a grouped aggregate plans
    ``HashPartitioning(groupKeys, 1)``, which satisfies a Window's
    ClusteredDistribution(windowKeys) iff groupKeys ⊆ windowKeys
    (semantic equality), and satisfies the empty-partitionSpec
    AllTuples case because numPartitions == 1. Expression-valued
    grouping keys surface as fresh aliases above the aggregate, so
    semanticEquals over the analyzed attributes is conservative in the
    safe direction: an undetected match inserts a redundant (but
    physically no-op) coalesce, never skips a needed one."""
    cls = agg.getClass().getSimpleName()
    if cls == "Distinct":
        groups = agg.child().output()
    else:
        groups = agg.groupingExpressions()
    glist = [groups.apply(i) for i in range(groups.size())]
    if not glist:
        return False  # global agg → SinglePartition, satisfies all
    for c in chain:
        if c.getClass().getSimpleName() != "Window":
            continue
        spec = c.partitionSpec()
        plist = [spec.apply(i) for i in range(spec.size())]
        if not plist:
            continue  # AllTuples: satisfied at numPartitions == 1
        for g in glist:
            if not any(p.semanticEquals(g) for p in plist):
                return True
    return False


def single_partition_sort(spark: SparkSession, df: DataFrame,
                          sf_dir: str) -> DataFrame:
    """Rewrite a terminal global ORDER BY into a single-partition
    local sort when the corpus is below the AQE cutover.

    A global Sort requires RangePartitioning, and computing range
    bounds launches a separate SAMPLING JOB that re-executes the
    plan's final stage — measured +40-130 ms per query at fixture
    scale (NOTES.md floor itemization; having_filter with/without
    ORDER BY: 270 vs 137 ms). Two progressively cheaper plans replace
    it:

    **Two-stage serial-final plan** (r11, guide §2.4 "remove shuffles
    outright"): when the sort's input is an Aggregate/Distinct
    (reached through narrow Project/Filter/Window tops) and nothing
    BELOW that aggregate repartitions raw rows (no Join, no Window),
    the whole query is re-planned in a cloned session pinned to
    ``spark.sql.shuffle.partitions=1``. The aggregate's own exchange
    then lands every combined partial in ONE partition, so a LOCAL
    sort is already a total order: the terminal exchange AND its
    whole stage disappear (scan+partial-agg → 1-task final-agg+sort).
    Unlike the rejected terminal-stage fold (Repartition(1) below the
    aggregate, which shipped 600 k raw rows to one task), the map-side
    partial aggregation stays: only group-level partials cross the
    wire, exactly as before, just to one reducer instead of eight.

    **Single-partition sort** (r10): otherwise, when the sorted output
    is small, Exchange SinglePartition + one local sort task — no
    sampling pass, no range exchange, identical total order.

    Scale gates (fields of the corpus's ScalePolicy): the two-stage
    plan's serial final stage costs O(G log G) in the group
    cardinality, so it is gated on G directly when G is provable
    (NDV-product bound ≤ fold_max_groups, see ScalePolicy.fold_ok)
    and on the corpus-byte proxy (`small`) otherwise (measured: wins
    at 17 MiB, loses at 186 MiB on 100 k-group aggregates). Both
    rewrites disable at the `cutover` — the same line as
    AQE/broadcast/reducer sizing (load_views) — and the stock
    range-partitioned sort returns, which is the
    correct plan when the output itself can be large. This mirrors
    the reference's fast-path planner split
    (fast_path_router_planner.c: cheap statements skip the general
    planner).

    The rewrite is a no-op unless the ANALYZED plan's top node is a
    global Sort (optionally under WithCTE); LIMIT queries plan as
    TakeOrderedAndProject already and never reach here. Any internal
    API drift falls back to the original DataFrame.
    """
    policy = scale_policy(spark, sf_dir)
    if policy.above_cutover:
        return df
    try:
        jvm = spark._jvm
        an = df._jdf.queryExecution().analyzed()
        wrapper = None
        sort = an
        if sort.getClass().getSimpleName() == "WithCTE":
            wrapper = sort
            sort = sort.children().apply(sort.children().size() - 1)
        if sort.getClass().getSimpleName() != "Sort":
            return df
        if not getattr(sort, "global")():
            return df
        logical = jvm.org.apache.spark.sql.catalyst.plans.logical

        def build(jsession, new_sort) -> DataFrame:
            # re-wrap a WithCTE head around the replacement sort and
            # materialize the plan as a DataFrame on `jsession`
            if wrapper is not None:
                kids = wrapper.children()
                jlist = [kids.apply(i) for i in range(kids.size() - 1)]
                jlist.append(new_sort)
                seq = spark.sparkContext._jvm.PythonUtils.toSeq(jlist)
                new_plan = wrapper.withNewChildren(seq)
            else:
                new_plan = new_sort
            jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                jsession, new_plan
            )
            return DataFrame(jdf, spark)

        # -- two-stage serial-final plan ---------------------------------
        # Walk the narrow top chain to the aggregate whose exchange
        # will own the single partition; verify nothing below it (and
        # nothing anywhere in a CTE-bearing tree) either moves raw
        # rows (Window below the aggregate — a 1-partition exchange
        # there would serialize real per-row work, e.g. sessionize's
        # event windows; Joins only when broadcastable, see
        # _joins_broadcast_safe) or could hand the aggregate a
        # pre-established partitioning that elides its exchange
        # (explicit Repartition/Rebalance, catalog — possibly
        # bucketed — tables, LogicalRDD): the local sort is a total
        # order only because the aggregate's conf-1 exchange is
        # guaranteed to exist. The guard is logical-plan-only on
        # purpose: probing the physical plan here would pre-pay
        # Catalyst optimization OUTSIDE the bench's timed window and
        # silently change what the bench measures (its cold-query
        # contract re-pays planning per rep). Cached fragments are the
        # one hazard the ANALYZED tree cannot show (cache substitution
        # runs after analysis), so they are checked on the
        # withCachedData plan — analysis + cache lookup only, still no
        # optimizer work: a persisted hash-partitioned intermediate
        # would otherwise satisfy the aggregate's distribution with
        # >1 partitions and break the total order.
        try:
            chain = []
            node = sort.child()
            while node.getClass().getSimpleName() in _NARROW_TOPS:
                chain.append(node)
                node = node.child()
            if node.getClass().getSimpleName() in _AGG_TOPS:
                # Guard scope = everything BELOW the aggregate —
                # the subtree whose partitioning/row-movement could
                # break the two-stage plan — plus every CTE
                # definition (a def may be inlined anywhere below).
                # The narrow chain ABOVE the aggregate is excluded:
                # it runs inside the 1-task final stage regardless,
                # so a chain Window must not trip the token reject
                # (r11 review finding #2 — under WithCTE the old
                # scan covered the whole wrapper and knocked CTE
                # queries with chain Windows back to the 2-exchange
                # r10 form that the identical non-CTE query avoids).
                scopes = [node.child()]
                if wrapper is not None:
                    kids = wrapper.children()
                    scopes += [kids.apply(i) for i in range(kids.size() - 1)]
                below = "".join(s.treeString() for s in scopes)
                if not any(
                    tok in below
                    for tok in (
                        "Window", "Repartition", "Rebalance",
                        "spark_catalog", "LogicalRDD",
                    )
                ) and (
                    "Join" not in below
                    or all(
                        _joins_broadcast_safe(s, policy.broadcast_bytes)
                        for s in scopes
                    )
                ) and "InMemoryRelation" not in (
                    df._jdf.queryExecution().withCachedData().treeString()
                ) and policy.fold_ok(
                    # cardinality gate LAST: it may run one tiny
                    # NDV job per new grouping column, which the
                    # cheap token guards above should pre-empt for
                    # ineligible shapes
                    _estimated_groups(spark, node, policy)
                ):
                    # A Window in the narrow chain whose partition
                    # keys do NOT cover the group keys demands a
                    # ClusteredDistribution that the aggregate's
                    # HashPartitioning(groupKeys, 1) cannot
                    # satisfy — EnsureRequirements inserts a
                    # useless 1→1 exchange (a whole extra stage)
                    # to re-cluster one partition onto itself. A
                    # no-shuffle Repartition(1) above the
                    # aggregate reports SinglePartition, which
                    # satisfies EVERY distribution, so the window
                    # (and everything up to the terminal local
                    # sort) fuses into the aggregate's final
                    # stage. Physically a no-op: the clone pins
                    # shuffle.partitions=1, so the coalesce maps
                    # one partition onto itself. Only inserted
                    # when some chain Window's distribution is
                    # actually unsatisfied (windowKeys ⊉
                    # groupKeys and non-empty — see
                    # _window_chain_needs_coalesce); otherwise it
                    # would split the final-agg/sort codegen span
                    # for no exchange saved.
                    new_child = sort.child()
                    if _window_chain_needs_coalesce(chain, node):
                        rebuilt = logical.Repartition(1, False, node)
                        to_seq = spark.sparkContext._jvm.PythonUtils.toSeq
                        for c in reversed(chain):
                            rebuilt = c.withNewChildren(to_seq([rebuilt]))
                        new_child = rebuilt
                    return build(
                        _serial_final_jsession(spark, policy),
                        logical.Sort(
                            sort.order(), False, new_child,
                            jvm.scala.Option.empty(),
                        ),
                    )
        except Exception:
            pass  # fall through to the single-partition-sort form

        # -- single-partition terminal sort (r10 form) --------------------
        rep = logical.Repartition(1, True, sort.child())
        return build(
            spark._jsparkSession,
            logical.Sort(sort.order(), False, rep, jvm.scala.Option.empty()),
        )
    except Exception:
        return df


def register_shared_sql(name: str, sql: str) -> None:
    """Register a query whose Spark and oracle forms are the same SQL."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_views(spark, sf_dir)
        return single_partition_sort(spark, spark.sql(sql), sf_dir)

    run.__name__ = name
    run.__doc__ = sql
    QUERIES[name] = run
    ORACLES[name] = sql


def register_split(name: str, fn: QueryFn, oracle: str | None = None) -> None:
    """Register a Spark-side implementation with an optional
    DuckDB-dialect oracle. The result gets the same terminal-sort
    treatment as shared SQL (no-op unless the plan ends in a global
    Sort and the corpus is below the cutover)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return single_partition_sort(spark, fn(spark, sf_dir), sf_dir)

    run.__name__ = getattr(fn, "__name__", name)
    run.__doc__ = fn.__doc__
    QUERIES[name] = run
    if oracle is not None:
        ORACLES[name] = oracle


def DSUM(expr: str, alias: str) -> str:
    """Exact order-independent sum of a double expression, portable
    across engines — dual-bigint fixed-point accumulation:

      int part:  sum(floor(x))          as bigint
      frac part: sum(floor(frac(x)*1e6 + 0.5)) as bigint

    Per-row scalar IEEE ops (floor/sub/mul) are identical in every
    engine; only *reduction order* varies between engines — and bigint
    sums are order-free. Equivalent to summing x rounded to 6 decimal
    places. ~3× faster than decimal aggregation in Spark (long sums
    stay in whole-stage codegen; decimal sums box BigDecimal).

    Capacity: |frac sum| ≤ 1e6/row → safe to ~9e12 rows per group;
    int sum safe to ~9e18/max|x|. Beyond that, widen to the decimal
    formulation (`CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`).
    """
    return (
        f"(CAST(sum(CAST(floor({expr}) AS BIGINT)) AS DOUBLE)"
        f" + CAST(sum(CAST(floor((({expr}) - floor({expr})) * 1000000.0 + 0.5)"
        f" AS BIGINT)) AS DOUBLE) / 1000000.0) AS {alias}"
    )


def DAVG(expr: str, count_expr: str, alias: str) -> str:
    """Order-independent average built from DSUM components."""
    body = DSUM(expr, "_x").rsplit(" AS ", 1)[0]
    return f"{body} / {count_expr} AS {alias}"


def _import_all() -> None:
    """Populate QUERIES/ORACLES from every query module."""
    from citus_spark.queries import (  # noqa: F401
        analytics,
        approx,
        chbench,
        dedup,
        dmlops,
        graph,
        jsonagg,
        mlops,
        perimeterops,
        similarity,
        textops,
        tpch,
        typeops,
    )


# The driver's correctness gate hash-checks the FIRST 50 registry
# entries each round. The rotation is self-maintaining and
# staleness-aware: entries with no driver row yet sort FIRST
# (oracle-backed before rows-only, registration order within each
# group); previously-verified entries follow, ordered by the round of
# their most recent green driver row ASCENDING — the stalest cohort
# re-enters the window first, so every entry is periodically
# re-proven against the live tree instead of standing on a years-old
# green (r9 verdict item #7: the flat-set ordering re-verified the
# already-fresh r1 cohort while the r2 cohort aged).
#
# Maintenance per round: after CORRECTNESS_r{N}.json lands, add one
# `N: (names...)` entry holding that round's GREEN rows (red rows stay
# at their old round — or absent — so they re-enter the window).
# Later rounds overwrite earlier ones in _LAST_GREEN_ROUND, so listing
# a re-verified name twice is correct, not a conflict.
_VERIFIED_BY_ROUND: dict[int, tuple[str, ...]] = {
    # CORRECTNESS_r01.json green rows whose latest green is r1
    1: (
        "exists_or_predicate", "asof_view_before_purchase",
        "distinct_on_expression", "global_having_no_groupby",
        "orderby_expression_not_selected", "case_in_groupby",
        "null_semantics", "null_aggregation", "subquery_agg_in_from"
    ),
    # CORRECTNESS_r02.json green rows whose latest green is r2
    2: (
        "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
        "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q12",
        "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17",
        "tpch_q18", "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22",
        "dedup_exact", "minhash_signatures", "minhash_lsh_pairs", "simhash16",
        "train_test_split", "text_normalize", "contamination_check",
        "dedup_components", "ngram_jaccard_topk", "ann_cosine_topk",
        "ivf_assign", "ann_lsh_bucketed", "centroid_update",
        "text_fingerprint", "doc_stats_by_source", "token_count",
        "text_quality", "lang_id", "json_agg_by_type",
        "json_object_agg_counts", "window_groups_frame",
        "recursive_order_chain", "ch_q1", "ch_q12", "ch_q14",
        "ch_stock_level", "multimodal_byte_stats"
    ),
    # CORRECTNESS_r03.json green rows whose latest green is r3
    3: (
        "union_in_subquery", "window_in_subquery_join", "nested_cte_chain",
        "limit_in_subquery", "timeseries_gapfill", "having_subquery",
        "sessionize_events", "salted_join_skewed", "cdc_snapshot_diff",
        "agg_filter_clause", "string_agg_ordered", "stats_moments_portable",
        "interval_join_attribution", "gapfill_locf", "analyze_table_stats",
        "window_percentiles", "histogram_totalprice",
        "mode_event_type_per_user", "percentile_exact", "topn_operator",
        "scalar_string_functions", "scalar_math_functions",
        "scalar_conditionals", "bit_bool_aggregates", "right_outer_join",
        "regexp_functions", "array_functions", "pandas_udf_scoring",
        "custom_udaf_median", "json_extract_props", "ch_q6", "ch_q19",
        "ch_q3", "ch_q4", "ch_q5", "ch_q7", "ch_q10", "ch_q11", "ch_q2",
        "ch_q8", "ch_q9", "ch_q13", "ch_q15", "ch_q16", "ch_q17", "ch_q18",
        "ch_q20", "ch_q21", "ch_q22"
    ),
    # CORRECTNESS_r04.json green rows whose latest green is r4
    4: (
        "cdc_apply_latest_state", "scd2_purchase_history",
        "citus_shards_rollup", "txlog_merge_upsert", "window_exclude_modes",
        "funnel_view_click_purchase", "retention_cohorts",
        "unpivot_lineitem_metrics", "txlog_time_travel",
        "session_window_native", "cdc_debezium_apply", "window_agg_filter",
        "approx_count_distinct_parts", "percentile_approx_prices",
        "tablesample_scan", "percentile_disc_priority", "hll_ndv_by_flag",
        "sketch_quantiles_by_priority", "tdigest_rank_error_bounds",
        "simhash_dup_candidates", "stratified_sample_by_source", "ivf_topk",
        "ivf_topk_nprobe2", "embedding_neardup_pairs", "semantic_dedup_keep",
        "ann_lsh_multi_table", "kmeans_clusters", "pq_search_contract",
        "video_frame_sample", "audio_clip_features", "repetition_ratio",
        "quality_gopher_rules", "pii_redact", "edit_distance_pairs",
        "deterministic_sample", "bm25_topk", "chunk_documents_overlap",
        "weighted_sample_by_length", "image_phash_dedup",
        "image_decode_roundtrip", "image_phash_real_dedup",
        "audio_decode_roundtrip", "video_decode_frame_stats",
        "theta_ndv_by_source", "theta_intersection_sources", "sequence_pack",
        "domain_mix_weights", "python_udtf_ngrams"
    ),
    # CORRECTNESS_r05.json green rows whose latest green is r5
    5: (
        "pg_distinct_on_textual", "pg_regex_operators",
        "txlog_two_table_atomic", "pg_generate_series_join",
        "pg_json_operators", "merge_general_form",
        "insert_on_conflict_rollup", "pg_fetch_first_textual",
        "pg_similar_to_textual", "pg_with_ties_textual",
        "pg_jsonpath_textual", "schema_sharded_tenants", "pg_date_bin_rollup",
        "behavioral_funnel_chain", "sql_function_textual",
        "pg_to_char_rollup", "pg_unnest_tokens", "modifying_cte_archive",
        "text_search_rank", "sequence_identity_ids", "view_matview_lifecycle",
        "prepared_statement_exec", "cursor_fetch_scan", "time_weighted_avg",
        "ohlc_hourly", "gapfill_interpolate", "pg_split_to_table_textual",
        "crosstab_pivot", "tenant_isolation_shard", "width_bucket_histogram",
        "lttb_downsample", "dup_passages_topk", "dup_passage_doc_share",
        "pagerank_event_entities", "bfs_hops_user0", "triangle_count_cooc",
        "clustering_coefficient", "int8_quant_topk", "matryoshka_topk",
        "jpeg_decode_roundtrip", "gif_decode_roundtrip", "ngram_lm_quality",
        "bpe_roundtrip", "adpcm_decode_spec", "mjpeg_avi_frame_stats",
        "cms_user_frequency", "bloom_users_by_type",
        "composite_quality_filter", "vocab_coverage_topn"
    ),
    # CORRECTNESS_r06.json green rows whose latest green is r6
    6: (
        "pg_subscript_textual", "pg_quantified_textual",
        "pg_at_time_zone_rollup", "pg_string_to_array_tokens",
        "pg_agg_distinct_ordered", "shard_fanout_counts",
        "shard_routing_counts", "topn_stream_rollup", "ewma_fir_user_values",
        "zscore_outliers", "neardup_stream_batch",
        "entity_resolution_customers", "dedup_keep_best_quality",
        "hybrid_rrf_retrieval"
    ),
    # CORRECTNESS_r07.json green rows whose latest green is r7
    7: (
        "text_search_phrase_prefix", "shard_split_routing",
        "window_named_clause", "grouping_id_rollup", "unnest_with_ordinality",
        "order_nulls_placement", "sql_standard_string_forms",
        "pg_substring_regex_extract", "event_transition_matrix",
        "equi_depth_histogram", "generate_series_timestamps",
        "moving_distinct_types", "null_safe_comparison",
        "setop_branch_limits", "regexp_replace_backrefs",
        "window_ignore_nulls", "try_cast_ingest", "greatest_least_null_skip",
        "not_in_null_semantics", "latest_value_per_user",
        "weighted_percentile_disc", "percentile_cont_interpolated",
        "dup_cluster_size_histogram", "fk_cascade_archive",
        "fk_set_null_orphans", "fk_update_cascade_rekey",
        "update_from_enrich", "delete_using_filter",
        "alter_column_type_rollup", "truncate_cascade_state",
        "restore_point_time_travel", "placement_round_robin",
        "merge_matched_delete", "update_returning_values",
        "insert_conflict_do_nothing", "copy_csv_roundtrip",
        "redistribute_roundtrip", "split_placement_stability",
        "embedding_gram_matrix", "mmr_diversified_topk",
        "embedding_norm_stats", "zipf_slope_tokens", "content_defined_chunks",
        "sentence_stats", "lexical_diversity_stats", "tfidf_topk_terms",
        "trigram_novelty_rate", "winnowing_fingerprints",
        "kgram_coverage_curve", "ab_split_events"
    ),
    # CORRECTNESS_r08.json green rows whose latest green is r8
    8: (
        "plpgsql_function_textual", "regexp_replace_ci",
        "merge_sync_by_source", "unnest_multi_zip", "pg_overlaps_textual",
        "pg_power_operator", "row_value_compare", "pg_scalar_shims",
        "plpgsql_for_loop_srf", "exclude_constraint_bookings",
        "update_nextval_block", "generated_column_writes",
        "update_from_cascade_rekey", "sequence_bounds_cycle",
        "time_partition_ddl", "hash_partition_ddl", "copy_stdin_replay",
        "update_set_row_form", "information_schema_columns",
        "create_table_like_clone", "merge_insert_positional",
        "upsert_guarded_where", "list_partition_default_routing",
        "merge_returning_actions", "logreg_seed_train",
        "power_iteration_top_direction", "embedding_drift_moments",
        "keyword_tag_documents", "compression_ratio_by_source",
        "ivf_stream_index_state", "hard_negative_mining",
        "temperature_mixture_sample", "source_divergence_drift",
        "rare_token_tail_mass", "sentence_dedup_within_doc",
        "curriculum_length_buckets", "collocation_lift",
        "source_jaccard_overlap", "token_entropy_by_lang"
    ),
    # CORRECTNESS_r09.json green rows whose latest green is r9
    9: (
        "approx_limit_grouped_topk", "jsonl_shard_roundtrip",
        "compaction_binpack_plan", "enum_type_ordering",
        "composite_type_fields", "domain_checked_ingest",
        "sql_procedure_call", "json_table_flat", "window_rank",
        "window_lag_lead", "window_running_sum", "window_ntile",
        "topk_per_group", "select_distinct", "distinct_on_latest_event",
        "count_distinct", "setop_union_all", "setop_union_distinct",
        "setop_intersect", "setop_except", "grouping_sets",
        "rollup_orders_by_month", "cube_lineitem", "having_filter",
        "global_topk", "limit_offset", "semi_join_exists",
        "anti_join_not_exists", "subquery_in", "correlated_scalar_subquery",
        "uncorrelated_scalar_subquery", "cte_query", "cross_join",
        "left_outer_join", "full_outer_join", "inequality_theta_join",
        "date_trunc_rollup", "date_interval_arith", "extract_date_parts",
        "pivot_event_counts", "lateral_join", "setop_intersect_all",
        "setop_except_all", "values_relation_join", "window_range_frame",
        "token_frequency", "array_agg_sorted", "join_on_expression",
        "self_join_reorders", "row_value_in"
    ),
    # CORRECTNESS_r10.json green rows whose latest green is r10 (50/50
    # green: 3 fresh r10 entries + the re-verified r1/r2 stale cohort)
    10: (
        "enum_range_extremes", "collate_binary_order",
        "trigger_noop_isolation", "exists_or_predicate",
        "asof_view_before_purchase", "distinct_on_expression",
        "global_having_no_groupby", "orderby_expression_not_selected",
        "case_in_groupby", "null_semantics", "null_aggregation",
        "subquery_agg_in_from", "window_groups_frame",
        "recursive_order_chain", "ch_q1", "ch_q12", "ch_q14",
        "ch_stock_level", "dedup_exact", "minhash_signatures",
        "minhash_lsh_pairs", "simhash16", "train_test_split",
        "text_normalize", "contamination_check", "dedup_components",
        "ngram_jaccard_topk", "json_agg_by_type", "json_object_agg_counts",
        "ann_cosine_topk", "ivf_assign", "ann_lsh_bucketed",
        "centroid_update", "text_fingerprint", "doc_stats_by_source",
        "token_count", "text_quality", "lang_id", "multimodal_byte_stats",
        "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q7", "tpch_q10", "tpch_q12",
        "tpch_q14", "tpch_q4", "tpch_q8", "tpch_q9", "tpch_q15"
    ),
}

_LAST_GREEN_ROUND: dict[str, int] = {
    name: rnd
    for rnd in sorted(_VERIFIED_BY_ROUND)
    for name in _VERIFIED_BY_ROUND[rnd]
}

_DRIVER_VERIFIED: frozenset[str] = frozenset(_LAST_GREEN_ROUND)


def _finalize_order() -> None:
    global QUERIES
    fresh_oracle = [
        n for n in QUERIES if n not in _DRIVER_VERIFIED and n in ORACLES
    ]
    fresh_rows_only = [
        n for n in QUERIES if n not in _DRIVER_VERIFIED and n not in ORACLES
    ]
    reg_index = {n: i for i, n in enumerate(QUERIES)}
    verified = sorted(
        (n for n in QUERIES if n in _DRIVER_VERIFIED),
        key=lambda n: (_LAST_GREEN_ROUND[n], reg_index[n]),
    )
    QUERIES = {
        n: QUERIES[n] for n in fresh_oracle + fresh_rows_only + verified
    }


_import_all()
_finalize_order()
