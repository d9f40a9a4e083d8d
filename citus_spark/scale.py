"""ScalePolicy: every decision that depends on how big the corpus is.

One frozen policy per corpus content fingerprint; each threshold is
written once, here, next to the measurement that chose it. README
"Scale posture" maps every threshold to its formula and readers.
"""

from __future__ import annotations

import hashlib
import os
import stat
from collections.abc import Callable
from dataclasses import dataclass
from typing import ClassVar


@dataclass(frozen=True)
class ScalePolicy:
    # on-disk bytes of every table in the corpus
    total: int
    # the session's default parallelism (cores)
    par: int
    # content fingerprint of the corpus (see corpus_policy)
    fingerprint: str = ""

    # The thresholds below are class constants, not fields: the policy
    # of a corpus is its size and core count, nothing else is settable.

    # Parquet split size: floor 16 MiB (below that, task-scheduling
    # overhead dominates sub-second queries — measured −20-30% on the
    # floor-bound headline set vs 4 MiB), ceiling the Spark default
    # 128 MiB (the right number when files outnumber cores, i.e. at
    # real scale). The middle expression (total / 2·par) matters only
    # between ~1 GiB and ~8 TiB of input on 32 cores, where splitting
    # to ~2 waves per core beats fixed sizes.
    split_floor: ClassVar[int] = 16 << 20
    split_ceiling: ClassVar[int] = 128 << 20

    # The at-scale cutover. Runtime re-planning (AQE) pays for itself
    # when stages move real data; on sub-second queries its per-stage
    # re-optimization rounds are pure wall-clock overhead (paired A/B
    # at sf0.1: q9 0.94 → 0.58 s, sessionize 0.56 → 0.31, running-sum
    # 0.41 → 0.29). This mirrors the reference's fast-path/adaptive
    # planner split (fast_path_router_planner.c skips planning work
    # for cheap statements): small corpora execute the static plan; at
    # real scale AQE's partition coalescing and skew-join splitting
    # matter and stay on. The same line turns the sort-merge-join
    # preference back on (below it, shuffled-hash join skips the
    # per-partition sorts SMJ needs on both sides — q3 at the 10×
    # corpus, a no-op at sf0.1 where every join side broadcasts; Spark
    # still stats-gates the hash build, canBuildLocalHashMap; at scale
    # a 100 TB join's build side must spill, which SMJ handles), turns
    # the terminal-sort rewrite off, and switches full-table windows,
    # pagerank and minhash to their scale paths. All of these are
    # runtime-settable, so per-corpus switching is safe.
    cutover: ClassVar[int] = 256 << 20

    # Broadcast threshold: one-eighth of the corpus, floored at 8 MiB
    # (every sf0.1 dim stays broadcast — all are <3 MiB) and capped at
    # Spark-default-×6.4 64 MiB. Broadcasting a side that is a large
    # fraction of the corpus re-collects and re-ships it on every
    # execution — at the 10× trend corpus (76 MiB), q3's 27 MiB orders
    # broadcast WAS the scale cliff (interleaved min-of-5: 1657 ms →
    # 1202 ms with the side shuffled instead, → 924 ms with
    # shuffled-hash join).
    bcast_floor: ClassVar[int] = 8 << 20
    bcast_cap: ClassVar[int] = 64 << 20

    # The small-corpus band, ≈2× the measured-win corpus (sf0.1,
    # 17 MiB). Two gates use it:
    # - the serial-final fold when the group count is unknowable: its
    #   1-task final stage costs O(G log G) in the group cardinality G;
    #   at sf0.1 (~15 k groups) the fold wins −4..−33 % per query, at
    #   native sf1 (186 MiB, ~150 k groups) it LOSES big on the
    #   high-cardinality aggregates (having_filter 0.47 → 2.44 s, topn
    #   0.38 → 1.21 s — the serial merge+sort dwarfs the saved stage).
    #   Between this band and the cutover the r10 single-partition
    #   sort stays (near-flat sf0.1→sf1 walls: having 1.53×, topn
    #   1.12× for 10× rows);
    # - the q3/q10 broadcast-side reassociation: the hinted
    #   customer⋈orders broadcast grows linearly with the corpus
    #   (unlike the dimension broadcasts the threshold above governs),
    #   so the hint must not outlive the scale where a driver-side
    #   build of that relation is trivially cheap (~73 k build rows for
    #   q3, ~5.4 k for q10 at sf0.1). Above the band — the 10× trend
    #   corpus (native sf1, 186 MiB) and everything larger — the
    #   original text returns and the broadcast threshold (and, at the
    #   cutover, AQE + SMJ) makes the call.
    small: ClassVar[int] = 32 << 20

    # Group-cardinality ceiling for the serial-final fold: ~2× the
    # largest measured-win G (having_filter ≈ 15 k groups at sf0.1),
    # an order of magnitude under the measured-loss G (≈ 150 k at sf1).
    # NDV products are upper bounds (filters/joins can only drop key
    # values), so a pass here is conservative in the safe direction.
    fold_max_groups: ClassVar[int] = 32768

    def __post_init__(self):
        # the statistics memo is not a field: replace() starts a fresh
        # one and asdict() is (total, par, fingerprint)
        object.__setattr__(self, "_stats", {})

    @property
    def above_cutover(self) -> bool:
        return self.total >= self.cutover

    @property
    def small_corpus(self) -> bool:
        return self.total < self.small

    @property
    def split_bytes(self) -> int:
        return max(
            self.split_floor,
            min(self.split_ceiling, self.total // (2 * self.par) or 1),
        )

    @property
    def broadcast_bytes(self) -> int:
        return max(self.bcast_floor, min(self.bcast_cap, self.total // 8))

    @property
    def reducers(self) -> int:
        # One reducer per ~32 MiB of input (the `small` band), floor 8,
        # ceiling 2× cores — the ceiling is what a real cluster runs
        # with AQE coalescing downward from it. Every shuffle stage
        # schedules this many tasks, and at fixture scale task
        # scheduling IS the cost (paired A/B at sf0.1: 8 vs 16 reducers
        # = q9 0.58 → 0.46 s, exact-dedup 0.23 → 0.14).
        return max(8, min(2 * self.par, self.total // self.small))

    def fold_ok(self, groups: int | None) -> bool:
        """Whether the serial-final fold may run over a terminal
        aggregate of at most `groups` groups (None: not provable). A
        provable bound decides directly (≤ fold_max_groups folds even
        between `small` and the cutover; above it never folds, even on
        a tiny corpus — a byte-only gate would take a 20 MiB /
        10 M-group fold); an unknowable one falls back to the measured
        corpus-byte proxy."""
        if groups is None:
            return self.small_corpus
        return groups <= self.fold_max_groups

    def confs(self) -> dict[str, str]:
        """The runtime-settable session confs this corpus runs under."""
        at_scale = str(self.above_cutover).lower()
        return {
            "spark.sql.files.maxPartitionBytes": str(self.split_bytes),
            "spark.sql.adaptive.enabled": at_scale,
            "spark.sql.autoBroadcastJoinThreshold": str(self.broadcast_bytes),
            "spark.sql.join.preferSortMergeJoin": at_scale,
            "spark.sql.shuffle.partitions": str(self.reducers),
        }

    def memo(self, key, compute: Callable[[], object]):
        """`compute()` once per policy, i.e. once per corpus content:
        statistics probes run at DataFrame-build time, never in a drain."""
        if key not in self._stats:
            self._stats[key] = compute()
        return self._stats[key]


# Fan out only tables big enough that a SERIAL scan pass is the
# stage's bottleneck, and size the width to the DATA, not the core
# count. The r7 A/B that fanned every table 32-ways lost 0.05-0.2 s
# per query (32 near-empty tasks per dim-table scan, paid again in
# every broadcast build); the r8 re-measure fanning ONLY ≥4 MiB
# tables at ~1 file/MiB won it back and more (headline total 6.2 →
# 5.0-5.2 s: q1 0.41→0.32, q3 0.51→0.36, q9 0.67→0.54 — lineitem is
# the only sf0.1 table above the floor). Dropping the floor to
# 2 MiB (orders/events fan too) regressed to 6.3 s: a 2 MiB scan is
# already cheaper than the extra tasks it would split into. A
# 100 MB+ single-file table (sf1 fixture, or any real single-file
# drop) fans to the full core count via the same 1-file/MiB rule,
# capped at par.
FANOUT_MIN_BYTES = 4 << 20
FANOUT_FILE_BYTES = 1 << 20


def fanout_width(table_bytes: int, par: int) -> int | None:
    """Files to fan a table out to, or None when it is too small to pay."""
    if table_bytes < FANOUT_MIN_BYTES:
        return None
    return min(par, max(4, table_bytes // FANOUT_FILE_BYTES))


# fingerprint -> policy; a rewritten table changes the fingerprint, so
# a stale policy (or its statistics) is never served
_POLICIES: dict[str, ScalePolicy] = {}


def corpus_policy(sf_dir: str, paths: dict[str, str], par: int) -> ScalePolicy:
    """The policy for the corpus whose tables sit at `paths`
    (table -> file or directory under `sf_dir`), run with `par` cores."""
    sizes = {t: tree_stat(p) for t, p in sorted(paths.items())}
    key = repr((os.path.abspath(sf_dir), sizes, par))
    fp = hashlib.sha1(key.encode()).hexdigest()[:16]
    policy = _POLICIES.get(fp)
    if policy is None:
        total = sum(size for size, _mtime, _files in sizes.values())
        policy = _POLICIES[fp] = ScalePolicy(total, par, fp)
    return policy


def tree_stat(path: str) -> tuple[int, int, int]:
    """(total bytes, newest mtime_ns, parquet file count — at least 1)
    of a file or directory tree."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return st.st_size, st.st_mtime_ns, 1
    size, mtime, files = 0, st.st_mtime_ns, 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            fst = os.stat(os.path.join(root, f))
            size += fst.st_size
            mtime = max(mtime, fst.st_mtime_ns)
            files += f.endswith(".parquet")
    return size, mtime, files or 1
