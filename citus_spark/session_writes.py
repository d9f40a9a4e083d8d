"""Write funnels of DistributedSession — INSERT / COPY / DML /
MERGE execution, the live-storage rewrite paths, and PG declarative
partition routing, carved out of session.py as a mixin (round-9
hygiene split; same class, same API).

↔ reference src/backend/distributed/planner/ modify planners
(insert_select_planner.c, merge_planner.c, the COPY tuple router
commands/copy.c) — see each method's docstring for the exact mapping.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citus_spark.scale import tree_stat


class WriteFunnelMixin:
    """Write-path methods mixed into DistributedSession. `self` is
    always a DistributedSession — the split is file organization, not
    a behavioral boundary."""

    def _dml_update_with_sequences(
        self, entry, df, stmt, pred, affected, assigned
    ):
        """UPDATE .. SET col = ..nextval('s').. — per-affected-row
        draws (↔ reference multi_function_evaluation.c: volatile
        nextval cannot be coordinator-folded in UPDATE; PG assigns a
        distinct value to every affected row). Each textual occurrence
        reserves one block of exactly `affected` values; rows take
        base + k·inc via the two-phase prefix sum (never a global-sort
        window), and the occurrence is replaced by its helper column
        inside the assignment expression, so arithmetic around the
        call (nextval('s') + 100) works. Two occurrences of the same
        sequence draw independent blocks — uniqueness is guaranteed,
        the exact interleaving (like PG's) is not."""
        from citus_spark.operators.sequence import with_sequence_values

        work = df.filter(pred)
        new_assigned: dict[str, str] = {}
        k = 0
        for c, expr in assigned.items():
            occ = self._nextval_occurrences(expr)
            out, last = [], 0
            for a, b, seq in occ:
                seq = self._seq_name(seq)
                st = self._sequences.get(seq)
                if st is None:
                    raise ValueError(f'sequence "{seq}" does not exist')
                hcol = f"__citus_seq{k}"
                k += 1
                work = with_sequence_values(
                    work,
                    lambda n, s=seq: self._seq_alloc(s, n),
                    st["inc"],
                    hcol,
                )
                out.append(expr[last:a])
                out.append(hcol)
                last = b
            out.append(expr[last:])
            new_assigned[c] = "".join(out)
        updated = work.select(
            *[
                F.expr(new_assigned[c]).cast(df.schema[c].dataType).alias(c)
                if c in new_assigned
                else F.col(c)
                for c in df.columns
            ]
        )
        untouched = df.filter(~pred)
        result = untouched.unionByName(updated)
        # old__/new__ remap feeds ON UPDATE referential actions — the
        # helper columns carry the drawn values alongside old columns
        update_pairs = work.select(
            *[F.col(c).alias(f"old__{c}") for c in df.columns],
            *[
                (
                    F.expr(new_assigned[c]).cast(df.schema[c].dataType)
                    if c in new_assigned
                    else F.col(c)
                ).alias(f"new__{c}")
                for c in df.columns
            ],
        )
        return self._dml_finish(
            entry, stmt, result, updated, affected,
            update_pairs=update_pairs,
        )

    @staticmethod
    def _find_not_null(entry, col: str) -> str | None:
        """The NOT NULL enforcing constraint for `col` — matched by
        its expression shape, so table/constraint renames don't
        detach it."""
        import re as _re

        for cn, spec in (entry.constraints or {}).items():
            if spec["kind"] == "c" and _re.fullmatch(
                rf"\s*{_re.escape(col)}\s+IS\s+NOT\s+NULL\s*",
                spec.get("expr", ""),
                _re.I,
            ):
                return cn
        return None

    def _normalize_update_assignments(
        self, entry, assigned: dict, columns
    ) -> dict:
        """Shared UPDATE assignment rules (plain and FROM forms):
        unknown columns reject; SET col = DEFAULT resolves to the
        declared default (NULL when none); SET gcol = DEFAULT on a
        generated column drops the assignment (the recompute pass
        provides the value); any other write to a generated column
        rejects with PG's error."""
        unknown = set(assigned) - set(columns)
        if unknown:
            raise ValueError(
                f"UPDATE: unknown column(s) {sorted(unknown)}"
            )
        gen = entry.generated or {}
        for c in list(assigned):
            if assigned[c].strip().upper() == "DEFAULT":
                if c in gen:
                    assigned.pop(c)
                else:
                    assigned[c] = (entry.defaults or {}).get(c, "NULL")
            elif c in gen:
                raise ValueError(
                    f'column "{c}" can only be updated to DEFAULT'
                    f'\nDETAIL: Column "{c}" is a generated column.'
                )
        return assigned

    def _values_substitute_defaults(
        self, values_sql: str, names: list[str], entry
    ) -> str:
        """`VALUES (1, DEFAULT), ...` — each standalone DEFAULT token
        takes its column's DEFAULT expression (NULL when none
        declared, PG's default-of-defaults). Positional: the token's
        index within its row names the column. A DEFAULT aimed at an
        identity/serial column draws one sequence value per token
        (each textual occurrence draws independently, the VALUES
        rule); aimed at a generated column it becomes NULL — the
        recompute pass overwrites it anyway."""
        import re as _re

        from citus_spark.plans.rewrites import _split_top_level

        if not _re.search(r"\bDEFAULT\b", values_sql, _re.I):
            return values_sql
        m = _re.match(r"\s*VALUES\s*(?P<rows>.+)$", values_sql,
                      _re.I | _re.S)
        if m is None:
            return values_sql
        dflts = entry.defaults or {}
        ident = entry.identity or {}
        gen = entry.generated or {}
        rows_out = []
        for row in _split_top_level(m.group("rows")):
            row = row.strip()
            if not (row.startswith("(") and row.endswith(")")):
                raise ValueError(
                    f"INSERT: cannot parse VALUES row {row[:40]!r}"
                )
            items = _split_top_level(row[1:-1])
            out = []
            for i, item in enumerate(items):
                if _re.fullmatch(r"\s*DEFAULT\s*", item, _re.I):
                    if i >= len(names):
                        raise ValueError(
                            "INSERT: VALUES row wider than target list"
                        )
                    col = names[i]
                    nv = _re.match(
                        r"^\s*nextval\(\s*'([\w.]+)'\s*"
                        r"(?:::\s*regclass)?\s*\)\s*$",
                        dflts.get(col, ""), _re.I,
                    ) if col in dflts else None
                    if col in ident:
                        out.append(str(self._seq_alloc(ident[col], 1)))
                    elif col in gen:
                        out.append("NULL")
                    elif nv:
                        # textual nextval default (dump-restored
                        # serial): draw HERE — splicing the call text
                        # would reach Spark's parser, which has no
                        # nextval (review fix); per-row loop, so each
                        # VALUES row draws its own value like PG
                        out.append(str(self._seq_alloc(nv.group(1), 1)))
                    elif col in dflts:
                        out.append(f"({dflts[col]})")
                    else:
                        out.append("NULL")
                else:
                    out.append(item)
            rows_out.append("(" + ", ".join(out) + ")")
        return "VALUES " + ", ".join(rows_out)

    def _values_non_default_positions(
        self, values_sql: str
    ) -> list[set]:
        """Per-row sets of 0-based positions whose entry is NOT the
        standalone DEFAULT token (for the PG rule that a generated
        column may appear in the target list only with DEFAULT)."""
        import re as _re

        from citus_spark.plans.rewrites import _split_top_level

        m = _re.match(r"\s*VALUES\s*(?P<rows>.+)$", values_sql,
                      _re.I | _re.S)
        if m is None:
            return []
        out = []
        for row in _split_top_level(m.group("rows")):
            row = row.strip()
            if not (row.startswith("(") and row.endswith(")")):
                return []
            out.append({
                i
                for i, item in enumerate(_split_top_level(row[1:-1]))
                if not _re.fullmatch(r"\s*DEFAULT\s*", item, _re.I)
            })
        return out

    def _nextval_defaults(self, t_cols, present, dflts) -> dict:
        """Columns absent from the supplied set whose DEFAULT is a
        textual nextval('seq') call -> {col: seq}. These draw sequence
        blocks exactly like identity columns — the call text cannot go
        through F.expr (shared by the INSERT and COPY funnels; review
        fix: the scan was copy-pasted between them)."""
        import re as _re

        out = {}
        for c in t_cols:
            if c not in present and c in dflts:
                nm = _re.match(
                    r"^\s*nextval\(\s*'([\w.]+)'\s*"
                    r"(?:::\s*regclass)?\s*\)\s*$",
                    dflts[c], _re.I,
                )
                if nm:
                    out[c] = nm.group(1)
        return out

    def _execute_insert(self, query: str):
        """Textual INSERT (plans/insert_sql.py): VALUES / SELECT
        sources appended through the live storage; ON CONFLICT maps
        onto the merge executor (the reference's rollup idiom,
        distributed/README.md:1755-1767). Returns the psql-style
        count, or None to fall through to Spark for non-catalog
        targets."""
        import re as _re

        from pyspark.sql import types as T

        from citus_spark.plans.insert_sql import parse_insert

        stmt = parse_insert(query)
        if stmt is None:
            m = _re.match(
                r"^\s*INSERT\s+INTO\s+([A-Za-z_][\w.]*)", query, _re.I
            )
            if m and self.catalog.get(m.group(1)) is not None:
                raise ValueError(
                    "INSERT on a catalog table supports VALUES / "
                    "SELECT / WITH sources (PARTITION and TABLE "
                    "clauses are not modeled)"
                )
            return None
        if self.catalog.get(stmt.table) is None:
            return None
        entry = self._writable_entry(stmt.table, "INSERT")
        self.stat_statements.record(query, None, executor="insert")
        schema = self._live_read(entry).schema
        if entry.time_partitioning:
            from citus_spark.sources.partitions import PERIOD_COL

            schema = T.StructType(
                [f for f in schema.fields if f.name != PERIOD_COL]
            )
        t_cols = [f.name for f in schema.fields]
        names = stmt.cols or t_cols
        gen = entry.generated or {}
        if stmt.source_sql == "__DEFAULT_VALUES__":
            # INSERT .. DEFAULT VALUES ≡ one VALUES row of DEFAULT
            # tokens over the non-generated columns (PG definition) —
            # the substitution below resolves each token (declared
            # default / identity draw / NULL)
            names = [c for c in t_cols if c not in gen]
            stmt.source_sql = (
                "VALUES (" + ", ".join(["DEFAULT"] * len(names)) + ")"
            )
        listed_gen = [c for c in names if c in gen]
        is_values = stmt.source_sql.upper().startswith("VALUES")
        source_sql = stmt.source_sql
        if listed_gen and stmt.cols:
            # PG allows a generated column in the target list ONLY
            # when every row supplies the DEFAULT keyword for it
            bad = True
            if is_values:
                nd = self._values_non_default_positions(source_sql)
                gen_pos = {names.index(c) for c in listed_gen}
                bad = not nd or any(r & gen_pos for r in nd)
            if bad:
                raise ValueError(
                    f'cannot insert a non-DEFAULT value into column '
                    f'"{listed_gen[0]}"\nDETAIL: Column '
                    f'"{listed_gen[0]}" is a generated column.'
                )
        if gen and not stmt.cols:
            # PG: a bare INSERT (no column list) targets only the
            # non-generated columns
            names = [c for c in t_cols if c not in gen]
        if is_values:
            # standalone DEFAULT tokens in VALUES rows take the
            # column's default (PG) — substituted BEFORE Spark parses
            # the text (Spark's VALUES has no DEFAULT token)
            source_sql = self._values_substitute_defaults(
                source_sql, names, entry
            )
        src = (
            self.spark.sql(source_sql)
            if is_values
            else self.sql(source_sql)
        )
        if len(src.columns) != len(names):
            raise ValueError(
                f"INSERT: source has {len(src.columns)} columns, "
                f"target list has {len(names)}"
            )
        src = src.toDF(*names)
        # omitted columns take their DEFAULT (PG), NULL otherwise;
        # generated columns always recompute from the row. A
        # nextval('seq') DEFAULT (pg_dump's serial spelling) is kept
        # textual in the catalog — it cannot go through F.expr; those
        # columns draw a sequence block below, exactly like identity.
        dflts = entry.defaults or {}
        nextval_dflt = self._nextval_defaults(t_cols, src.columns, dflts)
        aligned = src.select(*[
            F.col(c).cast(schema[c].dataType).alias(c)
            if c in src.columns
            else (
                F.expr(dflts[c]).cast(schema[c].dataType).alias(c)
                if c in dflts and c not in nextval_dflt
                else F.lit(None).cast(schema[c].dataType).alias(c)
            )
            for c in t_cols
        ])
        if gen:
            aligned = self._recompute_generated(entry, aligned)
        # identity/serial columns omitted from the target list draw a
        # sequence block (↔ reference multi_sequence_default.sql);
        # nextval('seq') DEFAULTs draw the same way
        omitted_ident = [
            (c, s)
            for c, s in (entry.identity or {}).items()
            if c not in names and c in t_cols
        ] + sorted(nextval_dflt.items())
        if omitted_ident:
            from citus_spark.operators.sequence import with_sequence_values

            for col, seqname in omitted_ident:
                seqname = self._seq_name(seqname)
                st = self._sequences.get(seqname)
                if st is None:
                    raise ValueError(
                        f'sequence "{seqname}" does not exist'
                    )
                aligned = with_sequence_values(
                    aligned.drop(col),
                    lambda n, s=seqname: self._seq_alloc(s, n),
                    st["inc"],
                    col,
                ).select(*[
                    F.col(c).cast(schema[c].dataType).alias(c)
                    for c in t_cols
                ])
        if entry.constraints:
            from citus_spark.plans import constraints as _cons

            # under ON CONFLICT only the ARBITER key (the conflict
            # target) is resolved by the action; CHECK, FK, and every
            # OTHER unique constraint still raise, like PG
            _cons.enforce_insert(
                self, entry, stmt.table, aligned,
                arbiter_cols=(
                    stmt.conflict_keys if stmt.on_conflict else None
                ),
            )
        n = aligned.count()
        returned = None
        if stmt.on_conflict is None:
            if stmt.returning:
                # staged BEFORE the append: a self-referencing source
                # (INSERT INTO t SELECT .. FROM t) must return the
                # pre-append evaluation, and RETURNING exprs see the
                # inserted image (PG: post-default, post-cast row)
                returned = self._stage_returning(aligned, stmt.returning)
            self._live_append(entry, aligned, stmt.table)
        else:
            from citus_spark.sources.ingest import merge_apply

            for c, _e in stmt.assignments or []:
                if c in gen:
                    raise ValueError(
                        f'column "{c}" can only be updated to DEFAULT'
                        f'\nDETAIL: Column "{c}" is a generated column.'
                    )
            cur = self._live_read(entry)
            if entry.time_partitioning:
                from citus_spark.sources.partitions import PERIOD_COL

                cur = cur.drop(PERIOD_COL)
            merged = merge_apply(
                cur,
                aligned,
                stmt.conflict_keys,
                when_matched=(
                    "ignore" if stmt.on_conflict == "nothing" else "update"
                ),
                assignments=stmt.assignments,
                # DO UPDATE .. WHERE: guard-failed conflicting rows
                # keep their OLD image — exactly a guarded matched
                # branch with no fallback (first-true-wins, PG)
                matched_condition=stmt.conflict_where,
                insert_unmatched=True,
            )
            # generated columns recompute BEFORE RETURNING staging and
            # constraint checks see the image (the funnel recompute
            # alone would let a violating row pass judgment)
            merged = self._recompute_generated(entry, merged)
            if stmt.returning:
                # PG: DO UPDATE returns the post-image of every source
                # row (inserted or updated); DO NOTHING returns only
                # rows actually inserted (keys not already present)
                keys = stmt.conflict_keys
                if stmt.on_conflict == "update":
                    touched = aligned.select(*keys).distinct()
                    if stmt.conflict_where:
                        # guard-failed conflicting rows are NOT
                        # returned (PG: only inserted/updated rows) —
                        # keep inserted keys + guard-passing matches
                        inserted = (
                            aligned.join(cur, keys, "left_anti")
                            .select(*keys)
                            .distinct()
                        )
                        updated = (
                            cur.alias("t")
                            .join(aligned.alias("s"), keys, "inner")
                            .filter(F.expr(stmt.conflict_where))
                            .select(*[f"s.{k}" for k in keys])
                            .distinct()
                        )
                        touched = inserted.unionByName(updated).distinct()
                else:
                    touched = (
                        aligned.join(cur, keys, "left_anti")
                        .select(*keys)
                        .distinct()
                    )
                returned = self._stage_returning(
                    merged.join(touched, keys, "semi"), stmt.returning
                )
            if entry.constraints:
                # DO UPDATE assignments can break CHECK/FK/other
                # uniques even when the arbiter key resolves cleanly
                from citus_spark.plans import constraints as _cons

                _cons.enforce_full_image(self, entry, stmt.table, merged)
            self._live_rewrite(entry, merged, stmt.table)
        if returned is not None:
            return returned
        return self.spark.createDataFrame([(int(n),)], "inserted long")

    def _execute_select_into(self, query: str):
        """PostgreSQL `SELECT … INTO new_table FROM …` — the regress
        suites' CTAS spelling (↔ the reference routes it through the
        INSERT..SELECT machinery). The INTO clause is lifted out, the
        remaining SELECT runs through the full front door, and the
        result materializes as a catalog table on writable storage.
        Returns the psql-style `SELECT n` count. None when the
        statement isn't a top-level SELECT…INTO (INSERT INTO and
        MERGE INTO never reach here — routed earlier)."""
        import re as _re
        import tempfile as _tf

        head = query.lstrip()[:7].upper()
        if not (head.startswith("SELECT") or head.startswith("WITH")):
            return None
        if not _re.search(r"\bINTO\b", query, _re.IGNORECASE):
            return None  # cheap pre-gate: skip the char scan entirely
        from citus_spark.plans.rewrites import _masked_spans

        spans = _masked_spans(query)
        depth = 0
        j = 0
        hit = None
        while j < len(query):
            if any(a <= j < b for a, b in spans):
                j += 1
                continue
            c = query[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0 and c in "Ii":
                m = _re.match(
                    r"INTO\s+([A-Za-z_][\w.]*)", query[j:], _re.IGNORECASE
                )
                if m and (
                    j == 0
                    or not (query[j - 1].isalnum() or query[j - 1] == "_")
                ):
                    hit = (j, j + m.end(), m.group(1))
                    break
            j += 1
        if hit is None:
            return None
        start, end, name = hit
        if self.catalog.get(name) is not None:
            raise ValueError(f'relation "{name}" already exists')
        df = self.sql(query[:start] + query[end:])
        import uuid as _uuid

        path = os.path.join(
            tempfile.gettempdir(),
            f"citus_spark_tbl_{name}_{os.getpid()}_{_uuid.uuid4().hex[:8]}",
        )
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        out.createOrReplaceTempView(name)
        self.catalog.register(name, "none", path=path)
        n = out.count()
        return self.spark.createDataFrame([(int(n),)], "selected long")

    def _relation_size(self, name: str) -> int:
        """Bytes of the relation's LIVE storage (time-partitioned
        layout when set). Errors for uncataloged or path-less
        relations, like the reference on non-Citus tables."""
        entry = self.catalog.get(name)
        if entry is None or not self._live_path(entry):
            raise ValueError(
                f"relation size: {name!r} is not a Citus table with "
                "materialized storage"
            )
        return tree_stat(self._live_path(entry))[0]

    # -- live-storage helpers: every writing statement resolves the
    # relation through these, so a time-partitioned table's DML/COPY/
    # utility path reads and rewrites the PARTITIONED layout (the
    # round-4 bug: they used entry.path, silently resurrecting dropped
    # partitions and appending rows the view never saw)

    @staticmethod
    def _live_path(entry) -> str | None:
        if entry.time_partitioning:
            return entry.time_partitioning["path"]
        return entry.path

    def _live_read(self, entry) -> DataFrame:
        """Current relation contents. For time-partitioned tables the
        `_period` key column is included (the registered view exposes
        it, so predicates may reference it). A declaratively
        partitioned parent is the UNION of its children (the parent's
        own storage stays empty — PG stores no rows in the parent)."""
        if getattr(entry, "partition_by", None) is not None:
            df = self.spark.read.parquet(entry.path)
            for child in entry.partitions or {}:
                ce = self.catalog.get(child)
                if ce is not None:
                    df = df.unionByName(self._live_read(ce))
            return df
        if entry.time_partitioning:
            from citus_spark.sources.partitions import read_time_partitioned

            return read_time_partitioned(
                self.spark, entry.time_partitioning["path"]
            )
        return self.spark.read.parquet(entry.path)

    def _live_register(self, entry, name: str) -> None:
        if getattr(entry, "partition_by", None) is not None:
            self._register_partitioned_parent(entry)
            return
        self.spark.catalog.refreshByPath(self._live_path(entry))
        self._live_read(entry).createOrReplaceTempView(name)
        # a child write changes what the parent union shows — refresh
        # the parent view alongside. Suppressed while _partition_route
        # iterates the children: it re-registers the parent ONCE at
        # the end, and N child writes each rebuilding the N-way union
        # view would make one parent write O(N²) in footer refreshes.
        if getattr(entry, "partition_parent", None) and not getattr(
            self, "_in_partition_route", False
        ):
            pe = self.catalog.get(entry.partition_parent)
            if pe is not None:
                self._register_partitioned_parent(pe)

    def _register_partitioned_parent(self, entry) -> None:
        """(Re-)register a partitioned parent's views: the parent name
        = union of children; `<name>__only` = the parent's own empty
        base relation (the FROM ONLY surface)."""
        self.spark.catalog.refreshByPath(entry.path)
        for child in entry.partitions or {}:
            ce = self.catalog.get(child)
            if ce is not None and ce.path:
                self.spark.catalog.refreshByPath(ce.path)
        self._live_read(entry).createOrReplaceTempView(entry.name)
        self.spark.read.parquet(entry.path).createOrReplaceTempView(
            f"{entry.name}__only"
        )

    def _partition_routes(self, entry):
        """[(child_name, child_entry, bound_predicate_sql)] for a
        partitioned parent."""
        from citus_spark.plans.partition_ddl import bound_predicate_sql

        col = entry.partition_by["col"]
        bounds = entry.partitions or {}
        sib = list(bounds.values())
        return [
            (child, self.catalog.get(child), bound_predicate_sql(col, b, sib))
            for child, b in bounds.items()
        ]

    def _enforce_child_bound(self, entry, df: DataFrame) -> None:
        """A direct write to a partition must satisfy its bound (PG's
        partition constraint)."""
        pe = self.catalog.get(entry.partition_parent)
        if pe is None or pe.partition_by is None:
            return
        bound = (pe.partitions or {}).get(entry.name)
        if bound is None:
            return
        from citus_spark.plans.partition_ddl import bound_predicate_sql

        pred = bound_predicate_sql(
            pe.partition_by["col"], bound, list(pe.partitions.values())
        )
        bad = (
            df.filter(~F.coalesce(F.expr(pred), F.lit(False)))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f'new row for relation "{entry.name}" violates '
                f"partition constraint\nDETAIL: Failing row: "
                f"{tuple(bad[0])}."
            )

    def _partition_route(self, entry, df: DataFrame, name: str, mode: str):
        """Route rows of `df` to the parent's children by bound and
        append/rewrite each child. One staging materialization (the
        source computes once; each child reads its column-pruned,
        predicate-filtered slice of the staged parquet). Rows no
        partition accepts error like PG. `mode='rewrite'` rewrites
        EVERY child with its slice (the UPDATE/DELETE/TRUNCATE path —
        this is also what makes cross-partition row movement work);
        `mode='append'` appends only non-empty slices."""
        import shutil
        import uuid as _uuid

        routes = self._partition_routes(entry)
        if not routes:
            raise ValueError(
                f'no partitions defined for partitioned table "{name}"'
            )
        stage = os.path.join(
            tempfile.gettempdir(),
            f"citus_spark_route_{_uuid.uuid4().hex[:8]}",
        )
        df.write.mode("overwrite").parquet(stage)
        try:
            staged = self.spark.read.parquet(stage)
            matched = " OR ".join(f"({p})" for _c, _e, p in routes)
            bad = (
                staged.filter(~F.coalesce(F.expr(matched), F.lit(False)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f'no partition of relation "{name}" found for row'
                    f"\nDETAIL: Failing row: {tuple(bad[0])}."
                )
            self._in_partition_route = True
            try:
                for child, ce, pred in routes:
                    part = staged.filter(
                        F.coalesce(F.expr(pred), F.lit(False))
                    )
                    if mode == "rewrite":
                        self._live_rewrite(
                            ce, part, child, _bound_checked=True
                        )
                    elif not part.isEmpty():
                        self._live_append(
                            ce, part, child, _bound_checked=True
                        )
            finally:
                self._in_partition_route = False
        finally:
            shutil.rmtree(stage, ignore_errors=True)
            # in the finally: a mid-route child failure must still
            # re-register the parent union — children written before
            # the failure are on disk, and the suppressed per-child
            # refresh would otherwise leave the view stale
            self._register_partitioned_parent(entry)

    def _require_partitioned(self, parent: str):
        pe = self.catalog.get(parent)
        if pe is None or getattr(pe, "partition_by", None) is None:
            raise ValueError(
                f'"{parent}" is not a partitioned table'
            )
        return pe

    def _check_default_conflict(self, pe, bound: dict) -> None:
        """A new non-default bound must not claim rows already in the
        DEFAULT partition (PG: 'updated partition constraint for
        default partition would be violated')."""
        if bound["kind"] == "default":
            return
        default_child = next(
            (
                c
                for c, b in (pe.partitions or {}).items()
                if b["kind"] == "default"
            ),
            None,
        )
        if default_child is None:
            return
        from citus_spark.plans.partition_ddl import bound_predicate_sql

        pred = bound_predicate_sql(pe.partition_by["col"], bound)
        ce = self.catalog.get(default_child)
        hit = (
            self._live_read(ce)
            .filter(F.coalesce(F.expr(pred), F.lit(False)))
            .limit(1)
            .collect()
        )
        if hit:
            raise ValueError(
                "updated partition constraint for default partition "
                f'"{default_child}" would be violated by some row'
            )

    def _create_partition_of(
        self, query: str, child: str, parent: str, bound: dict, ine: bool
    ) -> DataFrame:
        """CREATE TABLE <child> PARTITION OF <parent> FOR VALUES .. /
        DEFAULT (↔ reference multi_partitioning.sql:21-25,292)."""
        from citus_spark.plans.partition_ddl import validate_new_bound

        pe = self._require_partitioned(parent)
        if self.catalog.get(child) is not None:
            if ine:
                return self.spark.createDataFrame(
                    [("CREATE TABLE skipped: exists",)], "status string"
                )
            raise ValueError(f'relation "{child}" already exists')
        validate_new_bound(self.spark, pe, bound)
        self._check_default_conflict(pe, bound)
        import uuid as _uuid

        path = os.path.join(
            tempfile.gettempdir(),
            f"citus_spark_tbl_{child}_{os.getpid()}_{_uuid.uuid4().hex[:8]}",
        )
        schema = self.spark.read.parquet(pe.path).schema
        self.spark.createDataFrame([], schema).write.mode(
            "overwrite"
        ).parquet(path)
        self.spark.read.parquet(path).createOrReplaceTempView(child)
        centry = self.catalog.register(child, "none", path=path)
        centry.partition_parent = parent
        # children inherit the parent's write-funnel metadata (PG:
        # defaults, generated columns, identity draws)
        centry.defaults = pe.defaults
        centry.generated = pe.generated
        centry.identity = pe.identity
        pe.partitions = {**(pe.partitions or {}), child: bound}
        self._register_partitioned_parent(pe)
        self.stat_statements.record(query, None, executor="utility")
        return self.spark.createDataFrame(
            [("CREATE TABLE",)], "status string"
        )

    def _attach_partition(
        self, query: str, parent: str, child: str, bound: dict
    ) -> DataFrame:
        """ALTER TABLE .. ATTACH PARTITION (↔ reference
        multi_partitioning.sql:116,144,311) — validates schema match,
        bound compatibility, and that every existing child row
        satisfies the bound (PG scans on attach)."""
        from citus_spark.plans.partition_ddl import (
            bound_predicate_sql,
            validate_new_bound,
        )

        pe = self._require_partitioned(parent)
        ce = self.catalog.get(child)
        if ce is None:
            raise ValueError(f'relation "{child}" does not exist')
        if getattr(ce, "partition_parent", None):
            raise ValueError(
                f'"{child}" is already a partition of '
                f'"{ce.partition_parent}"'
            )
        if getattr(ce, "partition_by", None) is not None:
            raise ValueError(
                "attaching a partitioned table as a partition "
                "(sub-partitioning) is not supported"
            )
        parent_schema = {
            (f.name, f.dataType.simpleString())
            for f in self.spark.read.parquet(pe.path).schema.fields
        }
        child_schema = {
            (f.name, f.dataType.simpleString())
            for f in self._live_read(ce).schema.fields
        }
        if parent_schema != child_schema:
            raise ValueError(
                f'table "{child}" contains a column set that does not '
                f'match parent "{parent}" '
                f"(child {sorted(child_schema)}, "
                f"parent {sorted(parent_schema)})"
            )
        validate_new_bound(self.spark, pe, bound)
        self._check_default_conflict(pe, bound)
        sib = list((pe.partitions or {}).values()) + [bound]
        pred = bound_predicate_sql(pe.partition_by["col"], bound, sib)
        bad = (
            self._live_read(ce)
            .filter(~F.coalesce(F.expr(pred), F.lit(False)))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f'partition constraint of relation "{child}" is '
                f"violated by some row\nDETAIL: Failing row: "
                f"{tuple(bad[0])}."
            )
        ce.partition_parent = parent
        pe.partitions = {**(pe.partitions or {}), child: bound}
        self._register_partitioned_parent(pe)
        self.stat_statements.record(query, None, executor="utility")
        return self.spark.createDataFrame(
            [("ALTER TABLE",)], "status string"
        )

    def _detach_partition(
        self, query: str, parent: str, child: str
    ) -> DataFrame:
        """ALTER TABLE .. DETACH PARTITION — the child becomes a
        standalone table keeping its rows (↔ reference
        multi_partitioning.sql:307,442)."""
        pe = self._require_partitioned(parent)
        if child not in (pe.partitions or {}):
            raise ValueError(
                f'"{child}" is not a partition of "{parent}"'
            )
        ce = self.catalog.get(child)
        parts = dict(pe.partitions)
        parts.pop(child)
        pe.partitions = parts
        if ce is not None:
            ce.partition_parent = None
        self._register_partitioned_parent(pe)
        self.stat_statements.record(query, None, executor="utility")
        return self.spark.createDataFrame(
            [("ALTER TABLE",)], "status string"
        )

    def _recompute_generated(self, entry, df: DataFrame) -> DataFrame:
        """Stored generated columns recompute from the row's base
        columns on EVERY write (PG GENERATED ALWAYS AS .. STORED).
        Idempotent — expressions reference only non-generated columns
        (enforced at CREATE) — so funnel paths may re-apply it."""
        if not entry.generated:
            return df
        return df.select(*[
            F.expr(entry.generated[c]).cast(df.schema[c].dataType).alias(c)
            if c in entry.generated
            else F.col(c)
            for c in df.columns
        ])

    def _live_rewrite(
        self, entry, df: DataFrame, name: str, _bound_checked: bool = False
    ) -> None:
        """Replace the relation's contents with `df` (full copy-on-
        write, the UPDATE/DELETE/TRUNCATE mechanism). Time-partitioned
        targets re-derive `_period` from the timestamp column (an
        UPDATE may move a row across periods) and swap the layout via
        rename — never overwriting the directory being read. A rewrite
        to EMPTY drops the partition layout (no period keys can exist)
        and re-homes the relation on a plain writable path.
        Stored generated columns recompute here — the universal
        write funnel. A declaratively partitioned parent re-routes the
        full image to its children (cross-partition row movement, PG
        11 semantics); a partition child validates its bound unless
        the router already did."""
        import shutil
        import tempfile as _tf

        df = self._recompute_generated(entry, df)
        if getattr(entry, "partition_by", None) is not None:
            self._partition_route(entry, df, name, mode="rewrite")
            return
        if getattr(entry, "partition_parent", None) and not _bound_checked:
            self._enforce_child_bound(entry, df)

        from citus_spark.sources.partitions import (
            PERIOD_COL,
            write_time_partitioned,
        )

        if entry.time_partitioning:
            tp = entry.time_partitioning
            body = df.drop(PERIOD_COL)
            if body.isEmpty():
                new_path = os.path.join(
                    _tf.gettempdir(), f"citus_spark_tbl_{name}_{os.getpid()}"
                )
                body.write.mode("overwrite").parquet(new_path)
                shutil.rmtree(tp["path"], ignore_errors=True)
                entry.time_partitioning = None
                entry.path = new_path
                self._live_register(entry, name)
                return
            tmp = tp["path"] + f".rw_tmp{os.getpid()}"
            write_time_partitioned(
                body, tmp, tp["ts_col"], tp["granularity"],
                overwrite_touched_only=False,
            )
            shutil.rmtree(tp["path"])
            os.rename(tmp, tp["path"])
            self._live_register(entry, name)
            return
        tmp = entry.path + ".rw_tmp"
        df.write.mode("overwrite").parquet(tmp)
        self.spark.read.parquet(tmp).write.mode("overwrite").parquet(
            entry.path
        )
        shutil.rmtree(tmp, ignore_errors=True)
        self._live_register(entry, name)

    def _live_append(
        self, entry, df: DataFrame, name: str, _bound_checked: bool = False
    ) -> None:
        """Append rows (the COPY FROM path). Time-partitioned targets
        route each row to its period directory. Stored generated
        columns recompute here — the universal append funnel.
        A declaratively partitioned parent routes rows to children by
        bound; a partition child validates its bound unless the
        router already did."""
        df = self._recompute_generated(entry, df)
        if getattr(entry, "partition_by", None) is not None:
            self._partition_route(entry, df, name, mode="append")
            return
        if getattr(entry, "partition_parent", None) and not _bound_checked:
            self._enforce_child_bound(entry, df)
        if entry.time_partitioning:
            from citus_spark.sources.partitions import (
                append_time_partitioned,
            )

            tp = entry.time_partitioning
            append_time_partitioned(
                df, tp["path"], tp["ts_col"], tp["granularity"]
            )
        else:
            df.write.mode("append").parquet(entry.path)
        self._live_register(entry, name)

    def _execute_copy(self, query: str) -> DataFrame:
        """Textual COPY (plans/copy_sql.py ↔ reference multi_copy.c):
        FROM = parallel parse of the file appended to the target's
        storage under the TARGET'S schema (the reference, too,
        requires the table to exist and coerces to its types); TO =
        distributed write of the relation or query. Returns the
        psql-style COPY count."""
        from citus_spark.plans.copy_sql import parse_copy

        stmt = parse_copy(query)
        self.stat_statements.record(query, None, executor="copy")
        if stmt.direction == "from":
            from pyspark.sql import types as T

            entry = self._writable_entry(stmt.table, "COPY FROM")
            schema = self._live_read(entry).schema
            if entry.time_partitioning:
                from citus_spark.sources.partitions import PERIOD_COL

                schema = T.StructType(
                    [f for f in schema.fields if f.name != PERIOD_COL]
                )
            if stmt.fmt == "binary":
                from citus_spark.plans.copy_binary import (
                    read_pgcopy_binary,
                )

                df = read_pgcopy_binary(self.spark, stmt.path, schema)
            else:
                # FAILFAST: PostgreSQL's COPY (and the reference's
                # multi_copy) reject malformed input outright;
                # PERMISSIVE would silently load bad lines as
                # all-NULL rows
                reader = self.spark.read.schema(schema).option(
                    "mode", "FAILFAST"
                )
                if stmt.fmt == "csv":
                    df = reader.option(
                        "header", str(stmt.header).lower()
                    ).csv(stmt.path)
                else:
                    df = reader.json(stmt.path)
            n = df.count()
            if entry.constraints:
                from citus_spark.plans import constraints as _cons

                _cons.enforce_insert(self, entry, stmt.table, df)
            self._live_append(entry, df, stmt.table)
        else:
            df = (
                # through the front door, not raw spark.sql — the
                # subquery may reference citus_* views or use
                # pg_compat spellings like any other statement
                self.sql(stmt.query)
                if stmt.query is not None
                else self.spark.table(stmt.table)
            )
            if stmt.fmt == "binary":
                from citus_spark.plans.copy_binary import (
                    write_pgcopy_binary,
                )

                n = write_pgcopy_binary(df, stmt.path)
                return self.spark.createDataFrame(
                    [(int(n),)], "copied long"
                )
            n = df.count()
            writer = df.write.mode("overwrite")
            if stmt.fmt == "csv":
                writer.option("header", str(stmt.header).lower()).csv(
                    stmt.path
                )
            else:
                writer.json(stmt.path)
        return self.spark.createDataFrame([(int(n),)], "copied long")

    def copy_from_stdin(
        self,
        table: str,
        source,
        fmt: str = "text",
        cols: list[str] | None = None,
    ) -> DataFrame:
        """COPY <table> FROM STDIN with `source` as the stream — a
        str payload, a file-like handle, or any iterable of lines
        (↔ reference multi_copy.c stdin path). A trailing `\\.`
        terminator line is accepted and ignored."""
        if isinstance(source, str):
            lines = source.split("\n")
        elif hasattr(source, "read"):
            lines = source.read().split("\n")
        else:
            lines = [ln.rstrip("\n") for ln in source]
        # a final newline is a line TERMINATOR, not an empty last row
        # (an intentional empty row shows as a doubled newline and
        # keeps one element here); empty lines are data now — a text
        # row with one empty-string field — so only this one artifact
        # may be dropped
        if isinstance(source, str) or hasattr(source, "read"):
            if lines and lines[-1] == "":
                lines.pop()
        out = []
        for ln in lines:
            if ln.strip() == r"\.":
                break
            out.append(ln)
        return self._copy_from_stdin(table, out, fmt=fmt, cols=cols)

    def _copy_from_stdin(
        self,
        table: str,
        lines: list[str],
        fmt: str,
        cols: list[str] | None,
        query_text: str | None = None,
    ) -> DataFrame:
        """Decode PG text/csv data lines on the coordinator, coerce to
        the target schema (a failed coercion errors like PG, never
        loads NULL silently), apply column defaults and identity draws
        for omitted columns, then append through the universal funnel
        (constraints, generated columns, partition routing)."""
        import re as _re

        from pyspark.sql import types as T

        from citus_spark.plans.copy_stdin import decode_payload

        entry = self._writable_entry(table, "COPY FROM")
        self.stat_statements.record(
            query_text or f"COPY {table} FROM STDIN", None, executor="copy"
        )
        schema = self._live_read(entry).schema
        if entry.time_partitioning:
            from citus_spark.sources.partitions import PERIOD_COL

            schema = T.StructType(
                [f for f in schema.fields if f.name != PERIOD_COL]
            )
        t_cols = [f.name for f in schema.fields]
        gen = entry.generated or {}
        names = cols or [c for c in t_cols if c not in gen]
        for c in names:
            if c not in t_cols:
                raise ValueError(
                    f'COPY: column "{c}" of relation "{table}" '
                    "does not exist"
                )
            if c in gen:
                raise ValueError(
                    f'column "{c}" is a generated column — COPY '
                    "cannot load it"
                )
        rows = decode_payload(lines, fmt, len(names))
        src = self.spark.createDataFrame(
            [tuple(r) for r in rows],
            T.StructType(
                [T.StructField(c, T.StringType(), True) for c in names]
            ),
        )
        dflts = entry.defaults or {}
        nextval_dflt = self._nextval_defaults(t_cols, names, dflts)
        aligned = src.select(*[
            F.col(c).cast(schema[c].dataType).alias(c)
            if c in names
            else (
                F.expr(dflts[c]).cast(schema[c].dataType).alias(c)
                if c in dflts and c not in nextval_dflt
                else F.lit(None).cast(schema[c].dataType).alias(c)
            )
            for c in t_cols
        ])
        # PG's COPY errors on malformed input; Spark's cast would load
        # NULL silently — check every supplied field survived coercion
        checked = [
            c
            for c in names
            if not isinstance(schema[c].dataType, T.StringType)
        ]
        if checked:
            # try_cast: under ANSI mode a plain cast would itself
            # throw inside the probe job
            bad = src.select(*[
                (
                    F.col(c).isNotNull()
                    & F.col(c).try_cast(schema[c].dataType).isNull()
                ).alias(c)
                for c in checked
            ]).filter(" OR ".join(f"`{c}`" for c in checked)).limit(1)
            if bad.collect():
                raise ValueError(
                    f"COPY {table}: invalid input for the target "
                    "column types (a field failed to coerce)"
                )
        omitted_ident = [
            (c, s)
            for c, s in (entry.identity or {}).items()
            if c not in names and c in t_cols
        ] + sorted(nextval_dflt.items())
        if omitted_ident:
            from citus_spark.operators.sequence import with_sequence_values

            for col, seqname in omitted_ident:
                seqname = self._seq_name(seqname)
                st = self._sequences.get(seqname)
                if st is None:
                    raise ValueError(f'sequence "{seqname}" does not exist')
                aligned = with_sequence_values(
                    aligned.drop(col),
                    lambda n, s=seqname: self._seq_alloc(s, n),
                    st["inc"],
                    col,
                ).select(*[
                    F.col(c).cast(schema[c].dataType).alias(c)
                    for c in t_cols
                ])
        if gen:
            aligned = self._recompute_generated(entry, aligned)
        if entry.constraints:
            from citus_spark.plans import constraints as _cons

            _cons.enforce_insert(self, entry, table, aligned)
        n = aligned.count()
        self._live_append(entry, aligned, table)
        return self.spark.createDataFrame([(int(n),)], "copied long")

    def _execute_dml(self, query: str) -> DataFrame:
        """Textual UPDATE / DELETE (plans/dml_sql.py ↔ reference
        multi_router_planner.c DML routing): copy-on-write rewrite of
        the target relation — the same mechanism the MERGE path uses.
        The target must be a catalog table with a WRITABLE storage
        path (never a read-only fixture); the temp view is refreshed
        so subsequent queries see the new state. Returns the affected
        row count, like the psql tag."""
        from citus_spark.plans.dml_sql import parse_dml

        stmt = parse_dml(query)
        entry = self._writable_entry(stmt.table, "DML")
        # nextval is supported only in UPDATE SET expressions (the
        # per-row block path below); in a predicate or through
        # UPDATE..FROM it would reach Spark as an unresolved function
        # — reject with a real message instead
        if stmt.predicate and self._nextval_occurrences(stmt.predicate):
            raise NotImplementedError(
                "nextval() in a WHERE clause is not supported — PG "
                "would advance the sequence per evaluated row; filter "
                "on a materialized draw instead"
            )
        if stmt.from_clause is not None and self._nextval_occurrences(
            query
        ):
            raise NotImplementedError(
                "nextval() in UPDATE .. FROM is not supported — use a "
                "plain UPDATE (per-row draws are supported there)"
            )
        # DML statements land in citus_stat_statements too (the
        # reference records every statement its planner handles)
        self.stat_statements.record(query, None, executor="dml")
        df = self._live_read(entry)
        if stmt.from_clause is not None:
            result, affected_rows, affected, update_pairs = (
                self._dml_with_from(entry, df, stmt)
            )
            return self._dml_finish(
                entry, stmt, result, affected_rows, affected,
                update_pairs=update_pairs,
            )
        # NULL predicate leaves a row unaffected (3-valued SQL DML)
        pred = (
            F.coalesce(F.expr(stmt.predicate), F.lit(False))
            if stmt.predicate
            else F.lit(True)
        )
        affected = df.filter(pred).count()
        if stmt.kind == "delete":
            result = df.filter(~pred)
            # RETURNING on DELETE ships the OLD image of removed rows
            affected_rows = df.filter(pred)
        else:
            assigned = self._normalize_update_assignments(
                entry, dict(stmt.assignments), df.columns
            )
            # (when every assignment was a generated-column DEFAULT,
            # assigned is empty and the rewrite below is a pure
            # recompute pass — exactly what SET gcol = DEFAULT means)
            if any(
                self._nextval_occurrences(expr) for expr in assigned.values()
            ):
                # SET col = nextval('s'): PG draws a DISTINCT value per
                # affected row — distributed block allocation, never a
                # single coordinator substitution
                return self._dml_update_with_sequences(
                    entry, df, stmt, pred, affected, assigned
                )
            # one select over the ORIGINAL relation = simultaneous
            # assignment semantics (every SET expr sees old values)
            new_image = df.select(
                *[
                    F.when(pred, F.expr(assigned[c]).cast(df.schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in assigned
                    else F.col(c)
                    for c in df.columns
                ],
                # the predicate must be judged against OLD values (the
                # new image may no longer satisfy it, e.g. SET x=x+10
                # WHERE x<5) — carried as a hidden flag per row
                pred.alias("__citus_affected"),
            )
            # RETURNING on UPDATE ships the NEW image of updated rows
            affected_rows = new_image.filter("__citus_affected").drop(
                "__citus_affected"
            )
            result = new_image.drop("__citus_affected")
            # old__/new__ remap of the affected rows — feeds ON UPDATE
            # referential actions (derived from the SAME old image +
            # assignments, so the pairing needs no row ids)
            update_pairs = df.filter(pred).select(
                *[F.col(c).alias(f"old__{c}") for c in df.columns],
                *[
                    (
                        F.expr(assigned[c]).cast(df.schema[c].dataType)
                        if c in assigned
                        else F.col(c)
                    ).alias(f"new__{c}")
                    for c in df.columns
                ],
            )
            return self._dml_finish(
                entry, stmt, result, affected_rows, affected,
                update_pairs=update_pairs,
            )
        return self._dml_finish(entry, stmt, result, affected_rows, affected)

    def _dml_finish(
        self, entry, stmt, result, affected_rows, affected,
        update_pairs=None,
    ):
        """Shared DML tail: constraint enforcement over the would-be
        state, referential-action cascades (ON DELETE/UPDATE CASCADE /
        SET NULL / SET DEFAULT propagate through the constraint graph
        as dependent copy-on-write rewrites), RETURNING staging,
        copy-on-write swap, psql-style tag. `update_pairs` is the
        old__/new__ column remap of the affected rows (derived by the
        plain, sequence-draw, and FROM update forms alike)."""
        if entry.generated and stmt.kind != "delete":
            # stored generated columns recompute from the NEW image
            # BEFORE constraints judge it (a CHECK over a generated
            # column must see the recomputed value); update_pairs'
            # new__ side recomputes too, so ON UPDATE cascades keyed
            # on a generated column remap with the fresh values
            result = self._recompute_generated(entry, result)
            affected_rows = self._recompute_generated(entry, affected_rows)
            if update_pairs is not None:
                # expose the new__ side under bare names so the stored
                # expressions resolve, recompute, then re-prefix —
                # no textual rewriting of the expressions
                bare = update_pairs.select(*[
                    F.col(c).alias(c[len("new__"):])
                    if c.startswith("new__")
                    else F.col(c)
                    for c in update_pairs.columns
                ])
                bare = self._recompute_generated(entry, bare)
                update_pairs = bare.select(*[
                    F.col(c[len("new__"):]).alias(c)
                    if c.startswith("new__")
                    else F.col(c)
                    for c in update_pairs.columns
                ])
        images = None
        if entry.constraints or any(
            e.constraints for e in self.catalog.tables().values()
        ):
            from citus_spark.plans import constraints as _cons

            if stmt.kind == "delete":
                if _cons.cascading_actions_exist(self, stmt.table, "delete"):
                    images = _cons.propagate_referential_actions(
                        self, stmt.table, self._live_read(entry), result,
                        None,
                    )
                else:
                    # inbound FKs: every child row must still find its
                    # parent among the surviving rows (NO ACTION)
                    _cons.enforce_delete(self, entry, stmt.table, result)
            else:
                assigned_cols = [c for c, _ in stmt.assignments]
                if entry.generated:
                    # a base-column update ripples into the generated
                    # columns — UNIQUE/EXCLUDE/FK constraints over
                    # them must re-judge too
                    assigned_cols = assigned_cols + [
                        g for g in entry.generated
                        if g not in assigned_cols
                    ]
                _cons.enforce_update(
                    self, entry, stmt.table, affected_rows, assigned_cols,
                    post_image=result,
                )
                _cons.enforce_unique_post_update(
                    self, entry, stmt.table, result, assigned_cols,
                    changed=affected_rows,
                )
                # updating a column other tables reference re-checks
                # those children against the post-update key set
                inbound_refcols = {
                    c
                    for _t, _e, _c, ospec in _cons._inbound_fks(
                        self, stmt.table
                    )
                    for c in ospec["refcols"]
                }
                if inbound_refcols & set(assigned_cols):
                    if _cons.cascading_actions_exist(
                        self, stmt.table, "update"
                    ):
                        if update_pairs is None:
                            raise NotImplementedError(
                                "ON UPDATE referential actions need "
                                "the old/new row remap — this UPDATE "
                                "form does not derive one"
                            )
                        images = _cons.propagate_referential_actions(
                            self, stmt.table, self._live_read(entry),
                            result, update_pairs,
                        )
                    else:
                        _cons.enforce_delete(
                            self, entry, stmt.table, result
                        )
        returned = (
            self._stage_returning(affected_rows, stmt.returning)
            if stmt.returning
            else None
        )
        if images is not None:
            # a self-referential cascade changes the ROOT image too —
            # always write the propagated images, never the raw result.
            # Every cascaded child must be writable BEFORE the first
            # swap (a fixture-backed child vetoes the whole statement)
            self._live_rewrite_many(
                [
                    (self._writable_entry(t, "DML cascade"), img, t)
                    for t, img in images.items()
                ]
            )
        else:
            self._live_rewrite(entry, result, stmt.table)
        if returned is not None:
            return returned
        return self.spark.createDataFrame(
            [(int(affected),)], f"{stmt.kind}d long"
        )

    def _live_rewrite_many(self, items) -> None:
        """Rewrite several relations as ONE statement (FK cascades).
        Every new image is STAGED to a temp location first — each
        image's plan reads the other tables' pre-statement parquet, so
        no destination may be overwritten before every image has been
        fully materialized — then all destinations swap.

        ATOMICITY CAVEAT (honest scope): the swaps are per-table
        renames, so a process crash BETWEEN swaps leaves the statement
        partially applied — each table individually consistent, but
        some cascaded children at the new state while others kept the
        old one. PG's cascades are fully atomic; on this storage
        layout full multi-table atomicity is the transaction log's
        job (sources/txlog.MultiTableTxn gives it via 2PC for tables
        that opt into the TxTable format)."""
        if len(items) == 1:
            self._live_rewrite(*items[0])
            return
        import shutil

        from citus_spark.sources.partitions import (
            PERIOD_COL,
            write_time_partitioned,
        )

        staged = []
        for entry, df, name in items:
            if entry.time_partitioning:
                tp = entry.time_partitioning
                tmp = tp["path"] + f".rw_tmp{os.getpid()}"
                write_time_partitioned(
                    df.drop(PERIOD_COL), tmp, tp["ts_col"],
                    tp["granularity"], overwrite_touched_only=False,
                )
                staged.append(("tp", entry, name, tmp))
            else:
                tmp = entry.path + ".rw_tmp"
                df.write.mode("overwrite").parquet(tmp)
                staged.append(("plain", entry, name, tmp))
        for kind, entry, name, tmp in staged:
            if kind == "tp":
                shutil.rmtree(entry.time_partitioning["path"])
                os.rename(tmp, entry.time_partitioning["path"])
            else:
                # rename swap: no second materialization, and the
                # destination is never in a partially-written state
                old = entry.path + ".rw_old"
                shutil.rmtree(old, ignore_errors=True)
                os.rename(entry.path, old)
                os.rename(tmp, entry.path)
                shutil.rmtree(old, ignore_errors=True)
            self._live_register(entry, name)

    def _dml_with_from(self, entry, df, stmt):
        """UPDATE .. FROM / DELETE .. USING (PG join-DML; ↔ reference
        modify planner routing UPDATE/DELETE with joins). The target
        gets a synthetic row id, joins the extra relations through one
        Spark SQL query (so the join plans like any other — broadcast
        for small sources, shuffle otherwise), and the copy-on-write
        image is reassembled by row id:

          UPDATE t SET c = s.v FROM s WHERE t.k = s.k
          DELETE FROM t USING s WHERE t.k = s.k

        PG leaves the row value unspecified when several source rows
        match one target row; here the winner is the deterministic
        min over the computed values (stable across runs/partitions).
        RETURNING sees the target image only (source columns in
        RETURNING are not modeled — they raise unresolved, loudly)."""
        from pyspark.sql import Window

        rid = "__citus_rid"
        eff = stmt.alias or stmt.table
        tgt = df.withColumn(rid, F.monotonically_increasing_id())
        tgt = tgt.localCheckpoint(eager=False)  # pin the nondeterministic ids
        tmp = f"__citus_dml_target_{os.getpid()}"
        tgt.createOrReplaceTempView(tmp)
        try:
            where = f" WHERE {stmt.predicate}" if stmt.predicate else ""
            if stmt.kind == "delete":
                matched = self.spark.sql(
                    f"SELECT {eff}.{rid} AS {rid} FROM {tmp} AS {eff}, "
                    f"{stmt.from_clause}{where}"
                ).distinct()
                affected = matched.count()
                result = (
                    tgt.join(matched, rid, "left_anti").drop(rid)
                )
                affected_rows = tgt.join(matched, rid, "semi").drop(rid)
                return result, affected_rows, affected, None
            assigned = self._normalize_update_assignments(
                entry, dict(stmt.assignments), df.columns
            )
            if not assigned:
                # every assignment was a generated-column DEFAULT —
                # the matched rows rewrite unchanged (recompute runs
                # in the shared DML tail)
                assigned = {
                    c: c
                    for c, _e in stmt.assignments
                    if c in df.columns
                }
            vals = ", ".join(
                f"({expr}) AS __v{i}"
                for i, (_c, expr) in enumerate(assigned.items())
            )
            joined = self.spark.sql(
                f"SELECT {eff}.{rid} AS {rid}, {vals} "
                f"FROM {tmp} AS {eff}, {stmt.from_clause}{where}"
            )
            w = Window.partitionBy(rid).orderBy(
                *[f"__v{i}" for i in range(len(assigned))]
            )
            picked = (
                joined.withColumn("__rn", F.row_number().over(w))
                .filter("__rn = 1")
                .drop("__rn")
                .withColumn("__citus_matched", F.lit(True))
            )
            affected = picked.count()
            full = tgt.join(picked, rid, "left")
            matched_flag = F.coalesce(
                F.col("__citus_matched"), F.lit(False)
            )
            new_image = full.select(
                *[
                    F.when(
                        matched_flag,
                        F.col(f"__v{list(assigned).index(c)}").cast(
                            df.schema[c].dataType
                        ),
                    ).otherwise(F.col(c)).alias(c)
                    if c in assigned
                    else F.col(c)
                    for c in df.columns
                ],
                matched_flag.alias("__citus_matched2"),
            )
            affected_rows = new_image.filter("__citus_matched2").drop(
                "__citus_matched2"
            )
            result = new_image.drop("__citus_matched2")
            # old__/new__ remap of the matched rows — `full` carries
            # the OLD columns and the picked __vN values side by side,
            # so ON UPDATE referential actions work through the FROM
            # form exactly like plain UPDATE
            update_pairs = full.filter(matched_flag).select(
                *[F.col(c).alias(f"old__{c}") for c in df.columns],
                *[
                    (
                        F.col(f"__v{list(assigned).index(c)}").cast(
                            df.schema[c].dataType
                        )
                        if c in assigned
                        else F.col(c)
                    ).alias(f"new__{c}")
                    for c in df.columns
                ],
            )
            return result, affected_rows, affected, update_pairs
        finally:
            self.spark.catalog.dropTempView(tmp)

    def _stage_returning(self, rows: DataFrame, returning: str) -> DataFrame:
        """Materialize a RETURNING projection BEFORE the copy-on-write
        swap invalidates the files it reads. Staged as parquet (a
        distributed write — never a driver collect, so an UPDATE that
        touches millions of rows still returns them scalably) and read
        back from the staged copy. ↔ reference RETURNING: each shard
        streams its projection back through the executor
        (multi_router_planner.c); the staged directory is this engine's
        equivalent of that intermediate-result transfer."""
        import tempfile as _tf

        from citus_spark.plans.rewrites import _split_top_level

        exprs = [e.strip() for e in _split_top_level(returning) if e.strip()]
        proj = rows.selectExpr(*exprs)
        self._returning_seq = getattr(self, "_returning_seq", 0) + 1
        path = os.path.join(
            _tf.gettempdir(),
            f"citus_spark_returning_{os.getpid()}_{self._returning_seq}",
        )
        proj.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _execute_merge(self, query: str) -> DataFrame:
        """Textual MERGE INTO → sources.ingest.merge_into. The target
        must be a catalog table with a storage path (the analog of the
        reference's requirement that MERGE targets be Citus tables);
        the temp view is refreshed after the rewrite so subsequent
        queries see the merged state. Returns the new target relation."""
        from citus_spark.session import _merge_returning_exprs

        from citus_spark.plans.merge_sql import parse_merge
        from citus_spark.sources.ingest import merge_into

        stmt = parse_merge(query)
        entry = self._writable_entry(stmt.target, "MERGE")
        gen = entry.generated or {}
        if gen:
            # PG: MERGE may not SET or INSERT a generated column
            # except with the DEFAULT keyword — silently discarding
            # what the statement asked to write (funnel recompute
            # would overwrite it) is worse than the error PG raises
            import re as _re2

            def _is_default(text: str) -> bool:
                return bool(_re2.fullmatch(r"\s*DEFAULT\s*", text, _re2.I))

            for _c, _a, asg in list(stmt.matched_branches) + list(
                stmt.by_source_branches
            ):
                for col, e in asg or []:
                    if col in gen and not _is_default(e):
                        raise ValueError(
                            f'column "{col}" can only be updated to '
                            f'DEFAULT\nDETAIL: Column "{col}" is a '
                            "generated column."
                        )
            for _c, cols, vals in stmt.not_matched_branches:
                for col, v in zip(cols or [], vals or []):
                    if col in gen and not _is_default(v):
                        raise ValueError(
                            f'cannot insert a non-DEFAULT value into '
                            f'column "{col}"\nDETAIL: Column "{col}" '
                            "is a generated column."
                        )
        source = (
            self.spark.sql(stmt.source)
            if stmt.source_is_subquery
            else self.spark.table(stmt.source)
        )
        returned = None
        if stmt.returning:
            # PG 17 MERGE .. RETURNING: one action-tagged pass over
            # the PRE-merge state (same single equi-join shape),
            # staged before any rewrite invalidates the files
            from citus_spark.sources.ingest import merge_apply_multi
            from citus_spark.sources.partitions import PERIOD_COL

            cur0 = self._live_read(entry)
            if entry.time_partitioning:
                cur0 = cur0.drop(PERIOD_COL)
            affected = merge_apply_multi(
                cur0,
                source,
                stmt.keys,
                matched_branches=stmt.matched_branches,
                not_matched_branches=stmt.not_matched_branches,
                by_source_branches=stmt.by_source_branches,
                with_actions=True,
                column_defaults=entry.defaults,
                generated_columns=set(entry.generated or {}),
            )
            # RETURNING ships the recomputed image, not stale generated
            # values (the action tag is not a generated column, so the
            # recompute projection passes it through untouched)
            affected = self._recompute_generated(entry, affected)
            returned = self._stage_returning(
                affected,
                _merge_returning_exprs(stmt.returning, cur0.columns),
            )
        if not stmt.is_whole_row or gen:
            # general form (SET col = expr / AND guards / INSERT
            # (cols) VALUES): one joined computation over the LIVE
            # relation, then a copy-on-write swap — works uniformly
            # for plain and time-partitioned storage. Tables with
            # generated columns ALWAYS take this path so the
            # recompute happens before constraints judge the image.
            from citus_spark.sources.ingest import merge_apply_multi

            from citus_spark.sources.partitions import PERIOD_COL

            cur = self._live_read(entry)
            if entry.time_partitioning:
                cur = cur.drop(PERIOD_COL)
            merged = merge_apply_multi(
                cur,
                source,
                stmt.keys,
                matched_branches=stmt.matched_branches,
                not_matched_branches=stmt.not_matched_branches,
                by_source_branches=stmt.by_source_branches,
                column_defaults=entry.defaults,
                generated_columns=set(entry.generated or {}),
            )
            merged = self._recompute_generated(entry, merged)
            if entry.constraints:
                from citus_spark.plans import constraints as _cons

                _cons.enforce_full_image(self, entry, stmt.target, merged)
            self._live_rewrite(entry, merged, stmt.target)
            out = self._live_read(entry)
            out.createOrReplaceTempView(stmt.target)
            return returned if returned is not None else out
        if entry.constraints:
            # whole-row merge writes into storage in place — the
            # would-be image must be judged BEFORE anything touches
            # the files (no rollback afterwards)
            from citus_spark.plans import constraints as _cons
            from citus_spark.sources.ingest import merge_apply as _ma
            from citus_spark.sources.partitions import PERIOD_COL as _PC

            _cur = self._live_read(entry)
            if entry.time_partitioning:
                _cur = _cur.drop(_PC)
            _cons.enforce_full_image(
                self, entry, stmt.target,
                _ma(
                    _cur, source, stmt.keys,
                    when_matched=stmt.when_matched,
                    insert_unmatched=stmt.insert_unmatched,
                ),
            )
        if entry.time_partitioning:
            # stage the live partitioned relation on a plain path,
            # merge there, then rewrite the layout (re-deriving
            # periods — a matched UPDATE may move rows across them)
            import shutil
            import tempfile as _tf

            from citus_spark.sources.partitions import PERIOD_COL

            stage = os.path.join(
                _tf.gettempdir(),
                f"citus_spark_merge_{stmt.target}_{os.getpid()}",
            )
            self._live_read(entry).drop(PERIOD_COL).write.mode(
                "overwrite"
            ).parquet(stage)
            try:
                merge_into(
                    self.spark,
                    stage,
                    source,
                    stmt.keys,
                    when_matched=stmt.when_matched,
                    insert_unmatched=stmt.insert_unmatched,
                )
                self._live_rewrite(
                    entry, self.spark.read.parquet(stage), stmt.target
                )
            finally:
                shutil.rmtree(stage, ignore_errors=True)
            out = self._live_read(entry)
            out.createOrReplaceTempView(stmt.target)
            return returned if returned is not None else out
        merge_into(
            self.spark,
            entry.path,
            source,
            stmt.keys,
            when_matched=stmt.when_matched,
            insert_unmatched=stmt.insert_unmatched,
        )
        out = self.spark.read.parquet(entry.path)
        out.createOrReplaceTempView(stmt.target)
        return returned if returned is not None else out

    # ------------------------------------------------------------------
    # Layout-maintenance API (↔ alter_distributed_table /
    # undistribute_table management UDFs)
    # ------------------------------------------------------------------
