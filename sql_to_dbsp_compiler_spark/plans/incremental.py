"""Incremental view-maintenance operators: per-step cost ∝ |delta|.

These are the DBSP *optimized incremental* operators (reference:
circuit/operator/DBSPIncrementalAggregateOperator.java,
DBSPIncrementalJoinOperator.java, DBSPIncrementalDistinctOperator.java;
the reference's OptimizedIncrementalTests pin their behavior against
naive D∘Q∘I recomputation). Each operator holds integrated state as
DataFrames and exposes ``step(delta) -> delta``:

- :class:`IncrementalFilterMap` — linear (stateless): the delta of a
  select/filter is the select/filter of the delta.
- :class:`IncrementalLinearAgg` — SUM/COUNT/AVG group-bys: one
  aggregate over the per-group state and the delta's weighted rows,
  emitting retraction+insertion rows for the changed groups only. It
  reads every group once per step, never the integrated input.
- :class:`IncrementalJoin` — bilinear rule Δ(A⋈B) = ΔA⋈B + A⋈ΔB +
  ΔA⋈ΔB. Each side's state is an :class:`~.zset.Integral`, read as an
  unconsolidated sum, and a term with a ``ZSet.empty`` side is
  dropped: a step that changes one side joins only that side's delta
  against the other side's state.

Lineage: operator state is :class:`~.zset.Integral` objects, each of
which compacts (consolidates and checkpoints) its raw batches every
``checkpoint_every`` adds, together with the runs of no larger size
class. Under AQE ``localCheckpoint`` is an action, not a lazy marker,
and two more places run it: IncrementalLinearAgg checkpoints its
merged per-group state once per step, and the touched-key recompute,
distinct and set-op operators materialize each output delta once
(``_materialize``). A step whose every input is ``ZSet.empty`` runs
no Spark job.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .zset import WEIGHT, Integral, ZSet, incremental_join


def _join_on_keys(df: DataFrame, keys: list[str], touched: DataFrame) -> DataFrame:
    """Null-safe leftsemi of ``df`` against the key rows in ``touched``,
    whose columns match ``keys`` by position. SQL GROUP BY / PARTITION
    BY place NULL keys in one group, but name-list joins use
    null-unsafe ``=`` — a NULL-keyed state row would never be
    recomputed into new_rows nor retracted from the stored output,
    silently diverging from the batch query."""
    t = touched.toDF(*[f"__t{i}" for i in range(len(keys))])
    cond = None
    for i, k in enumerate(keys):
        eq = df[k].eqNullSafe(t[f"__t{i}"])
        cond = eq if cond is None else cond & eq
    return df.join(t, cond, "leftsemi")


def _materialize(z: ZSet) -> ZSet:
    """Run ``z``'s plan once and cut its lineage (under AQE
    ``localCheckpoint`` is an action even with ``eager=False``). An
    operator's output delta is read again downstream: by the caller,
    by the view's integral when it compacts, and in UNION and set-op
    chains by the next operator's integral. Left lazy, every such read
    re-runs the step against the state as it was then."""
    return ZSet(z.df.localCheckpoint(eager=False))


def _eq_keys(left: DataFrame, lkeys: list[str], right: DataFrame, rkeys: list[str]) -> Column:
    """SQL ``=`` on each key pair, ANDed: null-unsafe, so NULL keys never
    match."""
    return reduce(operator.and_, [left[lk] == right[rk] for lk, rk in zip(lkeys, rkeys)])


def _weights_by_payload(payload: list[str], parts: dict[str, DataFrame]) -> DataFrame:
    """One row per payload present in any of the Z-set frames ``parts``,
    with each part's summed weight in a column named after it (0 where
    the part lacks that payload). NULLs group together, as in SQL
    DISTINCT and set operations."""
    zero = F.lit(0).cast("long")
    frames = [
        df.select(*payload, *[(F.col(WEIGHT) if n == name else zero).alias(n) for n in parts])
        for name, df in parts.items()
    ]
    return reduce(DataFrame.unionByName, frames).groupBy(*payload).agg(
        *[F.sum(n).alias(n) for n in parts]
    )


class _TouchedKeyRecompute:
    """The step shared by the operators that have no delta rule (outer
    joins, range predicates, TopK, windows, non-linear aggregates):
    touched-key recompute over one :class:`Integral` per input and one
    for the emitted output.

    A step adds the input deltas to their integrals, restricts each
    integral to the keys present in some delta, consolidates that
    restriction (O(touched), not O(|state|)), hands it to the
    subclass's ``_eval`` and emits the difference against the stored
    output of the same keys. ``in_keys[i]`` names input i's key
    columns and ``out_keys`` the output's, matched by position.

    ``_eval(*states)`` takes one consolidated frame (payload + weight)
    per input and returns the output Z-set over them."""

    def __init__(self, in_keys: list[list[str]], out_keys: list[str], checkpoint_every: int):
        self._in_keys = in_keys
        self._out_keys = out_keys
        self._every = checkpoint_every
        self._ins: list[Integral] = []
        self._out: Integral | None = None
        self._zero: ZSet | None = None

    def _eval(self, *states: DataFrame) -> ZSet:
        raise NotImplementedError

    def step(self, *deltas: ZSet) -> ZSet:
        if self._out is None:
            zeros = [ZSet.empty(d.df) for d in deltas]
            self._ins = [Integral(z, self._every) for z in zeros]
            self._zero = ZSet.empty(self._eval(*(z.df for z in zeros)).df)
            self._out = Integral(self._zero, self._every)
        if all(d.is_empty for d in deltas):
            return self._zero
        # semi joins only: duplicate touched keys are harmless
        touched = reduce(
            DataFrame.unionByName,
            [
                d.df.select(*[F.col(k).alias(f"__t{i}") for i, k in enumerate(keys)])
                for d, keys in zip(deltas, self._in_keys)
            ],
        )
        for integ, d in zip(self._ins, deltas):
            integ.add(d)
        new = self._eval(
            *[
                ZSet(_join_on_keys(integ.value().df, keys, touched)).consolidate().df
                for integ, keys in zip(self._ins, self._in_keys)
            ]
        )
        # Diff against the stored output, never a re-evaluation of the
        # old state: ROW_NUMBER ties (TopK, windows) can break another
        # way on a re-evaluation, and the view's integral would then
        # drift from what was emitted.
        old = ZSet(_join_on_keys(self._out.value().df, self._out_keys, touched))
        delta = new.subtract(old).consolidate()
        # Materialize the delta once before storing it: it reads the
        # output integral's own raw batches, so appended lazily, batch
        # k's plan would contain batches 1..k-1 and double in size every
        # step until compaction.
        delta = _materialize(delta)
        self._out.add(delta)
        return delta

    def snapshot(self) -> DataFrame:
        if self._out is None:
            raise ValueError("no steps applied")
        return self._out.value().to_multiset_df()


class IncrementalFilterMap:
    """Linear view: SELECT <exprs> WHERE <cond> over one input.

    Linear operators commute with Z-set addition, so the output delta
    is just the operator applied to the input delta — no state."""

    def __init__(self, cols: list[Column] | None, cond: Column | None):
        self.cols = cols
        self.cond = cond

    def step(self, delta: ZSet) -> ZSet:
        z = delta
        if self.cond is not None:
            z = z.filter(self.cond)
        if self.cols is not None:
            z = z.map(*self.cols)
        return z


@dataclass(frozen=True)
class AggSpec:
    """One output aggregate column: kind ∈ {sum, count, avg};
    expr is the aggregated expression (None for COUNT(*))."""

    alias: str
    kind: str
    expr: Column | None = None


class IncrementalLinearAgg:
    """GROUP BY keys with linear aggregates (SUM / COUNT / AVG).

    State: one row per live key holding Σw (``__cnt``), Σ(expr·w) per
    SUM/AVG spec (``__s{i}``) and a non-null count per COUNT(col)/SUM/
    AVG spec (``__c{i}``; it tells a group with no non-null value, whose
    SQL SUM is NULL, from a genuine zero sum). A step:

    1. unions the state rows with the delta's weighted contribution
       rows and aggregates them in one ``groupBy(keys)``, one shuffle
       (groupBy puts NULL keys in one group, as SQL does). State rows
       feed the old and the new sums; delta rows feed the new sums and
       mark the group touched;
    2. checkpoints that merged frame, the step's one Spark action;
    3. emits, in-row, the old finished row (w=-1) and the new one
       (w=+1) of each touched group whose finished values changed;
       a group exists while Σw > 0;
    4. keeps the merged new sums as the next state.

    The state pass reads every group once, so a step costs |delta| +
    |groups|, not |integrated input|. A step with a ``ZSet.empty``
    delta runs no Spark job. The state is cut every step, so
    ``checkpoint_every`` (kept for the common operator signature)
    changes nothing here."""

    def __init__(
        self,
        keys: list[str],
        specs: list[AggSpec],
        cond: Column | None = None,
        checkpoint_every: int = 8,
    ):
        if not specs:
            raise ValueError("need at least one aggregate")
        self.keys = keys
        self.specs = specs
        self.cond = cond
        self._state: DataFrame | None = None  # keys + __cnt + per-spec sums
        self._zero: ZSet | None = None
        # the Columns of a step, built once at the first step (they name
        # columns only, so every step's frames can share them)
        self._contrib: list[Column] = []
        self._agg: list[Column] = []
        self._retract: tuple[Column, list[Column]] | None = None
        self._insert: tuple[Column, list[Column]] | None = None
        self._next_state: list[Column] = []

    # -- internal helpers -------------------------------------------------
    def _contribution_cols(self) -> list[Column]:
        """Per state column, a delta row's weighted contribution to that
        column's sum."""
        w = F.col(WEIGHT)
        cols = [w.alias("__cnt")]
        for i, s in enumerate(self.specs):
            if s.kind == "count" and s.expr is None:
                continue  # COUNT(*) reuses __cnt
            if s.kind != "count":
                cols.append((s.expr * w).alias(f"__s{i}"))
            cols.append(F.when(s.expr.isNotNull(), w).otherwise(F.lit(0)).alias(f"__c{i}"))
        return cols

    def _contributions(self, delta: ZSet) -> DataFrame:
        """The delta's rows as keys plus their contribution columns."""
        z = delta if self.cond is None else delta.filter(self.cond)
        return z.df.select(*self.keys, *self._contrib)

    def _finish(self, prefix: str) -> list[Column]:
        """Finished output columns, named by the specs, from state
        columns named {prefix}__cnt / {prefix}__s{i} / {prefix}__c{i}."""
        cols = []
        for i, s in enumerate(self.specs):
            if s.kind == "count" and s.expr is None:
                col = F.col(f"{prefix}__cnt")
            elif s.kind == "count":
                col = F.col(f"{prefix}__c{i}")
            elif s.kind == "sum":
                # the state keeps a sum NULL while its non-null count is 0
                col = F.col(f"{prefix}__s{i}")
            else:  # avg: NULL when no non-null values (guarded — ANSI
                # mode raises on the 0-divisor branch otherwise)
                col = F.when(
                    F.col(f"{prefix}__c{i}") > 0,
                    F.col(f"{prefix}__s{i}") / F.col(f"{prefix}__c{i}"),
                )
            cols.append(col)
        return cols

    def _row_cols(self, finished: list[Column], weight: int) -> list[Column]:
        named = [c.alias(s.alias) for c, s in zip(finished, self.specs)]
        return [*self.keys, *named, F.lit(weight).cast("long").alias(WEIGHT)]

    def _build(self, types: dict[str, str]) -> None:
        """The step's Columns. ``types`` maps each state column to the SQL
        type name of its sum, which every merge casts back to: a decimal
        sum over the state would otherwise widen every step."""
        # One row per group of the state or the delta: __touched, then
        # each state column's sum before (old…) and after (new…) the
        # delta, in the state's types.
        old = {c: F.sum(F.when(~F.col("__d"), F.col(c))).cast(t) for c, t in types.items()}
        new = {c: F.sum(c).cast(t) for c, t in types.items()}
        for i, s in enumerate(self.specs):
            if s.kind in ("sum", "avg"):
                # SQL: a group with no non-null value has a NULL sum,
                # also when its contributions cancel (+x then -x)
                new[f"__s{i}"] = F.when(new[f"__c{i}"] != 0, new[f"__s{i}"])
        self._agg = [
            F.max("__d").alias("__touched"),
            *[e.alias(f"old{c}") for c, e in old.items()],
            *[e.alias(f"new{c}") for c, e in new.items()],
        ]
        old_live = F.coalesce(F.col("old__cnt"), F.lit(0)) > 0
        new_live = F.col("new__cnt") > 0
        old_row, new_row = self._finish("old"), self._finish("new")
        same = reduce(operator.and_, [o.eqNullSafe(n) for o, n in zip(old_row, new_row)])
        # a touched group whose finished row is unchanged emits nothing:
        # its retraction and insertion would cancel
        changed = F.col("__touched") & ~(old_live & new_live & same)
        self._retract = (changed & old_live, self._row_cols(old_row, -1))
        self._insert = (changed & new_live, self._row_cols(new_row, 1))
        self._next_state = [*self.keys, *[F.col(f"new{c}").alias(c) for c in types]]

    def _merged(self, delta: ZSet) -> DataFrame:
        """One aggregate over state ∪ contribution rows, so one shuffle."""
        rows = self._state.withColumn("__d", F.lit(False)).unionByName(
            self._contributions(delta).withColumn("__d", F.lit(True))
        )
        return rows.groupBy(*self.keys).agg(*self._agg)

    # -- the operator ------------------------------------------------------
    def step(self, delta: ZSet) -> ZSet:
        if self._state is None:
            # the empty state fixes each state column's type as its sum's type
            self._contrib = self._contribution_cols()
            contrib = self._contributions(delta)
            self._state = contrib.groupBy(*self.keys).agg(
                *[F.sum(c).alias(c) for c in contrib.columns[len(self.keys):]]
            ).limit(0)
            sums = self._state.schema.fields[len(self.keys):]
            # as SQL type names: a cast to a name is one call to the JVM
            self._build({f.name: f.dataType.simpleString() for f in sums})
            self._zero = ZSet.empty(self._state.select(*self._row_cols(self._finish(""), 1)))
        if delta.is_empty:
            return self._zero
        merged = self._merged(delta).localCheckpoint(eager=False)
        (retract_if, retract), (insert_if, insert) = self._retract, self._insert
        self._state = merged.where(F.col("new__cnt") != 0).select(*self._next_state)
        return ZSet(
            merged.where(retract_if).select(*retract).unionByName(
                merged.where(insert_if).select(*insert)
            )
        )

    def snapshot(self) -> DataFrame:
        if self._state is None:
            raise ValueError("no steps applied")
        live = self._state.where(F.col("__cnt") > 0)
        return live.select(*self._row_cols(self._finish(""), 1)).drop(WEIGHT)


class IncrementalJoin:
    """Two-input equi-join maintained by the bilinear delta rule;
    output payload is an arbitrary projection of the joined row. Each
    side's state is an :class:`Integral`, read unconsolidated;
    ``checkpoint_every`` is its compaction cadence."""

    def __init__(self, on: Column, project: list[Column] | None = None, checkpoint_every: int = 8):
        self.on = on
        self.project = project
        self._a: Integral | None = None
        self._b: Integral | None = None
        self._checkpoint_every = checkpoint_every

    def step(self, da: ZSet, db: ZSet) -> ZSet:
        return self.step_unconsolidated(da, db).consolidate()

    def step_unconsolidated(self, da: ZSet, db: ZSet) -> ZSet:
        """``step``'s output delta before its consolidate: a valid Z-set
        whose equal rows are not yet merged, for a consumer that sums
        weights anyway (a linear aggregate)."""
        if self._a is None:
            self._a = Integral(ZSet.empty(da.df), self._checkpoint_every)
            self._b = Integral(ZSet.empty(db.df), self._checkpoint_every)
        out = incremental_join(self._a.value(), da, self._b.value(), db, self.on)
        self._a.add(da)
        self._b.add(db)
        if self.project is not None:
            out = out.map(*self.project)
        return out


class IncrementalSemiAnti:
    """Decorrelated [NOT] EXISTS / IN-subquery: ``A ⋉ D`` (semi) or
    ``A ▷ D`` (anti) where ``D = distinct(π_keys σ B)`` is a maintained
    distinct key set (reference: CalciteToDBSPCompiler.java:213
    ``visitCorrelate`` — correlated subqueries decorrelate to
    join-shaped circuits; the semi join is bilinear in (A, D) so the
    standard delta rule applies, and anti is the linear difference
    ``ΔA − Δsemi``).

    ``step`` takes the A-side delta (full payload) and the B-side
    *key* delta (columns named ``__k0..__kn``, raw multiplicities —
    the distinct is maintained internally). NULL keys never match the
    plain-equality join, which is exactly SQL's ``=`` correlation
    semantics: a NULL correlation value makes EXISTS false (excluded
    from semi, included in anti). Per-step cost ∝ |ΔA| + |ΔD|; at
    scale both states are bucketed on the key so each delta term is a
    bucket-local equi-join.
    """

    def __init__(self, keys_a: list[str], anti: bool = False, checkpoint_every: int = 8):
        self.keys_a = list(keys_a)
        self.anti = anti
        self._dist = IncrementalDistinct(checkpoint_every=checkpoint_every)
        self._checkpoint_every = checkpoint_every
        self._a: Integral | None = None  # integrated A (post outer filter)
        self._d: Integral | None = None  # integrated distinct key set

    def step(self, da: ZSet, dkeys: ZSet) -> ZSet:
        if self._a is None:
            self._a = Integral(ZSet.empty(da.df), self._checkpoint_every)
            self._d = Integral(ZSet.empty(dkeys.df), self._checkpoint_every)
        if da.is_empty and dkeys.is_empty:
            return ZSet.empty(da.df)
        dd = self._dist.step(dkeys.consolidate())
        on = None
        for i, k in enumerate(self.keys_a):
            eq = F.col(k) == F.col(f"__k{i}")
            on = eq if on is None else (on & eq)
        payload = [c for c in da.df.columns if c != WEIGHT]
        # Δ(A⋉D) = ΔA⋈D_old + A_old⋈ΔD + ΔA⋈ΔD; both states are
        # unconsolidated sums, which the join distributes over
        dsemi = incremental_join(self._a.value(), da, self._d.value(), dd, on)
        dsemi = dsemi.map(*[F.col(c) for c in payload]).consolidate()
        self._a.add(da)
        self._d.add(dd)
        if self.anti:
            return da.subtract(dsemi).consolidate()
        return dsemi


class IncrementalRangeSemiAnti(_TouchedKeyRecompute):
    """Decorrelated [NOT] EXISTS whose correlation carries a NON-EQUI
    residual — ``EXISTS (SELECT 1 FROM B WHERE B.k = A.k AND
    B.ts < A.ts [AND resid])`` (reference:
    CalciteToDBSPCompiler.java:213 ``visitCorrelate`` decorrelates
    these to join-shaped circuits with a residual condition).

    Existence under a residual predicate is NOT bilinear in (A, B):
    retracting a B row flips an outer row's EXISTS only when no OTHER
    key-mate satisfies the predicate, so IncrementalSemiAnti's
    delta-rule semi-join does not apply. Maintained instead by
    *touched-key recompute* (the IncrementalKeyedNotIn pattern): keep
    integrated A, integrated B (correlation keys + the predicate's B
    columns), and the stored output; a step re-evaluates the
    predicate join only for correlation keys present in either delta
    and diffs against the stored rows of those keys.

    ``step`` takes the A delta (full payload) and the B delta
    projected to ``__k0..__kn`` + ``__b_<col>`` predicate columns.
    ``pred`` is a SQL boolean over A's natural column names and the
    ``__b_``-prefixed B columns. Equality on the keys is null-unsafe
    ``=`` (SQL correlation semantics: NULL keys make EXISTS false —
    excluded from semi, included in anti). Per-step cost ∝
    Σ size(touched key groups) on both sides; at scale all three
    states are bucketed on the correlation key, so the recompute is a
    bucket-local join."""

    def __init__(
        self,
        keys_a: list[str],
        pred: str,
        anti: bool = False,
        checkpoint_every: int = 8,
    ):
        self.keys_a = list(keys_a)
        self.pred = pred
        self.anti = anti
        b_keys = [f"__k{i}" for i in range(len(self.keys_a))]
        super().__init__([self.keys_a, b_keys], self.keys_a, checkpoint_every)

    def _eval(self, a: DataFrame, b: DataFrame) -> ZSet:
        # existence is over the SUPPORT of integrated B
        b_pos = b.where(F.col(WEIGHT) > 0).drop(WEIGHT)
        cond = _eq_keys(a, self.keys_a, b_pos, self._in_keys[1]) & F.expr(self.pred)
        return ZSet(a.join(b_pos, cond, "left_anti" if self.anti else "leftsemi"))


class IncrementalRangeScalarAgg(_TouchedKeyRecompute):
    """Range-correlated SCALAR AGGREGATE subquery — ``SELECT a.*,
    (SELECT agg(b.v) FROM b WHERE b.k = a.k AND b.ts < a.ts) FROM a``
    (the "latest-before"/as-of aggregation shape; reference
    visitCorrelate decorrelates it to an aggregate-join circuit).

    The aggregate's group is defined per OUTER ROW (the range makes
    each A row see a different B slice), so the keyed aggregate-then-
    outer-join circuit of _ScalarSubqueryOp does not apply; maintained
    by touched-key recompute over integrated A, integrated B
    (__k keys, __b_ predicate columns, __arg), and the stored output.

    Weighted-exact: SUM/COUNT/AVG aggregate B with its Z-set weights
    (SUM(arg·w), SUM(w)); MIN/MAX over the positive support. SQL
    scalar semantics on empty match: COUNT → 0, others → NULL. Output
    groups identical A rows, so duplicate outer rows consolidate with
    summed weights — the same multiset."""

    def __init__(
        self,
        keys_a: list[str],
        pred: str,
        fn: str,
        alias: str,
        star: bool = False,
        checkpoint_every: int = 8,
    ):
        self.keys_a = list(keys_a)
        self.pred = pred
        self.fn = fn.lower()
        self.alias = alias
        self.star = star  # COUNT(*) — no __arg column projected
        b_keys = [f"__k{i}" for i in range(len(self.keys_a))]
        super().__init__([self.keys_a, b_keys], self.keys_a, checkpoint_every)

    def _agg_col(self) -> Column:
        w = F.col("__bw")
        if self.fn == "count":
            # NULL args don't count; empty/unmatched → 0 (SQL scalar
            # COUNT over an empty set is 0, not NULL)
            base = w if self.star else F.when(F.col("__arg").isNotNull(), w)
            return F.coalesce(F.sum(base), F.lit(0)).cast("long")
        if self.fn == "sum":
            return F.sum(F.col("__arg") * w)
        if self.fn == "avg":
            return F.sum(F.col("__arg") * w) / F.sum(
                F.when(F.col("__arg").isNotNull(), w)
            )
        if self.fn == "min":
            return F.min("__arg")
        return F.max("__arg")

    def _eval(self, a: DataFrame, b: DataFrame) -> ZSet:
        b_c = b.withColumnRenamed(WEIGHT, "__bw")
        if self.fn in ("min", "max"):
            b_c = b_c.where(F.col("__bw") > 0)  # the positive support
        cond = _eq_keys(a, self.keys_a, b_c, self._in_keys[1]) & F.expr(self.pred)
        a_cols = [c for c in a.columns if c != WEIGHT]
        return ZSet(
            a.join(b_c, cond, "left")
            .groupBy(*[a[c] for c in a_cols], a[WEIGHT])
            .agg(self._agg_col().alias(self.alias))
            .select(*a_cols, self.alias, WEIGHT)
        )


class IncrementalNullAwareNotIn:
    """NULL-aware ``x NOT IN (SELECT y FROM B …)`` with full SQL
    three-valued logic (the reason plain anti-join is wrong):

    - B empty            → every A row passes (even x IS NULL),
    - B contains NULL y  → NO row passes (x=NULL comparisons make the
      predicate UNKNOWN at best),
    - otherwise          → rows with x IS NOT NULL and x ∉ y-set.

    Algebraically ``O = E·A + N·(A' ▷ K)`` with scalar indicators
    ``E = [B = ∅]`` and ``N = [B ≠ ∅ ∧ no NULL y]``, ``A' = σ_{x NOT
    NULL} A`` and ``K = distinct non-null y`` (the reference compiles
    NOT IN through the same guarded-subquery expansion — a count
    aggregate joined as a scalar gating an anti join). Both products
    are bilinear, so the delta rule ``Δ(U·V) = ΔU·V_new + U_old·ΔV``
    applies. E and N depend only on B's total weight and NULL-key
    weight, which are linear in B: the operator keeps both as driver
    integers, adding one collected 1-row sum per B delta, so each
    scalar product is decided in Python and a zero term never reaches
    Spark. Mode flips (E or N changing) legitimately retract/insert
    the whole affected side — that IS the delta of the view.
    Per-step cost is ∝ |delta| while modes are stable."""

    def __init__(self, key_a: str, checkpoint_every: int = 8):
        self.key_a = key_a
        self._anti = IncrementalSemiAnti(keys_a=[key_a], anti=True,
                                         checkpoint_every=checkpoint_every)
        self._checkpoint_every = checkpoint_every
        self._a: Integral | None = None  # integrated full A (incl. NULL x)
        self._anti_int: Integral | None = None  # integral of the anti output
        self._tot = 0  # Σw of integrated B
        self._nulls = 0  # Σw of its NULL y rows

    def _modes(self) -> tuple[int, int]:
        """The indicators (E, N) of the integrated B."""
        return int(self._tot == 0), int(self._tot > 0 and self._nulls == 0)

    def step(self, da: ZSet, db: ZSet) -> ZSet:
        """``da``: full A-side delta (outer WHERE applied); ``db``:
        B-side delta of the compared column, named ``__k0``."""
        if self._a is None:
            self._a = Integral(ZSet.empty(da.df), self._checkpoint_every)
            self._anti_int = Integral(ZSet.empty(da.df), self._checkpoint_every)
        if da.is_empty and db.is_empty:
            return ZSet.empty(da.df)
        e_old, n_old = self._modes()
        if not db.is_empty:
            w = F.col(WEIGHT)
            tot, nulls = db.df.agg(
                F.coalesce(F.sum(w), F.lit(0)),
                F.coalesce(F.sum(F.when(F.col("__k0").isNull(), w)), F.lit(0)),
            ).first()
            self._tot += tot
            self._nulls += nulls
        e_new, n_new = self._modes()

        danti = self._anti.step(
            da.filter(F.col(self.key_a).isNotNull()), db.filter(F.col("__k0").isNotNull())
        )
        self._a.add(da)
        self._anti_int.add(danti)
        terms = [
            (e_new - e_old, self._a.value()),  # ΔE · A_new
            (e_old, da),  # E_old · ΔA
            (n_new - n_old, self._anti_int.value()),  # ΔN · ANTI_new
            (n_old, danti),  # N_old · Δanti
        ]
        out = ZSet.empty(da.df)
        for s, z in terms:
            if s:
                out = out.add(z if s > 0 else z.neg())
        return out.consolidate()


class IncrementalKeyedNotIn(_TouchedKeyRecompute):
    """CORRELATED NULL-aware ``x NOT IN (SELECT y FROM B WHERE B.k =
    A.k [AND resid])``: the empty/has-NULL mode indicators are per
    correlation key, so the global scalar product of
    :class:`IncrementalNullAwareNotIn` doesn't apply. Maintained by
    *touched-key recompute*: keep integrated A, integrated B pairs
    and the stored output; a step recomputes the predicate only for
    correlation keys present in either delta and diffs against the
    stored rows for those keys.

    Semantics per A row (key k, value x), S_k = {y : B.k = k}:
    S_k empty → row passes (also when k IS NULL — ``=`` correlation
    never matches); S_k containing NULL y → row fails; otherwise
    pass iff x IS NOT NULL and x ∉ S_k. Per-step cost ∝ |delta| +
    Σ size(touched key groups); at scale all three states are
    bucketed on the correlation key."""

    def __init__(self, val_a: str, corr_a: list[str], checkpoint_every: int = 8):
        self.val_a = val_a
        self.corr_a = list(corr_a)
        b_keys = [f"__k{i}" for i in range(len(self.corr_a))]
        super().__init__([self.corr_a, b_keys], self.corr_a, checkpoint_every)

    def _eval(self, a_t: DataFrame, b_t: DataFrame) -> ZSet:
        """Predicate over the touched restriction: A rows (weighted)
        that pass NOT IN vs the B pairs, all joins plain-equality."""
        zero = F.lit(0).cast("long")
        n = len(self.corr_a)
        bagg = b_t.groupBy(*[f"__k{i}" for i in range(n)]).agg(
            F.sum(WEIGHT).alias("__tot"),
            F.sum(F.when(F.col("__v").isNull(), F.col(WEIGHT)).otherwise(zero)).alias("__nulls"),
        )
        bagg = bagg.select(
            *[F.col(f"__k{i}").alias(f"__bk{i}") for i in range(n)], "__tot", "__nulls"
        )
        bkeys = [f"__bk{i}" for i in range(n)]
        j = a_t.join(bagg, _eq_keys(a_t, self.corr_a, bagg, bkeys), "left")

        pairs = (
            b_t.where(F.col("__v").isNotNull())
            .groupBy(*[f"__k{i}" for i in range(n)], "__v")
            .agg(F.sum(WEIGHT).alias("__m"))
            .where(F.col("__m") > 0)
            .select(
                *[F.col(f"__k{i}").alias(f"__pk{i}") for i in range(n)],
                F.col("__v").alias("__pv"),
                F.lit(1).alias("__hit"),
            )
        )
        pkeys = [f"__pk{i}" for i in range(n)]
        pcond = (a_t[self.val_a] == pairs["__pv"]) & _eq_keys(a_t, self.corr_a, pairs, pkeys)
        j = j.join(pairs, pcond, "left")

        payload = [c for c in a_t.columns if c != WEIGHT]
        tot = F.coalesce(F.col("__tot"), zero)
        nulls = F.coalesce(F.col("__nulls"), zero)
        passes = (tot == 0) | (
            (nulls == 0) & F.col(self.val_a).isNotNull() & F.col("__hit").isNull()
        )
        return ZSet(j.where(passes).select(*payload, WEIGHT))


class IncrementalDistinct:
    """DBSPIncrementalDistinctOperator: maintain per-row multiplicity;
    emit +1 when a row's weight crosses 0→positive, -1 on positive→0.

    State is the :class:`Integral` of the input deltas: a payload's
    multiplicity is its integrated weight. A step reads only the
    payloads present in the delta (null-safe semi join on the payload
    columns — bucketed state at scale)."""

    def __init__(self, checkpoint_every: int = 8):
        self._checkpoint_every = checkpoint_every
        self._mult: Integral | None = None

    def step(self, delta: ZSet) -> ZSet:
        if self._mult is None:
            self._mult = Integral(ZSet.empty(delta.df), self._checkpoint_every)
        if delta.is_empty:
            return delta
        payload = [c for c in delta.df.columns if c != WEIGHT]
        old = _join_on_keys(self._mult.value().df, payload, delta.df.select(*payload))
        m = _weights_by_payload(payload, {"__old": old, "__d": delta.df})
        new = F.col("__old") + F.col("__d")
        out = m.where(
            ((F.col("__old") > 0) & (new <= 0)) | ((F.col("__old") <= 0) & (new > 0))
        ).select(
            *payload,
            F.when(new > 0, F.lit(1)).otherwise(F.lit(-1)).cast("long").alias(WEIGHT),
        )
        self._mult.add(delta)
        return _materialize(ZSet(out))


class IncrementalSetOp:
    """EXCEPT / EXCEPT ALL / INTERSECT / INTERSECT ALL maintained with
    per-step cost ∝ |delta| (reference DBSPSubtractOperator composed
    with DBSPDistinctOperator — sqlCompiler lowers EXCEPT to
    subtract∘distinct and INTERSECT to a self-join of distincts; here
    both collapse into one multiplicity-state operator).

    State: the :class:`Integral` of each input's deltas, whose weights
    are the integrated multiplicities ma and mb. The output
    multiplicity is a pure function of (ma, mb):

    - ``except``:        1 if ma>0 and mb<=0 else 0
    - ``except_all``:    max(0, ma - mb)
    - ``intersect``:     1 if ma>0 and mb>0 else 0
    - ``intersect_all``: max(0, min(ma, mb))

    A step reads only payloads present in either delta (null-safe semi
    join on the payload columns — bucketed state at scale) and emits
    the change in output multiplicity as the output delta."""

    KINDS = ("except", "except_all", "intersect", "intersect_all")

    def __init__(self, kind: str, checkpoint_every: int = 8):
        if kind not in self.KINDS:
            raise ValueError(f"kind must be one of {self.KINDS}")
        self.kind = kind
        self._checkpoint_every = checkpoint_every
        self._ma: Integral | None = None
        self._mb: Integral | None = None

    def _out_mult(self, ma: Column, mb: Column) -> Column:
        if self.kind == "except":
            return F.when((ma > 0) & (mb <= 0), F.lit(1)).otherwise(F.lit(0))
        if self.kind == "except_all":
            return F.greatest(ma - mb, F.lit(0))
        if self.kind == "intersect":
            return F.when((ma > 0) & (mb > 0), F.lit(1)).otherwise(F.lit(0))
        return F.greatest(F.least(ma, mb), F.lit(0))  # intersect_all

    def step(self, da: ZSet, db: ZSet) -> ZSet:
        payload = [c for c in da.df.columns if c != WEIGHT]
        b_payload = [c for c in db.df.columns if c != WEIGHT]
        # positional set-op column matching
        db = ZSet(db.df.select(*b_payload, WEIGHT).toDF(*payload, WEIGHT), db.is_empty)
        if self._ma is None:
            self._ma = Integral(ZSet.empty(da.df), self._checkpoint_every)
            self._mb = Integral(ZSet.empty(db.df), self._checkpoint_every)
        if da.is_empty and db.is_empty:
            return ZSet.empty(da.df)
        touched = da.df.select(*payload).unionByName(db.df.select(*payload))
        m = _weights_by_payload(
            payload,
            {
                "__oa": _join_on_keys(self._ma.value().df, payload, touched),
                "__ob": _join_on_keys(self._mb.value().df, payload, touched),
                "__da": da.df,
                "__db": db.df,
            },
        )
        old_out = self._out_mult(F.col("__oa"), F.col("__ob"))
        new_out = self._out_mult(F.col("__oa") + F.col("__da"), F.col("__ob") + F.col("__db"))
        out = (
            m.withColumn(WEIGHT, (new_out - old_out).cast("long"))
            .where(F.col(WEIGHT) != 0)
            .select(*payload, WEIGHT)
        )
        self._ma.add(da)
        self._mb.add(db)
        return _materialize(ZSet(out))


class IncrementalGroupRecomputeAgg(_TouchedKeyRecompute):
    """Non-linear grouped aggregates (MIN/MAX/arbitrary) maintained by
    *affected-group recompute* — the reference's strategy for
    aggregates without a subtraction rule (DBSPAggregateOperator over
    an indexed Z-set): keep the integrated input per group; on a
    delta, recompute ONLY the groups the delta touches and emit
    retract/insert rows against the previous aggregate state.

    Per-step cost ∝ |delta| + Σ size(touched groups) — independent of
    the number of untouched groups. At scale both states are bucketed
    on the keys, so the touched-group filter is a bucket-pruned
    equi-join, never a full scan."""

    def __init__(
        self,
        keys: list[str],
        aggs: list[Column],  # aggregate expressions WITH aliases
        cond: Column | None = None,
        checkpoint_every: int = 8,
    ):
        self.keys = keys
        self.aggs = aggs
        self.cond = cond
        super().__init__([keys], keys, checkpoint_every)

    def _eval(self, state: DataFrame) -> ZSet:
        return ZSet.from_df(ZSet(state).to_multiset_df().groupBy(*self.keys).agg(*self.aggs))

    def step(self, delta: ZSet) -> ZSet:
        return super().step(delta if self.cond is None else delta.filter(self.cond))


class IncrementalMixedAgg:
    """GROUP BY keys mixing linear aggregates (SUM/COUNT/AVG) with one
    or more COUNT(DISTINCT col) items. The reference expands distinct
    aggregates into separate grouped branches re-joined on the keys
    (Calcite AggregateExpandDistinctAggregatesRule feeding
    DBSPAggregateOperator circuits); the incremental analogue here:

    - one :class:`IncrementalLinearAgg` state for the plain items
      (plus a hidden COUNT(*) when there are none — it also decides
      group existence, Σw > 0),
    - per distinct item, an :class:`IncrementalDistinct` multiplicity
      state over (keys, col) feeding an :class:`IncrementalLinearAgg`
      COUNT(col) — the same distinct→count composition the sole-
      distinct circuit uses,
    - the output delta is a touched-key recombination: retract the
      pre-step joined row, insert the post-step joined row, consolidate
      (unchanged groups cancel).

    Per-step cost ∝ |delta| + |touched keys| state joins, plus each
    linear aggregate's pass over its groups; the integrated input is
    never re-read. All joins are null-safe (NULL keys
    form one SQL group); absent distinct branches coalesce to 0
    (COUNT(DISTINCT col) of an all-NULL group is 0, but the group
    itself still exists)."""

    def __init__(
        self,
        keys: list[str],
        plain_specs: list[AggSpec],
        dist_items: "list[tuple[str, str]]",  # (arg column, output alias)
        cond: Column | None = None,
    ):
        if not dist_items:
            raise ValueError("need at least one COUNT(DISTINCT) item")
        self.keys = keys
        self.cond = cond
        self._hidden_exist = not plain_specs
        specs = plain_specs or [AggSpec("__exist", "count")]
        self.plain = IncrementalLinearAgg(keys=keys, specs=specs)
        self.branches = [
            (arg, alias, IncrementalDistinct(), IncrementalLinearAgg(
                keys=keys, specs=[AggSpec(alias, "count", F.col(arg))]
            ))
            for arg, alias in dist_items
        ]
        self._stepped = False

    def _combined(self, touched: "DataFrame | None" = None) -> DataFrame:
        """Current view rows: plain snapshot (group existence) left-
        joined with each distinct-count branch snapshot, null-safely.
        With ``touched``, the base is restricted FIRST so the branch
        joins only process affected keys (bucket-pruned at scale)."""
        out = self.plain.snapshot()
        if touched is not None:
            out = _join_on_keys(out, self.keys, touched)
        cols = [c for c in out.columns]
        for i, (_arg, alias, _dist, cnt) in enumerate(self.branches):
            snap = cnt.snapshot().select(
                *[F.col(k).alias(f"__b{i}k{j}") for j, k in enumerate(self.keys)],
                F.col(alias).alias(f"__b{i}v"),
            )
            cond = None
            for j, k in enumerate(self.keys):
                eq = out[k].eqNullSafe(snap[f"__b{i}k{j}"])
                cond = eq if cond is None else cond & eq
            out = out.join(snap, cond, "left").select(
                *[out[c] for c in cols],
                F.coalesce(snap[f"__b{i}v"], F.lit(0).cast("long")).alias(alias),
            )
            cols.append(alias)
        if self._hidden_exist:
            out = out.drop("__exist")
        return out

    def step(self, delta: ZSet) -> ZSet:
        z = delta if self.cond is None else delta.filter(self.cond)
        z = z.consolidate()
        touched = z.df.select(*self.keys).distinct()
        # DataFrames are immutable plans: the pre-step combined view
        # stays valid (lazily) after the branch states advance.
        old_rows = self._combined(touched) if self._stepped else None
        self.plain.step(z)
        for arg, _alias, dist, cnt in self.branches:
            zi = ZSet(z.df.select(*self.keys, arg, WEIGHT)).consolidate()
            cnt.step(dist.step(zi))
        self._stepped = True
        new_rows = self._combined(touched)
        if old_rows is None:
            return ZSet.from_df(new_rows)
        return ZSet.from_df(new_rows).subtract(ZSet.from_df(old_rows)).consolidate()

    def snapshot(self) -> DataFrame:
        if not self._stepped:
            raise ValueError("no steps applied")
        return self._combined()


class IncrementalOuterJoin(_TouchedKeyRecompute):
    """LEFT/RIGHT/FULL OUTER equi-join maintained by *touched-key
    recompute* (reference: outer joins lower to join + antijoin-derived
    null-padding circuits, DBSPStreamJoinOperator plus the
    LeftJoin/RightJoin rewrites in CalciteToDBSPCompiler.java; we
    maintain the composed result directly). Outer joins are not
    bilinear — a single right-side insert can retract a null-extended
    left row — so the delta rule of :class:`IncrementalJoin` does not
    apply. Instead: keep both integrated inputs; on a step, the
    touched keys are the join-key values present in either delta;
    recompute the outer join restricted to touched keys and diff
    against the stored output rows for those keys. The touched-key
    restriction is null-safe: NULL join keys never *match* (plain
    equality in the join) but a NULL-keyed left insert still changes
    the null-extended output, so it must reach the recompute.

    Per-step cost ∝ |delta| + Σ size(touched key groups). At scale both
    input states and the output are bucketed on the join key, so every
    touched-key restriction is a bucket-pruned leftsemi join and the
    recompute join shuffles nothing that AQE can't broadcast.

    Inputs are multisets (all weights ≥ 0 after consolidation), the
    reference's outer-join precondition too — its outer-join circuits
    sit downstream of distinct/input streams."""

    def __init__(
        self,
        key_a: str | list[str],
        key_b: str | list[str],
        project: list[Column],
        how: str = "left",
        checkpoint_every: int = 8,
    ):
        if how not in ("left", "right", "full"):
            raise ValueError(f"how must be left/right/full: {how!r}")
        self.keys_a = [key_a] if isinstance(key_a, str) else list(key_a)
        self.keys_b = [key_b] if isinstance(key_b, str) else list(key_b)
        if len(self.keys_a) != len(self.keys_b) or not self.keys_a:
            raise ValueError("key lists must be same non-zero length")
        self.project = project
        self.how = how
        self._jks = [f"__jk{i}" for i in range(len(self.keys_a))]
        super().__init__([self.keys_a, self.keys_b], self._jks, checkpoint_every)

    def _eval(self, a: DataFrame, b: DataFrame) -> ZSet:
        am = ZSet(a).to_multiset_df()
        bm = ZSet(b).to_multiset_df()
        joined = am.join(bm, _eq_keys(am, self.keys_a, bm, self.keys_b), self.how)
        jks = [
            (
                F.col(ka)
                if self.how == "left"
                else F.col(kb)
                if self.how == "right"
                else F.coalesce(F.col(ka), F.col(kb))
            ).alias(j)
            for ka, kb, j in zip(self.keys_a, self.keys_b, self._jks)
        ]
        return ZSet.from_df(joined.select(*self.project, *jks))

    def step(self, da: ZSet, db: ZSet) -> ZSet:
        delta = super().step(da, db)
        payload = [c for c in delta.df.columns if c not in self._jks and c != WEIGHT]
        return delta.map(*[F.col(c) for c in payload]).consolidate()

    def snapshot(self) -> DataFrame:
        return super().snapshot().drop(*self._jks)


class IncrementalTopK(_TouchedKeyRecompute):
    """Per-group TopK maintained incrementally (reference:
    DBSPIndexedTopKOperator / window-based TopK circuits): keep the
    integrated input; on a delta, recompute the TopK of only the
    touched groups (ROW_NUMBER over the group's rows) and emit
    retract/insert against the stored TopK rows. Rank changes inside
    a group surface as paired retract+insert of the shifted rows."""

    def __init__(
        self,
        keys: list[str],
        order: list[Column],
        k: int,
        rank_alias: str = "rn",
        checkpoint_every: int = 8,
    ):
        from pyspark.sql.window import Window

        self.keys = keys
        self.order = order
        self.k = k
        self.rank_alias = rank_alias
        self._win = Window.partitionBy(*keys).orderBy(*order)
        super().__init__([keys], keys, checkpoint_every)

    def _eval(self, state: DataFrame) -> ZSet:
        return ZSet.from_df(
            ZSet(state)
            .to_multiset_df()
            .withColumn(self.rank_alias, F.row_number().over(self._win).cast("bigint"))
            .where(F.col(self.rank_alias) <= self.k)
        )


class IncrementalPartitionedWindow(_TouchedKeyRecompute):
    """Window-function views — ROW_NUMBER/RANK/DENSE_RANK/LAG/LEAD/
    NTILE and SUM/COUNT/AVG/MIN/MAX OVER (PARTITION BY … ORDER BY …) —
    maintained by *affected-partition recompute* (reference:
    circuit/operator/DBSPWindowAggregateOperator.java,
    DBSPPartitionedRollingAggregateOperator.java: DBSP evaluates
    window operators over the per-key indexed Z-set, touching only
    keys present in the delta).

    Integrate the input; on each delta recompute the full select list
    (passthrough columns + window expressions) over ONLY the
    partitions the delta touches, then emit retract/insert rows
    against the previous output of those partitions. Per-step cost ∝
    |delta| + Σ size(touched partitions) — a view with LAG over
    millions of small device partitions pays for the touched devices,
    never the whole state. At 100 TB both states are bucketed on the
    partition keys so the touched-partition reads are bucket-pruned
    equi-joins."""

    def __init__(
        self,
        part_keys: list[str],
        select_items: list[str],  # full select list, window fns included
        cond: Column | None = None,
        checkpoint_every: int = 8,
    ):
        self.part_keys = part_keys
        self.select_items = select_items
        self.cond = cond
        super().__init__([part_keys], part_keys, checkpoint_every)

    def _eval(self, state: DataFrame) -> ZSet:
        return ZSet.from_df(ZSet(state).to_multiset_df().selectExpr(*self.select_items))

    def step(self, delta: ZSet) -> ZSet:
        return super().step(delta if self.cond is None else delta.filter(self.cond))
