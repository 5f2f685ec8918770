"""Z-set (weighted multiset) algebra — DBSP's change-stream data model
expressed over DataFrames.

The reference evaluates every view over Z-sets: a relation is a
mapping row → integer weight, inserts are +1, deletes are -1, and the
incremental operators are defined by how they commute with weighted
addition (reference: circuit/operator/DBSPNegateOperator.java,
DBSPSumOperator.java, DBSPDifferentialOperator.java,
DBSPIntegralOperator.java, DBSPDistinctOperator.java; the lib/ Rust
runtime calls this a ZSet).

Here a Z-set is a DataFrame with a `__weight` long column. Linear
operators (map/filter/flatmap/±/join) are plain DataFrame ops on the
payload columns with weight bookkeeping — they never consolidate, so
chains stay shuffle-free until a `consolidate()`/`distinct()` forces
a groupBy. That mirrors DBSP's laziness and is exactly the plan shape
you want at scale: one consolidation shuffle at the end instead of
one per operator.

Integrated state is an :class:`Integral`: raw batches that a step
appends to, merged every ``checkpoint_every`` adds into consolidated
runs kept by size class (a geometric spine, as in an LSM tree), so a
step's Spark work follows its delta, not the state size.
``ZSet.empty`` is the statically empty Z-set; joins and sums skip it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WEIGHT = "__weight"


@dataclass(frozen=True)
class ZSet:
    df: DataFrame  # payload columns + WEIGHT column
    # True only for a Z-set built by ``ZSet.empty``: statically empty,
    # so ``add``/``join`` (and ``Integral.add``) skip it in Python.
    is_empty: bool = False

    # ---- constructors -------------------------------------------------
    @staticmethod
    def from_df(df: DataFrame, weight: int = 1) -> "ZSet":
        return ZSet(df.withColumn(WEIGHT, F.lit(weight).cast("long")))

    @staticmethod
    def empty(like: DataFrame) -> "ZSet":
        """The zero Z-set with ``like``'s columns. ``limit(0)`` makes the
        emptiness visible to Catalyst (the plan folds to an empty local
        relation, and joins/aggregates over it are pruned); an empty
        ``createDataFrame`` alone is an opaque RDD scan."""
        return ZSet(like.limit(0), is_empty=True)

    # ---- linear operators (no consolidation, no shuffle) --------------
    def neg(self) -> "ZSet":
        """DBSPNegateOperator: w → -w."""
        return ZSet(self.df.withColumn(WEIGHT, -F.col(WEIGHT)), self.is_empty)

    def add(self, other: "ZSet") -> "ZSet":
        """DBSPSumOperator: Z-set addition = unionAll of weighted rows."""
        # an empty left side still unions (Catalyst drops it): the sum
        # must stay in self's session, whose temp views the naive path
        # reads (a foreachBatch delta lives in a cloned session)
        if other.is_empty:
            return self
        return ZSet(self.df.unionByName(other.df))

    def subtract(self, other: "ZSet") -> "ZSet":
        """DBSPSubtractOperator: a + (-b)."""
        return self.add(other.neg())

    def map(self, *cols: Column) -> "ZSet":
        """DBSPMapOperator on payload columns (weight preserved)."""
        return ZSet(self.df.select(*cols, F.col(WEIGHT)), self.is_empty)

    def filter(self, cond: Column) -> "ZSet":
        """DBSPFilterOperator."""
        return ZSet(self.df.where(cond), self.is_empty)

    def flat_map(self, col: Column, alias: str) -> "ZSet":
        """DBSPFlatMapOperator: explode an array payload column."""
        payload = [c for c in self.df.columns if c != WEIGHT]
        return ZSet(self.df.select(*payload, F.explode(col).alias(alias), F.col(WEIGHT)))

    def flat_map_ordinal(self, col: Column, alias: str, ord_alias: str) -> "ZSet":
        """DBSPFlatMapOperator for UNNEST WITH ORDINALITY: explode an
        array payload column keeping the 1-based element index
        (reference doc/sql/array.rst; still linear — each output row
        inherits its source weight)."""
        payload = [c for c in self.df.columns if c != WEIGHT]
        return ZSet(
            self.df.select(
                *payload, F.posexplode(col).alias("__pos", alias), F.col(WEIGHT)
            )
            .withColumn(ord_alias, (F.col("__pos") + 1).cast("bigint"))
            .select(*payload, alias, ord_alias, WEIGHT)
        )

    def join(self, other: "ZSet", on: Column) -> "ZSet":
        """DBSPJoinOperator: weights multiply (bilinear)."""
        a = self.df.withColumnRenamed(WEIGHT, "__wa")
        b = other.df.withColumnRenamed(WEIGHT, "__wb")
        joined = a.join(b, on)
        out = joined.withColumn(WEIGHT, F.col("__wa") * F.col("__wb")).drop("__wa", "__wb")
        return ZSet.empty(out) if self.is_empty or other.is_empty else ZSet(out)

    # ---- nonlinear operators (consolidating: one shuffle) -------------
    def consolidate(self) -> "ZSet":
        """Canonical form: merge equal rows, drop zero weights."""
        payload = [c for c in self.df.columns if c != WEIGHT]
        return ZSet(
            self.df.groupBy(*payload)
            .agg(F.sum(WEIGHT).alias(WEIGHT))
            .where(F.col(WEIGHT) != 0),
            self.is_empty,
        )

    def distinct(self) -> "ZSet":
        """DBSPDistinctOperator: rows with positive weight, at weight 1
        (DBSP's set-semantics projection)."""
        payload = [c for c in self.df.columns if c != WEIGHT]
        return ZSet(
            self.df.groupBy(*payload)
            .agg(F.sum(WEIGHT).alias(WEIGHT))
            .where(F.col(WEIGHT) > 0)
            .withColumn(WEIGHT, F.lit(1).cast("long"))
        )

    def aggregate_linear(self, keys: list[str], value: Column, alias: str) -> "ZSet":
        """Weighted linear aggregate: SUM(value·w) per key — DBSP's
        incremental aggregate for linear functions (SUM/COUNT): feeding
        deltas in yields the delta of the aggregate out."""
        return ZSet(
            self.df.groupBy(*keys)
            .agg(F.sum(value * F.col(WEIGHT)).alias(alias))
            .withColumn(WEIGHT, F.lit(1).cast("long"))
        )

    # ---- materialization ----------------------------------------------
    def to_multiset_df(self) -> DataFrame:
        """Expand weights back to row multiplicity (weights must be
        >= 0; only sensible for small results/tests)."""
        payload = [c for c in self.df.columns if c != WEIGHT]
        z = self.consolidate().df
        return z.select(
            *payload, F.explode(F.sequence(F.lit(1), F.col(WEIGHT))).alias("__i")
        ).drop("__i")

    def rows(self) -> list[tuple]:
        z = self.consolidate().df
        cols = sorted(z.columns)
        return sorted(tuple(r[c] for c in cols) for r in z.collect())


def incremental_join(a_prev: ZSet, da: ZSet, b_prev: ZSet, db: ZSet, on: Column) -> ZSet:
    """DBSPIncrementalJoinOperator: the bilinear delta rule
    Δ(A⋈B) = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB, where A/B are the integrated
    states BEFORE this step. Each term is an ordinary weighted join.
    A and B may be unconsolidated sums (``Integral.value()``): the join
    distributes over +. A term with a ``ZSet.empty`` side is dropped in
    Python, so a step that changes only A runs the single join ΔA⋈B."""
    return da.join(b_prev, on).add(a_prev.join(db, on)).add(da.join(db, on))


class Integral:
    """DBSPIntegralOperator as state: the running sum of a delta stream,
    kept as a few batches so that a step appends instead of re-reading
    the whole state (Structured Streaming's delta files plus snapshots).

    Two levels, both paced by ``checkpoint_every``:

    - raw delta batches, appended by ``add`` with no Spark job;
    - runs, each consolidated and checkpointed, ordered oldest first.
      Every ``checkpoint_every`` adds, the raw batches are merged by
      one ``_compact`` into a new run. That compaction also takes in
      every trailing run whose size is at most ``checkpoint_every``
      times the size merged so far (at least twice it), so the runs
      form a geometric spine: each is more than that factor larger
      than the next, and there are log-many. A small step never
      re-reads a large run, such as the bulk base load.

    A run's size is Catalyst's estimate of its bytes, read from the
    optimized plan (no Spark job) when the run is compacted; an
    unknown estimate (an RDD-backed frame) counts as the largest size.
    An estimate only decides when runs merge, never ``value()``.

    ``value()`` is the unconsolidated sum of the levels. It is a valid
    input for linear and bilinear consumers (a join distributes over
    +). ``snapshot()`` is its consolidated form, built lazily: it runs
    no job and changes nothing."""

    def __init__(self, init: ZSet, checkpoint_every: int = 8):
        """``init`` is the starting value: ``ZSet.empty`` for the zero,
        else a Z-set that is compacted once into the first run."""
        if checkpoint_every < 1:
            raise ValueError("checkpoint_every must be >= 1")
        self._every = checkpoint_every
        # leads every sum, so value() stays in init's session
        self._zero = init if init.is_empty else ZSet.empty(init.df)
        self._runs: list[tuple[ZSet, int]] = []  # (run, estimated bytes)
        self._batches: list[ZSet] = []
        if not init.is_empty:
            self._merge([init])

    def add(self, delta: ZSet) -> None:
        if delta.is_empty:
            return
        self._batches.append(delta)
        if len(self._batches) >= self._every:
            self._merge(self._batches)
            self._batches = []

    def _merge(self, parts: list[ZSet]) -> None:
        ratio = max(self._every, 2)
        size = _estimated_bytes(_sum(parts).df) if self._runs else 0
        while self._runs and self._runs[-1][1] <= ratio * size:
            run, run_size = self._runs.pop()
            parts = [run, *parts]
            size += run_size
        run = _compact([self._zero, *parts])
        self._runs.append((run, _estimated_bytes(run.df)))

    def value(self) -> ZSet:
        return _sum([self._zero, *(run for run, _ in self._runs), *self._batches])

    def snapshot(self) -> ZSet:
        return self.value().consolidate()

    @property
    def df(self) -> DataFrame:
        """``value()``'s frame, for plan inspection."""
        return self.value().df


# Catalyst's sizeInBytes for a plan it cannot size (conf
# spark.sql.defaultSizeInBytes, Long.MaxValue by default)
_UNKNOWN_BYTES = 2**63 - 1


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``, capped at the "unknown"
    value; planning only, no Spark job."""
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return min(int(est), _UNKNOWN_BYTES)


def _sum(parts: list[ZSet]) -> ZSet:
    acc = parts[0]
    for z in parts[1:]:
        acc = acc.add(z)
    return acc


def _compact(parts: list[ZSet]) -> ZSet:
    """Consolidate a sum of Z-sets and cut its lineage. This is the only
    place integrated state is compacted: under AQE ``localCheckpoint``
    is an action even with ``eager=False`` (it runs every shuffle stage
    of the plan at call time), so it must not run on every step.

    A sum whose estimated size is within the session's broadcast
    threshold is consolidated in one task, with no shuffle: the small
    merges of a few step deltas then run one stage instead of two."""
    df = _sum(parts).df
    if _estimated_bytes(df) <= _one_task_bytes(df):
        df = df.coalesce(1)
    return ZSet(ZSet(df).consolidate().df.localCheckpoint(eager=False))


def _one_task_bytes(df: DataFrame) -> int:
    """The largest frame Spark treats as small enough to handle whole:
    ``spark.sql.autoBroadcastJoinThreshold`` (-1 when disabled)."""
    return int(df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


# ---- stream-of-snapshots operators ------------------------------------
def differentiate(snapshots: list[DataFrame]) -> list[ZSet]:
    """DBSPDifferentialOperator over a stream of snapshots:
    D(s)_t = s_t - s_{t-1} as Z-sets (s_{-1} = empty)."""
    out: list[ZSet] = []
    prev: ZSet | None = None
    for snap in snapshots:
        cur = ZSet.from_df(snap)
        out.append(cur if prev is None else cur.subtract(prev).consolidate())
        prev = cur
    return out


def integrate(deltas: list[ZSet]) -> list[ZSet]:
    """DBSPIntegralOperator: I(d)_t = Σ_{i<=t} d_i."""
    if not deltas:
        return []
    acc = Integral(ZSet.empty(deltas[0].df))
    out: list[ZSet] = []
    for d in deltas:
        acc.add(d)
        out.append(acc.snapshot())
    return out
