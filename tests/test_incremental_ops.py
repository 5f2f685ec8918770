"""Optimized-incremental operators vs naive recompute (the reference's
OptimizedIncrementalTests criterion): for random insert/delete step
sequences, the integral of the operator's output deltas equals the
batch query over the integrated input — at every step."""

from __future__ import annotations

import random
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sql_to_dbsp_compiler_spark.plans.incremental import (
    AggSpec,
    IncrementalDistinct,
    IncrementalFilterMap,
    IncrementalGroupRecomputeAgg,
    IncrementalJoin,
    IncrementalKeyedNotIn,
    IncrementalLinearAgg,
    IncrementalNullAwareNotIn,
    IncrementalOuterJoin,
    IncrementalPartitionedWindow,
    IncrementalRangeScalarAgg,
    IncrementalRangeSemiAnti,
    IncrementalSemiAnti,
    IncrementalSetOp,
    IncrementalTopK,
)
from sql_to_dbsp_compiler_spark.plans.zset import WEIGHT, ZSet, incremental_join


def _zset(spark, schema, rows):
    return ZSet(spark.createDataFrame(rows, schema + f", {WEIGHT} long"))


def _rows(z: ZSet) -> set[tuple]:
    return {tuple(r) for r in z.consolidate().df.collect()}


def _integrate(acc: ZSet | None, d: ZSet) -> ZSet:
    return d if acc is None else acc.add(d)


def _random_steps(seed: int, nsteps: int, keyspace: int):
    """Insert/delete step stream over (k, v, tag) rows; deletes only
    remove rows currently live (valid multiset evolution)."""
    rng = random.Random(seed)
    live: list[tuple] = []
    steps = []
    for _ in range(nsteps):
        delta = []
        for _ in range(rng.randint(1, 6)):
            if live and rng.random() < 0.35:
                row = live.pop(rng.randrange(len(live)))
                delta.append((*row, -1))
            else:
                row = (
                    rng.randrange(keyspace),
                    rng.choice([None, rng.randint(-50, 100)]),
                    rng.choice(["x", "y"]),
                )
                live.append(row)
                delta.append((*row, 1))
        steps.append((delta, list(live)))
    return steps


def test_incremental_filter_map(spark):
    op = IncrementalFilterMap(
        cols=[F.col("k"), (F.col("v") * 2).alias("v2")], cond=F.col("v") > 10
    )
    acc = None
    for delta, live in _random_steps(1, 6, 5):
        d = _zset(spark, "k int, v int, tag string", delta)
        acc = _integrate(acc, op.step(d))
    snap = spark.createDataFrame(live, "k int, v int, tag string")
    expect = ZSet.from_df(snap.where(F.col("v") > 10).select("k", (F.col("v") * 2).alias("v2")))
    assert _rows(acc) == _rows(expect)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [7, 42])
def test_incremental_linear_agg_every_step(spark, seed):
    op = IncrementalLinearAgg(
        keys=["k"],
        specs=[
            AggSpec("n", "count"),
            AggSpec("nv", "count", F.col("v")),
            AggSpec("sv", "sum", F.col("v")),
            AggSpec("av", "avg", F.col("v")),
        ],
        cond=F.col("tag") != "skip",
        checkpoint_every=2,
    )
    acc = None
    for delta, live in _random_steps(seed, 6, 3):
        d = _zset(spark, "k int, v int, tag string", delta)
        acc = _integrate(acc, op.step(d))
        snap = spark.createDataFrame(live, "k int, v int, tag string")
        expect = (
            snap.where(F.col("tag") != "skip")
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("v").alias("nv"),
                F.sum("v").alias("sv"),
                F.avg("v").alias("av"),
            )
        )
        assert _rows(acc) == _rows(ZSet.from_df(expect)), f"step diverged (seed={seed})"
    # snapshot() equals the integral too
    assert _rows(ZSet.from_df(op.snapshot())) == _rows(acc)


def test_incremental_linear_agg_all_null_sum_group(spark):
    """A group whose values are all NULL must keep SUM/AVG NULL (not
    0) — and flip to a number when a non-null value arrives."""
    op = IncrementalLinearAgg(keys=["k"], specs=[AggSpec("s", "sum", F.col("v"))])
    d1 = _zset(spark, "k int, v int", [(1, None, 1), (1, None, 1)])
    acc = op.step(d1)
    assert _rows(acc) == {(1, None, 1)}
    d2 = _zset(spark, "k int, v int", [(1, 5, 1)])
    acc = acc.add(op.step(d2))
    assert _rows(acc) == {(1, 5, 1)}
    d3 = _zset(spark, "k int, v int", [(1, 5, -1)])
    acc = acc.add(op.step(d3))
    assert _rows(acc) == {(1, None, 1)}


def _join_count(df) -> int:
    """Join nodes in a frame's optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines() if line.lstrip(" :+-").startswith("Join "))


@pytest.mark.slow
def test_incremental_join_every_step(spark):
    op = IncrementalJoin(
        on=F.col("ak") == F.col("bk"),
        project=[F.col("ak").alias("k"), F.col("av"), F.col("bv")],
        checkpoint_every=2,
    )
    rng = random.Random(3)
    a_live: list[tuple] = []
    b_live: list[tuple] = []
    acc = None
    # which sides get rows each step: steps 2, 5 and 6 leave B unchanged
    # and steps 3 and 7 leave A unchanged (their delta is ZSet.empty)
    sides = ["ab", "ab", "a", "b", "ab", "a", "a", "b", "ab"]
    for step_sides in sides:
        da, db = [], []
        for _ in range(rng.randint(1, 4)):
            if "a" in step_sides:
                if a_live and rng.random() < 0.3:
                    row = a_live.pop(rng.randrange(len(a_live)))
                    da.append((*row, -1))
                else:
                    row = (rng.randrange(3), rng.randint(0, 9))
                    a_live.append(row)
                    da.append((*row, 1))
            if "b" in step_sides:
                if b_live and rng.random() < 0.3:
                    row = b_live.pop(rng.randrange(len(b_live)))
                    db.append((*row, -1))
                else:
                    row = (rng.randrange(3), rng.randint(0, 9))
                    b_live.append(row)
                    db.append((*row, 1))
        za = _zset(spark, "ak int, av int", da)
        zb = _zset(spark, "bk int, bv int", db)
        acc = _integrate(
            acc,
            op.step(za if da else ZSet.empty(za.df), zb if db else ZSet.empty(zb.df)),
        )
        asnap = spark.createDataFrame(a_live, "ak int, av int")
        bsnap = spark.createDataFrame(b_live, "bk int, bv int")
        expect = asnap.join(bsnap, asnap["ak"] == bsnap["bk"]).select(
            F.col("ak").alias("k"), "av", "bv"
        )
        assert _rows(acc) == _rows(ZSet.from_df(expect))

    # an empty ΔB leaves the one term ΔA⋈B, whether the emptiness is
    # flagged (ZSet.empty, dropped in Python) or only static (limit(0),
    # pruned by Catalyst)
    a_prev = _zset(spark, "ak int, av int", [(1, 1, 1), (2, 2, 1)])
    b_prev = _zset(spark, "bk int, bv int", [(1, 5, 1)])
    da = _zset(spark, "ak int, av int", [(1, 3, 1)])
    on = F.col("ak") == F.col("bk")
    for db in (ZSet.empty(b_prev.df), ZSet(b_prev.df.limit(0))):
        out = incremental_join(a_prev, da, b_prev, db, on)
        assert _join_count(out.df) == 1
        assert _rows(out) == {(1, 3, 1, 5, 1)}


def test_incremental_distinct(spark):
    op = IncrementalDistinct(checkpoint_every=2)
    s = "k int, tag string"
    # row appears (weight 2), partial delete keeps it distinct-visible,
    # full delete retracts it
    d1 = op.step(_zset(spark, s, [(1, "x", 2), (2, "y", 1)]))
    assert _rows(ZSet(d1.df)) == {(1, "x", 1), (2, "y", 1)}
    d2 = op.step(_zset(spark, s, [(1, "x", -1)]))
    assert _rows(ZSet(d2.df)) == set()  # multiplicity 2→1: still present
    d3 = op.step(_zset(spark, s, [(1, "x", -1), (3, "z", 1)]))
    assert _rows(ZSet(d3.df)) == {(1, "x", -1), (3, "z", 1)}


@pytest.mark.slow
@pytest.mark.parametrize("seed", [5, 19])
def test_incremental_group_recompute_minmax(spark, seed):
    """MIN/MAX maintained by affected-group recompute: every step's
    integrated output equals the batch aggregate, including deletes
    of current extrema (the case no subtraction rule can handle)."""
    from sql_to_dbsp_compiler_spark.plans.incremental import IncrementalGroupRecomputeAgg

    op = IncrementalGroupRecomputeAgg(
        keys=["k"],
        aggs=[
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ],
        checkpoint_every=2,
    )
    acc = None
    for delta, live in _random_steps(seed, 6, 3):
        d = _zset(spark, "k int, v int, tag string", delta)
        acc = _integrate(acc, op.step(d))
        snap = spark.createDataFrame(live, "k int, v int, tag string")
        expect = snap.groupBy("k").agg(
            F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n")
        )
        assert _rows(acc) == _rows(ZSet.from_df(expect)), f"diverged (seed={seed})"
    assert _rows(ZSet.from_df(op.snapshot())) == _rows(acc)


def test_group_recompute_delete_of_max(spark):
    """Deleting the maximum forces recompute from remaining rows."""
    from sql_to_dbsp_compiler_spark.plans.incremental import IncrementalGroupRecomputeAgg

    op = IncrementalGroupRecomputeAgg(keys=["k"], aggs=[F.max("v").alias("mx")])
    s = "k int, v int"
    d1 = op.step(_zset(spark, s, [(1, 5, 1), (1, 9, 1), (2, 3, 1)]))
    assert _rows(ZSet(d1.df)) == {(1, 9, 1), (2, 3, 1)}
    d2 = op.step(_zset(spark, s, [(1, 9, -1)]))
    assert _rows(ZSet(d2.df)) == {(1, 9, -1), (1, 5, 1)}
    d3 = op.step(_zset(spark, s, [(2, 3, -1)]))  # group disappears
    assert _rows(ZSet(d3.df)) == {(2, 3, -1)}


@pytest.mark.slow
def test_incremental_topk_every_step(spark):
    """Per-group Top-2 under inserts and deletes of top elements:
    integrated deltas == batch ROW_NUMBER topk at every step."""
    from pyspark.sql.window import Window

    from sql_to_dbsp_compiler_spark.plans.incremental import IncrementalTopK

    op = IncrementalTopK(
        keys=["k"], order=[F.col("v").desc(), F.col("tag")], k=2, checkpoint_every=2
    )
    rng = random.Random(23)
    live: list[tuple] = []
    acc = None
    for _ in range(6):
        delta = []
        for _ in range(rng.randint(1, 5)):
            if live and rng.random() < 0.35:
                row = live.pop(rng.randrange(len(live)))
                delta.append((*row, -1))
            else:
                row = (rng.randrange(3), rng.randint(0, 50), f"t{rng.randrange(40)}")
                live.append(row)
                delta.append((*row, 1))
        acc = _integrate(acc, op.step(_zset(spark, "k int, v int, tag string", delta)))
        snap = spark.createDataFrame(live, "k int, v int, tag string")
        win = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("tag"))
        expect = (
            snap.withColumn("rn", F.row_number().over(win).cast("bigint"))
            .where(F.col("rn") <= 2)
        )
        assert _rows(acc) == _rows(ZSet.from_df(expect))
    assert _rows(ZSet.from_df(op.snapshot())) == _rows(acc)


# Hand-made signed streams over A(id, k, v) and B(k, v): NULL keys and
# values, duplicates, deletes, one-sided steps (the other input is
# ZSet.empty), and a B that starts empty, holds a NULL key, then is
# emptied again (every mode of NOT IN). Each side has four non-empty
# steps, so with checkpoint_every=2 every integral merges runs and
# folds its base (the fold needs 4 adds).
A_SCHEMA, B_SCHEMA = "id int, k int, v int", "k int, v int"
A_STEPS = [
    [(1, 1, 5, 1), (2, None, 3, 1), (3, 2, 7, 1), (4, 1, 2, 1)],
    [(5, 3, 1, 1)],
    [(2, None, 3, -1), (6, None, 4, 1)],
    [],
    [(1, 1, 5, -1), (7, 2, 9, 1), (3, 2, 7, -1), (8, 1, None, 1)],
]
B_STEPS = [
    [],
    [(1, 2, 1), (2, 7, 1), (1, 2, 1)],
    [(None, 4, 1), (2, None, 1)],
    [(None, 4, -1), (3, 1, 1)],
    [(1, 2, -2), (2, None, -1), (2, 7, -1), (3, 1, -1)],
]


def _one_partition(spark, schema, rows):
    """``rows`` as a one-partition frame, as a small delta is. At the
    session's default parallelism every Spark stage of a step would
    run one task per partition of each integrated batch, which makes
    this test several times slower."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _delta(spark, schema, rows) -> ZSet:
    z = ZSet(_one_partition(spark, schema + f", {WEIGHT} long", rows))
    return z if rows else ZSet.empty(z.df)


def _cols(z: ZSet, *exprs: str) -> ZSet:
    return z.map(*[F.expr(e) for e in exprs])


# name -> (operator, its step inputs from the A and B deltas, batch SQL
# over the integrated inputs ivm_a / ivm_b)
TWO_INPUT_OPS = {
    "set_op": (
        lambda: IncrementalSetOp("except_all", checkpoint_every=2),
        lambda da, db: (_cols(da, "k", "v"), db),
        "SELECT k, v FROM ivm_a EXCEPT ALL SELECT k, v FROM ivm_b",
    ),
    "semi_anti": (
        lambda: IncrementalSemiAnti(["k"], checkpoint_every=2),
        lambda da, db: (da, _cols(db, "k AS __k0")),
        "SELECT * FROM ivm_a a WHERE EXISTS (SELECT 1 FROM ivm_b b WHERE b.k = a.k)",
    ),
    "range_semi_anti": (
        lambda: IncrementalRangeSemiAnti(["k"], "__b_v < v", anti=True, checkpoint_every=2),
        lambda da, db: (da, _cols(db, "k AS __k0", "v AS __b_v")),
        "SELECT * FROM ivm_a a WHERE NOT EXISTS"
        " (SELECT 1 FROM ivm_b b WHERE b.k = a.k AND b.v < a.v)",
    ),
    "range_scalar_agg": (
        lambda: IncrementalRangeScalarAgg(["k"], "__b_v < v", "count", "n", checkpoint_every=2),
        lambda da, db: (da, _cols(db, "k AS __k0", "v AS __b_v", "v AS __arg")),
        "SELECT a.id, a.k, a.v, COUNT(b.v) AS n FROM ivm_a a"
        " LEFT JOIN ivm_b b ON b.k = a.k AND b.v < a.v GROUP BY a.id, a.k, a.v",
    ),
    "null_aware_not_in": (
        lambda: IncrementalNullAwareNotIn("k", checkpoint_every=2),
        lambda da, db: (da, _cols(db, "k AS __k0")),
        "SELECT * FROM ivm_a WHERE k NOT IN (SELECT k FROM ivm_b)",
    ),
    "keyed_not_in": (
        lambda: IncrementalKeyedNotIn("v", ["k"], checkpoint_every=2),
        lambda da, db: (da, _cols(db, "k AS __k0", "v AS __v")),
        "SELECT * FROM ivm_a a WHERE v NOT IN (SELECT b.v FROM ivm_b b WHERE b.k = a.k)",
    ),
    "outer_join": (
        lambda: IncrementalOuterJoin(
            "k", "bk", [F.col(c) for c in ("id", "k", "v", "bk", "bv")], how="full",
            checkpoint_every=2,
        ),
        lambda da, db: (da, _cols(db, "k AS bk", "v AS bv")),
        "SELECT a.id, a.k, a.v, b.k AS bk, b.v AS bv FROM ivm_a a FULL JOIN ivm_b b ON a.k = b.k",
    ),
}
ONE_INPUT_OPS = {
    "distinct": (
        lambda: IncrementalDistinct(checkpoint_every=2),
        lambda da, db: (_cols(da, "k", "v"),),
    ),
    "linear_agg": (
        lambda: IncrementalLinearAgg(["k"], [AggSpec("s", "sum", F.col("v"))], checkpoint_every=2),
        lambda da, db: (da,),
    ),
    "group_recompute_agg": (
        lambda: IncrementalGroupRecomputeAgg(["k"], [F.max("v").alias("mx")], checkpoint_every=2),
        lambda da, db: (da,),
    ),
    "topk": (
        lambda: IncrementalTopK(["k"], [F.col("v").desc(), F.col("id")], 2, checkpoint_every=2),
        lambda da, db: (da,),
    ),
    "partitioned_window": (
        lambda: IncrementalPartitionedWindow(
            ["k"], ["id", "k", "SUM(v) OVER (PARTITION BY k ORDER BY id) AS s"], checkpoint_every=2
        ),
        lambda da, db: (da,),
    ),
}


def _jobs_in(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"ivm-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(TWO_INPUT_OPS))
def test_two_input_ops_through_compaction(spark, name):
    """Integrated output == batch SQL over the integrated inputs at every
    step, across the merges and base folds of checkpoint_every=2. The
    output is integrated in Python, one collect per step."""
    make, inputs, sql = TWO_INPUT_OPS[name]
    op = make()
    live_a, live_b, acc = Counter(), Counter(), Counter()
    for i, (a_rows, b_rows) in enumerate(zip(A_STEPS, B_STEPS)):
        for live, rows in ((live_a, a_rows), (live_b, b_rows)):
            for *row, w in rows:
                live[tuple(row)] += w
        da, db = _delta(spark, A_SCHEMA, a_rows), _delta(spark, B_SCHEMA, b_rows)
        for *row, w in op.step(*inputs(da, db)).df.collect():
            acc[tuple(row)] += w
        for view, schema, live in (("ivm_a", A_SCHEMA, live_a), ("ivm_b", B_SCHEMA, live_b)):
            rows = [r for r, n in live.items() for _ in range(n)]
            _one_partition(spark, schema, rows).createOrReplaceTempView(view)
        expect = Counter(tuple(r) for r in spark.sql(sql).collect())
        assert acc == expect, f"{name} diverged at step {i}"


@pytest.mark.parametrize("name", sorted({**TWO_INPUT_OPS, **ONE_INPUT_OPS}))
def test_all_empty_step_runs_no_spark_job(spark, name):
    """A step whose every input is ZSet.empty returns an is_empty Z-set
    and runs no Spark job, also once the operator holds state."""
    make, inputs = {**TWO_INPUT_OPS, **ONE_INPUT_OPS}[name][:2]
    op = make()
    op.step(*inputs(_delta(spark, A_SCHEMA, A_STEPS[0]), _delta(spark, B_SCHEMA, B_STEPS[1])))
    empty = inputs(_delta(spark, A_SCHEMA, []), _delta(spark, B_SCHEMA, []))
    out, jobs = _jobs_in(spark, lambda: op.step(*empty))
    assert out.is_empty
    assert jobs == 0


# (id, k, v, weight) steps for the linear aggregate, one edge each
LIN_SCHEMA = "id int, k string, v decimal(5,2)"
LIN_STEPS = [
    [(1, "a", "1.50", 1), (2, "a", "2.25", 1), (3, None, "4.00", 1), (4, None, None, 1),
     (5, "n", None, 1), (6, "n", None, 1), (7, "u", "1.00", 1), (8, "u", "2.00", 1),
     (9, "g", "3.00", 1)],
    # +x/-x within the step leaves "c" one NULL: SUM is NULL, not 0;
    # the NULL key's group loses its only non-null value
    [(10, "c", "5.00", 1), (10, "c", "5.00", -1), (11, "c", None, 1), (3, None, "4.00", -1)],
    [(9, "g", "3.00", -1)],  # "g" vanishes
    [(7, "u", "1.00", -1), (12, "u", "1.00", 1)],  # aggregates unchanged
    [(13, "g", "7.10", 1), (5, "n", None, -1)],  # "g" returns
    [(1, "a", "1.50", -1), (2, "a", "2.25", -1), (14, None, "0.00", 1)],  # a genuine 0
    [(14, None, "0.00", -1), (4, None, None, -1)],  # the NULL key's group vanishes
    [],  # ZSet.empty: the zero, in the types of every other step's output
]


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange ")


def test_linear_agg_edges_match_sql_every_step(spark):
    """IncrementalLinearAgg's integrated output == Spark SQL over the
    integrated input after every step: a NULL group key, all-NULL
    SUM/AVG, a non-null count back at 0, a group that vanishes and
    returns, an update that changes no aggregate (no rows out) and a
    decimal SUM whose type never widens. The merge is one shuffle and
    the emitted delta none."""
    from decimal import Decimal

    op = IncrementalLinearAgg(
        ["k"],
        [AggSpec("n", "count"), AggSpec("nv", "count", F.col("v")),
         AggSpec("sv", "sum", F.col("v")), AggSpec("av", "avg", F.col("v"))],
        checkpoint_every=2,
    )
    live, acc, schemas = Counter(), Counter(), set()
    for i, rows in enumerate(LIN_STEPS):
        rows = [(j, k, None if v is None else Decimal(v), w) for j, k, v, w in rows]
        for *row, w in rows:
            live[tuple(row)] += w
        delta = _delta(spark, LIN_SCHEMA, rows)
        out = op.step(delta)
        emitted = out.df.collect()
        for *row, w in emitted:
            acc[tuple(row)] += w
        schemas.add(out.df.schema.simpleString())
        if i == 3:
            assert emitted == [], "an unchanged group emitted rows"
        if i == 1:
            assert _exchanges(op._merged(delta)) == 1
            assert _exchanges(out.df) == 0
        _one_partition(
            spark, LIN_SCHEMA, [r for r, n in live.items() for _ in range(n)]
        ).createOrReplaceTempView("ivm_lin")
        expect = Counter(
            tuple(r)
            for r in spark.sql(
                "SELECT k, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv, AVG(v) AS av"
                " FROM ivm_lin GROUP BY k"
            ).collect()
        )
        assert {r: n for r, n in acc.items() if n} == expect, f"diverged at step {i}"
    assert len(schemas) == 1, schemas
