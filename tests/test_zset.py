"""Z-set algebra laws — the DBSP correctness core
(reference: lib sqlvalue/ZSet semantics; DBSPDifferentialOperator /
DBSPIntegralOperator duality)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_to_dbsp_compiler_spark.plans.zset import ZSet, differentiate, integrate
from sql_to_dbsp_compiler_spark.sources.tables import load_table


def _snapshots(spark, sf_dir):
    """Three growing snapshots of the orders table (a changing DB)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return [
        o.where(F.col("o_orderkey") <= 300),
        o.where(F.col("o_orderkey") <= 700),
        # third snapshot also DELETES some early rows
        o.where((F.col("o_orderkey") <= 1200) & (F.col("o_orderkey") > 50)),
    ]


def test_differentiate_integrate_roundtrip(spark, sf_dir):
    snaps = _snapshots(spark, sf_dir)
    deltas = differentiate(snaps)
    rebuilt = integrate(deltas)
    for snap, re in zip(snaps, rebuilt):
        assert ZSet.from_df(snap).rows() == re.rows()


def test_deltas_contain_deletes(spark, sf_dir):
    snaps = _snapshots(spark, sf_dir)
    d3 = differentiate(snaps)[2]
    weights = {r[-1] for r in [tuple(x) for x in d3.df.collect()]}
    assert any(w < 0 for w in (row[d3.df.columns.index("__weight")] for row in d3.df.collect()))


def test_distinct_idempotent_and_set_semantics(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus")
    z = ZSet.from_df(o)  # heavy multiplicities
    d1 = z.distinct()
    d2 = d1.distinct()
    assert d1.rows() == d2.rows()
    assert all(r[0] == 1 for r in (tuple(x) for x in d1.consolidate().df.select("__weight").collect()))


def test_join_bilinearity(spark, sf_dir):
    """(a1 + a2) ⋈ b  ==  a1 ⋈ b + a2 ⋈ b  (incremental-join law)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    a1 = ZSet.from_df(c.where(F.col("c_custkey") <= 100))
    a2 = ZSet.from_df(c.where((F.col("c_custkey") > 100) & (F.col("c_custkey") <= 200)))
    b = ZSet.from_df(o.where(F.col("o_orderkey") <= 2000))
    on = F.col("c_custkey") == F.col("o_custkey")
    lhs = a1.add(a2).join(b, on)
    rhs = a1.join(b, on).add(a2.join(b, on))
    assert lhs.rows() == rhs.rows()


def test_aggregate_linear_on_deltas_matches_batch(spark, sf_dir):
    """Feeding deltas through a linear aggregate and integrating the
    outputs == aggregating the final snapshot (DBSP's incremental
    aggregate theorem for linear functions)."""
    snaps = _snapshots(spark, sf_dir)
    deltas = differentiate(snaps)
    agg_deltas = [
        d.map(F.col("o_orderstatus"), F.lit(1).alias("one")).aggregate_linear(
            ["o_orderstatus"], F.col("one"), "cnt"
        )
        for d in deltas
    ]
    # integrate the per-step aggregate deltas: sum cnt per key
    acc = None
    for ad in agg_deltas:
        cur = ad.df.select("o_orderstatus", "cnt")
        acc = cur if acc is None else acc.unionByName(cur)
    final = acc.groupBy("o_orderstatus").agg(F.sum("cnt").alias("cnt")).where(F.col("cnt") != 0)

    expected = (
        snaps[-1].groupBy("o_orderstatus").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, expected.collect()))


def test_flatmap_and_filter_weight_preserving(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).limit(20)
    z = ZSet.from_df(d).flat_map(F.col("ws"), "w").filter(F.col("w") != "").map(F.col("w"))
    batch = (
        d.select(F.explode(F.col("ws")).alias("w")).where(F.col("w") != "")
    )
    assert z.rows() == ZSet.from_df(batch).rows()


def test_incremental_join_bilinear_rule(spark, sf_dir):
    """Δ(A⋈B) = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB at every step, including deletes
    (reference: DBSPIncrementalJoinOperator.java)."""
    from sql_to_dbsp_compiler_spark.plans.zset import incremental_join

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    a_snaps = [
        o.where(F.col("o_orderkey") <= 200),
        o.where(F.col("o_orderkey") <= 500),
        o.where((F.col("o_orderkey") <= 900) & (F.col("o_orderkey") > 40)),
    ]
    b_snaps = [
        c.where(F.col("c_custkey") <= 60),
        c.where((F.col("c_custkey") <= 100) & (F.col("c_custkey") > 5)),
        c.where(F.col("c_custkey") <= 130),
    ]
    on = F.col("o_custkey") == F.col("c_custkey")
    joined_snaps = [a.join(b, on) for a, b in zip(a_snaps, b_snaps)]
    want_deltas = differentiate(joined_snaps)

    da_list = differentiate(a_snaps)
    db_list = differentiate(b_snaps)
    empty_a = ZSet.from_df(a_snaps[0].limit(0))
    empty_b = ZSet.from_df(b_snaps[0].limit(0))
    a_prev, b_prev = empty_a, empty_b
    for t in range(3):
        got = incremental_join(a_prev, da_list[t], b_prev, db_list[t], on)
        assert got.rows() == want_deltas[t].rows(), f"step {t}"
        a_prev = a_prev.add(da_list[t]).consolidate()
        b_prev = b_prev.add(db_list[t]).consolidate()


def test_integral_merges_runs_by_size_class(spark, monkeypatch):
    """A large init plus 20 small adds at checkpoint_every=2: the value
    is the running sum after every add, each merge is one compaction,
    the init's run is never re-compacted while the small data stays
    far under its size class, and the runs stay log-many."""
    import math
    from collections import Counter

    from sql_to_dbsp_compiler_spark.plans import zset
    from sql_to_dbsp_compiler_spark.plans.zset import WEIGHT, Integral

    def keys(lo, hi, w):
        # spark.range frames carry a Catalyst size estimate
        return ZSet(
            spark.range(lo, hi, 1, 1).select(
                F.col("id").alias("k"), F.lit(w).cast("long").alias(WEIGHT)
            )
        )

    integ = Integral(keys(0, 2000, 1), checkpoint_every=2)
    (init_run, _), = integ._runs
    compacted: list[list[ZSet]] = []

    def counting_compact(parts):
        compacted.append(parts)
        return real_compact(parts)

    real_compact = zset._compact
    monkeypatch.setattr(zset, "_compact", counting_compact)
    live = Counter(range(2000))
    for i in range(20):
        # inserts past the init's keys, and deletes of init keys
        lo, w = (3000 + 5 * i, 1) if i % 2 else (5 * i, -1)
        integ.add(keys(lo, lo + 5, w))
        for k in range(lo, lo + 5):
            live[k] += w
        got = {k: n for k, n in integ.snapshot().df.collect()}
        assert got == {k: n for k, n in live.items() if n}, f"add {i}"
        merges = (i + 1) // 2
        assert len(compacted) == merges, "one compaction per merge"
        assert not any(p is init_run for parts in compacted for p in parts), f"add {i}"
        assert len(integ._runs) <= 2 + math.log2(merges + 1), f"add {i}: {len(integ._runs)} runs"
