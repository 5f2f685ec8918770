"""ANN: IVF recall vs brute force; vector-math determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_to_dbsp_compiler_spark.llm.similarity import brute_force_topk, ivf_topk
from sql_to_dbsp_compiler_spark.sources.tables import load_table


def _split(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return e.where(F.col("vec_id") >= 10), q


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    corpus, queries = _split(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=5).collect()
    approx = ivf_topk(corpus, queries, k=5, nlist=8, nprobe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.4, f"IVF mean recall too low: {recalls}"


def _mean_recall(exact, approx):
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    return sum(
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ) / len(exact_sets)


def test_ivf_kmeans_recall(spark, sf_dir):
    """k-means-trained IVF must reach solid recall at nprobe=4/nlist=16
    (a quarter of the corpus scanned)."""
    corpus, queries = _split(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=5).collect()
    kmeans = ivf_topk(corpus, queries, k=5, nlist=8, nprobe=4, train="kmeans").collect()
    assert _mean_recall(exact, kmeans) >= 0.5


def test_kmeanspp_init_clamps_searchsorted(spark, sf_dir, monkeypatch):
    """ADVICE r5: k-means++ draws the next centroid by
    searchsorted(cumsum(d2/total), rand()); float rounding can leave
    cumsum[-1] just below the drawn value, making searchsorted return
    len(X) and IndexError at X[idx]. Force the worst case — rand()
    returning a value ≥ cumsum[-1] — and assert the fit survives via
    the clamp."""
    import numpy as np

    from sql_to_dbsp_compiler_spark.llm import similarity as sim

    real_rs = np.random.RandomState

    class EdgeRandomState(real_rs):
        def rand(self, *args):  # noqa: D401 — numpy signature
            return 1.0  # ≥ any float cumsum[-1], incl. exact 1.0

    monkeypatch.setattr(np.random, "RandomState", EdgeRandomState)
    corpus, _ = _split(spark, sf_dir)
    centroids, assigned = sim.ivf_train_kmeans(
        corpus.limit(64), nlist=4, max_iter=2, sample_n=64
    )
    assert centroids.count() == 4
    assert assigned.select("vec_id").distinct().count() == 64


def test_bruteforce_topk_is_ordered_and_complete(spark, sf_dir):
    corpus, queries = _split(spark, sf_dir)
    rows = brute_force_topk(corpus, queries, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == queries.count()
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rn)
        sims = [r.sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert len(rs) == 5


def test_srp_lsh_neardup_precision_and_recall(spark, sf_correct_dir):
    """SRP-LSH pairs ⊆ exact all-pairs result (precision 1 — every
    candidate is cosine-verified) and recall is high at the planted
    similarity level (theory: ≥0.95 at s=0.45 with 16 bands × 4 bits)."""
    from sql_to_dbsp_compiler_spark.llm.similarity import (
        cosine_neardup_pairs,
        srp_neardup_pairs,
    )

    emb = load_table(spark, sf_correct_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b) for r in cosine_neardup_pairs(emb, threshold=0.45).collect()
    }
    got = {(r.id_a, r.id_b) for r in srp_neardup_pairs(emb, threshold=0.45).collect()}
    assert exact, "no planted near-dup pairs at this SF — vacuous test"
    assert got <= exact, f"false positives: {got - exact}"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"SRP recall {recall:.2f} below 0.8 ({len(exact)} true pairs)"


def test_srp_signature_deterministic(spark, sf_dir):
    from sql_to_dbsp_compiler_spark.llm.similarity import srp_signatures

    emb = load_table(spark, sf_dir, "embeddings")
    a = {(r.vec_id, r.srp_sig) for r in srp_signatures(emb).collect()}
    b = {(r.vec_id, r.srp_sig) for r in srp_signatures(emb.repartition(7)).collect()}
    assert a == b


def test_ivf_partitioned_store_prunes_and_matches(spark, sf_dir, tmp_path):
    """The partitioned IVF store returns the same results as the
    in-memory IVF path AND provably scans only the probed centroid
    partitions (inputFiles ⊂ store files)."""
    from sql_to_dbsp_compiler_spark.llm.similarity import ivf_query_store, ivf_write_store

    corpus, queries = _split(spark, sf_dir)
    store = str(tmp_path / "ivf_store")
    ivf_write_store(corpus, store, nlist=8)

    got = ivf_query_store(spark, store, queries, k=5, nprobe=2)
    mem = ivf_topk(corpus, queries, k=5, nlist=8, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, mem.collect()))

    all_parts = {f.rsplit("/", 2)[-2] for f in spark.read.parquet(f"{store}/vectors").inputFiles()}
    assert len(all_parts) == 8
    # partition pruning is visible in the scan node: the literal probe
    # set becomes PartitionFilters (inputFiles() is pre-pushdown, so
    # inspect the physical plan instead)
    plan = spark._jvm.PythonSQLUtils.explainString(got._jdf.queryExecution(), "formatted")
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "centroid_id" in m[0], plan
    assert "PartitionFilters: []" not in m[0]


def test_srp_wide_signature_shape_and_determinism(spark, sf_dir):
    """128/256-bit SRP signatures: array<long> of the right width,
    deterministic across partitionings, and the low word of a wider
    signature is NOT the 64-bit signature (independent hyperplanes)."""
    from sql_to_dbsp_compiler_spark.llm.similarity import srp_signatures

    emb = load_table(spark, sf_dir, "embeddings")
    w = {(r.vec_id, tuple(r.srp_sig)) for r in srp_signatures(emb, bits=128).collect()}
    w2 = {
        (r.vec_id, tuple(r.srp_sig))
        for r in srp_signatures(emb.repartition(5), bits=128).collect()
    }
    assert w == w2
    assert all(len(sig) == 2 for _, sig in w)
    assert all(len(r.srp_sig) == 4 for r in srp_signatures(emb.limit(8), bits=256).collect())


def test_srp_wide_neardup_precision_and_recall(spark, sf_correct_dir):
    """128-bit signatures at the same 4-bit band width double the
    band count (32 bands), so recall at the planted similarity level
    dominates the 64-bit configuration (theory: 0.998 vs 0.956 per
    pair at s=0.45). Precision stays 1 — every candidate is
    cosine-verified."""
    from sql_to_dbsp_compiler_spark.llm.similarity import (
        cosine_neardup_pairs,
        srp_neardup_pairs,
    )

    emb = load_table(spark, sf_correct_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b) for r in cosine_neardup_pairs(emb, threshold=0.45).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in srp_neardup_pairs(emb, threshold=0.45, bits=128, band_bits=4).collect()
    }
    assert exact, "no planted near-dup pairs at this SF — vacuous test"
    assert got <= exact, f"false positives: {got - exact}"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"wide-SRP recall {recall:.2f} below 0.8 ({len(exact)} true pairs)"


def test_srp_wide_bands_high_threshold_regime(spark):
    """The 256-bit / 16-bit-band configuration (16 bands × 65536
    buckets — the bounded-bucket setting for large corpora) finds
    planted high-similarity pairs (s≈0.95, per-pair recall theory
    0.96) that 16-bit bands over a single 64-bit word (4 bands,
    recall 0.55) would mostly miss."""
    import numpy as np

    from sql_to_dbsp_compiler_spark.llm.similarity import srp_neardup_pairs

    rng = np.random.default_rng(42)
    dim, npairs, nnoise = 32, 30, 200
    rows = []
    for i in range(npairs):  # planted: v and v + small noise
        v = rng.standard_normal(dim)
        w = v + 0.25 * rng.standard_normal(dim)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in w]))
    for j in range(nnoise):  # background: independent vectors
        rows.append((1000 + j, [float(x) for x in rng.standard_normal(dim)]))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in srp_neardup_pairs(
            emb, threshold=0.9, bits=256, band_bits=16
        ).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(npairs)}
    true_pairs = planted  # noise vectors at dim=32 don't reach cos 0.9
    assert got <= true_pairs | planted, f"false positives: {got - planted}"
    hit = len(got & planted)
    # not every planted pair survives the 0.9 cosine threshold; of
    # those that do, banding theory says ~96% collide in ≥1 band
    assert hit >= int(0.6 * npairs), f"only {hit}/{npairs} planted pairs found"


def test_pq_topk_recall_vs_exact_l2(spark, sf_correct_dir):
    """PQ ANN (m=32 subspaces, k=64 head-init centroids, 8x memory
    compression) must keep recall@10 >= 0.5 against exact L2 on the
    structureless synthetic embeddings — the worst case for
    quantization (no cluster structure to exploit). Ties and the
    distance fold are deterministic, so this is a stable bound, not a
    flaky sample."""
    from collections import defaultdict

    from pyspark.sql import Window

    from sql_to_dbsp_compiler_spark.llm.similarity import (
        as_double_array,
        l2,
        pq_topk,
    )

    e = load_table(spark, sf_correct_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = e.where(F.col("vec_id") >= 10)
    got = pq_topk(corpus, queries, m=32, k=64, topk=10).collect()
    q = queries.select("query_id", as_double_array(F.col("embedding")).alias("qv"))
    c = corpus.select("vec_id", as_double_array(F.col("embedding")).alias("cv"))
    ex = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", l2(F.col("qv"), F.col("cv")).alias("d")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d"), F.col("vec_id"))
    exact = ex.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 10).collect()
    g, x = defaultdict(set), defaultdict(set)
    for r in got:
        g[r["query_id"]].add(r["vec_id"])
    for r in exact:
        x[r["query_id"]].add(r["vec_id"])
    recalls = [len(g[k] & x[k]) / 10 for k in x]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_pq_trained_codebooks_recall_beats_headinit(spark, sf_correct_dir):
    """Trained per-subspace k-means codebooks (pq_train_codebooks:
    one applyInPandas shuffle fits all m subspaces in parallel) must
    not lose recall vs head-init on the same m=32/k=64 geometry —
    on structureless synthetic data the trained quantizer typically
    gains a few points; assert >= head-init - 0.05 (both runs are
    deterministic) and >= the 0.5 floor."""
    from collections import defaultdict

    from pyspark.sql import Window

    from sql_to_dbsp_compiler_spark.llm.similarity import (
        as_double_array,
        l2,
        pq_topk,
        pq_train_codebooks,
    )

    e = load_table(spark, sf_correct_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = e.where(F.col("vec_id") >= 10)
    cbs = pq_train_codebooks(corpus, m=32, k=64)
    trained = pq_topk(corpus, queries, topk=10, codebooks=cbs).collect()
    head = pq_topk(corpus, queries, m=32, k=64, topk=10).collect()
    q = queries.select("query_id", as_double_array(F.col("embedding")).alias("qv"))
    c = corpus.select("vec_id", as_double_array(F.col("embedding")).alias("cv"))
    ex = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", l2(F.col("qv"), F.col("cv")).alias("d")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d"), F.col("vec_id"))
    exact = ex.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 10).collect()

    def recall(rows):
        g, x = defaultdict(set), defaultdict(set)
        for r in rows:
            g[r["query_id"]].add(r["vec_id"])
        for r in exact:
            x[r["query_id"]].add(r["vec_id"])
        return sum(len(g[k] & x[k]) / 10 for k in x) / len(x)

    r_trained, r_head = recall(trained), recall(head)
    assert r_trained >= 0.5, r_trained
    assert r_trained >= r_head - 0.05, (r_trained, r_head)


def test_ann_delta_ingest_equals_full_index(spark, sf_dir):
    """y_ann_delta_ingest: assigning ONLY the delta against the
    standing centroids and searching the merged assignment must equal
    assigning the whole corpus from the same centroids (per-vector
    argmax is independent), through the identical search plan."""
    from pyspark.sql import functions as F

    from sql_to_dbsp_compiler_spark.llm.similarity import (
        ivf_assign_to,
        ivf_search_assigned,
        ivf_train_kmeans,
    )
    from sql_to_dbsp_compiler_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = e.where(F.col("vec_id") >= 10)
    is_delta = (F.col("vec_id") % 8) == 0
    cent, standing = ivf_train_kmeans(corpus.where(~is_delta), nlist=16)
    merged = standing.unionByName(ivf_assign_to(corpus.where(is_delta), cent))
    inc = sorted(
        map(tuple, ivf_search_assigned(merged, cent, queries, k=5, nprobe=4).collect())
    )
    full = sorted(
        map(
            tuple,
            ivf_search_assigned(
                ivf_assign_to(corpus, cent), cent, queries, k=5, nprobe=4
            ).collect(),
        )
    )
    assert inc == full


def test_ivf_store_append_touches_only_delta_partitions(spark, sf_dir, tmp_path):
    """VERDICT r8 #2 plan proof: committing a delta into the
    partitioned IVF store creates new files ONLY under the partitions
    the delta's vectors are assigned to; every other partition's file
    set is byte-identical before and after. Commit cost ∝ |delta|."""
    import glob
    import os

    from sql_to_dbsp_compiler_spark.llm.similarity import (
        ivf_assign_to,
        ivf_store_append,
        ivf_train_kmeans,
    )

    e = load_table(spark, sf_dir, "embeddings")
    standing = e.where((F.col("vec_id") >= 10) & (F.col("vec_id") % 8 != 0))
    cent, assigned = ivf_train_kmeans(standing, nlist=8)
    store = str(tmp_path / "store")
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{store}/vectors"
    )

    def files_by_part():
        out = {}
        for d in glob.glob(f"{store}/vectors/centroid_id=*"):
            out[os.path.basename(d)] = set(glob.glob(f"{d}/*.parquet"))
        return out

    before = files_by_part()
    delta = e.where((F.col("vec_id") >= 10) & (F.col("vec_id") % 8 == 0))
    delta_assigned = ivf_assign_to(delta, cent)
    delta_parts = {
        f"centroid_id={r.centroid_id}"
        for r in delta_assigned.select("centroid_id").distinct().collect()
    }
    ivf_store_append(delta_assigned, store)
    after = files_by_part()
    grew = {p for p in after if after[p] != before.get(p, set())}
    assert grew == delta_parts, (
        f"append touched {sorted(grew - delta_parts)} beyond the delta's "
        f"partitions (delta={sorted(delta_parts)})"
    )
    # untouched partitions kept their exact file sets
    for p in set(before) - delta_parts:
        assert after[p] == before[p]


def test_ivf_store_tombstones_and_pruned_read(spark, sf_dir, tmp_path):
    """Tombstoned vec_ids vanish from the live view without any
    partition rewrite, appended delta ids are present, and a
    centroid_id filter over the live view still prunes the file scan
    to the probed partitions (the tombstone anti-join is broadcast —
    it must not break partition pruning)."""
    from sql_to_dbsp_compiler_spark.llm.similarity import (
        ivf_assign_to,
        ivf_store_append,
        ivf_store_delete,
        ivf_store_live,
        ivf_train_kmeans,
    )

    e = load_table(spark, sf_dir, "embeddings")
    standing = e.where((F.col("vec_id") >= 10) & (F.col("vec_id") % 8 != 0))
    cent, assigned = ivf_train_kmeans(standing, nlist=8)
    store = str(tmp_path / "store")
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{store}/vectors"
    )
    delta = e.where((F.col("vec_id") >= 10) & (F.col("vec_id") % 8 == 0))
    ivf_store_append(ivf_assign_to(delta, cent), store)
    deleted = standing.where(F.col("vec_id") % 8 == 3).select("vec_id")
    ivf_store_delete(deleted, store)

    live = ivf_store_live(spark, store)
    live_ids = {r.vec_id for r in live.select("vec_id").collect()}
    want = {
        r.vec_id
        for r in e.where(
            (F.col("vec_id") >= 10) & (F.col("vec_id") % 8 != 3)
        ).collect()
    }
    assert live_ids == want
    # pruned read: the centroid_id filter must reach the vectors scan
    # as PartitionFilters (inputFiles() is pre-pushdown — inspect the
    # physical plan, same proof as the ivf_query_store test)
    one = live.where(F.col("centroid_id") == 3)
    plan = spark._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "centroid_id" in m[0], plan
    assert "PartitionFilters: []" not in m[0]


def test_ivf_centroid_means_decimal_exact(spark, sf_dir):
    """ivf_centroid_means must equal a driver-side numpy recomputation
    to 9 decimals (the DECIMAL sum makes it independent of partition
    count — rerun under a different parallelism and compare)."""
    import numpy as np

    from sql_to_dbsp_compiler_spark.llm.similarity import (
        ivf_centroid_means,
        ivf_train_kmeans,
    )

    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") >= 10)
    cent, assigned = ivf_train_kmeans(e, nlist=4)
    got = {
        r.centroid_id: (r.n, float(r.mean9))
        for r in ivf_centroid_means(assigned, cent).collect()
    }
    C = {r.centroid_id: np.array(r.cvec) for r in cent.collect()}
    rows = assigned.collect()
    by_c: dict = {}
    for r in rows:
        v = np.array(r.vec)
        c = C[r.centroid_id]
        cos = round(float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c))), 9)
        by_c.setdefault(r.centroid_id, []).append(cos)
    for cid, coss in by_c.items():
        n, m = got[cid]
        assert n == len(coss)
        assert abs(m - round(sum(coss) / len(coss), 9)) < 2e-9
    # partition-count independence: recompute over a repartitioned input
    got2 = {
        r.centroid_id: (r.n, float(r.mean9))
        for r in ivf_centroid_means(assigned.repartition(7), cent).collect()
    }
    assert got2 == got


def test_ivf_query_store_honors_tombstones(spark, sf_dir, tmp_path):
    """Search over a committed store must not return retracted
    vectors: after ivf_store_delete, a tombstoned id disappears from
    every query's top-k and the vacated rank backfills with the next
    best live vector (recompute expectation from the live view)."""
    from sql_to_dbsp_compiler_spark.llm.similarity import (
        brute_force_topk,
        ivf_query_store,
        ivf_store_delete,
        ivf_store_live,
        ivf_write_store,
    )

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") >= 10)
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    store = str(tmp_path / "store")
    ivf_write_store(corpus, store, nlist=8)
    before = ivf_query_store(spark, store, queries, k=5, nprobe=8)
    victims = {r.vec_id for r in before.where(F.col("rn") <= 2).collect()}
    ivf_store_delete(
        spark.createDataFrame([(v,) for v in victims], "vec_id long"), store
    )
    after = ivf_query_store(spark, store, queries, k=5, nprobe=8).collect()
    assert victims and not ({r.vec_id for r in after} & victims)
    # nprobe=8 of nlist=8 probes everything, so the result must equal
    # exact top-k over the live view
    live = ivf_store_live(spark, store).select(
        "vec_id", F.col("vec").alias("embedding")
    )
    want = brute_force_topk(live, queries, k=5).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, want))


def test_ivf_store_compact_locality_and_live_invariance(spark, sf_dir, tmp_path):
    """Compaction rewrites ONLY over-threshold partitions (file-set
    proof), physically drops their tombstoned rows, retires exactly
    the absorbed tombstones, never changes the live view, and is
    idempotent."""
    import glob
    import os

    from sql_to_dbsp_compiler_spark.llm.similarity import (
        ivf_store_compact,
        ivf_store_delete,
        ivf_store_live,
        ivf_write_store,
    )

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") >= 10)
    store = str(tmp_path / "store")
    ivf_write_store(corpus, store, nlist=8)
    v = spark.read.parquet(f"{store}/vectors")
    # heavy deletions in the largest partition, one light tombstone in
    # another, one bogus id that was never in the store
    sizes = sorted(
        ((r.centroid_id, r.n) for r in
         v.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n")).collect()),
        key=lambda t: -t[1],
    )
    heavy_c, heavy_n = sizes[0]
    light_c = sizes[-1][0]
    heavy_ids = [
        r.vec_id for r in v.where(F.col("centroid_id") == heavy_c)
        .select("vec_id").limit(max(2, heavy_n // 2)).collect()
    ]
    light_id = v.where(F.col("centroid_id") == light_c).first().vec_id
    bogus = 99_999_999
    ivf_store_delete(
        spark.createDataFrame(
            [(i,) for i in heavy_ids + [light_id, bogus]], "vec_id long"
        ),
        store,
    )
    live_before = sorted(
        (r.vec_id, r.centroid_id)
        for r in ivf_store_live(spark, store).collect()
    )

    def files_by_part():
        return {
            os.path.basename(d): set(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{store}/vectors/centroid_id=*")
        }

    before = files_by_part()
    # threshold chosen so ONLY the heavy partition is over
    res = ivf_store_compact(spark, store, max_tombstone_frac=0.4)
    assert res["compacted"] == [heavy_c]
    after = files_by_part()
    changed = {p for p in before | after.keys()
               if before.get(p) != after.get(p)}
    assert changed == {f"centroid_id={heavy_c}"}
    # tombstoned rows physically gone from the compacted partition
    raw = {
        r.vec_id
        for r in spark.read.parquet(f"{store}/vectors")
        .where(F.col("centroid_id") == heavy_c).collect()
    }
    assert not (raw & set(heavy_ids))
    # live view invariant; only the unabsorbed tombstones survive
    live_after = sorted(
        (r.vec_id, r.centroid_id)
        for r in ivf_store_live(spark, store).collect()
    )
    assert live_after == live_before
    remaining = {
        r.vec_id for r in spark.read.parquet(f"{store}/_deletes").collect()
    }
    assert remaining == {light_id, bogus}
    # idempotent: nothing left over threshold
    res2 = ivf_store_compact(spark, store, max_tombstone_frac=0.4)
    assert res2["compacted"] == []
    assert res2["tombstones_remaining"] == 2


def test_centroid_staleness_trigger_fires_on_drift(spark, sf_dir, tmp_path):
    """The retrain flag must actually FIRE when ingest drifts the
    data: replace one centroid's members with vectors pulled toward
    another centroid's direction — that partition's mean
    assigned-cosine drops vs the training snapshot and crosses the
    0.005 threshold, while undrifted partitions stay unflagged."""
    from sql_to_dbsp_compiler_spark.llm.similarity import (
        ivf_centroid_means,
        ivf_train_kmeans,
    )

    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") >= 10)
    cent, assigned = ivf_train_kmeans(e, nlist=4)
    snap = {
        r.centroid_id: float(r.mean9)
        for r in ivf_centroid_means(assigned, cent).collect()
    }
    # drift: blend every vector of the busiest centroid 60/40 toward
    # a FIXED far vector — assignments mostly stay (60% own direction)
    # but the cosine to the centroid drops well past the threshold
    busiest = (
        assigned.groupBy("centroid_id").count().orderBy(F.col("count").desc())
        .first().centroid_id
    )
    far = [float(x) for x in cent.where(
        F.col("centroid_id") != busiest).first().cvec]
    blend = F.transform(
        F.col("vec"),
        lambda x, i: x * 0.6 + F.element_at(F.lit(far), i + 1) * 0.4,
    )
    drifted = assigned.withColumn(
        "vec", F.when(F.col("centroid_id") == busiest, blend).otherwise(F.col("vec"))
    )
    now = {
        r.centroid_id: float(r.mean9)
        for r in ivf_centroid_means(drifted, cent).collect()
    }
    flags = {c: (snap[c] - now[c]) > 0.005 for c in snap}
    assert flags[busiest] is True, (snap[busiest], now[busiest])
    assert all(not v for c, v in flags.items() if c != busiest), flags


def test_ivf_store_vector_update_composes(spark, sf_dir, tmp_path):
    """Vector UPDATE against the standing store = retract → compact
    (retire the tombstone) → append the re-assigned new row. The
    middle step is load-bearing: tombstones are unordered w.r.t.
    appends, so WITHOUT retirement the re-inserted id is shadowed by
    its own tombstone (asserted below — the documented protocol, see
    the NOTE in llm/similarity.py). After the update, search returns
    the updated id in its new neighbor's bucket."""
    from sql_to_dbsp_compiler_spark.llm.similarity import (
        ivf_assign_to,
        ivf_query_store,
        ivf_store_append,
        ivf_store_compact,
        ivf_store_delete,
        ivf_store_live,
        ivf_write_store,
    )

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") >= 10)
    store = str(tmp_path / "store")
    ivf_write_store(corpus, store, nlist=8)
    cent = spark.read.parquet(f"{store}/_centroids")

    victim = corpus.select(F.min("vec_id")).first()[0]
    target = corpus.where(F.col("vec_id") != victim).select(
        F.max("vec_id")
    ).first()[0]
    new_row = (
        corpus.where(F.col("vec_id") == target)
        .select(F.lit(victim).cast("long").alias("vec_id"), "embedding")
    )
    # UPDATE = retract + retire + insert. First pin the shadowing
    # hazard the retire step exists for: append WITHOUT retiring and
    # the new row is invisible behind its own tombstone.
    ivf_store_delete(
        spark.createDataFrame([(victim,)], "vec_id long"), store
    )
    ivf_store_append(ivf_assign_to(new_row, cent), store)
    assert ivf_store_live(spark, store).where(
        F.col("vec_id") == victim
    ).count() == 0  # shadowed — the documented unordered-tombstone hazard
    # retire the tombstone (threshold 0: every hit partition compacts,
    # including the shadowed fresh row — so re-append after)
    ivf_store_compact(spark, store, max_tombstone_frac=0.0)
    ivf_store_append(ivf_assign_to(new_row, cent), store)

    live = ivf_store_live(spark, store)
    assert live.where(F.col("vec_id") == victim).count() == 1
    # the updated row moved to the target's partition
    p_victim = live.where(F.col("vec_id") == victim).first().centroid_id
    p_target = live.where(F.col("vec_id") == target).first().centroid_id
    assert p_victim == p_target
    # searching with the target's embedding finds BOTH ids now
    q = corpus.where(F.col("vec_id") == target).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    top = {r.vec_id for r in ivf_query_store(spark, store, q, k=2, nprobe=8).collect()}
    assert top == {victim, target}


def test_assign_in_row_argmax_matches_aggregate(spark):
    """ivf_assign_to's in-row array_max argmax must reproduce the
    crossJoin + max_by aggregate EXACTLY on every input: exact-tie
    centroids (duplicate cvec: lowest centroid_id wins), a NaN
    centroid and an Inf centroid (their csim is NaN, which orders
    greatest), and a 128-centroid table (SemDeDup's nlist grows with
    the corpus). A zero VECTOR is not a reachable corner: under
    ANSI mode the csim division raises DIVIDE_BY_ZERO in both
    shapes. An empty centroid table fails at run time."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from sql_to_dbsp_compiler_spark.llm.similarity import (
        as_double_array,
        dot,
        ivf_assign_to,
    )

    def frame(rows, schema):
        # one slice: a tiny local table needs no parallelism
        return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

    def reference(corpus, cent):
        # the crossJoin + max_by aggregate formulation, inline
        c = corpus.select(
            F.col("vec_id"), as_double_array(F.col("embedding")).alias("vec")
        ).withColumn("__nv", F.sqrt(dot(F.col("vec"), F.col("vec"))))
        ct = cent.withColumn("__nc", F.sqrt(dot(F.col("cvec"), F.col("cvec"))))
        scored = c.crossJoin(F.broadcast(ct)).select(
            "vec_id",
            "centroid_id",
            (dot(F.col("vec"), F.col("cvec")) / (F.col("__nv") * F.col("__nc"))).alias(
                "csim"
            ),
        )
        return {
            r["vec_id"]: r["b"]
            for r in scored.groupBy("vec_id")
            .agg(
                F.max_by(
                    F.col("centroid_id"),
                    F.struct(F.col("csim"), (-F.col("centroid_id")).alias("nid")),
                ).alias("b")
            )
            .collect()
        }

    def check(corpus_rows, cent_rows):
        corpus = frame(corpus_rows, "vec_id bigint, embedding array<double>")
        cent = frame(cent_rows, "centroid_id int, cvec array<double>")
        got = {
            r["vec_id"]: r["centroid_id"]
            for r in ivf_assign_to(corpus, cent).collect()
        }
        assert got == reference(corpus, cent)
        assert len(got) == len(corpus_rows)
        return got

    corpus2 = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.7, 0.7]),
        (5, [-1.0, -1.0]),
    ]
    ties = [
        (0, [1.0, 0.1]),
        (1, [0.1, 1.0]),
        (2, [0.1, 1.0]),  # duplicate of 1 -> exact tie, lowest id wins
    ]
    got = check(corpus2, ties)
    assert got[2] == 1  # exact tie between centroids 1 and 2 -> lowest id

    # NaN / Inf centroids: csim is NaN for every vector, and NaN orders
    # greatest, so the non-finite centroid wins everywhere
    got = check(corpus2, ties + [(3, [float("nan"), 1.0])])
    assert set(got.values()) == {3}
    got = check(corpus2, ties + [(4, [float("inf"), 0.0])])
    assert set(got.values()) == {4}

    # 128 centroids (with one exact-tie pair) over 300 vectors
    rng = np.random.RandomState(11)
    C = rng.randn(128, 8)
    C[77] = C[12]
    V = np.vstack([rng.randn(297, 8), C[[12, 40, 127]]])
    got = check(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        [(j, [float(x) for x in c]) for j, c in enumerate(C)],
    )
    assert got[297] == 12 and got[298] == 40 and got[299] == 127

    empty = frame([], "centroid_id int, cvec array<double>")
    corpus = frame(corpus2, "vec_id bigint, embedding array<double>")
    with pytest.raises(Exception, match="empty centroid table"):
        ivf_assign_to(corpus, empty).collect()
