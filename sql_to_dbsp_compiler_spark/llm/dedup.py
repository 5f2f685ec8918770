"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale shape: every near-dup algorithm here generates candidates via an
EQUI-JOIN on a bucket key (LSH band hash / SimHash band), never by
comparing all pairs. At 100 TB the candidate join shuffles on the
band key and the verify step touches only candidate pairs. Bucket-size
caps guard against degenerate buckets (e.g. empty-text clusters)
blowing up a join task.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_to_dbsp_compiler_spark.llm.text import words
from sql_to_dbsp_compiler_spark.operators.skew import spread_by


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the minimum id per duplicate group (hash
    groupBy — one shuffle on the content key; use a content *hash* as
    the key at scale so the shuffle rows stay small)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )


def _bind(value: Column, body) -> Column:
    """Evaluate ``body(var)`` with ``var`` bound ONCE to ``value`` —
    a let-binding in expression land via a single-element transform.
    Without it, referencing a computed array column inside a
    higher-order lambda INLINES the computation into every element
    access (higher-order functions are interpreted, no CSE): shingling
    re-split the whole document for every (gram, word) pair, an
    O(words²) blow-up measured at 12x the bound version's cost."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _gram_starts(ws: Column, n: int) -> Column:
    """0-based start offsets of the word n-grams of ``ws``: empty when
    it has fewer than n words or is NULL (sequence(0, -1) would count
    DOWN to [0, -1] and read past the end of the array)."""
    return F.when(F.size(ws) >= n, F.sequence(F.lit(0), F.size(ws) - n)).otherwise(
        F.array().cast("array<int>")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles, as an array column (pure JVM)."""

    def grams(ws: Column) -> Column:
        idx = _gram_starts(ws, n)
        gram = lambda i: F.concat_ws(" ", *[F.element_at(ws, i + k + 1) for k in range(n)])  # noqa: E731
        return F.array_distinct(F.transform(idx, gram))

    return _bind(words(text), grams)


def _rot(x: Column, k: int) -> Column:
    """64-bit rotate-left using shifts+or only (ANSI-safe, no overflow)."""
    return F.shiftleft(x, k).bitwiseOR(F.shiftrightunsigned(x, 64 - k))


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct word-n-gram shingles as 64-bit HASHES, built from one
    xxhash64 pass over words + rotate/xor combining — the n-gram string
    is never materialized (the expensive part of shingling at scale is
    building millions of short strings; longs are 10x cheaper)."""

    def grams(hs: Column) -> Column:
        idx = _gram_starts(hs, n)
        combine = lambda i: reduce(  # noqa: E731
            lambda acc, k: acc.bitwiseXOR(
                _rot(F.element_at(hs, i + k + 1), (k * 21) % 63 + 1)
            ),
            range(n),
            F.lit(0).cast("long"),
        )
        return F.array_distinct(F.transform(idx, combine))

    return _bind(F.transform(words(text), lambda w: F.xxhash64(w)), grams)


def minhash_signature(text: Column, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    """MinHash signature: array of num_hashes minima of seeded
    xxhash64 over the shingle set. One pass, no shuffle, no UDF."""
    def hasher(i: int):
        # NB: must be a ONE-argument lambda — a second (even defaulted)
        # parameter makes pyspark pass the array index into it.
        prefix = F.lit(f"mh{i}|")
        return lambda s: F.xxhash64(F.concat(prefix, s))

    # _bind: shingle once, not once per hash function
    return _bind(
        shingles(text, shingle_n),
        lambda sh: F.array(
            *[F.array_min(F.transform(sh, hasher(i))) for i in range(num_hashes)]
        ),
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures as one codegen'd explode + hash aggregate.

    Shingles are built directly as 64-bit hashes (one xxhash64 pass
    over words, rotate/xor n-gram combining — no n-gram strings); the
    num_hashes family is derived from the base hash by xorshift mixing
    (XOR+shifts only — ANSI-overflow-safe, and ~10x cheaper than
    re-hashing a string per function).

    Shape (r10, matching minhash_signatures_md5): explode the hash
    array and take the num_hashes mins in ONE HashAggregate with
    map-side partials, instead of num_hashes interpreted array_min/
    transform passes per row (HOF lambdas don't codegen). The shuffle
    moves (id, 16 longs) per doc — nothing at any scale — and the
    persist() barrier the old shape needed to stop CollapseProject
    re-shingling per min expression becomes unnecessary (the explode
    is a Generate node, a natural barrier)."""
    # explode drops docs with no shingles (NULL text, fewer than
    # shingle_n words): they have no signature and match nothing, as
    # in the oracles' unnest
    sh = spread_by(df, id_col).select(
        F.col(id_col), F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("__h")
    )

    def variant(i: int):
        seed = F.lit((0x9E3779B97F4A7C15 * (i + 1)) % (1 << 63)).cast("long")
        v = F.col("__h").bitwiseXOR(seed)
        v = v.bitwiseXOR(F.shiftright(v, 33))
        v = v.bitwiseXOR(F.shiftleft(v, 21))
        return v.bitwiseXOR(F.shiftright(v, 17))

    g = sh.groupBy(id_col).agg(
        *[F.min(variant(i)).alias(f"__m{i}") for i in range(num_hashes)]
    )
    return g.select(
        F.col(id_col), F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("sig")
    )



def _pairs_within_buckets(
    banded,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int,
    dedup: bool = True,
    spread: bool = True,
):
    """Join-free candidate pairing: ONE shuffle groups rows into
    buckets; pairs are enumerated inside the (capped) bucket array.
    Replaces the bucket-size pre-scan + broadcast filter + self-join of
    the naive formulation — shuffle volume is linear in the banded rows
    and pair generation is quadratic only within a bucket.

    ``spread`` pins the bucket exchange to defaultParallelism via an
    explicit keyed repartition the groupBy REUSES (same keys → one
    exchange, guide §2.4): AQE coalesces the bucket shuffle by BYTES,
    and banded signatures are tiny relative to the quadratic in-bucket
    pair work they fan out into — measured at sf0.1 the whole pair
    enumeration ran in ONE AQE-coalesced task (guide §2.5: compute
    skew that byte-based coalescing cannot see). Delta-sized callers
    (retract/apply touched-bucket slices) pass spread=False and keep
    AQE's coalescing — their bucket count is delta-bound."""
    if spread:
        par = banded.sparkSession.sparkContext.defaultParallelism
        banded = banded.repartition(par, *[F.col(c) for c in bucket_cols])
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    # NB two-arg lambda: pyspark passes the 0-based
                    # array index as the second argument.
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.greatest(F.size("ids") - i - 1, F.lit(1))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    out = pairs.select("p.id_a", "p.id_b")
    # dedup=False defers cross-band duplicate elimination to the
    # caller (cheaper AFTER a selective verify stage than shuffling
    # the full candidate set here).
    return out.distinct() if dedup else out


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: split the signature into `bands` slices; docs
    sharing any band slice become a candidate pair (pairing via
    _pairs_within_buckets — one linear shuffle on the band key)."""
    rows = F.size(F.col(sig_col)) / bands  # rows per band
    banded = (
        sig_df.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band_id"),
                        F.xxhash64(
                            F.slice(F.col(sig_col), b * rows.cast("int") + 1, rows.cast("int"))
                        ).alias("band_hash"),
                    ),
                )
            ).alias("band"),
        )
        .select(id_col, "band.band_id", "band.band_hash")
    )
    # degenerate (oversized) buckets are near-identical boilerplate —
    # reported by exact dedup instead; the cap keeps task sizes bounded.
    return _pairs_within_buckets(banded, ["band_id", "band_hash"], id_col, max_bucket)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: explode shingle sets,
    count co-occurrences per pair via an equi-join on the shingle, then
    jaccard = inter / (|A| + |B| - inter).

    Run standalone this is quadratic in docs *sharing* a shingle, and
    real corpora have Zipfian shingle frequencies — one 3-gram in 10⁶
    docs is ~5·10¹¹ join rows. ``max_df`` is the hot-shingle guard:
    shingles appearing in more than ``max_df`` documents are removed
    from every shingle set BEFORE sizes and intersections, so the
    result is the exact Jaccard of the df-filtered sets (deterministic
    and oracle-reproducible, unlike dropping rows mid-join). Hot
    shingles are the least discriminative, so candidate quality
    barely moves. At 100 TB prefer :func:`jaccard_verify_candidates`
    over LSH candidates; this standalone form with ``max_df`` is for
    exact-on-bounded-corpus use."""
    sh = (
        spread_by(df, id_col)
        .select(F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle").select(id_col, "shingle")
    # lazy localCheckpoint, not persist(): see prefix_filtered_jaccard_pairs
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    jac = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    ).cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_verify_candidates(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Exact n-gram Jaccard restricted to candidate pairs — the verify
    stage of the LSH cascade (reference: the verify step after MinHash
    banding in any LSH dedup pipeline). Each pair side equi-joins its
    distinct shingle ARRAY and the intersection is computed JVM-side
    (``array_intersect``): per-pair cost is linear in the two
    documents' shingle counts and total cost is linear in
    ``|candidates|`` — never quadratic in corpus size, which is what
    makes this the 100 TB path vs standalone
    :func:`ngram_jaccard_pairs`."""
    # The candidate list is referenced three times below (two needed-id
    # scans + the pair join); a lazy localCheckpoint materializes the
    # upstream LSH pipeline once instead of once per reference.
    cand_ids = candidates.select(id_a, id_b).localCheckpoint(eager=False)
    # Shingle-ize ONLY documents that appear in a candidate pair —
    # |needed| ≤ 2·|candidates|, so verify cost never scales with the
    # corpus, only with the LSH output.
    needed = (
        cand_ids.select(F.col(id_a).alias(id_col))
        .union(cand_ids.select(F.col(id_b).alias(id_col)))
        .distinct()
    )
    sets = df.join(needed, id_col, "leftsemi").select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col), n)).alias("__set")
    )
    a = sets.select(F.col(id_col).alias(id_a), F.col("__set").alias("__sa"))
    b = sets.select(F.col(id_col).alias(id_b), F.col("__set").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = (F.size("__sa") + F.size("__sb") - inter).cast("double")
    jac = inter.cast("double") / union
    return (
        cand_ids.join(a, id_a)
        .join(b, id_b)
        # union-0 guard: NaN compares greater than numbers in Spark,
        # so 0/0 would otherwise PASS the threshold
        .where((union > 0) & (jac >= threshold))
        .select(id_a, id_b, jac.alias("jaccard"))
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """SimHash: majority vote per bit over word-hash bits, weighted by
    term frequency. One groupBy(doc) with 64 SUM aggregates — single
    shuffle, map-side partials, all codegen."""
    wc = (
        spread_by(df, id_col)
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.xxhash64("w"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = wc.groupBy(id_col).agg(*votes)
    sig = reduce(
        lambda acc, i: acc.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long") * (2**i) if i < 63 else F.lit(-(2**63)))
            .otherwise(0)
            .cast("long")
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return agg.select(F.col(id_col), sig.alias("simhash"))


def banded_pairs_int64(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    band_bits: int,
    max_bucket: int = 1000,
    dedup: bool = True,
) -> DataFrame:
    """Band a packed 64-bit signature into ``64 // band_bits`` slices;
    rows sharing any slice become candidate pairs (join-free bucket
    pairing — one linear shuffle on (band_id, band_val)). Shared by
    SimHash (text) and signed-random-projection (embedding) LSH."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sig_df.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col(sig_col), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_val")
    return _pairs_within_buckets(banded, ["band_id", "band_val"], id_col, max_bucket, dedup)


def hamming_filtered_bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    sig_col: str,
    max_hamming: int,
    max_bucket: int = 1000,
    nwords: int | None = None,
) -> DataFrame:
    """Join-free bucket pairing WITH an in-bucket Hamming prefilter:
    rows carry their full multi-word signature into the bucket; pair
    enumeration computes popcount(xor) per candidate inside the same
    codegen'd expression and emits only pairs within ``max_hamming``.
    Random-collision candidates (the bulk, at narrow band widths) are
    discarded before ANY pair row is materialized or shuffled — the
    shuffle stays linear in the banded rows and the output is just the
    survivors.

    ``nwords`` (the signature width in 64-bit words, known statically
    by every caller) unrolls the per-pair popcount into a fixed
    ``Σ_w bit_count(a[w] xor b[w])`` expression tree: the zip_with +
    aggregate fold allocated an intermediate array and paid two
    interpreted lambda calls per word PER CANDIDATE PAIR — at narrow
    band widths the candidate count is ~bucket²/2 per bucket, making
    this the profiled hot expression of the whole SRP cascade (r9:
    ~29 CPU-s of the lsh query's 43 sat in this one stage)."""
    # Same compute-spread as _pairs_within_buckets: pin the bucket
    # exchange to defaultParallelism (the groupBy reuses it — still one
    # shuffle) so AQE's byte-based coalescing can't serialize the
    # quadratic in-bucket Hamming work. Measured at sf0.1: the pair
    # stage ran as ONE task with 5.7 CPU-s before this.
    par = banded.sparkSession.sparkContext.defaultParallelism
    banded = banded.repartition(par, *[F.col(c) for c in bucket_cols])
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(sig_col).alias("s")))
            ).alias("xs")
        )
        .where((F.size("xs") >= 2) & (F.size("xs") <= max_bucket))
    )
    if nwords is not None:
        # Width guard (ADVICE r9/r10), evaluated ONCE PER BUCKET over
        # every member, not per candidate pair: if a caller ever passes
        # nwords wider than some signature array, element_at in the
        # unrolled popcount would return null (ANSI off: the hamming sum
        # goes null and the `<= max_hamming` filter silently drops its
        # pairs) or raise a bare index error (ANSI on). Fail loudly and
        # by name instead.
        buckets = buckets.where(
            F.assert_true(
                F.forall("xs", lambda x: F.size(x["s"]) >= nwords),
                F.lit(
                    f"hamming_filtered_bucket_pairs: signature narrower "
                    f"than nwords={nwords} words"
                ),
            ).isNull()
        )

    if nwords is not None:

        def hamming(a, b):
            terms = [
                F.bit_count(
                    F.element_at(a, w + 1).bitwiseXOR(F.element_at(b, w + 1))
                )
                for w in range(nwords)
            ]
            return reduce(lambda acc, t: acc + t, terms)

    else:

        def hamming(a, b):
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
                F.lit(0),
                lambda acc, x: acc + x,
            )

    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("xs"),
                    lambda x, i: F.transform(
                        F.filter(
                            F.slice(F.col("xs"), i + 2, F.greatest(F.size("xs") - i - 1, F.lit(1))),
                            lambda y: hamming(x["s"], y["s"]) <= max_hamming,
                        ),
                        lambda y: F.struct(x["i"].alias("id_a"), y["i"].alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b")


def banded_pairs_words(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    band_bits: int,
    max_bucket: int = 1000,
    dedup: bool = True,
) -> DataFrame:
    """:func:`banded_pairs_int64` for multi-word signatures
    (``array<long>``, 64 bits per word — the 128/256-bit SRP
    signatures): each word contributes ``64 // band_bits`` bands with
    globally distinct band ids. Same join-free bucket pairing, one
    linear shuffle on (band_id, band_val) regardless of width."""
    if 64 % band_bits != 0:
        raise ValueError(f"band_bits must divide 64: {band_bits}")
    nb = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sig_df.select(
        id_col,
        F.posexplode(F.col(sig_col)).alias("__word_i", "__word"),
    ).select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("__word_i") * nb + F.lit(b)).alias("band_id"),
                        F.shiftrightunsigned(F.col("__word"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(nb)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_val")
    return _pairs_within_buckets(banded, ["band_id", "band_val"], id_col, max_bucket, dedup)


def simhash_candidate_pairs(
    sig_df: DataFrame, id_col: str = "doc_id", band_bits: int = 16
) -> DataFrame:
    """Candidate pairs sharing any 16-bit SimHash band (docs within
    Hamming distance 3 of each other share >=1 of 4 bands)."""
    return banded_pairs_int64(sig_df, id_col, "simhash", band_bits)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a candidate-pair edge list →
    ``(id, component)`` with component = min node id in the component.

    Min-label propagation: each node repeatedly takes the minimum
    label among itself and its neighbors until a fixed point. Each
    iteration is one shuffle (groupBy node); lineage is truncated
    per iteration with localCheckpoint so the plan stays flat. Rounds
    needed ≈ graph diameter — near-dup graphs are dense clumps with
    tiny diameters, so this converges in a few rounds; for adversarial
    long-chain graphs swap in the large-star/small-star variant (same
    per-round shuffle structure, O(log n) rounds).

    This is the step that turns pairwise near-dup evidence into dedup
    *groups*: keep the doc whose id equals its component, drop the
    rest."""
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    sym = sym.distinct().localCheckpoint(eager=False)

    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nbr_min"), F.col("component")) < F.col("component")).alias(
                    "__changed"
                ),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.where(F.col("__changed")).limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    return labels


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Canonical-doc assignment: every doc maps to its component's
    minimum id (docs with no near-dup edge map to themselves). Output
    ``(doc_id, canonical_id, is_canonical)`` — the keep/drop decision
    of a near-dup dedup pipeline."""
    comp, _rounds = connected_components_star(pairs, id_a, id_b)
    return (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))
    )


# ---------------------------------------------------------------------------
# Engine-agnostic (md5-based) hash family
# ---------------------------------------------------------------------------
#
# The xxhash64-seeded family above is the FAST path (one 64-bit hash
# pass, no string building). The md5 family below computes the same
# algorithms from hashes any SQL engine reproduces bit-for-bit
# (DuckDB: md5(), CAST('0x' || substring(md5(x),1,15) AS BIGINT)) —
# which makes the full MinHash-LSH / SimHash pipelines verifiable
# against an independent oracle, not just recall-tested. Same plan
# shape and shuffle structure as the fast path; ~2-3x more per-row
# hash cost, so at 100 TB prefer the xxhash64 family unless
# cross-engine reproducibility is required.


def md5_hash60(col: Column) -> Column:
    """60-bit integer hash from the first 15 hex chars of md5 —
    bit-identical in any engine with md5 (15 chars, not 16, so the
    value stays inside a signed 64-bit int)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Mersenne prime 2^31-1: hash values stay < 2^31, so h1 + 15*h2 < 2^36
# — no 64-bit overflow in EITHER engine (DuckDB errors on BIGINT
# overflow; Spark wraps silently — both are avoided).
MINHASH_P = 2_147_483_647


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    spread: bool = True,
) -> DataFrame:
    """MinHash over md5 with Kirsch–Mitzenmacher double hashing: ONE
    md5 per shingle yields two 60-bit halves (hex chars 1-15 and
    17-31), reduced mod P=2^31-1; hash function i is
    ``(h1 + i*h2) mod P`` and signature element i is its minimum over
    the shingle set. 16x fewer md5 evaluations than the seeded-prefix
    family (the profiled hot stage of the dedup cascade) with the
    standard double-hashing quality guarantee, and every step is
    integer arithmetic any SQL engine reproduces bit-for-bit."""
    # spread=False is for DELTA-sized inputs (incremental apply /
    # retract): forcing a day's few-thousand-row delta across every
    # core costs more in per-task fixed overhead than the serial
    # compute it saves, and at scale the delta's own scan splits
    # already parallelize it.
    #
    # Shape (r10, guide §1.2 step 2 / §4.1 "prefer codegen"): explode
    # the shingle array and compute md5/h1/h2 and the num_hashes mins
    # as FLAT columns + one hash aggregate, instead of per-element
    # higher-order-function lambdas. HOF lambda bodies are interpreted
    # per array element (no whole-stage codegen), and the old shape
    # paid 2 interpreted md5 folds + 16 interpreted array passes per
    # doc; exploded, every expression codegens and the 16 mins are one
    # HashAggregate with map-side partials — only (id, 16 longs) per
    # doc crosses the wire, so the added exchange is ~nothing at any
    # scale. Measured (local[4], sf0.1, interleaved min-of-4):
    # 1.37 s → 0.78 s for the signature stage alone; output verified
    # IDENTICAL row-for-row (integer min is order- and duplicate-
    # insensitive, so dropping the array never changes sig).
    # explode drops docs with no shingles (NULL text, fewer than
    # shingle_n words): they have no signature and match nothing, as
    # in the oracles' unnest
    sh = (spread_by(df, id_col) if spread else df).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("__sg")
    )
    p = F.lit(MINHASH_P)
    # md5(__sg) IS evaluated twice (h1 and h2 branches) — deliberately:
    # an r9 attempt to bind it once measured ~20% SLOWER in the HOF
    # shape, and in this flat shape both calls sit in one codegen'd
    # projection where the second md5 of a ~20-char string is cheaper
    # than materializing an intermediate column would be.
    hp = sh.select(
        F.col(id_col),
        (F.conv(F.substring(F.md5("__sg"), 1, 15), 16, 10).cast("long") % p).alias("h1"),
        (F.conv(F.substring(F.md5("__sg"), 17, 15), 16, 10).cast("long") % p).alias("h2"),
    )
    g = hp.groupBy(id_col).agg(
        *[
            F.min((F.col("h1") + F.lit(i) * F.col("h2")) % p).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    return g.select(
        F.col(id_col),
        F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("sig"),
    )


def banded_md5(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 4,
) -> DataFrame:
    """The banding stage of :func:`lsh_candidate_pairs_md5` as a
    standalone (id, band_id, band_hash) frame — exposed so pipelines
    can PERSIST the banded table as standing state (incremental
    corpus-delta dedup writes it bucketed by band key and joins each
    day's delta against it instead of re-banding the corpus)."""
    sig_size = F.size(F.col(sig_col))
    rows = (sig_size / bands).cast("int")
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(F.col(sig_col), b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs_md5(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding over md5-family signatures with an md5 band key
    (md5 of the '|'-joined slice, elements rendered as decimal
    strings) — same join-free bucket pairing as lsh_candidate_pairs,
    reproducible in the oracle (DuckDB ``array_to_string``)."""
    banded = banded_md5(sig_df, id_col, sig_col, bands)
    return _pairs_within_buckets(banded, ["band_id", "band_hash"], id_col, max_bucket)


def delta_dedup_apply(
    docs: DataFrame,
    delta_docs: DataFrame,
    buckets_state: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
    threshold: float = 0.5,
) -> DataFrame:
    """The APPLY phase of incremental corpus-delta dedup: shingle/
    hash/band ONLY ``delta_docs``, join their bands against the
    persisted standing-corpus bucket table ``buckets_state``
    (id, band_id, band_hash), enumerate delta×corpus and delta×delta
    candidates under the COMBINED hot-bucket cap (corpus members +
    delta members ≤ max_bucket — identical to what one full-corpus
    cascade would apply), then exact-Jaccard-verify candidates only.

    Per-ingest cost is proportional to |delta| + |candidates|; the
    standing corpus contributes a 3-column scan of the bucket table
    (at 100 TB: written bucketed by (band_id, band_hash), so the join
    is co-located) and per-candidate text lookups by id — it is never
    re-shingled and its text is never reshuffled."""
    keys = ["band_id", "band_hash"]
    bands_d = banded_md5(
        minhash_signatures_md5(
            delta_docs, id_col, text_col, num_hashes, shingle_n, spread=False
        ),
        id_col,
        bands=bands,
    ).localCheckpoint(eager=False)

    # Liveness is only ever consulted for keys the DELTA bands touch
    # (bands_d_live = bands_d ⋉ live), so the standing-state bucket
    # count aggregates ONLY rows in delta-touched buckets (r10, guide
    # §2.3 "aggregate fewer bytes"): a broadcast semi-join on the
    # |delta|-bound key set replaces the full-state groupBy — at
    # 100 TB that was a corpus-wide shuffle of every bucket key to
    # learn sizes the operator then ignored. Untouched keys never
    # reached the output before either (they dropped in the bands_d
    # join), so the result is unchanged — the oracle re-verified the
    # combined-cap corner.
    keys_d = bands_d.select(*keys).distinct()
    n_c = (
        buckets_state.join(F.broadcast(keys_d), keys, "leftsemi")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    n_d = bands_d.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_d"))
    live = (
        n_c.join(n_d, keys, "full_outer")
        .select(
            *keys,
            (
                F.coalesce(F.col("n_c"), F.lit(0))
                + F.coalesce(F.col("n_d"), F.lit(0))
            ).alias("n_tot"),
        )
        .where((F.col("n_tot") >= 2) & (F.col("n_tot") <= max_bucket))
        .select(*keys)
    )
    bands_d_live = bands_d.join(live, keys).localCheckpoint(eager=False)

    # Delta side broadcast: the state contributes one scan-and-probe,
    # never an exchange (guide §3.1 — broadcast the side that fits; the
    # build side here is |delta bands ⋉ live|, delta-bound by
    # construction).
    cross = (
        F.broadcast(bands_d_live.select(*keys, F.col(id_col).alias("__d")))
        .join(buckets_state.select(*keys, F.col(id_col).alias("__c")), keys)
        .select(
            F.least("__d", "__c").alias("id_a"),
            F.greatest("__d", "__c").alias("id_b"),
        )
    )
    dd = _pairs_within_buckets(
        bands_d_live, keys, id_col, max_bucket=2**31 - 1, dedup=False,
        spread=False,  # delta-bound bucket set — keep AQE coalescing
    )
    cands = cross.unionByName(dd).distinct()
    return jaccard_verify_candidates(
        docs, cands, id_col, text_col, n=shingle_n, threshold=threshold
    )


def delta_state_retract_commit(
    buckets_state: DataFrame,
    retract_ids: DataFrame,
    updated_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """COMMIT half of a SIGNED delta against the standing dedup state:
    state' = state ▷ retract_ids (anti-join — deleted docs and the OLD
    versions of updated docs drop their bands) ∪ banded(updated_docs)
    (only the new text is re-hashed). The Z-set retract+insert
    decomposition (reference circuit/operator/DBSPNegateOperator.java:
    a table modify is a negative-weight retraction plus an insertion)
    carried into the persisted bucket table: per-commit compute is
    ∝ |delta|, the standing corpus contributes one 3-column
    scan-and-anti-join and is never re-shingled."""
    # broadcast anti-join: the state passes through as one scan-and-
    # probe — never shuffled by id just to drop |delta| rows
    keep = buckets_state.join(
        F.broadcast(retract_ids.select(F.col(id_col))), id_col, "left_anti"
    )
    bands_u = banded_md5(
        minhash_signatures_md5(
            updated_docs, id_col, text_col, num_hashes, shingle_n, spread=False
        ),
        id_col,
        bands=bands,
    )
    return keep.unionByName(bands_u)


def delta_dedup_retract(
    docs_old: DataFrame,
    deleted_ids: DataFrame,
    updated_docs: DataFrame,
    buckets_state: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
    threshold: float = 0.5,
) -> DataFrame:
    """The RETRACTION half of incremental corpus-delta dedup — the
    negative-weight side of the Z-set ingest loop (reference
    DBSPNegateOperator semantics): given a signed delta (deleted doc
    ids + updated docs carrying NEW text) against a standing corpus
    whose banded buckets are persisted, emit the SIGNED CHANGE to the
    verified near-dup pair view as ``(id_a, id_b, jaccard, weight)``
    rows — weight -1 for pairs the delta retracts from the view,
    +1 for pairs it adds (an updated doc whose pair survives with a
    CHANGED jaccard emits both rows, exactly the -old +new a Z-set
    diff produces).

    Correctness contract (pinned by the oracle): output == the
    set-diff of two FULL cascades — MinHash/LSH/cap/verify over the
    old corpus vs over the post-delta corpus. The incremental
    computation never runs either cascade; it reproduces the diff
    from delta-bound work:

    - a pair's view membership = exact-Jaccard ≥ threshold AND some
      LIVE bucket (2 ≤ size ≤ max_bucket) contains both ids. Texts of
      untouched docs don't change, so the diff is confined to pairs
      co-bucketed (in either state) with a bucket whose MEMBERSHIP
      changed — retracted bands out, updated bands in. This includes
      the cap corner: a bucket whose size crosses max_bucket flips
      the liveness of ALL its pairs, including untouched–untouched
      ones (test_dedup covers both directions).
    - candidates are enumerated only from TOUCHED buckets, live side
      by side (old state for retracted liveness, new state for added
      liveness); each candidate's membership is then decided against
      its FULL witness set (all buckets containing both ids) per
      state — a pair that merely loses one of several live witnesses
      does not flip.
    - verification is candidate-bound on both sides
      (jaccard_verify_candidates): old-side jaccard over the old
      texts, new-side over the post-delta texts.

    Cost ∝ |delta bands| + |touched-bucket members| + |candidates|,
    plus one lean 3-column scan of the state for bucket sizes and the
    anti-join (the same scan anchor as delta_dedup_apply); at 100 TB
    the state is bucketed by (band_id, band_hash) so every key join
    here is co-located."""
    keys = ["band_id", "band_hash"]
    # |delta|-sized inputs are lazily checkpointed: each is referenced
    # from several subtrees (bands, state', docs_new, both verifies),
    # and without the lineage cut every reference re-scans the corpus
    # text it was derived from — at 100 TB that's the difference
    # between ~4 and ~8 full documents scans in the final plan
    # (test_plan_quality pins the bound).
    updated_docs = updated_docs.select(id_col, text_col).localCheckpoint(
        eager=False
    )
    retract_ids = (
        deleted_ids.select(id_col)
        .unionByName(updated_docs.select(id_col))
        .distinct()
        .localCheckpoint(eager=False)
    )
    bands_u = banded_md5(
        minhash_signatures_md5(
            updated_docs, id_col, text_col, num_hashes, shingle_n, spread=False
        ),
        id_col,
        bands=bands,
    ).localCheckpoint(eager=False)
    state_old = buckets_state

    # Every derived input below comes from as FEW standing-state scans
    # as the semantics allow (guide §2.4: remove passes outright — the
    # state is the only corpus-sized input this operator touches, so
    # the number of times it is read IS the operator's 100 TB cost):
    #   scan 1  bands_old_r   = state ⋉ retract_ids   (retracted bands)
    #   scan 2  n_old         = per-bucket member counts
    #   scan 3  members_old   = state ⋉ touched       (touched buckets)
    #   scan 4  state_old_c   = state ⋉ candidate ids (witness lookups)
    # live_new is DERIVED arithmetically (n_old − n_retracted + n_added
    # per key — exactly what re-counting state' would produce), the
    # new-state touched members derive from members_old, and both
    # member() sides read the one checkpointed candidate-restricted
    # slice — the previous shape re-scanned the full state for each of
    # live_new, cands-new, and all four member() legs (~8 scans).
    bands_old_r = state_old.join(
        F.broadcast(retract_ids), id_col, "leftsemi"
    ).localCheckpoint(eager=False)
    # no distinct: `touched` feeds only broadcast SEMI probes, which
    # tolerate duplicate build keys — dropping the dedup aggregation
    # removes an exchange from the critical path; the key multiset is
    # |delta bands|-bound either way (r10)
    touched = (
        bands_old_r.select(*keys)
        .unionByName(bands_u.select(*keys))
        .localCheckpoint(eager=False)
    )

    # Touched-bucket members: ONE state scan (broadcast semi-probe on
    # the |delta|-bound touched-key set — the state is never shuffled);
    # the new state's touched members derive from it (old minus
    # retracted, plus the delta's bands — bands_u keys are touched by
    # construction).
    members_old = state_old.join(
        F.broadcast(touched), keys, "leftsemi"
    ).localCheckpoint(eager=False)
    members_new = members_old.join(
        F.broadcast(retract_ids), id_col, "left_anti"
    ).unionByName(bands_u)
    cands = (
        _pairs_within_buckets(
            members_old, keys, id_col, max_bucket, dedup=False,
            spread=False,  # touched-bucket slice is delta-bound
        )
        .unionByName(
            _pairs_within_buckets(
                members_new, keys, id_col, max_bucket, dedup=False,
                spread=False,
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    # Witness lookups only ever touch state rows whose id appears in a
    # candidate pair — restrict the state ONCE and share the slice
    # across both sides of both states.
    # no distinct (r10): cand_ids feeds only broadcast SEMI probes —
    # duplicate build keys are harmless and the dedup aggregation was
    # a full exchange over a delta-bound frame
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .localCheckpoint(eager=False)
    )
    state_old_c = state_old.join(
        F.broadcast(cand_ids), id_col, "leftsemi"
    ).localCheckpoint(eager=False)
    state_new_c = state_old_c.join(
        F.broadcast(retract_ids), id_col, "left_anti"
    ).unionByName(bands_u.join(F.broadcast(cand_ids), id_col, "leftsemi"))

    # BOTH states' bucket sizes from ONE state scan, RESTRICTED to the
    # keys liveness is ever consulted for (r10): member() semi-joins
    # live keys against witness buckets, and every witness bucket key
    # comes from state_old_c / state_new_c — i.e. keys of buckets
    # containing a candidate id — while the cap-flip logic needs the
    # touched keys. Counting ONLY buckets in (touched ∪ witness keys)
    # replaces the previous full-state groupBy: at 100 TB the bucket-
    # size pass goes from a corpus-wide shuffle to a broadcast
    # semi-probe + delta-bound aggregation. Bucket sizes still count
    # EVERY member of those buckets (the probe filters by bucket key,
    # not by member id), so liveness values are unchanged — the
    # set-diff oracle re-verified both cap directions.
    # Every old row counts 1 toward n_old and, unless its id is
    # retracted, 1 toward n_new; the delta's bands count 1 toward
    # n_new only — one flag join + one map-side-partial aggregation.
    keys_needed = (
        touched.unionByName(state_old_c.select(*keys))
        .unionByName(bands_u.select(*keys))
        .localCheckpoint(eager=False)  # semi-probe only: dups harmless
    )
    rflag = retract_ids.withColumn("__r", F.lit(1))
    contrib = (
        state_old.join(F.broadcast(keys_needed), keys, "leftsemi")
        .join(F.broadcast(rflag), id_col, "left")
        .select(
            *keys,
            F.lit(1).alias("__o"),
            F.when(F.col("__r").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("__n"),
        )
        .unionByName(
            bands_u.select(*keys, F.lit(0).alias("__o"), F.lit(1).alias("__n"))
        )
    )
    n_both = (
        contrib.groupBy(*keys)
        .agg(F.sum("__o").alias("__n_old"), F.sum("__n").alias("__n_new"))
        .localCheckpoint(eager=False)
    )

    def live(n_col: str) -> DataFrame:
        return n_both.where(
            (F.col(n_col) >= 2) & (F.col(n_col) <= max_bucket)
        ).select(*keys)

    live_old = live("__n_old")
    live_new = live("__n_new")

    def member(state_c: DataFrame, live_keys: DataFrame) -> DataFrame:
        # pairs (from cands) with at least one LIVE witness bucket in
        # this state — the full witness set, not just touched buckets
        sa = state_c.select(F.col(id_col).alias("id_a"), *keys)
        sb = state_c.select(F.col(id_col).alias("id_b"), *keys)
        return (
            cands.join(sa, "id_a")
            .join(sb, ["id_b", *keys])
            .join(F.broadcast(live_keys), keys, "leftsemi")
            .select("id_a", "id_b")
            .distinct()
        )

    # broadcast anti-join: the corpus TEXT is never shuffled just to
    # drop the |delta| retracted rows (guide §8 — move heavy payloads
    # zero extra times; the id set is the lightweight proxy)
    docs_new = (
        docs_old.join(F.broadcast(retract_ids), id_col, "left_anti")
        .select(id_col, text_col)
        .unionByName(updated_docs.select(id_col, text_col))
    )
    # each side is referenced TWICE by the signed diff (as the keep
    # and the anti side) — without the lineage cut the whole verify
    # subtree (including its corpus text scans) runs twice per side
    old_pairs = jaccard_verify_candidates(
        docs_old, member(state_old_c, live_old), id_col, text_col,
        n=shingle_n, threshold=threshold,
    ).localCheckpoint(eager=False)
    new_pairs = jaccard_verify_candidates(
        docs_new, member(state_new_c, live_new), id_col, text_col,
        n=shingle_n, threshold=threshold,
    ).localCheckpoint(eager=False)
    # signed diff on (pair, jaccard): join keys are doubles, but both
    # legs compute an untouched pair's jaccard from IDENTICAL integer
    # counts over identical texts, so equality is exact. Deliberately
    # NOT broadcast (r10, tried and reverted): forcing each pair view
    # to the build side serializes the two verify cascades behind
    # blocking broadcast-build jobs — measured 4.1-4.8 s → 4.4-5.9 s;
    # the SMJ/AQE form lets both sides' shuffle maps run concurrently
    # and AQE still converts to broadcast when runtime stats allow.
    diff_keys = ["id_a", "id_b", "jaccard"]
    neg = old_pairs.join(new_pairs, diff_keys, "left_anti").select(
        *diff_keys, F.lit(-1).cast("int").alias("weight")
    )
    pos = new_pairs.join(old_pairs, diff_keys, "left_anti").select(
        *diff_keys, F.lit(1).cast("int").alias("weight")
    )
    return neg.unionByName(pos)


def simhash_signatures_md5(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """SimHash over the 60-bit md5 word hash (md5_hash60): majority
    vote per bit weighted by term frequency — same single-shuffle
    64-SUM plan as simhash_signatures, engine-reproducible."""
    wc = (
        spread_by(df, id_col)
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", md5_hash60(F.col("w")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = wc.groupBy(id_col).agg(*votes)
    sig = reduce(
        lambda acc, i: acc.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long") * (2**i)).otherwise(0).cast("long")
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return agg.select(F.col(id_col), sig.alias("simhash"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    check_every: int = 2,
    small_threshold: int = 200_000,
) -> "tuple[DataFrame, int]":
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) → ``((id, component), rounds_run)`` with
    component = min node id, matching connected_components().

    Two scale advantages over min-label propagation:
    - O(log n) rounds on ANY graph shape (label propagation needs
      O(diameter) — a 1M-node chain is 1M rounds there, ~20 here);
    - convergence is checked every `check_every` rounds instead of
      every round, halving the driver-side sync barriers; each check
      is a count + subtract-limit probe over the current edge list.

    Each round is two shuffles (groupBy min per endpoint) over an edge
    list that only shrinks toward the star forest; lineage is
    truncated per round with localCheckpoint.

    Size-adaptive: below ``small_threshold`` edges the rounds are pure
    scheduling overhead (each is ~0.5 s of driver-coordinated jobs on
    a graph that fits in L2), so the component map is computed with an
    in-driver union-find instead — the same min-id semantics. This is
    the AQE-style runtime switch, not a driver-loop operator: the edge
    set here is the LSH+verify OUTPUT (near-dup pairs), orders of
    magnitude smaller than the corpus; at 100 TB the distributed star
    rounds take over the moment the edge count crosses the threshold."""
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.count() <= small_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            ru, rv = find(row["u"]), find(row["v"])
            if ru != rv:
                parent[ru] = rv
        # Seed the node set from BOTH pair endpoints (the distributed
        # star path's `nodes` frame), not just non-self edges — a
        # degenerate input whose only mention of an id is a self-pair
        # (id_a == id_b) must still get component = own id on both
        # sides of the small_threshold switch.
        all_nodes = {
            row["id"]
            for row in pairs.select(F.col(id_a).alias("id"))
            .unionByName(pairs.select(F.col(id_b).alias("id")))
            .distinct()
            .collect()
        }
        comp_min: dict = {}
        members: dict = {}
        for node in all_nodes:
            r = find(node)
            comp_min[r] = min(comp_min.get(r, node), node)
            members.setdefault(r, []).append(node)
        out_rows = [
            (node, comp_min[r]) for r, ns in members.items() for node in ns
        ]
        spark = pairs.sparkSession
        id_type = edges.schema["u"].dataType
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("component", id_type)]
        )
        # slice count sized to the component map (one slice per ~50k
        # rows, never defaultParallelism): the map is broadcast into
        # the canonical-assignment join, and a 32-slice local relation
        # costs a 32-task broadcast-build stage of pure scheduling wait
        nsl = max(1, len(out_rows) // 50_000)
        return (
            spark.createDataFrame(
                spark.sparkContext.parallelize(out_rows, nsl), schema
            ),
            0,
        )
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = edges
    rounds = 0
    for it in range(max_iter):
        # large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
        sym = edges.select("u", "v").unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        g = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            sym.join(g, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient (larger, smaller); all smaller neighbors
        # and u itself link to the minimum smaller neighbor
        g2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = ls.join(g2, "u")
        edges = (
            ss.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(g2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds = it + 1
        if rounds % check_every == 0 or rounds == max_iter:
            if (
                edges.count() == prev.count()
                and edges.subtract(prev).limit(1).count() == 0
            ):
                break
            prev = edges
    comp = nodes.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("component")),
        "id",
        "left",
    ).select("id", F.coalesce(F.col("component"), F.col("id")).alias("component"))
    return comp, rounds


def ngram_contamination(
    df: DataFrame,
    eval_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int = 20,
    contaminated_at: int = 2,
) -> DataFrame:
    """Benchmark decontamination by word n-gram OVERLAP (the fuzzy
    complement of the exact canary-phrase check): flag training
    documents sharing n-gram shingles with any held-out/eval document
    → ``(train_doc_id, eval_doc_id, shared_ngrams, eval_ngrams,
    overlap_frac, contaminated)``.

    The shingle join carries the same hot-shingle guard as
    ngram_jaccard_pairs: shingles whose document frequency exceeds
    ``max_df`` are dropped from BOTH sides before joining (boilerplate
    n-grams are the Zipfian tail that would make the join quadratic,
    and they carry no contamination signal). Result is the exact
    overlap of the df-filtered shingle sets — deterministic, so a SQL
    oracle reproduces it bit-for-bit.

    Scale shape: one explode+distinct shuffle for shingles, one df
    count, one equi-join train×eval on the shingle (fanout ≤ max_df
    per shingle, linear), one pair aggregation. The eval side of the
    join is a small fraction of the corpus by construction (held-out
    benchmarks), so AQE broadcasts it."""
    sh = df.select(
        F.col(id_col),
        eval_pred.alias("__is_eval"),
        F.explode(shingles(F.col(text_col), n)).alias("s"),
    )
    # shingles() is per-doc distinct, so count(*) == document frequency
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    kept = sh.join(dfreq.where(F.col("__df") <= max_df), "s")
    ev = kept.where(F.col("__is_eval")).select(
        F.col(id_col).alias("eval_doc_id"), "s"
    )
    tr = kept.where(~F.col("__is_eval")).select(
        F.col(id_col).alias("train_doc_id"), "s"
    )
    ev_tot = ev.groupBy("eval_doc_id").agg(
        F.count(F.lit(1)).alias("eval_ngrams")
    )
    ov = tr.join(ev, "s").groupBy("train_doc_id", "eval_doc_id").agg(
        F.count(F.lit(1)).alias("shared_ngrams")
    )
    return ov.join(ev_tot, "eval_doc_id").select(
        "train_doc_id",
        "eval_doc_id",
        F.col("shared_ngrams").cast("bigint").alias("shared_ngrams"),
        F.col("eval_ngrams").cast("bigint").alias("eval_ngrams"),
        F.round(F.col("shared_ngrams") / F.col("eval_ngrams"), 6).alias(
            "overlap_frac"
        ),
        (F.col("shared_ngrams") >= contaminated_at).alias("contaminated"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT join: C(A→B) = |A∩B| / |A|.

    Containment is the asymmetric twin of Jaccard and the right
    detector for EXCERPT duplication — a short doc fully copied into
    a long one has tiny Jaccard (the union is dominated by the long
    doc) but containment ≈ 1 in the short→long direction. Training
    corpora are full of this shape (quoted posts, syndicated
    paragraphs, boilerplate-wrapped bodies), which symmetric dedup
    misses (Broder's containment sketches, 1997).

    Same one-shuffle-per-stage plan as ngram_jaccard_pairs (shingle
    explode → equi-join on shingle → pair counts), same ``max_df``
    hot-shingle guard, exact on the df-filtered sets. Emits one row
    per unordered pair with BOTH directions; rows qualify when the
    max direction clears ``threshold``."""
    sh = (
        spread_by(df, id_col)
        .select(F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle").select(id_col, "shingle")
    # lazy localCheckpoint, not persist(): see prefix_filtered_jaccard_pairs
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    c_ab = F.col("inter").cast("double") / F.col("size_a").cast("double")
    c_ba = F.col("inter").cast("double") / F.col("size_b").cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(c_ab, 9).alias("cont_a_in_b"),
            F.round(c_ba, 9).alias("cont_b_in_a"),
        )
        .where(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


def containment_verify_candidates(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Exact n-gram CONTAINMENT restricted to candidate pairs — the
    composition VERDICT r6 item 8 names as the registry default at
    scale: :func:`ngram_containment_pairs` standalone must verify
    every shingle-sharing pair (its 100× residual is output-bound
    verify cost), while this verifies ONLY the LSH candidate set, so
    total cost is linear in ``|candidates|``. Same per-pair math as
    the standalone op (C(A→B) = |A∩B| / |A| over distinct shingle
    sets, both directions, max clears ``threshold``); exact ON the
    candidate set — pairs the banding misses are the LSH recall
    trade-off, tuned by the signature geometry upstream."""
    cand_ids = candidates.select(id_a, id_b).localCheckpoint(eager=False)
    needed = (
        cand_ids.select(F.col(id_a).alias(id_col))
        .union(cand_ids.select(F.col(id_b).alias(id_col)))
        .distinct()
    )
    sets = df.join(needed, id_col, "leftsemi").select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col), n)).alias("__set")
    )
    a = sets.select(F.col(id_col).alias(id_a), F.col("__set").alias("__sa"))
    b = sets.select(F.col(id_col).alias(id_b), F.col("__set").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    c_ab = F.round(inter / F.size("__sa").cast("double"), 9)
    c_ba = F.round(inter / F.size("__sb").cast("double"), 9)
    return (
        cand_ids.join(a, id_a)
        .join(b, id_b)
        .where((F.size("__sa") > 0) & (F.size("__sb") > 0))
        .select(
            id_a,
            id_b,
            c_ab.alias("cont_a_in_b"),
            c_ba.alias("cont_b_in_a"),
        )
        .where(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard set-similarity self-join via PREFIX FILTERING —
    the AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al.
    ICDE'08), the standard exact-threshold alternative to MinHash
    when NO false negatives are acceptable.

    The filter: order every doc's shingle set by GLOBAL document
    frequency ascending (rarest first, ties by value); if
    J(A,B) >= t, the first ``|S| - ceil(t*|S|) + 1`` elements of each
    set (its "prefix") must share at least one element. So candidates
    are generated by an EQUI-join on prefix shingles only — and
    because prefixes hold each doc's *rarest* shingles, the join's
    per-key bucket sizes are the smallest possible under any
    ordering: boilerplate shingles shared by millions of docs sort to
    the suffix and never generate candidates (contrast
    ngram_containment_pairs, which needs a ``max_df`` guard for the
    same reason). A length filter (t*|A| <= |B| <= |A|/t) prunes
    further. Candidates are then VERIFIED with an exact intersection
    count over the full sets, so the result equals the brute-force
    all-pairs join — the oracle computes exactly that.

    Plan shape at 100 TB: shingle explode (map-side) -> one hash agg
    for df -> rank window per doc -> prefix equi-join (rare keys,
    small buckets) -> verify equi-join on candidate ids. No cartesian
    anywhere; the +1 slack on the prefix bound guards the float ceil
    (a superset of candidates can only cost time, never correctness).
    """
    # lazy localCheckpoint, not persist(): the token table is reused
    # five times below; checkpoint blocks are cleaned when the plan is
    # GC'd, while an unpersisted cache leaks across repeated calls
    # (ADVICE r6 — the best-of-N bench loop grew cached blocks)
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("tok")
    ).localCheckpoint(eager=False)
    dfreq = sh.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window

    w_doc = Window.partitionBy(id_col).orderBy("__df", "tok")
    sized = sh.join(dfreq, "tok").select(
        id_col,
        "tok",
        F.row_number().over(w_doc).alias("__pos"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("__sz"),
    )
    prefix = sized.where(
        F.col("__pos")
        <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + F.lit(2)
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "tok", F.col("__sz").alias("__sz_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "tok", F.col("__sz").alias("__sz_b")
    )
    cand = (
        a.join(b, "tok")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__sz_a").cast("double") * threshold
               <= F.col("__sz_b").cast("double") + 1e-9)
            & (F.col("__sz_b").cast("double") * threshold
               <= F.col("__sz_a").cast("double") + 1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = sh.select(F.col(id_col).alias("id_a"), "tok")
    tb = sh.select(F.col(id_col).alias("id_b"), "tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sz_b"))
    jac = F.round(
        F.col("__inter").cast("double")
        / (F.col("__sz_a") + F.col("__sz_b") - F.col("__inter")).cast("double"),
        9,
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
