"""LSH recall/precision checks vs exact Jaccard (the oracle for the
rows-only minhash/simhash queries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_to_dbsp_compiler_spark.llm.dedup import (
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
    simhash_signatures,
)
from sql_to_dbsp_compiler_spark.sources.tables import load_table


def _exact_pairs(spark, sf_dir, threshold=0.7):
    d = load_table(spark, sf_dir, "documents")
    return {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=threshold).collect()
    }


def test_minhash_lsh_recall(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sigs = d.select("doc_id", minhash_signature(F.col("text"), 16, 3).alias("sig"))
    cands = {
        (r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id", "sig", bands=4).collect()
    }
    truth = _exact_pairs(spark, sf_dir, threshold=0.7)
    if truth:
        recall = len(truth & cands) / len(truth)
        # 4 bands x 4 rows: P(candidate | j=0.7) = 1-(1-0.7^4)^4 ~ 0.67;
        # near-identical docs (j>0.9) are caught almost surely.
        assert recall >= 0.5, f"LSH recall too low: {recall} ({len(cands)} candidates)"
    # candidate set must stay far below all-pairs
    n_docs = d.count()
    assert len(cands) < n_docs * (n_docs - 1) / 8


def test_simhash_bands_find_multiset_dups(spark, sf_dir):
    """SimHash is term-frequency weighted: docs with identical word
    MULTISETS have identical signatures and must appear as candidates
    (set-equal-but-frequency-different docs legitimately may not)."""
    d = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(d, "doc_id", "text")
    cands = {(r.id_a, r.id_b) for r in simhash_candidate_pairs(sigs, "doc_id").collect()}

    # multiset fingerprint: md5 over the sorted FULL word list
    from sql_to_dbsp_compiler_spark.llm.text import words

    fps = d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(words(F.col("text"))), " ").cast("binary")).alias("fp"),
    )
    a, b = fps.alias("a"), fps.alias("b")
    same_bag = {
        (r.id_a, r.id_b)
        for r in a.join(
            b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .collect()
    }
    assert same_bag <= cands, f"missed {len(same_bag - cands)} identical-multiset pairs"
    # and the banding must not devolve into all-pairs
    n = d.count()
    assert len(cands) < n * (n - 1) / 4


def test_minhash_signature_stability(spark, sf_dir):
    """Signatures are deterministic across plans/partitionings."""
    d = load_table(spark, sf_dir, "documents")
    s1 = d.select("doc_id", minhash_signature(F.col("text")).alias("sig")).collect()
    s2 = (
        d.repartition(7)
        .select("doc_id", minhash_signature(F.col("text")).alias("sig"))
        .collect()
    )
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))


def test_connected_components_matches_union_find(spark):
    """Label propagation vs a Python union-find oracle on a graph
    with chains, a cycle, disjoint clumps, and singletons-by-absence."""
    from sql_to_dbsp_compiler_spark.llm.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21), (30, 31), (31, 32), (5, 4)]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == expected


def test_dedup_groups_end_to_end(spark, sf_dir):
    """MinHash pairs → components → canonical assignment: every doc
    appears exactly once, canonicals are component minima, docs
    without near-dups are their own canonical."""
    from sql_to_dbsp_compiler_spark.llm.dedup import (
        dedup_groups,
        lsh_candidate_pairs,
        minhash_signatures_df,
    )
    from sql_to_dbsp_compiler_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures_df(docs, "doc_id", "text", 16, 3)
    pairs = lsh_candidate_pairs(sigs, "doc_id", "sig", bands=4)
    groups = dedup_groups(docs, pairs)
    rows = groups.collect()
    assert len(rows) == docs.count()
    assert all(r["canonical_id"] <= r["doc_id"] for r in rows)
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r["canonical_id"], []).append(r)
    for comp, members in by_comp.items():
        assert sum(m["is_canonical"] for m in members) == 1
        assert min(m["doc_id"] for m in members) == comp
    # the pairs actually connect something at this SF
    assert any(not r["is_canonical"] for r in rows)


def test_connected_components_star_matches_union_find(spark):
    """Large-star/small-star CC vs the same union-find oracle."""
    from sql_to_dbsp_compiler_spark.llm.dedup import connected_components_star

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21), (30, 31), (31, 32), (5, 4)]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    comp, _rounds = connected_components_star(pairs)
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == expected


def test_connected_components_star_chain_olog_rounds(spark):
    """The adversarial case for min-label propagation: a 64-node
    chain (diameter 63 → 63 label-propagation rounds). Large-star/
    small-star must collapse it to one component in O(log n) rounds."""
    from sql_to_dbsp_compiler_spark.llm.dedup import connected_components_star

    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    comp, rounds = connected_components_star(pairs, max_iter=20, check_every=2)
    rows = comp.collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == n
    # 2*log2(64)=12 rounds is the generous bound; label propagation
    # would need 63. (+check_every slack for the convergence probe)
    assert rounds <= 14, f"took {rounds} rounds"


def test_jaccard_verify_candidates_matches_standalone(spark, sf_dir):
    """The LSH-cascade verify stage restricted to candidate pairs must
    agree exactly with standalone ngram_jaccard_pairs on those pairs
    (same shingle sets, same threshold) — and produce nothing for
    pairs below threshold."""
    from sql_to_dbsp_compiler_spark.llm.dedup import (
        jaccard_verify_candidates,
        ngram_jaccard_pairs,
    )
    from sql_to_dbsp_compiler_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    full = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    full_rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in full.collect()}
    # candidates = the true pairs plus some definitely-false ones
    ids = sorted({i for p in full_rows for i in p}) or [0, 1]
    fake = [(ids[0], ids[0] + 10**6)]  # id_b not a real doc → dropped by join
    cands = spark.createDataFrame(
        [(a, b) for a, b in full_rows] + fake, "id_a bigint, id_b bigint"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_verify_candidates(
            d, cands, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert set(got) == set(full_rows)
    for k in got:
        assert abs(got[k] - full_rows[k]) < 1e-12


def test_ngram_jaccard_max_df_guard(spark):
    """max_df removes hot shingles from every set BEFORE sizes and
    intersections: with the ubiquitous shingle filtered out, only the
    genuinely-similar pair survives."""
    from sql_to_dbsp_compiler_spark.llm.dedup import ngram_jaccard_pairs

    # 'common common common' appears in every doc; docs 1/2 share all
    # their rare shingles, doc 3 shares only the hot one.
    rows = [
        (1, "common common common alpha beta gamma delta"),
        (2, "common common common alpha beta gamma delta"),
        (3, "common common common zeta eta theta iota"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    guarded = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.9, max_df=2)
    got = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    assert got == {(1, 2)}
    # identical docs stay jaccard 1.0 under the guard (hot shingles
    # removed from BOTH sets, so the ratio is unchanged for equals)
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in guarded.collect()}
    assert jac[(1, 2)] == 1.0


def test_connected_components_star_selfpair_singletons_both_paths(spark):
    """ADVICE r3: an id whose only mention is a self-pair (id_a ==
    id_b) must get component = own id on BOTH sides of the
    small_threshold switch — the small union-find path used to seed
    its node set from non-self edges only and dropped singletons."""
    from sql_to_dbsp_compiler_spark.llm.dedup import connected_components_star

    edges = [(1, 2), (7, 7), (9, 9), (2, 3)]
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    expected = {1: 1, 2: 1, 3: 1, 7: 7, 9: 9}
    for threshold in (0, 200_000):  # distributed path, small path
        comp, _ = connected_components_star(pairs, small_threshold=threshold)
        got = {r["id"]: r["component"] for r in comp.collect()}
        assert got == expected, f"small_threshold={threshold}: {got}"


def test_prefix_jaccard_equals_bruteforce_across_thresholds(spark):
    """The prefix filter's ZERO-FALSE-NEGATIVE guarantee (the whole
    point of the AllPairs/PPJoin family): for random small corpora
    with seeded duplication, prefix_filtered_jaccard_pairs must equal
    a pure-Python brute-force all-pairs Jaccard at every threshold —
    including low thresholds where the prefix covers most of the set
    and ties in the global df order are everywhere."""
    import itertools
    import random

    from sql_to_dbsp_compiler_spark.llm.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(4, 18))]
        docs.append((i, " ".join(words)))
        if rng.random() < 0.4:  # near-duplicate: mutate a copy
            mutated = list(words)
            for _ in range(rng.randint(0, 2)):
                mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mutated)))

    def shingle_set(text, n=3):
        ws = text.split()
        return {" ".join(ws[j : j + n]) for j in range(max(len(ws) - n + 1, 0))}

    sets = {i: shingle_set(t) for i, t in docs}
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        want = set()
        for (ia, sa), (ib, sb) in itertools.combinations(sorted(sets.items()), 2):
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if round(j, 9) >= t:
                want.add((ia, ib))
        got = {
            (r.id_a, r.id_b)
            for r in prefix_filtered_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        assert got == want, (
            f"t={t}: missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
        )


def test_delta_dedup_apply_equals_full_cascade(spark):
    """Incremental corpus-delta dedup (VERDICT r7 #7): building
    standing state from the corpus and applying only the delta must
    reproduce EXACTLY the full-corpus cascade's verified pairs
    restricted to pairs touching a delta doc — including the combined
    hot-bucket cap. Pure engine-side pin (the DuckDB oracle pins the
    same equivalence at sf0.01 through the driver gate)."""
    import random

    from sql_to_dbsp_compiler_spark.llm.dedup import (
        banded_md5,
        delta_dedup_apply,
        jaccard_verify_candidates,
        lsh_candidate_pairs_md5,
        minhash_signatures_md5,
    )
    from pyspark.sql import functions as F

    rng = random.Random(88)
    vocab = [f"tok{i}" for i in range(40)]
    docs = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 20))]
        docs.append((i, " ".join(words)))
        if rng.random() < 0.5:  # near-duplicate of doc i, lands in
            mutated = list(words)  # EITHER side of the %8 split
            for _ in range(rng.randint(0, 2)):
                mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mutated)))
    d = spark.createDataFrame(docs, "doc_id long, text string")
    is_delta = (F.col("doc_id") % 8) == 0

    # full cascade, restricted to delta-involving pairs
    sigs = minhash_signatures_md5(d, "doc_id", "text", 16, 3)
    cands_full = lsh_candidate_pairs_md5(sigs, "doc_id", "sig", bands=4)
    full = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_verify_candidates(
            d, cands_full, "doc_id", "text", n=3, threshold=0.5
        ).collect()
        if r.id_a % 8 == 0 or r.id_b % 8 == 0
    }

    # incremental: state from the corpus, apply the delta
    buckets = banded_md5(
        minhash_signatures_md5(d.where(~is_delta), "doc_id", "text", 16, 3)
    )
    inc = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in delta_dedup_apply(
            d, d.where(is_delta), buckets, threshold=0.5
        ).collect()
    }
    assert inc == full, (
        f"missing={sorted(full - inc)[:5]} extra={sorted(inc - full)[:5]}"
    )


def test_delta_dedup_apply_combined_bucket_cap(spark):
    """The combined hot-bucket cap must count corpus + delta members:
    a bucket whose TOTAL size exceeds max_bucket yields no pairs even
    when each side alone is under the cap (what one full-corpus
    cascade with the same cap would do)."""
    from sql_to_dbsp_compiler_spark.llm.dedup import (
        banded_md5,
        delta_dedup_apply,
        minhash_signatures_md5,
    )
    from pyspark.sql import functions as F

    # identical text -> identical signature -> one bucket per band
    docs = [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    is_delta = (F.col("doc_id") % 8) == 0  # ids 0 and 8
    buckets = banded_md5(
        minhash_signatures_md5(d.where(~is_delta), "doc_id", "text", 16, 3)
    )
    # total bucket size 12 (10 corpus + 2 delta): cap 11 kills it...
    capped = delta_dedup_apply(
        d, d.where(is_delta), buckets, threshold=0.5, max_bucket=11
    )
    assert capped.count() == 0
    # ...cap 12 admits it, and every delta-involving identical pair
    # verifies at jaccard 1.0
    open_ = delta_dedup_apply(
        d, d.where(is_delta), buckets, threshold=0.5, max_bucket=12
    )
    rows = open_.collect()
    assert len(rows) == 21  # pairs touching {0, 8}: 2*10 cross + 1 dd
    assert all(r.jaccard == 1.0 for r in rows)


def test_build_state_once_freshness_contract(tmp_path):
    """VERDICT r8 #6 + ADVICE r8: the standing-state cache must
    rebuild when (a) the key moves — including a same-rowcount CONTENT
    change, which the content-signature component of the callers' keys
    encodes — and (b) when the parquet payload was deleted but the
    sibling marker survived (partial cleanup)."""
    import json

    from sql_to_dbsp_compiler_spark.queries.llm_queries import (
        _build_state_once,
        _source_content_key,
    )

    state = tmp_path / "state"
    calls = []

    def build():
        calls.append(1)
        (state / "buckets").mkdir(parents=True, exist_ok=True)
        (state / "buckets" / "part-0.parquet").write_bytes(b"x")

    key_a = {"n": 3, "src": [["documents.parquet", 100, 111]]}
    _build_state_once(str(state), key_a, build)
    _build_state_once(str(state), key_a, build)
    assert len(calls) == 1  # marker + payload present, key unchanged
    # same rowcount, different content signature -> rebuild
    key_b = {"n": 3, "src": [["documents.parquet", 100, 222]]}
    _build_state_once(str(state), key_b, build)
    assert len(calls) == 2
    # the marker carries the state-layout version (ADVICE r9: layout
    # changes must rebuild pre-existing states exactly once)
    assert json.load(open(state / "marker.json")) == dict(key_b, layout=2)
    # payload deleted, marker intact -> rebuild (not a silent reuse)
    (state / "buckets" / "part-0.parquet").unlink()
    _build_state_once(str(state), key_b, build)
    assert len(calls) == 3
    # a marker written WITHOUT the layout field (pre-r10 state dir)
    # must rebuild once under the current layout
    json.dump(key_b, open(state / "marker.json", "w"))
    _build_state_once(str(state), key_b, build)
    assert len(calls) == 4


def test_source_content_key_sees_content_changes(tmp_path):
    """The content signature moves when a source file is rewritten
    (size or mtime), and is stable across pure re-stats."""
    from sql_to_dbsp_compiler_spark.queries.llm_queries import (
        _source_content_key,
    )

    f = tmp_path / "documents.parquet"
    f.write_bytes(b"aaaa")
    k1 = _source_content_key(str(tmp_path), "documents")
    assert k1 == _source_content_key(str(tmp_path), "documents")
    f.write_bytes(b"bbbbbb")  # same name, new size+mtime
    assert _source_content_key(str(tmp_path), "documents") != k1


def _full_view(docs_df, cap=1000, threshold=0.5):
    """The full-cascade verified-pair view (MinHash/LSH/cap/verify) as
    a set of (id_a, id_b, jaccard) tuples — the ground truth both
    retraction tests diff."""
    from sql_to_dbsp_compiler_spark.llm.dedup import (
        jaccard_verify_candidates,
        lsh_candidate_pairs_md5,
        minhash_signatures_md5,
    )

    sigs = minhash_signatures_md5(docs_df, "doc_id", "text", 16, 3)
    cands = lsh_candidate_pairs_md5(sigs, "doc_id", "sig", bands=4, max_bucket=cap)
    return {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_verify_candidates(
            docs_df, cands, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }


def test_delta_dedup_retract_equals_full_view_diff(spark):
    """VERDICT r8 #1: the signed pair delta emitted by
    delta_dedup_retract must equal the set-diff of two full cascades
    (old corpus vs post-delta corpus) — deletions retract pairs,
    updates both retract old-text pairs and add new-text pairs, and
    the incremental side never reruns either cascade."""
    import random

    from sql_to_dbsp_compiler_spark.llm.dedup import (
        banded_md5,
        delta_dedup_retract,
        minhash_signatures_md5,
    )

    rng = random.Random(88)
    vocab = [f"tok{i}" for i in range(40)]
    docs = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 20))]
        docs.append((i, " ".join(words)))
        if rng.random() < 0.5:
            mutated = list(words)
            for _ in range(rng.randint(0, 2)):
                mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mutated)))
    by_id = dict(docs)
    deleted = [i for i in by_id if i % 7 == 3]
    # updates: every %7==5 doc becomes a copy of doc 0 — creates new
    # pairs among the updated docs AND with doc 0, retracts their old
    # near-dup pairs
    updated = [(i, by_id[0]) for i in by_id if i % 7 == 5 and i != 0]
    new_docs = [
        (i, dict(updated).get(i, t))
        for i, t in docs
        if i not in set(deleted)
    ]

    d = spark.createDataFrame(docs, "doc_id long, text string")
    d_new = spark.createDataFrame(new_docs, "doc_id long, text string")
    old_v, new_v = _full_view(d), _full_view(d_new)
    want = {(a, b, j, -1) for (a, b, j) in old_v - new_v} | {
        (a, b, j, 1) for (a, b, j) in new_v - old_v
    }
    assert want, "vacuous: delta produced no view change"

    buckets = banded_md5(minhash_signatures_md5(d, "doc_id", "text", 16, 3))
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9), r.weight)
        for r in delta_dedup_retract(
            d,
            spark.createDataFrame([(i,) for i in deleted], "doc_id long"),
            spark.createDataFrame(updated, "doc_id long, text string"),
            buckets,
            threshold=0.5,
        ).collect()
    }
    assert got == want, (
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


def test_delta_dedup_retract_cap_flips_both_directions(spark):
    """The cap corner of retraction: a delta can flip a bucket's
    liveness in BOTH directions, changing pairs between two UNTOUCHED
    docs. Deleting one member of an over-cap bucket resurrects every
    remaining pair (+1); updating a doc INTO an at-cap bucket kills
    every existing pair (-1). Mixed insert+delete in one delta."""
    from sql_to_dbsp_compiler_spark.llm.dedup import (
        banded_md5,
        delta_dedup_retract,
        minhash_signatures_md5,
    )

    T = "alpha beta gamma delta epsilon zeta"
    U = "one two three four five six"
    W = "red green blue yellow purple orange"
    docs = [(i, T) for i in range(6)] + [(10 + i, U) for i in range(5)] + [(20, W)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    buckets = banded_md5(minhash_signatures_md5(d, "doc_id", "text", 16, 3))
    # cap 5: T-bucket (6 members) dead, U-bucket (5) live, W singleton.
    # delta: delete doc 5 (T -> 5, live) + update doc 20 to U (U -> 6, dead)
    out = {
        (r.id_a, r.id_b, r.jaccard, r.weight)
        for r in delta_dedup_retract(
            d,
            spark.createDataFrame([(5,)], "doc_id long"),
            spark.createDataFrame([(20, U)], "doc_id long, text string"),
            buckets,
            max_bucket=5,
            threshold=0.5,
        ).collect()
    }
    want = {
        (a, b, 1.0, 1) for a in range(5) for b in range(a + 1, 5)
    } | {
        (10 + a, 10 + b, 1.0, -1) for a in range(5) for b in range(a + 1, 5)
    }
    assert out == want, (
        f"missing={sorted(want - out)[:5]} extra={sorted(out - want)[:5]}"
    )


def test_delta_state_retract_commit_equals_full_banding(spark):
    """state' from the anti-join ∪ rehash shortcut must equal a
    from-scratch banding of the post-delta corpus, row for row."""
    from sql_to_dbsp_compiler_spark.llm.dedup import (
        banded_md5,
        delta_state_retract_commit,
        minhash_signatures_md5,
    )

    docs = [
        (0, "a b c d e f"),
        (1, "g h i j k l"),
        (2, "m n o p q r"),
        (3, "s t u v w x"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    buckets = banded_md5(minhash_signatures_md5(d, "doc_id", "text", 16, 3))
    deleted = spark.createDataFrame([(1,)], "doc_id long")
    updated = spark.createDataFrame(
        [(2, "a b c d e f")], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.band_id, r.band_hash)
        for r in delta_state_retract_commit(
            buckets, deleted.unionByName(updated.select("doc_id")), updated
        ).collect()
    }
    new_docs = [(0, "a b c d e f"), (2, "a b c d e f"), (3, "s t u v w x")]
    want = {
        (r.doc_id, r.band_id, r.band_hash)
        for r in banded_md5(
            minhash_signatures_md5(
                spark.createDataFrame(new_docs, "doc_id long, text string"),
                "doc_id", "text", 16, 3,
            )
        ).collect()
    }
    assert got == want


def test_span_excise_keep_first_and_stitching(spark, tmp_path):
    """Planted-passage pin for y_dedup_span_excise: the earliest doc
    owning a shared passage keeps its text verbatim; later docs lose
    exactly the passage tokens (stitched clean_text); spans shorter
    than MIN_SPAN=8 survive; fully-unique docs pass through."""
    from sql_to_dbsp_compiler_spark.queries.registry import REGISTRY

    P = "the quick brown fox jumps over the lazy sleeping dog"  # 10 toks
    S = "tiny shared bit"  # 3 tokens -> one 3-gram, span 3 < 8: kept
    docs = [
        (0, f"alpha bravo charlie {P} delta echo"),
        (1, f"foxtrot golf hotel india {P} juliet kilo"),
        (2, f"lima mike november {S} oscar papa"),
        (3, f"quebec romeo sierra {S} tango uniform"),
        (4, "victor whiskey xray yankee zulu one two"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["y_dedup_span_excise"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert out[0].removed_tokens == 0 and out[0].clean_text == docs[0][1]
    assert out[1].removed_tokens == 10
    assert out[1].clean_text == "foxtrot golf hotel india juliet kilo"
    assert out[2].removed_tokens == 0 and out[3].removed_tokens == 0
    assert out[4].removed_tokens == 0 and out[4].clean_text == docs[4][1]


def test_minhash_signatures_skip_null_and_short_docs(spark):
    """Both signature builders give NO row to a doc without shingles —
    NULL text, empty text, or fewer than shingle_n words — the same as
    the oracles' unnest over an empty range. Such a doc can be no one's
    near-duplicate (a shared placeholder signature would make every
    NULL doc a duplicate of every other). The corpus data has none of
    these docs, so the edge is pinned here."""
    from sql_to_dbsp_compiler_spark.llm.dedup import (
        minhash_signatures_df,
        minhash_signatures_md5,
    )

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, "two words"),
            (4, ""),
            (5, "   "),
            (6, "one two three four"),
            (7, "a b c"),
        ],
        "doc_id bigint, text string",
    )
    for build in (minhash_signatures_df, minhash_signatures_md5):
        sigs = {r.doc_id: r.sig for r in build(docs, "doc_id", "text", 16, 3).collect()}
        assert set(sigs) == {6, 7}, build.__name__
        # the short docs' absence does not disturb the others' signatures
        alone = build(docs.where(F.col("doc_id") >= 6), "doc_id", "text", 16, 3)
        assert {r.doc_id: r.sig for r in alone.collect()} == sigs, build.__name__


def test_hamming_width_guard_checks_every_bucket_member(spark):
    """The nwords width guard must see EVERY member of a bucket, not
    just the first: a narrower second member must fail with the
    guard's own error instead of losing its pairs (ANSI off) or
    raising a bare index error (ANSI on)."""
    import pytest

    from sql_to_dbsp_compiler_spark.llm.dedup import hamming_filtered_bucket_pairs

    banded = spark.createDataFrame(
        [(1, 7, [1, 2]), (2, 7, [1]), (3, 7, [1, 2])],
        "id bigint, b int, s array<bigint>",
    )
    with pytest.raises(Exception, match="signature narrower than nwords=2"):
        hamming_filtered_bucket_pairs(banded, ["b"], "id", "s", 3, nwords=2).collect()
    # all members wide enough: the guard passes and the pairs survive
    ok = banded.where(F.col("id") != 2)
    got = hamming_filtered_bucket_pairs(ok, ["b"], "id", "s", 3, nwords=2).collect()
    assert len(got) == 1
