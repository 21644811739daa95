"""Dedup cascade + similarity search tests.

The sketch ops (minhash/simhash/LSH) have no SQL oracle; their gate is
exact recomputation: candidates must be verified near-dups and known
near-dups must be found.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from rocket_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from rocket_etl_spark.operators.similarity import cosine_topk, lsh_ann_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the old oak tree"
)


def _docs(spark):
    rows = [
        (1, BASE, "en"),
        (2, BASE, "en"),                                # exact dup of 1
        (3, BASE.replace("lazy", "sleepy"), "en"),      # near dup of 1
        (4, "completely different text about spark shuffles and parquet files", "en"),
        (5, "der schnelle braune fuchs springt über den faulen hund", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_exact_dedup_keeps_one_per_text(spark):
    out = exact_dedup(_docs(spark), order_col="doc_id").toPandas()
    assert len(out) == 4  # 1&2 collapse
    assert 1 in set(out.doc_id) and 2 not in set(out.doc_id)


def test_minhash_lsh_finds_known_neardups(spark):
    pairs = minhash_lsh_pairs(_docs(spark), threshold=0.3).toPandas()
    found = {tuple(r) for r in pairs[["id_a", "id_b"]].itertuples(index=False)}
    assert (1, 2) in found          # identical docs always collide
    assert (1, 3) in found or (2, 3) in found  # one-token edit
    assert (1, 4) not in found      # unrelated never verified
    # candidates are verified: jaccard values equal the exact operator's
    exact = ngram_jaccard_pairs(_docs(spark), threshold=0.0, block_col="lang").toPandas()
    exact_map = {(r.id_a, r.id_b): r.jaccard_sim for r in exact.itertuples(index=False)}
    for r in pairs.itertuples(index=False):
        assert abs(exact_map[(r.id_a, r.id_b)] - r.jaccard_sim) < 1e-9


def test_simhash_hamming_orders_by_similarity(spark):
    # segs_per_table=1: a pair collides if ANY single segment matches —
    # the widest-recall configuration, surfacing near and exact dups alike
    pairs = simhash_pairs(
        _docs(spark), max_hamming=64, n_segments=6, segs_per_table=1
    ).toPandas()
    h = {(r.id_a, r.id_b): r.hamming for r in pairs.itertuples(index=False)}
    assert h[(1, 2)] == 0                      # identical → same fingerprint
    assert h[(1, 3)] < h.get((1, 4), 64)       # near dup closer than unrelated


def test_ivf_ann_exact_cosines_and_recall(spark):
    from rocket_etl_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    approx = ivf_ann_topk(emb, query_id=0, k=10, n_centroids=16, nprobe=4).toPandas()
    assert len(approx) == 10
    # correctness of the math: every returned cosine equals brute force
    full = cosine_topk(emb, query_id=0, k=600).toPandas()
    full_map = dict(zip(full.vec_id, full.cos_sim))
    for r in approx.itertuples(index=False):
        assert abs(full_map[r.vec_id] - r.cos_sim) < 1e-9
    # recall: probing 4/16 data-adapted lists must catch most of the true
    # top-10 (clustered testdata makes the lists meaningful)
    exact10 = set(cosine_topk(emb, query_id=0, k=10).toPandas().vec_id)
    assert len(exact10 & set(approx.vec_id)) >= 7
    # determinism: the seeded sample + seeded k-means reproduce exactly
    again = ivf_ann_topk(emb, query_id=0, k=10, n_centroids=16, nprobe=4).toPandas()
    assert list(again.vec_id) == list(approx.vec_id)


def test_ivf_precomputed_quantizer_reused_across_queries(spark):
    """The production deployment: ONE quantizer training, many queries.
    Results with a passed-in centroid matrix must equal the per-call
    retrain (training is seed-deterministic), and precompute_ivf_assignment
    must agree with the in-query list assignment."""
    import pyspark.sql.functions as SF

    from rocket_etl_spark.operators.similarity import (
        ivf_ann_topk,
        kmeans_centroids,
        precompute_ivf_assignment,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    C = kmeans_centroids(emb, k=16, approx_rows=600)  # approx_rows: no count job
    for qid in (0, 7):
        got = ivf_ann_topk(emb, query_id=qid, k=10, n_centroids=16, nprobe=4,
                           centroids=C).toPandas()
        ref = ivf_ann_topk(emb, query_id=qid, k=10, n_centroids=16, nprobe=4).toPandas()
        assert list(got.vec_id) == list(ref.vec_id)
        assert list(got.cos_sim) == list(ref.cos_sim)
    assigned, C2 = precompute_ivf_assignment(emb, centroids=C)
    assert C2 is C
    n_lists = assigned.select(SF.countDistinct("_ivf_list")).first()[0]
    assert 1 < n_lists <= 16  # clustered testdata spreads over real lists


def test_dedupe_cascade_end_to_end(spark):
    """exact dupes AND transitive near-dups collapse; unrelated docs
    survive; output carries the input columns."""
    from rocket_etl_spark.operators.dedup import dedupe_cascade

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "en"),
        (2, base, "en"),                                   # exact dup of 1
        (3, base.replace("today", "tomorrow"), "en"),      # near dup of 1
        (4, "completely different text about spark engines and parquet files", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    kept = dedupe_cascade(df, threshold=0.5, n=2).toPandas()
    assert sorted(kept.columns) == ["doc_id", "lang", "text"]
    assert sorted(kept.doc_id) == [1, 4]


def test_simhash_pigeonhole_recall_guarantee(spark):
    """EXACT recall bound: with 6 segments and 2-segment table keys, any
    pair within hamming 6-2=4 MUST be a candidate (k flipped bits touch
    at most k segments; some table's 2 segments stay clean).  Randomized
    pairs at the exact bound, every one must appear."""
    import random

    from rocket_etl_spark.operators.dedup import simhash_candidate_pairs

    rng = random.Random(13)
    rows = []
    for i in range(40):
        base = rng.getrandbits(60)
        flipped = base
        for b in rng.sample(range(60), 4):  # exactly hamming 4
            flipped ^= 1 << b
        rows.append((2 * i, base))
        rows.append((2 * i + 1, flipped))
    s = spark.createDataFrame(rows, "doc_id long, _sim long")
    cand = simhash_candidate_pairs(
        s, "doc_id", sig_bits=60, n_segments=6, segs_per_table=2,
        string_buckets=False,
    ).toPandas()
    found = {tuple(r) for r in cand[["id_a", "id_b"]].itertuples(index=False)}
    missing = [i for i in range(40) if (2 * i, 2 * i + 1) not in found]
    assert not missing, f"pigeonhole guarantee violated for pairs {missing}"


def test_components_close_transitively_and_corpus_keeps_min(spark):
    """A~B and B~C (no A~C pair) must collapse to ONE cluster; singletons
    keep their own id; dedupe_corpus keeps exactly the min id per cluster."""
    from rocket_etl_spark.operators.dedup import dedupe_corpus, neardup_components

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 5, 9)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a bigint, id_b bigint"
    )
    comp = neardup_components(docs, pairs).toPandas()
    got = dict(zip(comp.doc_id, comp.component_id))
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}
    kept = sorted(r.doc_id for r in dedupe_corpus(docs, pairs).collect())
    assert kept == [1, 4, 9]


def test_components_string_ids_close_transitively(spark):
    """String doc ids (hash/uuid ids are common) must work end-to-end: the
    old convergence check summed raw labels, which casts strings to
    double → NULL every round → false convergence after ONE round, i.e. a
    silently partial transitive closure.  A 3-hop chain needs >1 round,
    so it pins the changed-row-count fixpoint detection."""
    from rocket_etl_spark.operators.dedup import dedupe_corpus, neardup_components

    docs = spark.createDataFrame(
        [(f"doc-{i:02d}", f"text {i}") for i in (1, 2, 3, 4, 7)],
        "doc_id string, text string",
    )
    # chain doc-04 ~ doc-03 ~ doc-02 ~ doc-01: min label needs 3 hops
    pairs = spark.createDataFrame(
        [("doc-04", "doc-03"), ("doc-03", "doc-02"), ("doc-02", "doc-01")],
        "id_a string, id_b string",
    )
    comp = neardup_components(docs, pairs).toPandas()
    got = dict(zip(comp.doc_id, comp.component_id))
    assert got == {
        "doc-01": "doc-01", "doc-02": "doc-01", "doc-03": "doc-01",
        "doc-04": "doc-01", "doc-07": "doc-07",
    }
    kept = sorted(r.doc_id for r in dedupe_corpus(docs, pairs).collect())
    assert kept == ["doc-01", "doc-07"]


def test_components_match_union_find_on_random_graphs(spark):
    """Label propagation must equal a sequential union-find on random
    graphs (cycles, chains, hubs, isolated nodes)."""
    import random

    from rocket_etl_spark.operators.dedup import neardup_components

    rng = random.Random(77)
    n = 60
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(45)})

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}

    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r.doc_id: r.component_id
        for r in neardup_components(docs, pairs).collect()
    }
    assert got == want


def test_simhash_multitable_finds_top_bit_differences(spark):
    """The round-2 single-top-16-bit block missed any pair differing in the
    top 16 bits.  The Manku multi-table candidates must find a pair whose
    ONLY differing bits are in the top 16 — pigeonhole over the segments
    not touched by the difference."""
    from rocket_etl_spark.operators.dedup import simhash_candidate_pairs
    import pyspark.sql.functions as F

    base = 0b10110_01101_11010_00111_01010_11001_10101_00110_11100_01011_00101_10010
    assert base < (1 << 60)
    flipped = base ^ (0b1111 << 52)  # hamming 4, bits 52-55 only (top 16)
    far = base ^ ((1 << 30) - 1)     # hamming 30 partner, for contrast
    s = spark.createDataFrame(
        [(1, base), (2, flipped), (3, far)], "doc_id long, _sim long"
    )
    cand = simhash_candidate_pairs(
        s, "doc_id", sig_bits=60, n_segments=6, segs_per_table=2,
        string_buckets=True,
    ).toPandas()
    found = {tuple(r) for r in cand[["id_a", "id_b"]].itertuples(index=False)}
    assert (1, 2) in found  # differs only in top bits — still a candidate
    # and the xxhash64 bucket mode agrees on the same pair
    cand2 = simhash_candidate_pairs(
        s, "doc_id", sig_bits=60, n_segments=6, segs_per_table=2,
        string_buckets=False,
    ).toPandas()
    assert (1, 2) in {tuple(r) for r in cand2[["id_a", "id_b"]].itertuples(index=False)}


def test_lsh_ann_subset_of_bruteforce_space(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = cosine_topk(emb, query_id=0, k=50).toPandas()
    approx = lsh_ann_topk(emb, query_id=0, k=10, planes=8, probe_hamming=2).toPandas()
    assert len(approx) > 0
    # every ANN sim must equal the brute-force sim for that id (correct math)
    exact_map = dict(zip(exact.vec_id, exact.cos_sim))
    full = cosine_topk(emb, query_id=0, k=600).toPandas()
    full_map = dict(zip(full.vec_id, full.cos_sim))
    for r in approx.itertuples(index=False):
        assert abs(full_map[r.vec_id] - r.cos_sim) < 1e-9
    # recall sanity: ANN's best hit is a genuinely similar vector
    assert approx.cos_sim.max() >= exact.cos_sim.iloc[-1]


def test_zero_norm_vector_never_crashes_or_pairs(spark):
    """ANSI mode throws on /0 — one all-zero embedding must not abort a
    corpus-scale job (regression: caught live before try_divide)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 0.0], 0)],
        "vec_id bigint, embedding array<float>, label int",
    )
    from rocket_etl_spark.operators.dedup import embedding_neardup_pairs

    out = embedding_neardup_pairs(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    topk = cosine_topk(df, query_id=1, k=5).collect()
    assert {r.vec_id: r.cos_sim for r in topk}[3] is None


def test_exact_dedup_at_scale_shape(spark):
    """dedup plan: one shuffle (hash agg), no cross join, no collect."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = exact_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

# ---------------------------------------------- round-2 scale-shape tests
def test_prefix_filter_candidates_bounded_on_skewed_corpus(spark):
    """One hot block (all docs same lang) must NOT produce O(block²)
    candidates: prefix filtering prunes by rare-token co-occurrence, so
    mutually-dissimilar docs generate no candidate pairs at all."""
    import pyspark.sql.functions as F

    from rocket_etl_spark.operators.dedup import (
        ngram_jaccard_candidates,
        shingle_frame,
    )

    n = 200
    # pairwise-disjoint vocabularies -> zero qualifying pairs
    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(25)), "en") for i in range(n)]
    # plus one known near-dup pair sharing most tokens
    rows += [
        (n, " ".join(f"shared_{j}" for j in range(25)), "en"),
        (n + 1, " ".join(f"shared_{j}" for j in range(24)) + " extra_tok", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    sh = shingle_frame(df, "text", "doc_id", n=1, extra_cols=("lang",)).withColumnRenamed(
        "lang", "_blk"
    )
    cand = ngram_jaccard_candidates(sh, "doc_id", threshold=0.6)
    n_cand = cand.count()
    all_pairs = (n + 2) * (n + 1) // 2
    assert n_cand < all_pairs * 0.01, f"{n_cand} candidates vs {all_pairs} all-pairs"
    # and the known near-dup pair survives (exactness)
    out = ngram_jaccard_pairs(df, n=1, threshold=0.6).toPandas()
    assert (n, n + 1) in {tuple(r) for r in out[["id_a", "id_b"]].itertuples(index=False)}


def test_prefix_filter_equals_allpairs_blocked_join(spark):
    """The prefix-filtered join is EXACT: identical pairs to a brute-force
    blocked all-pairs join on a random-ish corpus."""
    import pyspark.sql.functions as F

    from rocket_etl_spark.operators.dedup import jaccard, shingle_frame

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = ngram_jaccard_pairs(docs, n=1, threshold=0.5).toPandas()

    sh = shingle_frame(docs, "text", "doc_id", 1, extra_cols=("lang",)).withColumnRenamed(
        "lang", "_blk"
    )
    a = sh.select(F.col("doc_id").alias("id_a"), "_blk", F.col("_sh").alias("_sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), "_blk", F.col("_sh").alias("_sb"))
    brute = (
        a.join(b, on="_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard_sim", jaccard(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jaccard_sim") >= 0.5)
        .select("id_a", "id_b", "jaccard_sim")
        .toPandas()
    )
    key = lambda pdf: sorted(map(tuple, pdf[["id_a", "id_b", "jaccard_sim"]].values.tolist()))
    assert key(got) == key(brute)


def test_embedding_lsh_recall_vs_exact(spark):
    """Banded hyperplane LSH recall ≥ 0.9 against the exact blocked form
    at high-threshold near-dup, on deterministically clustered vectors."""
    import math

    from rocket_etl_spark.operators.dedup import embedding_neardup_pairs

    # 40 clusters of 5 near-identical vectors (dim 64), deterministic
    rows = []
    vid = 0
    for c in range(40):
        base = [math.sin(0.1 * c * (i + 1)) for i in range(64)]
        for m in range(5):
            vec = [x + 0.01 * math.sin(c + m + i) for i, x in enumerate(base)]
            rows.append((vid, vec, "all"))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label string")

    exact = embedding_neardup_pairs(df, threshold=0.95, method="block").toPandas()
    lsh = embedding_neardup_pairs(df, threshold=0.95, method="lsh").toPandas()
    exact_pairs = {tuple(r) for r in exact[["id_a", "id_b"]].itertuples(index=False)}
    lsh_pairs = {tuple(r) for r in lsh[["id_a", "id_b"]].itertuples(index=False)}
    assert exact_pairs, "fixture must generate near-dup pairs"
    assert lsh_pairs <= exact_pairs  # verification step: no false positives
    recall = len(lsh_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.3f} too low"


def test_embedding_lsh_bounds_hot_block(spark):
    """method='lsh' must not all-pair a hot label: dissimilar vectors in
    one label produce (almost) no candidates."""
    import math

    from rocket_etl_spark.operators.dedup import embedding_neardup_pairs

    import hashlib

    # 300 hash-random vectors (pairwise near-orthogonal), ALL in one label
    def h(i, j):
        d = hashlib.blake2b(f"{i}:{j}".encode(), digest_size=4).digest()
        return int.from_bytes(d, "big") / 2**31 - 1.0

    rows = [(i, [h(i, j) for j in range(64)], "hot") for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label string")
    out = embedding_neardup_pairs(df, threshold=0.95, method="lsh")
    # random 64-dim vectors: cos ~ N(0, 1/64), so nothing reaches 0.95 —
    # and the LSH path never materializes the label-wide cross join
    assert out.count() == 0


def test_md5_60bit_matches_duckdb(spark):
    """The cross-engine hash primitive behind every sketch oracle:
    Spark conv(substr(md5,1,15),16,10) == DuckDB ('0x'||...)::BIGINT."""
    import duckdb
    import pyspark.sql.functions as F

    from rocket_etl_spark.operators.dedup import md5_60bit

    samples = ["hello", "wörld ünïcode", "", "tok:17", "a b  c", "日本語テスト"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r.h for r in df.select(md5_60bit(F.col("s")).alias("h")).collect()]
    con = duckdb.connect()
    want = [
        con.sql("SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", params=[s]).fetchone()[0]
        for s in samples
    ]
    assert got == want


def test_simhash_expr_agrees_with_udf_on_ordering(spark):
    """Both simhash impls must agree on which pairs are closest (same
    algorithm, different hash basis)."""
    out = simhash_pairs(_docs(spark), max_hamming=20, impl="expr").toPandas()
    found = {tuple(r) for r in out[["id_a", "id_b"]].itertuples(index=False)}
    assert (1, 2) in found  # exact dups: hamming 0
    h = dict(zip(map(tuple, out[["id_a", "id_b"]].values.tolist()), out["hamming"]))
    assert h[(1, 2)] == 0
    if (1, 3) in h:  # near-dup strictly farther than exact dup
        assert h[(1, 3)] > 0
