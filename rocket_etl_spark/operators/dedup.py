"""Deduplication operators for training-data pipelines.

The stages of a dedupe cascade, cheapest-first — the standard shape for
100 TB corpora:

* exact        — hash groupBy; one shuffle, map-side combine.
* ngram-jaccard— EXACT set similarity via prefix-filtered similarity
                 join (AllPairs/PPJoin) — never an all-pairs join.
* minhash LSH  — sketch + banding: near-dup *candidates* at O(n·bands)
                 shuffle volume instead of O(n²) comparisons.
* simhash      — 60/64-bit fingerprint; Manku multi-table blocking for
                 hamming-ball candidates with bounded per-table volume.
* embedding    — cosine near-dups over a vector column (banded
                 hyperplane LSH by default; exact block mode for
                 oracle checks).
* components   — pairs → transitively-closed clusters labelled by
                 their min id (``neardup_components``), the step that
                 turns similarity output into a dedupe DECISION.

Set/sketch math is JVM higher-order functions (transform/aggregate/
zip_with) where those stay linear, and vectorized numpy pandas UDFs
where batching wins (simhash bit-twiddling, hyperplane matmuls).
Nothing collects to the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from rocket_etl_spark.operators.text import tokens


# --------------------------------------------------------------- exact
def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: the kept (min) id + dupe count."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


# ------------------------------------------------------------- n-grams
def shingle_frame(
    df: DataFrame, text_col: str, id_col: str, n: int, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(id, [extra...], _sh) with the token split evaluated ONCE per row.

    Two projections: tokens first, shingles from the materialized array.
    (Catalyst's CollapseProject declines to merge them because the token
    array is referenced 3n times — measured ~15x faster than the inline
    form on 50-token docs.)

    The output is shuffle-barriered (round-robin repartition): without it,
    a downstream ``explode`` makes Catalyst re-evaluate the whole shingle
    construction per OUTPUT row (measured 50x slower), and single-file
    inputs would stay single-partition.  The barrier pins the arrays as
    shuffled bytes — computed exactly once per input row."""
    toked = df.select(F.col(id_col), *[F.col(c) for c in extra_cols], tokens(text_col).alias("_toks"))
    # guarded: a doc with fewer than n tokens has NO n-grams.  The old
    # unguarded sequence(1, size-(n-1)) produced a DESCENDING [1, 0] for
    # short docs, whose element_at(size+1) crashes the whole job under
    # ANSI mode (round-4 find via decontamination's short test docs).
    idx = F.when(
        F.size("_toks") >= n, F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    built = toked.select(
        id_col,
        *extra_cols,
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(" ", *[F.element_at(F.col("_toks"), i + j) for j in range(n)]),
            )
        ).alias("_sh"),
    )
    return built.repartition(df.sparkSession.sparkContext.defaultParallelism)


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / F.greatest(union, F.lit(1)), 4)


def ngram_jaccard_candidates(
    sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """EXACT candidate pairs for Jaccard ≥ threshold via prefix filtering
    (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al. WWW'08).

    Principle: order every document's shingles by one GLOBAL order
    (ascending corpus frequency, rarest first).  If J(A,B) ≥ t then
    |A∩B| ≥ t·max(|A|,|B|), and the first ``|X| - ⌈t·|X|⌉ + 1`` tokens of
    each side must intersect — so joining on exploded PREFIX tokens loses
    no qualifying pair, while candidate volume is driven by rare-token
    co-occurrence instead of block size: no O(block²) anywhere, which is
    what makes an exact similarity self-join workable corpus-wide.

    Input ``sh``: (id, ``_blk``, ``_sh``) from ``shingle_frame`` (``_blk``
    may be a constant for unblocked runs — the filter stays exact either
    way; blocking only prunes cross-block pairs by definition).
    Output: distinct (id_a, id_b) with the size filter
    ``t·|B| ≤ |A| ≤ |B|/t`` already applied.
    """
    ex = sh.select(
        F.col(id_col), "_blk", F.explode_outer("_sh").alias("_tok"), F.size("_sh").alias("_sz")
    ).filter(F.col("_tok").isNotNull())
    freq = ex.groupBy("_tok").agg(F.count(F.lit(1)).alias("_f"))
    # per doc: tokens sorted rarest-first under the (freq, token) order,
    # truncated to the prefix that any qualifying partner must hit
    pref_len = (F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1).cast("int")
    prefixes = (
        ex.join(freq, on="_tok")
        .groupBy(id_col, "_blk", "_sz")
        .agg(F.array_sort(F.collect_list(F.struct("_f", "_tok"))).alias("_ordered"))
        .select(
            id_col,
            "_blk",
            "_sz",
            F.explode(F.slice(F.col("_ordered._tok"), 1, pref_len)).alias("_ptok"),
        )
    )
    a = prefixes.select(
        F.col(id_col).alias("id_a"), "_blk", "_ptok", F.col("_sz").alias("_sza")
    )
    b = prefixes.select(
        F.col(id_col).alias("id_b"), "_blk", "_ptok", F.col("_sz").alias("_szb")
    )
    return (
        a.join(b, on=["_blk", "_ptok"])
        .filter(F.col("id_a") < F.col("id_b"))
        # exact size filter: J ≥ t forces t·|B| ≤ |A| (for |A| ≤ |B|)
        .filter(
            (F.col("_sza") >= F.lit(threshold) * F.col("_szb"))
            & (F.col("_szb") >= F.lit(threshold) * F.col("_sza"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs by token-n-gram Jaccard — EXACT result, never an
    all-pairs join: candidates come from prefix filtering (see
    ``ngram_jaccard_candidates``), then each candidate is Jaccard-verified
    against the full shingle sets.  ``block_col`` additionally restricts
    pairs to the same block (e.g. same language) — a semantic choice, not
    the scalability mechanism."""
    extra = (block_col,) if block_col else ()
    sh = shingle_frame(df, text_col, id_col, n, extra_cols=extra)
    sh = (
        sh.withColumnRenamed(block_col, "_blk")
        if block_col
        else sh.withColumn("_blk", F.lit(0))
    )
    cand = ngram_jaccard_candidates(sh, id_col, threshold)
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    return (
        cand.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn("jaccard_sim", jaccard(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


# -------------------------------------------------------------- minhash
def md5_60bit(c: Column) -> Column:
    """60-bit integer hash both engines compute identically: the first 15
    hex chars of md5, parsed base-16.  Spark ``conv(substr(md5,1,15),16,10)``
    equals DuckDB ``('0x'||substr(md5,1,15))::BIGINT`` byte-for-byte
    (verified cross-engine incl. unicode) — the primitive that makes the
    sketch queries DuckDB-oracle-checkable.  ~5x slower than xxhash64, so
    it is the ORACLE hash; xxhash64 stays the production default."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, then exact-Jaccard
    verified.  Shuffle volume is O(rows × bands), never O(rows²): docs
    only meet if one band of their sketches collides.

    Scale shape: shingles explode to (id, shingle) rows, the ``num_hashes``
    minima reduce in ONE hash aggregation (map-side combine) — the sketch
    never recomputes the shingle expression per seed, and signature width
    is columns, not nested lambdas (keeps codegen linear).

    ``hash_fn='xxhash64'`` is the production default (fastest JVM hash).
    ``hash_fn='md5'`` computes the identical algorithm over ``md5_60bit``
    (band bucket = the comma-joined signature slice) so a DuckDB oracle
    can replay the whole sketch bit-for-bit — the harness correctness
    mode."""
    rows_per_band = num_hashes // bands
    sh_df = shingle_frame(df, text_col, id_col, n)

    # hash the shingle STRING once to a long; the per-seed hashes then run
    # over 8 bytes instead of the full string (~4x fewer hashed bytes)
    # explode_OUTER deliberately: plain explode triggers Catalyst's
    # InferFiltersFromGenerate, whose size(_sh)>0 filter gets pushed below
    # the shingle projection and re-inlines the token split PER ELEMENT
    # (~150 regex splits/row, measured 10x slower).  Outer explode infers
    # no filter; the null guard below runs after the Generate instead.
    if hash_fn == "md5":
        tok_h = md5_60bit(F.col("_s"))

        def seed_h(j: int) -> Column:
            return md5_60bit(F.concat(F.col("_tok").cast("string"), F.lit(f":{j}")))

        def band_bucket(b: int) -> Column:
            return F.concat_ws(
                ",", *[F.col(f"_h{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
    elif hash_fn == "xxhash64":
        tok_h = F.xxhash64("_s")

        def seed_h(j: int) -> Column:
            return F.xxhash64("_tok", F.lit(j))

        def band_bucket(b: int) -> Column:
            # bigint bucket: 8-byte shuffle key (the md5 mode's string
            # bucket exists only for SQL replayability)
            return F.xxhash64(
                *[F.col(f"_h{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    ex = (
        sh_df.select(id_col, F.explode_outer("_sh").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(id_col, tok_h.alias("_tok"))
    )
    sig = ex.groupBy(id_col).agg(
        *[F.min(seed_h(j)).alias(f"_h{j}") for j in range(num_hashes)]
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select(id_col, "_band.band", "_band.bucket")

    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sh_df.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    sb = sh_df.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    return (
        cand.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn("jaccard_sim", jaccard(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


# -------------------------------------------------------------- simhash
@pandas_udf(LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (vectorized numpy).

    Deterministic: token hash = blake2b-8byte.  Returned as signed int64
    (two's complement) to fit Spark's LongType."""
    import hashlib

    def one(s: str | None) -> int | None:
        if s is None:
            return None
        acc = np.zeros(64, dtype=np.int64)
        for tok in s.split():
            d = hashlib.blake2b(tok.encode(), digest_size=8).digest()
            bits = np.unpackbits(np.frombuffer(d, dtype=np.uint8)).astype(np.int64)
            acc += 2 * bits - 1
        v = 0
        for i in range(64):
            if acc[i] > 0:
                v |= 1 << i
        return v - (1 << 64) if v >= (1 << 63) else v

    return text.map(one)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


_POW2_60 = [1 << i for i in range(60)]


def simhash60_from_hashes(th: Column) -> Column:
    """60-bit SimHash from a (materialized) array of ``md5_60bit`` token
    hashes — pure JVM expressions, and bit-replayable in DuckDB SQL
    (the oracle twin lives in ``__spark_entry__.oracle_sql``).

    bit i of the signature = 1 iff Σ_tokens (2·bit_i(hash) − 1) > 0.
    Pass a COLUMN REFERENCE to an already-projected hash array (not an
    inline expression): the per-bit aggregate references it 60×, and
    Catalyst would re-inline an expression operand per bit."""
    pow2 = F.array(*[F.lit(p).cast("long") for p in _POW2_60])
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda i: F.when(
                F.aggregate(
                    th,
                    F.lit(0).cast("long"),
                    lambda acc, h: acc
                    + F.when(h.bitwiseAND(F.element_at(pow2, i + 1)) != 0, 1).otherwise(-1),
                )
                > 0,
                F.element_at(pow2, i + 1),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_segments(sig_bits: int, n_segments: int) -> list[tuple[int, int]]:
    """(shift, mask) for each of ``n_segments`` contiguous disjoint bit
    segments covering a ``sig_bits``-wide signature (last may be narrower).
    Shared by the Spark operator and the DuckDB oracle generator so both
    engines replay identical blocking."""
    w = -(-sig_bits // n_segments)  # ceil
    out = []
    for i in range(n_segments):
        lo = i * w
        width = min(w, sig_bits - lo)
        out.append((lo, (1 << width) - 1))
    return out


def simhash_tables(n_segments: int, segs_per_table: int) -> list[tuple[int, ...]]:
    """Manku table index: every ``segs_per_table``-combination of segment
    ids.  Pigeonhole guarantee: k bit-errors touch at most k segments, so
    any pair within hamming ``n_segments - segs_per_table`` has some table
    whose segments are all untouched — full recall up to that bound."""
    from itertools import combinations

    return list(combinations(range(n_segments), segs_per_table))


def simhash_candidate_pairs(
    s: DataFrame,
    id_col: str,
    sig_bits: int,
    n_segments: int,
    segs_per_table: int,
    string_buckets: bool,
) -> DataFrame:
    """Distinct candidate (id_a, id_b) from multi-table SimHash blocking
    (Manku et al., WWW'07 — "Detecting near-duplicates for web crawling").

    ``s`` is (id, _sim).  Each table keys on the concatenated values of
    ``segs_per_table`` of the ``n_segments`` disjoint signature segments;
    a pair is a candidate iff ALL of some table's segments match.  With
    the (6, 2) default on a 60-bit signature: 15 tables × 20-bit keys —
    per-table collision volume ~n²/2²⁰, and guaranteed recall for pairs
    within hamming 4 (probabilistically near-1 well beyond; the round-2
    single-top-16-bit block both missed top-bit differences outright and
    concentrated all pairs in 2¹⁶ buckets).

    ``string_buckets=True`` keys tables on comma-joined decimal segment
    values (replayable in ANSI SQL — the oracle mode); otherwise buckets
    are xxhash64 of the segment values (8-byte shuffle keys)."""
    segs = [
        F.shiftrightunsigned(F.col("_sim"), lo).bitwiseAND(F.lit(mask))
        for lo, mask in simhash_segments(sig_bits, n_segments)
    ]
    tables = simhash_tables(n_segments, segs_per_table)

    def bucket(combo: tuple[int, ...]) -> Column:
        if string_buckets:
            return F.concat_ws(",", *[segs[i].cast("string") for i in combo])
        return F.xxhash64(*[segs[i] for i in combo]).cast("string")

    banded = s.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), bucket(combo).alias("bucket"))
                    for t, combo in enumerate(tables)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "_b.tbl", "_b.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    return (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    impl: str = "udf",
    n_segments: int = 6,
    segs_per_table: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance — candidates from
    multi-table segment blocking (``simhash_candidate_pairs``), then
    exact-hamming verified.

    Recall: exact for pairs within hamming ``n_segments - segs_per_table``
    (pigeonhole over disjoint segments); beyond that bound a pair is found
    iff some table's segments are untouched — near-1 in practice since
    simhash errors concentrate where documents differ.  Raise
    ``n_segments`` (more, narrower segments) to push the guarantee toward
    a larger ``max_hamming`` at the cost of coarser per-table keys.

    ``impl='udf'`` — 64-bit blake2b signature via the vectorized pandas
    UDF (the custom-Python surface).  ``impl='expr'`` — 60-bit md5-based
    signature in pure JVM expressions, bit-replayable in DuckDB SQL for
    the harness oracle.  Same algorithm, different hash basis."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if impl == "expr":
        sig_bits = 60
        toked = df.select(
            F.col(id_col),
            F.transform(tokens(F.col(text_col)), md5_60bit).alias("_th"),
        ).repartition(par)
        s = toked.select(F.col(id_col), simhash60_from_hashes(F.col("_th")).alias("_sim"))
    elif impl == "udf":
        sig_bits = 64
        s = df.select(F.col(id_col), simhash64(F.col(text_col)).alias("_sim"))
    else:
        raise ValueError(f"unknown impl {impl!r}")
    # barrier: pin the (expensive) signature as shuffled bytes so the
    # 15-table band explode and the verify join never re-inline it
    s = s.repartition(par)
    cand = simhash_candidate_pairs(
        s, id_col, sig_bits, n_segments, segs_per_table, string_buckets=(impl == "expr")
    )
    sa = s.select(F.col(id_col).alias("id_a"), F.col("_sim").alias("_ha"))
    sb = s.select(F.col(id_col).alias("id_b"), F.col("_sim").alias("_hb"))
    return (
        cand.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn("hamming", hamming64(F.col("_ha"), F.col("_hb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------------- components
def neardup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(doc_id, component_id) — connected components over near-dup pairs,
    the step that turns pairwise similarity output into an actionable
    dedupe decision (one representative per duplicate CLUSTER, not per
    pair — A~B~C must collapse to one doc even if (A,C) was never
    emitted).

    Min-label propagation: every node starts labeled with its own id;
    each round a node takes the min of its label and its neighbors'.
    Converges in O(cluster diameter) rounds — near-dup clusters are
    short-diameter in practice (a hub + variants), so typically 2-4
    rounds.  Each round is one edge join + one min-aggregation, both
    key-partitioned; a checkpoint truncates the lineage so the plan
    stays one round deep.  When the session has a reliable checkpoint
    dir (``spark.sparkContext.setCheckpointDir``) it is used
    automatically — executor loss then cannot lose a round; otherwise
    ``localCheckpoint`` (executor-resident, fine for local mode and
    short jobs).  Convergence is detected by a changed-row count computed
    IN the propagation projection itself (``_chg = 1`` iff a neighbor
    label lowered this node's label), summed from the already-
    materialized checkpoint — one cheap scalar per round, no driver-side
    data, and type-agnostic over the id column (summing raw labels would
    be NULL/overflow-prone for string or large int64 ids).

    Docs in no pair keep their own id (singleton components), so the
    output is a total map over ``df`` and the keep-list is exactly
    ``component_id``'s distinct values."""
    sc = df.sparkSession.sparkContext
    reliable = sc.getCheckpointDir() is not None

    def barrier(d: DataFrame) -> DataFrame:
        return d.checkpoint(eager=True) if reliable else d.localCheckpoint(eager=True)

    edges = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d")).unionByName(
        pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d"))
    )
    labels = df.select(F.col(id_col).alias("id"), F.col(id_col).alias("comp"))
    converged = False
    for _ in range(max_iter):
        msgs = (
            edges.join(
                labels.select(F.col("id").alias("s"), F.col("comp").alias("_nc")), on="s"
            )
            .groupBy("d")
            .agg(F.min("_nc").alias("_nc"))
        )
        labels = barrier(
            labels.join(msgs, labels.id == msgs.d, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("_nc", "comp")).alias("comp"),
                # null-safe: _nc NULL (no incoming message) → condition NULL
                # → otherwise-branch 0
                F.when(F.col("_nc") < F.col("comp"), F.lit(1)).otherwise(F.lit(0)).alias("_chg"),
            )
        )
        if not labels.agg(F.sum("_chg")).first()[0]:
            converged = True
            break
    if not converged:
        # silently returning a partial closure would keep multiple
        # "representatives" of one cluster — fail loudly; real near-dup
        # clusters are short-diameter, so hitting this means a
        # pathological chain (raise max_iter deliberately if intended)
        raise RuntimeError(
            f"neardup_components did not converge within max_iter={max_iter} "
            "rounds (cluster diameter exceeds the bound)"
        )
    return labels.select(F.col("id").alias(id_col), F.col("comp").alias("component_id"))


# ----------------------------------------------------- embedding cosine
def l2_norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """Pairwise cosine; NULL for zero-norm vectors (try_divide — a single
    all-zero embedding must not abort the job under ANSI mode).  In
    self-joins prefer precomputing ``l2_norm`` per ROW before the join and
    using ``try_divide(dot(a,b), na*nb)`` — this inline form recomputes
    both norms for every PAIR (O(pairs·dim) extra work)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.95,
    method: str = "lsh",
    dim: int = 64,
    bands: int = 8,
    planes_per_band: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup pairs over an embedding column.

    ``method='lsh'`` is the DEFAULT — the bounded-candidate-volume path
    is what a caller gets unless they explicitly opt into the all-pairs
    block mode (the harness oracle query does, since exact block mode is
    fully ANSI-SQL-replayable).

    ``method='block'`` — EXACT within ``block_col`` groups: every
    same-block pair is verified.  Deterministic and fully SQL-checkable,
    but a hot block degenerates to all-pairs — only for known-bounded
    blocks (or oracle comparisons).

    ``method='lsh'`` — the 100 TB path: candidates are pairs sharing
    ANY banded hyperplane signature (``similarity.lsh_band_signatures``),
    then exact-cosine verified; ``block_col`` (if given) additionally
    confines pairs to the same block.  Candidate volume is
    O(rows·bands·bucket_size), bounded by construction regardless of
    block skew; recall at threshold ≥ ~0.9 is ~0.99 with the 8×8 default
    (measured against the exact form in tests/test_dedup_similarity.py).
    """
    v = df.select(
        F.col(id_col),
        (F.col(block_col) if block_col else F.lit(0)).alias("_lbl"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # norms once per ROW (a projection + shuffle barrier so the join can't
    # re-inline the norm expression per pair)
    v = v.withColumn("_n", l2_norm(F.col("_v")))

    verify_cos = F.round(
        F.try_divide(dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")), 4
    )

    if method == "block":
        v = v.repartition(df.sparkSession.sparkContext.defaultParallelism, "_lbl")
        a = v.select(F.col(id_col).alias("id_a"), "_lbl", F.col("_v").alias("_va"),
                     F.col("_n").alias("_na"))
        b = v.select(F.col(id_col).alias("id_b"), "_lbl", F.col("_v").alias("_vb"),
                     F.col("_n").alias("_nb"))
        return (
            a.join(b, on="_lbl")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", verify_cos)
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim")
        )

    if method != "lsh":
        raise ValueError(f"unknown method {method!r} (use 'block' or 'lsh')")

    from rocket_etl_spark.operators.similarity import lsh_band_signatures

    sig = v.withColumn(
        "_sigs", lsh_band_signatures(F.col("_v"), dim, bands, planes_per_band, seed)
    )
    # barrier: pin vectors+signatures as shuffled bytes so the band explode
    # and downstream joins never re-inline the signature expression
    sig = sig.repartition(df.sparkSession.sparkContext.defaultParallelism)
    banded = sig.select(
        id_col,
        "_lbl",
        F.posexplode("_sigs").alias("_band", "_sig"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), "_lbl", "_band", "_sig")
    b = banded.select(F.col(id_col).alias("id_b"), "_lbl", "_band", "_sig")
    cand = (
        a.join(b, on=["_lbl", "_band", "_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = sig.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
                    F.col("_n").alias("_na"))
    vb = sig.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
                    F.col("_n").alias("_nb"))
    return (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn("cos_sim", verify_cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
