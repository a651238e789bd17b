"""Deduplication operators for training-data pipelines.

Five families, all DataFrame-native and shuffle-conscious:

- **exact**: hash-groupBy on a normalized-content fingerprint; one map-side
  combined shuffle on the 60-bit hash (no text moves over the wire).
- **n-gram Jaccard**: word-shingle inverted index as the blocking join
  (shingle -> candidate pairs -> exact Jaccard).  A document-frequency cap
  drops ubiquitous shingles before the self-join — the classic guard against
  quadratic blow-up on hot shingles at scale.
- **MinHash + LSH**: k hash-permutation minima computed in ONE pass over the
  exploded shingles (k min-aggregates, no k-fold row blow-up), banded into
  buckets; pairs sharing a bucket are candidates, then exact-Jaccard refined.
- **SimHash**: sign-aggregated token-hash bits -> b-bit fingerprint; near-dup
  pairs via hamming distance <= d within blocking keys.
- **embedding cosine** near-dup lives in operators.similarity.

Every operator uses the portable 60-bit hash so the DuckDB oracle replays it
exactly (see functions.oracles / __spark_entry__)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sketches_go_spark.functions.expressions import portable_hash64
from sketches_go_spark.operators.text import doc_fingerprint


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------- exact
def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fingerprint, is_canonical): canonical = min id per fingerprint.
    Filter ``is_canonical`` to materialize the deduplicated corpus."""
    fp = doc_fingerprint(_col(text_col))
    with_fp = df.select(_col(id_col).alias(id_col), fp.alias("fingerprint"))
    # min(id) over a window on the fingerprint: one shuffle, no join
    from pyspark.sql.window import Window

    keep = F.min(id_col).over(Window.partitionBy("fingerprint"))
    return with_fp.select(
        id_col, "fingerprint", (F.col(id_col) == keep).alias("is_canonical")
    )


# ------------------------------------------------------------------- shingles
def word_shingles(words: Column, n: int = 3) -> Column:
    """Array of word n-gram shingle strings (space-joined) from a WORD-ARRAY
    column.  The caller must materialize the tokenization into a real column
    first (see :func:`shingle_rel`): passing ``F.split(...)`` directly would
    inline the split expression at every ``element_at`` site inside the
    lambda — Catalyst does not CSE into lambda bodies, so the text would be
    re-tokenized ~n times PER SHINGLE INDEX (O(words²) per doc — measured
    ~20 µs/shingle instead of <1)."""
    cnt = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    make = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(cnt >= n, make).otherwise(F.array())


def shingle_rel(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) distinct relation; tokenization materialized ONCE."""
    wdf = df.select(
        _col(id_col).alias(id_col),
        F.split(F.lower(F.trim(_col(text_col))), " ").alias("_w"),
    )
    return (
        wdf.select(id_col, word_shingles(F.col("_w"), n).alias("sh"))
        .select(id_col, F.explode("sh").alias("shingle"))
        .distinct()
    )


# -------------------------------------------------------------- ngram jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 1000,
    sim_decimals: int = 6,
    candidate_budget: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with n-gram Jaccard >= threshold.

    The shingle relation IS the blocking index: the self-join key is the
    shingle, so only documents sharing at least one (rare-enough) shingle
    ever meet.  ``df_cap`` removes shingles appearing in more than that many
    documents before the join — at 100 TB a single hot shingle would
    otherwise produce a quadratic reducer.

    ``candidate_budget``: when set, the exact candidate volume (sum of
    C(docfreq, 2) over capped shingles) is checked BEFORE the self-join and
    text.CandidateBudgetExceeded raised above it — one small eager job in
    exchange for an explicit failure instead of a runaway stage."""
    from sketches_go_spark.operators.text import check_candidate_budget

    sh = shingle_rel(df, id_col, text_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    freq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("docfreq"))
        .where(F.col("docfreq") <= df_cap)
    )
    if candidate_budget is not None:
        check_candidate_budget(
            freq, "docfreq", candidate_budget, "ngram_jaccard_pairs"
        )
    rare = freq.select("shingle")
    sh_r = sh.join(rare, "shingle")
    a = sh_r.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh_r.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                sim_decimals,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------- minhash lsh
def minhash_salt(j: int) -> str:
    return f"mh{j}:"


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    hash_fn=None,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}): k permutation minima in ONE aggregation pass
    over the exploded shingles (k min-columns, not k explode passes).

    ``hash_fn(col, salt) -> Column`` swaps the hash family: default is the
    portable md5-derived hash (cross-engine oracle replay); production jobs
    pass ``xxhash64_fn`` (JVM-intrinsic, ~20x cheaper) when replay is not
    needed — same semantics, different (valid) permutations."""
    hash_fn = hash_fn or portable_hash64
    sh = shingle_rel(df, id_col, text_col, n)
    mins = [
        F.min(hash_fn(F.col("shingle"), minhash_salt(j))).alias(f"sig_{j}")
        for j in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*mins)


def minhash_signatures_rowwise(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    hash_fn=None,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}) computed ENTIRELY WITHIN each row — the
    signature is ``array_min`` over the doc's own shingle array per
    permutation, zero shuffles.  Output is identical to
    :func:`minhash_signatures` (a min is insensitive to the duplicate
    shingles the groupBy path removes with distinct); docs with no shingle
    (fewer than ``n`` words) are absent from both, and the per-doc distinct
    shingle count is emitted as ``_sz`` like the one-pass aggregation.

    This is the STREAMING-compatible form: a doc's signature needs no
    cross-row state, so the only streaming aggregation left is whatever
    monoid consumes the signatures (see streaming.stream_agg.
    streaming_minhash_buckets)."""
    hash_fn = hash_fn or portable_hash64
    d = df.select(
        _col(id_col).alias(id_col),
        F.split(F.lower(F.trim(_col(text_col))), " ").alias("_w"),
    )
    # materialize the shingle array once; array_distinct to mirror the
    # batch path's distinct shingle relation (sizes must match for any
    # downstream Jaccard use)
    d = d.select(
        id_col, F.array_distinct(word_shingles(F.col("_w"), n)).alias("_sh")
    ).where(F.size("_sh") > 0)
    # one-parameter lambdas ONLY: a second transform-lambda parameter
    # receives the ARRAY INDEX, which would silently shadow a j=j default
    def _perm_hash(j: int):
        return lambda s: hash_fn(s, minhash_salt(j))

    sigs = [
        F.array_min(F.transform(F.col("_sh"), _perm_hash(j))).alias(f"sig_{j}")
        for j in range(num_perm)
    ]
    return d.select(id_col, *sigs, F.size("_sh").alias("_sz"))


def band_buckets_expr(
    num_perm: int, band_size: int, hash_fn=None
) -> Column:
    """Array of (band, bucket) structs from the ``sig_*`` columns in scope —
    the LSH banding shared by the batch pair generator and the streaming
    bucket state."""
    assert num_perm % band_size == 0
    hash_fn = hash_fn or portable_hash64
    n_bands = num_perm // band_size
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                hash_fn(
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"sig_{b * band_size + i}").cast("string")
                            for i in range(band_size)
                        ],
                    ),
                    "band:",
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    sim_decimals: int = 6,
    hash_fn=None,
    materialize_shingles: bool = False,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Bands of ``band_size`` rows hash to buckets; documents sharing any
    (band, bucket) are candidates — collision probability ≈ 1-(1-s^r)^b for
    similarity s.  Candidates are then verified with the exact n-gram
    Jaccard, so the output has no false positives.

    ``materialize_shingles``: localCheckpoint the shingle relation so the
    three consuming branches (signature agg + both verification sides)
    share ONE computation of everything upstream.  Off by default — for a
    plain table scan the recompute is cheaper than the barrier (measured
    ±0.5 s at sf0.1) — but a clear win when ``df`` is an expensive derived
    relation (e.g. an assembled-conversation chain)."""
    assert num_perm % band_size == 0
    hash_fn = hash_fn or portable_hash64
    # ONE aggregation pass produces the k signature minima AND the per-doc
    # shingle count (sz) — a separate sizes pass would recompute the whole
    # shingle relation (the expensive stage) a second time.  The relation
    # still feeds three branches (signature agg + both sides of the exact
    # verification join); recomputing the tokenize+explode per branch is
    # CHEAPER than a localCheckpoint barrier (measured +0.5 s at sf0.1) —
    # but only when ``df`` itself is cheap; see materialize_shingles above.
    sh = shingle_rel(df, id_col, text_col, n)
    if materialize_shingles:
        sh = sh.localCheckpoint(eager=True)
    mins = [
        F.min(hash_fn(F.col("shingle"), minhash_salt(j))).alias(f"sig_{j}")
        for j in range(num_perm)
    ]
    sigs = sh.groupBy(id_col).agg(
        *mins, F.count(F.lit(1)).alias("_sz")
    )
    bands = band_buckets_expr(num_perm, band_size, hash_fn)
    buckets = sigs.select(id_col, F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verification of candidates only; sizes come from the sigs pass
    sizes = sigs.select(id_col, F.col("_sz").alias("sz"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                sim_decimals,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# -------------------------------------------------------------------- simhash
def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    hash_fn=None,
) -> DataFrame:
    """(id, simhash): b-bit sign-aggregated token-hash fingerprint.

    tokens -> portable hash -> per-bit +-1 votes -> sign.  One explode + one
    map-side-combined groupBy; the per-bit sums are b aggregate columns.

    Default 60 bits: the full entropy of the portable 60-bit hash, so
    pigeonhole segments stay fine-grained at corpus scale (a 16-bit default
    was the round-2 toy-sizing finding).  1 <= bits <= 60: both hash
    families (portable_hash64 and xxhash64_fn's 60-bit projection) yield 60
    bits of entropy, so bits above 60 would be constant zero and silently
    degrade pigeonhole blocking."""
    if not (1 <= bits <= 60):
        raise ValueError("bits must be in [1, 60] (hash families yield 60 bits)")
    words = F.split(F.lower(F.trim(_col(text_col))), " ")
    toks = df.select(_col(id_col).alias(id_col), F.explode(words).alias("tok"))
    # materialize the hash ONCE per token: each vote expression would
    # otherwise embed its own copy of the md5 tree and Catalyst does not CSE
    # across aggregate expressions — measured 1.8x on the whole simhash
    # build at sf0.1 (the md5 ran `bits` times per token)
    hash_fn = hash_fn or portable_hash64
    hashed = toks.select(id_col, hash_fn(F.col("tok"), "sh:").alias("_h"))
    h = F.col("_h")
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else (sig + bit)
    return agg.select(id_col, sig.cast("bigint").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    max_hamming: int = 3,
    block_col: str | None = None,
    hash_fn=None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(simhash) <= max_hamming.

    Candidate generation is PIGEONHOLE blocking and therefore lossless: the
    b-bit fingerprint is split into ``max_hamming + 1`` contiguous segments;
    a pair differing in at most ``max_hamming`` bits must agree on at least
    one whole segment, so joining on every (segment_index, segment_value) key
    and unioning the candidates can never miss a true pair (unlike
    single-block schemes such as "high byte of the hash", which drop pairs
    that happen to differ in a blocked bit).  ``block_col`` (e.g. lang) is an
    ADDITIONAL equality filter on the join — it narrows candidates and the
    output scope, never the recall within a block.

    Scale shape: explode is x(d+1), the join keys are fine-grained
    (segment value spreads the corpus over 2^(b/(d+1)) buckets per segment),
    and the exact hamming verification runs only on candidates."""
    sig = simhash(df, id_col, text_col, bits, hash_fn=hash_fn)
    if block_col is not None:
        blocks = df.select(_col(id_col).alias(id_col), _col(block_col).alias("_blk"))
        sig = sig.join(blocks, id_col)
    else:
        sig = sig.withColumn("_blk", F.lit(0))
    return pigeonhole_hamming_pairs(sig, id_col, "simhash", bits, max_hamming)


def _segment_keyed(
    sig: DataFrame, id_col: str, sig_col: str, bits: int, nseg: int
) -> DataFrame:
    """(id, sig, _blk, seg, segval): the pigeonhole blocking keys — the
    fingerprint split into ``nseg`` contiguous bit segments, one row per
    segment.  A pair within hamming distance d < nseg must agree on at least
    one whole segment (pigeonhole), so equi-joining on (seg, segval) is a
    lossless candidate generator."""
    bounds = [round(i * bits / nseg) for i in range(nseg + 1)]
    segs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(F.col(sig_col), bounds[i])
                .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
                .alias("segval"),
            )
            for i in range(nseg)
        ]
    )
    return sig.select(
        id_col, sig_col, "_blk", F.explode(segs).alias("sg")
    ).select(
        id_col,
        sig_col,
        "_blk",
        F.col("sg.seg").alias("seg"),
        F.col("sg.segval").alias("segval"),
    )


def pigeonhole_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int,
    max_hamming: int,
) -> DataFrame:
    """Lossless hamming-distance self-join on a fingerprint relation
    (id, sig_col, _blk): pigeonhole blocking on ``max_hamming + 1`` contiguous
    segments, exact bit_count verification on candidates only.  Shared by
    simhash_pairs and usable for any precomputed fingerprint column."""
    # the fingerprint relation is consumed by BOTH sides of the candidate
    # self-join; without a materialization the upstream build (the 60-vote
    # simhash aggregation when called from simhash_pairs) runs twice
    sig = sig.localCheckpoint(eager=True)
    keyed = _segment_keyed(sig, id_col, sig_col, bits, max_hamming + 1)
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sh_a"),
        "_blk", "seg", "segval",
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sh_b"),
        "_blk", "seg", "segval",
    )
    cand = (
        a.join(b, ["_blk", "seg", "segval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- incremental (corpus-delta)
def simhash_delta_pairs(
    stored_sig: DataFrame,
    shard_sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 60,
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming): the NEW near-dup pairs a shard introduces
    against a stored fingerprint index — shard<->shard and shard<->base
    pairs, never base<->base (those are already folded into the stored
    component state).  This is the corpus-delta dedup primitive: indexing a
    new shard costs O(|shard| x bucket-occupancy), not a full-corpus
    recompute.

    Lossless by the same pigeonhole argument as
    :func:`pigeonhole_hamming_pairs`: every pair within ``max_hamming`` that
    touches the shard agrees with it on at least one whole segment, and the
    join probes shard segments against (base ∪ shard) segments.  Segment
    keys depend only on each doc's own fingerprint — NOT on corpus
    membership — so the pair set this emits is exactly the full-recompute
    pair set minus the base-internal pairs, which is why the merged result
    hash-matches a from-scratch run (driver query dedup_incremental_shard).

    Scale shape: the stored index is one bigint per doc; the join keys are
    (seg, segval) with 2^(bits/(d+1)) values per segment, and the exact
    hamming verification runs on candidates only.  Hamming is symmetric, so
    normalizing (least, greatest) after the join dedups the shard<->shard
    double-generation without losing pairs."""
    base = stored_sig.select(
        _col(id_col).alias(id_col), _col(sig_col).alias(sig_col)
    ).withColumn("_blk", F.lit(0))
    # the shard fingerprints feed both the probe side and (unioned with the
    # base) the build side — materialize the shard build once instead of
    # running the simhash aggregation twice
    shard = shard_sig.select(
        _col(id_col).alias(id_col), _col(sig_col).alias(sig_col)
    ).withColumn("_blk", F.lit(0)).localCheckpoint(eager=True)
    nseg = max_hamming + 1
    probe = _segment_keyed(shard, id_col, sig_col, bits, nseg).select(
        F.col(id_col).alias("id_a"),
        F.col(sig_col).alias("sh_a"),
        "_blk",
        "seg",
        "segval",
    )
    build = _segment_keyed(base.union(shard), id_col, sig_col, bits, nseg).select(
        F.col(id_col).alias("id_b"),
        F.col(sig_col).alias("sh_b"),
        "_blk",
        "seg",
        "segval",
    )
    fwd = F.col("id_a") < F.col("id_b")
    cand = (
        probe.join(build, ["_blk", "seg", "segval"])
        .where(F.col("id_a") != F.col("id_b"))
        # normalize BOTH ids and sigs to (least, greatest) orientation so the
        # shard<->shard double generation collapses under distinct
        .select(
            F.least("id_a", "id_b").alias("u"),
            F.greatest("id_a", "id_b").alias("v"),
            F.when(fwd, F.col("sh_a")).otherwise(F.col("sh_b")).alias("sh_u"),
            F.when(fwd, F.col("sh_b")).otherwise(F.col("sh_a")).alias("sh_v"),
        )
        .distinct()
        .select(
            F.col("u").alias("id_a"),
            F.col("v").alias("id_b"),
            F.col("sh_u").alias("sh_a"),
            F.col("sh_v").alias("sh_b"),
        )
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_components(
    assignment: DataFrame,
    delta_pairs: DataFrame,
    node_col: str = "node",
    component_col: str = "component",
    **cc_kwargs,
) -> DataFrame:
    """Merge a STORED component assignment with the delta pairs a new shard
    introduced: (node, component) for every node touched by either.

    The stored (node, component) star is itself an edge relation that
    exactly preserves the base graph's connectivity (every base component is
    a star around its minimum id), so running connected components over
    (star ∪ delta) yields the same labeling as a full recompute over the
    union corpus — including the case where one shard doc MERGES two base
    components (their two roots become connected through it), at the cost of
    the delta graph instead of the corpus graph.  Labels stay canonical
    (minimum reachable id) because the base roots ARE the base minima and
    every base node is present in the star."""
    star = assignment.where(
        _col(node_col) != _col(component_col)
    ).select(
        _col(node_col).alias("id_a"), _col(component_col).alias("id_b")
    )
    # singleton base nodes (self-labeled) carry no edge; they re-enter via
    # delta pairs if the shard touches them, else stay singletons
    edges = star.union(delta_pairs.select("id_a", "id_b"))
    return connected_components(edges, **cc_kwargs)


# ------------------------------------------------------- connected components
def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
    checkpoint: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node on a non-self-loop edge — component
    is the MINIMUM node id reachable, so the labeling is deterministic and
    algorithm-independent (any engine computing transitive closure agrees).
    Nodes with no edges are absent; callers materializing a full corpus
    labeling left-join this and ``coalesce(component, id)`` (see the
    dedup_components driver query).

    This is the stage every dedup pipeline needs after pair generation:
    near-duplicate similarity is not transitive, so pairs (a,b),(b,c) must be
    closed into a group {a,b,c} before picking one canonical doc per group.

    Algorithm: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each round is
    two groupBy-min shuffles over the current edge relation, and the edge set
    provably converges to a star graph (every node points at its component
    minimum) in O(log^2 n) rounds — typically <5 in practice on dedup graphs.
    Per-round the relation is ``localCheckpoint``-ed to truncate lineage (an
    iterative DataFrame loop otherwise re-plans the whole history each round;
    on a cluster use ``spark.sparkContext.setCheckpointDir`` + reliable
    checkpoints for fault tolerance — same seam as plans/checkpoint.py).

    Convergence is detected EXACTLY and on the round's OWN output: the
    relation is the converged min-star iff every source node has exactly one
    outgoing edge and no source ever appears as a target (small-star output
    always points strictly downward, so such a relation is a fixed point of
    both stars — each root's window-min is itself and members emit nothing
    new; conversely the converged min-star trivially satisfies both
    properties).  One tiny degree-aggregation job per round on the
    (bigint, bigint) relation — no probabilistic checksum, and no extra
    re-verification round recomputing an identical relation just to compare
    it with its predecessor.

    ``checkpoint_dir`` makes the ITERATION durable (the north-rule resume
    contract for an iterative job): each round's edge relation is written as
    parquet (``round_NNNN``) with a JSONL manifest line (round, edge count,
    wall seconds, converged flag).  A restarted call with the same dir skips
    every completed round — including the expensive round 0, the pair
    relation itself — and a converged manifest returns the result without
    running any round at all.  With a durable dir the ephemeral
    ``localCheckpoint`` is unnecessary (parquet read-back truncates lineage
    the same way).

    Scale shape: only (bigint, bigint) pairs ever shuffle — never document
    payloads; each round is map-side-combinable min-aggregation, so the wide
    exchange carries one row per distinct node, and skewed star centers
    (one huge near-dup cluster) are exactly the high-fanout nodes large-star
    is designed to split across reducers."""
    import json
    import os
    import time

    spark = edges.sparkSession

    def _finalize(star: DataFrame, initial: DataFrame) -> DataFrame:
        # converged star edges point (member -> component-min); add the
        # centers themselves and singleton-component nodes from the input
        members = star.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )
        nodes = (
            initial.select(F.col("u").alias("node"))
            .union(initial.select(F.col("v").alias("node")))
            .distinct()
        )
        return nodes.join(members, "node", "left").select(
            "node", F.coalesce("component", "node").alias("component")
        )

    def _round_path(i: int) -> str:
        return os.path.join(checkpoint_dir, f"round_{i:04d}")

    def _manifest_path() -> str:
        return os.path.join(checkpoint_dir, "manifest.jsonl")

    def _manifest() -> list[dict]:
        if checkpoint_dir is None or not os.path.exists(_manifest_path()):
            return []
        with open(_manifest_path()) as f:
            return [json.loads(ln) for ln in f if ln.strip()]

    def _commit_round(df: DataFrame, i: int, wall: float, conv: bool):
        """Write-then-append: the parquet lands fully before the manifest
        line commits it, so a crash mid-write is re-done, never half-read."""
        df.write.mode("overwrite").parquet(_round_path(i))
        out = spark.read.parquet(_round_path(i))
        with open(_manifest_path(), "a") as f:
            f.write(json.dumps({
                "round": i,
                "edges": out.count(),
                "wall_sec": round(wall, 3),
                "converged": conv,
            }) + "\n")
        return out

    done = _manifest()
    start_round = 0
    e = None
    if done:
        last = done[-1]
        e = spark.read.parquet(_round_path(last["round"]))
        if last["converged"]:
            return _finalize(e, spark.read.parquet(_round_path(0)))
        start_round = last["round"] + 1

    if e is None:
        t0 = time.time()
        e = (
            edges.select(
                _col(src_col).cast("bigint").alias("u"),
                _col(dst_col).cast("bigint").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        if checkpoint_dir is not None:
            os.makedirs(checkpoint_dir, exist_ok=True)
            e = _commit_round(e, 0, time.time() - t0, False)
            start_round = 1

    from pyspark.sql.window import Window

    _wu = Window.partitionBy("u")

    def _large_star(df: DataFrame) -> DataFrame:
        # symmetric neighborhood; m = min(Γ(u) ∪ {u}); emit (v, m) for v > u.
        # m is a whole-partition window-min over the SAME key the groupBy
        # formulation shuffled on — one exchange, no join, no broadcast
        # build (the join shape cost 2 extra driver-roundtrip jobs per
        # round).  The output may carry duplicates; the small-star step that
        # always follows ends in distinct and its window-min is
        # duplicate-insensitive, so the round relation is unchanged.
        sym = df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.min("v").over(_wu), F.col("u"))
        return (
            sym.withColumn("m", m)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(df: DataFrame) -> DataFrame:
        # orient (max, min); m = min neighbor; relink N(u) ∪ {u} to m.
        # Same window-min-over-u shape as _large_star; the center edge
        # (u, m) replaces the explicit centers row — it IS row (u, v=m)
        # relinked to itself.  Both output rows per input row are emitted
        # in ONE pass via explode (a union of two selects over the window
        # relation would run the window sort once per branch over the
        # reused exchange).
        ori = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        withm = ori.withColumn("m", F.min("v").over(_wu))
        both = F.array(
            F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
            F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
        )
        return (
            withm.select(F.explode(both).alias("_e"))
            .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    if checkpoint_dir is None and checkpoint:
        e = e.localCheckpoint(eager=True)
    e0 = (
        spark.read.parquet(_round_path(0))
        if checkpoint_dir is not None
        else e  # checkpointed input edges: node universe, no upstream recompute
    )

    def _is_min_star(df: DataFrame) -> bool:
        # fixed-point test on the relation itself (see docstring): every u
        # has out-degree exactly 1 and {u} ∩ {v} = ∅ — one aggregation job
        deg = df.select(
            F.col("u").alias("n"), F.lit(1).alias("su"), F.lit(0).alias("sv")
        ).union(
            df.select(
                F.col("v").alias("n"), F.lit(0).alias("su"), F.lit(1).alias("sv")
            )
        )
        row = (
            deg.groupBy("n")
            .agg(F.sum("su").alias("su"), F.sum("sv").alias("sv"))
            .agg(
                F.max(F.col("su") * F.col("sv")).alias("mix"),
                F.max("su").alias("maxu"),
            )
            .first()
        )
        return (row["mix"] or 0) == 0 and (row["maxu"] or 0) <= 1

    converged = False
    for i in range(max(start_round, 1), max_iters + 1):
        t0 = time.time()
        nxt = _small_star(_large_star(e))
        if checkpoint_dir is not None:
            nxt = _commit_round(nxt, i, time.time() - t0, False)
        elif checkpoint:
            nxt = nxt.localCheckpoint(eager=True)
        if _is_min_star(nxt):
            e = nxt
            converged = True
            if checkpoint_dir is not None:
                with open(_manifest_path(), "a") as f:
                    f.write(json.dumps({
                        "round": i, "edges": nxt.count(),
                        "wall_sec": 0.0, "converged": True,
                    }) + "\n")
            break
        e = nxt
    if not converged:
        # a partially-contracted relation labels nodes at some intermediate
        # hop, NOT the component minimum — that is a wrong answer, not an
        # approximation, so refuse rather than return it (with a durable
        # checkpoint_dir the completed rounds are kept: re-call with a
        # larger max_iters to continue from where this run stopped)
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(theoretical bound is O(log^2 n) — raise max_iters)"
        )
    return _finalize(e, e0)
