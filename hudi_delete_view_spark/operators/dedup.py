"""Deduplication operators for LLM-corpus hygiene (SURVEY §2 B8/B9).

Shingling, hashing, banding and verification run JVM-side as built-in and
higher-order SQL functions (``transform`` / ``aggregate`` / ``array_*``).
Only the Arrow-batched ``pandas_udf`` kernels cross into Python: the
MinHash minima (``minhash_signature_pandas``) and the embedding kernels.

Scale shape of the LSH pipeline: shingle+minhash is a narrow map; the only
shuffles are the band-bucket groupBys and the candidate-pair self-join,
both keyed by band hash — cardinality ~ (#docs x #bands), heavily pruned
because singleton buckets are dropped before the join. The verify step
joins the candidate pairs against the cached signature table, which
carries the document text, and computes the estimate and the exact
Jaccard there (a tiny fraction of the n^2 pair space).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import register_cache, spread

# deterministic mix constants for the minhash permutation family.
# 31-bit domain: a*h + b <= 2^62, so the arithmetic never overflows signed
# 64-bit — safe under Spark 4's default ANSI mode (no try_multiply needed)
_MERSENNE_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Keep one deterministic winner per key group (row_number == 1)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def char_shingles(text_col: str, k: int = 5):
    """Distinct character k-grams of a string, as an array column (JVM-side:
    sequence + transform + substring + array_distinct).

    Strings shorter than ``k`` yield an EMPTY array: Spark's
    ``sequence(1, 0)`` is the descending ``[1, 0]``, not empty, which would
    otherwise emit a partial shingle (substring clamps) that the DuckDB
    oracles — where ``generate_series(1, 0)`` IS empty — never see."""
    return F.array_distinct(
        F.expr(
            f"IF(length({text_col}) < {k}, cast(array() as array<string>),"
            f" transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> substring({text_col}, i, {k})))"
        )
    )


def word_shingles(text_col: str, n: int = 3):
    """Distinct word n-grams (tokenize on whitespace, join windows).

    Same empty-guard as char_shingles: without it, a doc with fewer than
    ``n`` tokens feeds ``slice`` a 0 start (sequence(1,0) = [1,0]) and the
    whole query throws INVALID_PARAMETER_VALUE at runtime."""
    toks = f"filter(split({text_col}, '\\\\s+'), x -> x != '')"
    return F.array_distinct(
        F.expr(
            f"IF(size({toks}) < {n}, cast(array() as array<string>),"
            f" transform(sequence(1, size({toks}) - {n - 1}),"
            f" i -> array_join(slice({toks}, i, {n}), ' ')))"
        )
    )


def shingle_hashes(shingle_col: str):
    """One pass: a 60-bit md5 prefix of every shingle reduced to the 31-bit
    Mersenne domain.

    md5 (not xxhash64) is deliberate: DuckDB computes the IDENTICAL value
    via ``CAST(CONCAT('0x', substring(md5(s),1,15)) AS BIGINT)``, which is
    what lets the whole MinHash funnel carry a bit-exact SQL oracle —
    xxhash64 exists only in Spark. The hash quality is equivalent for
    MinHash purposes and the cost difference is a narrow per-shingle map.

    Materialize this as its own column BEFORE applying the permutation
    family — referencing a big sub-expression from inside a lambda makes
    Catalyst re-evaluate it per element (HOFs are interpreted, not
    codegen'd), which is the difference between O(n) and O(64n) hashing."""
    from .util import md5_prefix60_sql

    return F.expr(
        f"transform({shingle_col}, s -> pmod({md5_prefix60_sql('s')}, {_MERSENNE_P}L))"
    )


def _perm_family(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic seeded (a_i, b_i) permutation constants shared by the
    SQL and numpy signature implementations."""
    import random

    rnd = random.Random(42)
    a = [rnd.randrange(1, _MERSENNE_P) for _ in range(num_hashes)]
    b = [rnd.randrange(0, _MERSENNE_P) for _ in range(num_hashes)]
    return a, b


def minhash_signature(hash_col: str, num_hashes: int = 64):
    """MinHash signature over a precomputed 31-bit hash array (see
    ``shingle_hashes``): per permutation i, ``min((a_i*h + b_i) mod p)`` —
    the classic Broder scheme with a deterministic seeded (a_i, b_i)
    family.

    The permutation constants are bound as ONE array<struct> literal
    iterated by the OUTER transform, so each (a_i, b_i) is resolved once
    per permutation — never inside the per-shingle lambda (an
    ``element_at(array_literal, i)`` there rebuilds the 64-element array
    for every shingle x permutation pair and is ~100x slower).
    ``a*h + b <= 2^62`` so the arithmetic never overflows signed 64-bit —
    safe under Spark 4's default ANSI mode."""
    a, b = _perm_family(num_hashes)
    perms = ",".join(
        f"named_struct('a', {ai}L, 'b', {bi}L)" for ai, bi in zip(a, b)
    )
    return F.expr(
        f"transform(array({perms}), ab -> "
        f" array_min(transform({hash_col}, h -> pmod(ab.a * h + ab.b, {_MERSENNE_P}L))))"
    )


def minhash_signature_pandas(num_hashes: int = 64):
    """Arrow-batched numpy implementation of ``minhash_signature`` —
    bit-identical output, ~10x faster than the interpreted HOF expression
    (higher-order functions never enter whole-stage codegen; numpy does the
    (a*h + b) mod p min-reduction as two vectorized passes per row).

    This is the deliberate use of the Pandas-UDF escape hatch: the
    computation is a per-row dense integer kernel with no data exchange,
    exactly the shape where Arrow batching beats interpreted expression
    evaluation. Returns a column usable anywhere the SQL variant is."""
    from pyspark.sql.functions import pandas_udf

    a, b = _perm_family(num_hashes)
    a_arr = np.asarray(a, dtype=np.int64)[:, None]
    b_arr = np.asarray(b, dtype=np.int64)[:, None]

    @pandas_udf("array<long>")
    def _sig(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            hv = np.asarray(h, dtype=np.int64)[None, :]
            # (num_hashes, n_shingles): a*h31 + b <= 2^62, no overflow
            out.append(((a_arr * hv + b_arr) % _MERSENNE_P).min(axis=1))
        return pd.Series(out)

    return _sig


def band_hashes(sig_col: str, bands: int, rows_per_band: int):
    """LSH banding: hash each band (contiguous signature slice) to a bucket.

    Deliberately UNROLLED into an explicit ``array(...)`` of per-band
    hashes rather than ``transform(sequence(...), j -> ...)``: a lambda
    body referencing ``sig_col`` makes CollapseProject inline the entire
    upstream minhash chain into the lambda and re-evaluate it once per
    band (measured 8x slower); with ``bands`` explicit references the
    projection is kept as-is and the signature is computed once."""
    return F.expr(
        "array(" + ",".join(
            f"xxhash64(cast(slice({sig_col}, {j * rows_per_band + 1}, {rows_per_band}) as string), {j})"
            for j in range(bands)
        ) + ")"
    )


def _signature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Persisted (__id, __text, __sig, __bands[, *carry]) table.

    Persisted and materialized BEFORE any explode/self-join: the signature
    computation is the expensive narrow map, and without the barrier
    Catalyst re-evaluates it per exploded row and once per join side
    (observed ~30x slowdown). Compute-once-then-join is also the right
    shape at 100 TB. A row is the document text plus ~600 bytes of
    signature and bands (spills to disk under memory pressure). The text
    rides along so the verify tail (``_verify_pairs``) reads it from this
    table instead of scanning the corpus again.

    ``carry`` names passthrough columns (e.g. a base/increment tag) so a
    caller can signature TWO disjoint row sets in one pass and split the
    persisted result, instead of paying two scan + persist jobs."""
    rows_per_band = num_hashes // bands
    sig_udf = minhash_signature_pandas(num_hashes)
    keep = [F.col(c) for c in carry]
    sig = (
        spread(df)
        # pre-filter on the INPUT, not size(__sh) on the projected array:
        # exactly equivalent (char_shingles is empty iff length < k; NULL
        # text drops both ways), but a post-projection size filter pushes
        # below the project and DUPLICATES the whole shingle expression
        # into the filter — measured 16.4s vs 1.4s for this stage at sf1,
        # core-count-insensitive (the duplicated mega-expression leaves
        # whole-stage codegen). Guide §1.3/§4.
        .filter(F.length(text_col) >= shingle_k)
        .select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text"),
            char_shingles(text_col, shingle_k).alias("__sh"), *keep,
        )
        .withColumn("__hs", shingle_hashes("__sh"))
        .select("__id", "__text", sig_udf("__hs").alias("__sig"), *keep)
        .select(
            "__id", "__text", "__sig",
            band_hashes("__sig", bands, rows_per_band).alias("__bands"), *keep,
        )
    )
    # register_cache persists + materializes (one signature pass, ever) and
    # tracks the cache so long-lived sessions can release it via
    # util.unpersist_operator_caches()
    return register_cache(sig)


def _bucket_pairs(sig: DataFrame, min_collisions: int = 1) -> DataFrame:
    """(id_a < id_b) pairs sharing >=min_collisions LSH band buckets,
    singleton buckets pruned before the self-join.

    ``min_collisions=1`` is the classic (highest-recall) LSH candidate
    rule. Raising it prunes the candidate set BEFORE the expensive
    verify join at a quantifiable recall cost: a pair at
    Jaccard j collides per band with p = j^rows_per_band, so
    P(<m collisions) is binomial-tail-small for true pairs — at (16 bands,
    4 rows, j=0.8): p=0.41, P(<2) ~ 0.3%, while candidates near the noise
    floor (j~0.5, p=0.06) drop ~2.5x."""
    buckets = sig.select(
        "__id", F.posexplode("__bands").alias("__band_idx", "__band_hash")
    )
    # singleton pruning as a WINDOW count over the band key instead of a
    # groupBy + semi-join back: one shuffle of the bucket table instead of
    # an aggregation exchange plus a join exchange, and the window output
    # is already hash-partitioned by the self-join key so the join below
    # adds no new exchange (measured: 22 -> 14 Exchange, cold 4.4s -> 2.8s
    # at sf0.1, identical pair set; guide §2.1). Skew exposure is
    # unchanged — both shapes shuffle by the band key.
    b = (
        buckets.withColumn(
            "__n",
            F.count("*").over(Window.partitionBy("__band_idx", "__band_hash")),
        )
        .filter(F.col("__n") > 1)
        .drop("__n")
    )
    left = b.select("__band_idx", "__band_hash", F.col("__id").alias("id_a"))
    right = b.select("__band_idx", "__band_hash", F.col("__id").alias("id_b"))
    pairs = (
        left.join(right, ["__band_idx", "__band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")  # same shuffle as distinct, count is free
        .agg(F.count("*").alias("__nc"))
    )
    if min_collisions > 1:
        pairs = pairs.filter(F.col("__nc") >= min_collisions)
    return pairs.select("id_a", "id_b")


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that share >=1 LSH band
    bucket. Pure DataFrame ops: shingle -> minhash -> band -> explode ->
    bucket self-join."""
    sig = _signature_table(df, id_col, text_col, shingle_k, num_hashes, bands)
    return _bucket_pairs(sig)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame | None = None,
    shingle_k: int = 5,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact character-n-gram Jaccard for given candidate pairs (or all
    pairs if none given — only sane for small/filtered inputs). Returns
    (id_a, id_b, jaccard)."""
    sh = spread(df).select(
        F.col(id_col).alias("__jid"), char_shingles(text_col, shingle_k).alias("__jsh")
    )
    if pairs is not None:
        # joined on both sides below — persist so shingling runs once.
        # (Shingling only pair-member docs via a semi join was measured
        # SLOWER here: deriving the id set re-executes the candidate-pair
        # subtree, which costs more than shingling every doc once.)
        sh = register_cache(sh, materialize=False)
    a = sh.select(F.col("__jid").alias("id_a"), F.col("__jsh").alias("__sh_a"))
    b = sh.select(F.col("__jid").alias("id_b"), F.col("__jsh").alias("__sh_b"))
    base = pairs if pairs is not None else (
        a.select("id_a").crossJoin(b.select("id_b")).filter(F.col("id_a") < F.col("id_b"))
    )
    joined = base.join(a, "id_a").join(b, "id_b")
    return (
        joined.withColumn("jaccard", _exact_jaccard("__sh_a", "__sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _exact_jaccard(sh_a: str, sh_b: str):
    """Exact Jaccard of two distinct-shingle array columns, rounded to 6
    places as the oracles round it (0 when both are empty)."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return F.round(jac, 6)


def _verify_pairs(
    pairs: DataFrame,
    sig: DataFrame,
    threshold: float,
    est_margin: float,
    shingle_k: int,
    num_hashes: int,
) -> DataFrame:
    """The funnel's verify tail: ONE join of the candidate ``pairs``
    (id_a, id_b) against the cached signature table, once per side. The
    signature agreement estimate drops pairs below ``threshold -
    est_margin`` first; only the rest shingle their ``__text`` for the
    exact Jaccard. Returns (id_a, id_b, jaccard) with jaccard >= threshold."""
    a, b = (
        sig.select(F.col("__id").alias(f"id_{s}"), F.col("__sig").alias(f"__sig_{s}"),
                   F.col("__text").alias(f"__text_{s}"))
        for s in "ab"
    )
    agree = F.expr(
        "aggregate(zip_with(__sig_a, __sig_b, (x, y) -> IF(x = y, 1L, 0L)),"
        " 0L, (acc, v) -> acc + v)"
    )
    shingles = (char_shingles(f"__text_{s}", shingle_k).alias(f"__sh_{s}") for s in "ab")
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(agree.cast("double") / num_hashes >= threshold - est_margin)
        .select("id_a", "id_b", *shingles)
        .withColumn("jaccard", _exact_jaccard("__sh_a", "__sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    est_margin: float = 0.15,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Verified near-duplicate pairs (id_a < id_b, exact Jaccard >=
    threshold) via the three-stage funnel (the scale design): LSH buckets
    propose pairs, the cheap signature-agreement estimate prunes weak ones
    (anything below ``threshold - est_margin``; estimator sigma =
    sqrt(j(1-j)/num_hashes) ~ 0.05, so a 3-sigma margin loses essentially
    no true pairs), and the exact n-gram Jaccard verifies only the strong
    remainder. The shared front-end of both survivor selection
    (``minhash_dedup``) and cluster resolution (connected components)."""
    sig = _signature_table(df, id_col, text_col, shingle_k, num_hashes, bands)
    # >=2 band collisions: ~0.3% recall loss at the verify threshold,
    # ~2.5x fewer candidate pairs shipped into the verify join
    cand = _bucket_pairs(sig, min_collisions=2)
    return _verify_pairs(cand, sig, threshold, est_margin, shingle_k, num_hashes)


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    est_margin: float = 0.15,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-dup removal: drop every doc that has a verified near-duplicate
    with a smaller id (deterministic survivor = min id of each dup
    cluster's pairwise edges). One anti-join over the verified-pair
    funnel; no iterative connected components on the hot path."""
    verified = minhash_verified_pairs(
        df, id_col, text_col, threshold, est_margin, shingle_k, num_hashes, bands
    )
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
# effective SimHash width: token hashes carry 60 bits (md5 prefix), so the
# signature uses exactly those — bits above 59 would be all-zero dead weight
# that dilutes prefix bucketing
SIMHASH_BITS = 60


def token_hashes(text_col: str):
    """60-bit md5-prefix hash of each whitespace token — materialize as a
    column before ``simhash`` so tokenization+hashing runs once, not once
    per bit. md5 (not xxhash64) keeps the whole SimHash pipeline
    bit-reproducible in DuckDB (see ``shingle_hashes``)."""
    from .util import md5_prefix60_sql

    return F.expr(
        f"transform(filter(split({text_col}, '\\\\s+'), x -> x != ''), "
        f"t -> {md5_prefix60_sql('t')})"
    )


def simhash(hash_col: str, bits: int = SIMHASH_BITS):
    """SimHash over a precomputed token-hash array: per bit, sign-sum of
    token-hash bits, packed into one long. The outer transform iterates
    bits; the inner aggregate streams the (already computed) hash column —
    referencing the tokenizer expression here instead would re-run it for
    every bit (see ``shingle_hashes`` rationale)."""
    # bit b is set iff sum over tokens of (+1 if hash bit b else -1) > 0
    return F.expr(
        "aggregate(transform(sequence(0, %d), b -> "
        " IF(aggregate(%s, 0L, (acc, h) -> acc + IF(((h >> b) & 1) = 1, 1L, -1L)) > 0, "
        "    shiftleft(1L, b), 0L)), 0L, (acc, x) -> acc + x)" % (bits - 1, hash_col)
    )


def hamming64(col_a, col_b):
    """Hamming distance between two 64-bit signatures (popcount of xor)."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def refine_simhash_buckets(
    s: DataFrame,
    prefix_bits: int,
    bucket_cap: int | None,
    sig_col: str = "__sim",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Split oversized SimHash prefix buckets on additional signature bits.

    Input: (…, ``__sim``) rows already bucketed by the top ``prefix_bits``
    bits in ``__bucket``. With ``bucket_cap`` set, any bucket holding
    ``n > bucket_cap`` members is subdivided on the next
    ``ceil(log2(n / cap))`` signature bits (one level, no recursion): the
    within-bucket self-join is quadratic in occupancy, so a
    boilerplate-heavy corpus that piles up in one prefix bucket would
    otherwise hot-spot a single task with n^2/2 comparisons. After the
    split each sub-bucket holds ~cap members in expectation whenever the
    extra bits vary; a mass of BIT-IDENTICAL signatures cannot be split —
    but its pairs are all genuine output (Hamming 0), i.e. the quadratic
    there is in the answer, not the algorithm.

    Recall trade (same class as the operator's existing prefix-LSH
    character — pairs differing in the TOP prefix bits are already
    missed): a pair survives the split iff none of its d differing bits
    land in the e split positions, P = C(48-e, d)/C(48, d) for
    uniformly-spread differences (~0.15 at d=8, e=9; ~0.66 at d=2) and
    exactly 1.0 when differences sit below the split region (low-bit
    twins — the common near-dup shape, verified in the skew pytest).
    Production recall recovery, if needed, is the standard Manku-style
    multi-table rotation, not a bigger bucket. Emits ``__eb`` (extra-bit
    count) alongside the refined ``__bucket``; join on BOTH so buckets
    split to different depths never alias."""
    if not bucket_cap or bucket_cap <= 0:
        return s.withColumn("__eb", F.lit(0))
    keys = [*extra_keys, "__bucket"]
    occ = s.groupBy(*keys).agg(F.count("*").alias("__n"))
    # eager probe (same shape as the embedding-LSH guard): on the common
    # corpus no bucket exceeds the cap and every row's __eb is 0, so the
    # occupancy join below would shuffle the full bucket table against
    # every row only to relabel nothing. One bounded driver boolean picks
    # the cheap shape; the split join runs only when a bucket is hot
    # (where its cost is dwarfed by the quadratic self-join it prevents).
    if occ.filter(F.col("__n") > bucket_cap).isEmpty():
        return s.withColumn("__eb", F.lit(0))
    eb = F.least(
        F.lit(SIMHASH_BITS - prefix_bits),
        F.greatest(
            F.lit(0),
            F.ceil(F.log2(F.col("__n") / F.lit(float(bucket_cap)))).cast("int"),
        ),
    )
    return (
        s.join(occ, keys)
        .withColumn("__eb", eb)
        .withColumn(
            "__bucket",
            F.expr(
                f"shiftrightunsigned({sig_col}, {SIMHASH_BITS - prefix_bits} - __eb)"
            ),
        )
        .drop("__n")
    )


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__id, __sim): the 60-bit SimHash signature per document."""
    return (
        spread(df)
        .select(F.col(id_col).alias("__id"), token_hashes(text_col).alias("__th"))
        .select("__id", simhash("__th").alias("__sim"))
    )


def simhash_pairs_from_sigs(
    s: DataFrame,
    max_hamming: int = 8,
    prefix_bits: int = 12,
    bucket_cap: int | None = None,
    tables: int = 1,
) -> DataFrame:
    """Signature-level SimHash pair generation over (__id, __sim) rows —
    the text-free core of ``simhash_near_pairs`` (factored out so recall
    properties are unit-testable on synthetic signatures).

    ``tables=1``: bucket on the top ``prefix_bits`` bits, exact Hamming
    within buckets. ``tables=T>1``: the Manku multi-table rotation — table
    i buckets on the top ``prefix_bits`` of the signature ROTATED LEFT by
    i*prefix_bits, so the T prefix windows tile disjoint bit ranges
    (requires T*prefix_bits <= 60). A pair is missed only if EVERY window
    contains a differing bit, which needs >= T differing bits: recall is
    EXACT for Hamming distance d <= T-1 (p=12, T=5 tiles all 60 bits ->
    exact through d=4), versus the single-table window miss probability
    ~ 1-C(60-p,d)/C(60,d). Candidates from all tables are deduped as id
    pairs BEFORE the Hamming verify, so the exact filter runs once per
    distinct pair.

    ``bucket_cap`` splits oversized (table, bucket) cells on extra bits of
    the (rotated) signature — the skew guard composes with the rotation:
    a bit-identical pathological pile hot-spots every table equally, and
    the cap bounds each cell's quadratic self-join while the rotation
    restores the recall the split positions would otherwise cost."""
    if tables <= 1:
        # top prefix_bits of the 60-bit signature; prefix_bits=0 = 1 bucket
        bucket = (
            F.shiftrightunsigned("__sim", SIMHASH_BITS - prefix_bits)
            if prefix_bits > 0
            else F.lit(0)
        )
        s = refine_simhash_buckets(
            s.withColumn("__bucket", bucket), prefix_bits, bucket_cap
        )
        keys = ["__bucket", "__eb"]
        a = s.select(F.col("__id").alias("id_a"), F.col("__sim").alias("__sim_a"), *keys)
        b = s.select(F.col("__id").alias("id_b"), F.col("__sim").alias("__sim_b"), *keys)
        return (
            a.join(b, keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", hamming64(F.col("__sim_a"), F.col("__sim_b")))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    if prefix_bits <= 0 or tables * prefix_bits > SIMHASH_BITS:
        raise ValueError(
            f"rotation needs 0 < tables*prefix_bits <= {SIMHASH_BITS}; "
            f"got tables={tables}, prefix_bits={prefix_bits}"
        )
    mask = (1 << SIMHASH_BITS) - 1
    # rotate-left within the 60-bit domain by i*prefix_bits per table;
    # one transform + posexplode fans each signature to its T (table,
    # rotated-sig) rows without a T-way union of the scan
    rots = F.expr(
        f"transform(sequence(0, {tables - 1}), i -> IF(i = 0, __sim, "
        f"(shiftleft(__sim, i * {prefix_bits}) | "
        f" shiftrightunsigned(__sim, {SIMHASH_BITS} - i * {prefix_bits})) & {mask}))"
    )
    e = s.select("__id", "__sim", F.posexplode(rots).alias("__t", "__rsim"))
    e = e.withColumn(
        "__bucket", F.shiftrightunsigned("__rsim", SIMHASH_BITS - prefix_bits)
    )
    e = refine_simhash_buckets(
        e, prefix_bits, bucket_cap, sig_col="__rsim", extra_keys=("__t",)
    )
    keys = ["__t", "__bucket", "__eb"]
    a = e.select(F.col("__id").alias("id_a"), F.col("__sim").alias("__sim_a"), *keys)
    b = e.select(F.col("__id").alias("id_b"), F.col("__sim").alias("__sim_b"), *keys)
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sim_a", "__sim_b")
        .distinct()  # a pair may collide in several tables
        .withColumn("hamming", hamming64(F.col("__sim_a"), F.col("__sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 12,
    bucket_cap=None,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on the top ``prefix_bits`` bits
    (cheap LSH for Hamming space), then exact Hamming within buckets.

    ``bucket_cap`` (None = off, keeping the bit-exact SQL-oracle
    semantics; ``profile.PROFILE_DEFAULT`` = let the active scale profile
    decide) is the skew guard for the 100 TB path: buckets above the
    cap split on extra signature bits (``refine_simhash_buckets``) so a
    pathologically clustered corpus can't hot-spot one prefix bucket with
    a quadratic self-join."""
    from ..profile import PROFILE_DEFAULT, simhash_bucket_cap

    if bucket_cap is PROFILE_DEFAULT:
        bucket_cap = simhash_bucket_cap(PROFILE_DEFAULT)
    return simhash_pairs_from_sigs(
        simhash_signatures(df, id_col, text_col),
        max_hamming=max_hamming,
        prefix_bits=prefix_bits,
        bucket_cap=bucket_cap,
    )


def simhash_near_pairs_rotated(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 12,
    tables: int = 5,
    bucket_cap=None,
) -> DataFrame:
    """Manku multi-table SimHash near-dup pairs (SURVEY §12.3): ``tables``
    rotations of the signature give exact recall through Hamming distance
    ``tables-1`` (see ``simhash_pairs_from_sigs``) — the recall-recovery
    path when a corpus needs BOTH the bucket-occupancy cap and full
    recall on the documented d<=2 near-dup shape."""
    from ..profile import PROFILE_DEFAULT, simhash_bucket_cap

    if bucket_cap is PROFILE_DEFAULT:
        bucket_cap = simhash_bucket_cap(PROFILE_DEFAULT)
    return simhash_pairs_from_sigs(
        simhash_signatures(df, id_col, text_col),
        max_hamming=max_hamming,
        prefix_bits=prefix_bits,
        bucket_cap=bucket_cap,
        tables=tables,
    )


# --------------------------------------------------------------------------
# Embedding near-dup (cosine above threshold)
# --------------------------------------------------------------------------
def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_bits: int | None = 0,
    tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    bucket_cap=None,
    reserve_bits: int = 16,
    merge_slices=None,
    spill_dir: str | None = None,
) -> DataFrame:
    """Pairs of vectors with cosine >= threshold.

    ``merge_slices`` (None/1 = single pass; ``profile.PROFILE_DEFAULT``
    = auto-arm past ~4M vectors; an int forces a count) is the round-8
    SHARD-AND-MERGE guard measured in by the 8M soak (SCALE.md): the
    (table, bucket) space splits into hash slices processed as
    SEQUENTIAL jobs, bounding per-job shuffle spill at ~1/slices of
    the single pass. Output is IDENTICAL by construction — every
    candidate pair belongs to exactly one (table, key); one final
    distinct removes pairs that emerged from several tables in
    different slices (pinned by the slices-vs-single equality
    pytest).

    ``bucket_bits`` = 0: exact all-pairs crossJoin — the verification
    baseline, only for small bounded inputs.

    ``bucket_bits`` > 0 (the 100 TB path): random-hyperplane sign-LSH
    self-join. Each vector lands in ``tables`` buckets of ``bucket_bits``
    bits; candidates are same-bucket collisions only, deduped as id pairs
    BEFORE vectors are re-attached (the collision shuffle moves 16-byte id
    pairs, not 0.5 KB vectors), then the exact cosine filter verifies.
    For cosine >= 0.95 (theta <= 18 deg) P(bit agree) ~ 1 - theta/pi ~ 0.9,
    so recall = 1 - (1 - 0.9^bits)^tables ~ 0.99 at (8 bits, 8 tables);
    the pytest suite measures recall against the exact form.

    ``bucket_bits`` = None: AUTO-SIZE from the corpus (round 7, caught by
    the sf1 decade-up soak: fixed 8 bits means bucket occupancy grows
    linearly with n and within-bucket work QUADRATICALLY — 60x at 10x
    data). bits = log2(n / 2) clamped to [8, 24] targets ~2 members per
    bucket — the E2LSH-style geometry where expected candidates are
    ~n/2 per table, so the candidate set (the rows that later re-attach
    full-width vectors for the exact verify) stays O(n * tables) rather
    than O(n * occupancy * tables). The first 250k/1M measured soaks
    used occupancy 16 (bits = log2(n/16), cap 16): at 1M vectors that
    made ~350M candidate pairs whose vector re-attach join spilled >75
    GB of shuffle and died — occupancy ~2 with more tables cuts
    candidates ~20x for the same recall. ``tables`` grows to hold
    recall at ~0.99 for the requested threshold
    (ceil(ln .01 / ln(1 - p^bits)), p the per-bit agreement at the
    threshold angle); past n = 2 * 2^24 the global geometry is capped
    and the occupancy guard below carries the rest (local splitting is
    exactly "more bits, only where needed"). Sizing costs one count()
    of the input.

    ``bucket_cap`` (None = off, keeping bit-exact full-pair semantics;
    ``profile.PROFILE_DEFAULT`` = let the active profile decide) is the
    past-1M-vectors geometry guard (SURVEY §13 lead 2, measured on the
    250k/1M soak corpora: the global 16-bit cap means occupancy — and
    within-bucket work quadratically — grows linearly with n again once
    n >> 2^16). Two stages, both local to hot buckets:

    1. RESERVE-BIT SPLITTING — every vector also hashes ``reserve_bits``
       extra hyperplanes (same single matmul); a bucket whose occupancy
       exceeds the cap is subdivided on the next ceil(log2(occ/cap)) of
       them, so its self-join cost returns to ~cap^2/2 regardless of how
       far n grows past 2^bucket_bits * cap (local geometry refinement —
       the hot bucket gets the extra bits a bigger corpus would need,
       cold buckets keep full recall). A pair in a split bucket must
       agree on the extra bits too (p^lvl per table, p the per-bit
       agreement); multi-table redundancy absorbs the loss for
       same-direction duplicates (scaled copies agree on EVERY
       hyperplane, so their recall stays exactly 1).
    2. RESIDUAL STAR PAIRING — a bucket still over the cap after its
       split (the ceil is sized for uniform reserve bits; a mass of
       (near-)identical vectors agrees on every extra sign, so no number
       of hyperplanes subdivides it). Emitting its full quadratic pair
       set is the
       scale-killer, so each member instead pairs with the bucket's
       min-id member (a spanning star: linear, same connected component
       for the dedup/survivor consumers downstream). Star candidates
       pass through the SAME exact-cosine verify as everything else, so
       precision stays 1; the documented trade is pair-level recall
       inside residual buckets (member-member pairs are represented
       through the center)."""
    import math

    if bucket_bits is None:
        n = max(df.count(), 2)
        bucket_bits = min(24, max(8, math.ceil(math.log2(max(n / 2, 2)))))
        p_bit = 1 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        hit = max(min(p_bit**bucket_bits, 1 - 1e-12), 1e-12)
        tables = max(tables, math.ceil(math.log(0.01) / math.log(1 - hit)))
    from .similarity import (
        _hyperplanes,
        as_double_array,
        cosine_expr,
        cosine_pandas,
        sign_buckets_pandas,
    )

    v = df.select(F.col(id_col).alias("__vid"), as_double_array(vec_col).alias("__v"))
    if bucket_bits <= 0:
        a = v.select(F.col("__vid").alias("id_a"), F.col("__v").alias("__va"))
        b = v.select(F.col("__vid").alias("id_b"), F.col("__v").alias("__vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        return (
            pairs.withColumn("cosine", F.round(cosine_expr("__va", "__vb"), 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )

    from ..profile import PROFILE_DEFAULT, embedding_bucket_cap

    if bucket_cap is PROFILE_DEFAULT:
        bucket_cap = embedding_bucket_cap(PROFILE_DEFAULT)
    extra = reserve_bits if bucket_cap else 0
    planes = _hyperplanes(dim, bucket_bits + extra, tables, seed)
    # one Arrow-batched matmul computes every table's bucket (reserve bits
    # included when the occupancy guard is armed); posexplode fans out to
    # (table, bucket) rows without a tables-way union of the scan
    bucket_udf = sign_buckets_pandas(planes)
    vb = v.select("__vid", F.posexplode(bucket_udf(F.col("__v"))).alias("__t", "__bfull"))
    if not bucket_cap:
        vb = vb.withColumn("__key", F.col("__bfull"))
        star_pairs = None
    else:
        lo = (1 << bucket_bits) - 1
        vb = vb.select(
            "__vid",
            "__t",
            (F.col("__bfull").bitwiseAND(F.lit(lo))).alias("__b"),
            F.expr(f"shiftrightunsigned(__bfull, {bucket_bits})").alias("__r"),
        )
        # stage 1: occupancy count per primary bucket; hot buckets (the
        # skew tail — small by construction) broadcast back and split on
        # ceil(log2(occ/cap)) reserve bits. Key packing is collision-free
        # across split depths: ext | 2^lvl occupies [2^lvl, 2^(lvl+1)),
        # so (lvl, ext) pairs never alias (unsplit rows take lvl=0 -> +1).
        hot = (
            vb.groupBy("__t", "__b")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > bucket_cap)
            .withColumn(
                "__lvl",
                F.least(
                    F.lit(reserve_bits),
                    F.ceil(F.log2(F.col("__n") / F.lit(float(bucket_cap)))).cast("int"),
                ),
            )
            .select("__t", "__b", "__lvl")
        )
        # eager probe: on the COMMON corpus no bucket exceeds the cap, yet
        # the split/star plumbing below (broadcast-join + recount + two
        # star subtrees) would re-evaluate the bucketing UDF several times
        # and add five shuffled stages that all come back empty — measured
        # 2.4s vs 1.1s at sf0.1, pure guard overhead. One bounded driver
        # boolean (the occupancy aggregation, which the guard needs
        # anyway) picks the shape: hot buckets -> the full split/star
        # machinery, none -> the plain bucket keys. Output is identical
        # by construction (all lvl=0 keys are __b + 2^bucket_bits, a
        # bijective relabel of __b; star side is empty).
        if hot.isEmpty():
            vb = vb.select("__vid", "__t", F.col("__b").alias("__key"))
            star_pairs = None
        else:
            vb = (
                vb.join(F.broadcast(hot), ["__t", "__b"], "left")
                .withColumn("__lvl", F.coalesce(F.col("__lvl"), F.lit(0)))
                .withColumn(
                    "__key",
                    F.expr(
                        "__b + shiftleft("
                        "(__r & (shiftleft(1L, __lvl) - 1)) | shiftleft(1L, __lvl), "
                        f"{bucket_bits})"
                    ),
                )
            )
            # stage 2: residual buckets (over cap even after every reserve
            # bit — (near-)identical vectors) switch to star pairing. Only
            # rows from split (lvl>0) buckets can be residual — an unsplit
            # bucket holds <= cap by definition — so the recount runs over
            # that small subset, not the full corpus.
            hot2 = (
                vb.filter(F.col("__lvl") > 0)
                .groupBy("__t", "__key")
                .agg(F.count("*").alias("__n2"))
                .filter(F.col("__n2") > bucket_cap)
                .select("__t", "__key")
            )
            vb = vb.select("__vid", "__t", "__key")
            members = vb.join(F.broadcast(hot2), ["__t", "__key"])
            centers = members.groupBy("__t", "__key").agg(F.min("__vid").alias("id_a"))
            star_pairs = (
                members.join(F.broadcast(centers), ["__t", "__key"])
                .filter(F.col("__vid") != F.col("id_a"))
                .select("id_a", F.col("__vid").alias("id_b"))
            )
            vb = vb.join(F.broadcast(hot2), ["__t", "__key"], "left_anti")
    # TWO-STAGE VERIFY (round 7, after the 4M soak died on DISK, not
    # memory: re-attaching 512-byte vectors to every candidate pair
    # spilled >66 GB). Stage 1 re-attaches 72-byte int8 sketches and
    # discards pairs whose sketch cosine is PROVABLY below threshold
    # (INT8_COS_EPS is a hard quantization bound, so the discard is
    # exact, not approximate); only the near-threshold band — genuine
    # near-dups plus a vanishing tail — re-attaches full vectors for
    # the exact cosine. Output is bit-identical to the single-stage
    # verify; the heavy candidate shuffle is ~8x narrower.
    from .similarity import INT8_COS_EPS, int8_cosine_pandas, int8_sketch_pandas

    sketch_udf = int8_sketch_pandas()
    qv = v.select("__vid", sketch_udf(F.col("__v")).alias("__q"))
    qa = qv.select(F.col("__vid").alias("id_a"), F.col("__q").alias("__qa"))
    qb = qv.select(F.col("__vid").alias("id_b"), F.col("__q").alias("__qb"))
    approx_udf = int8_cosine_pandas()
    va = v.select(F.col("__vid").alias("id_a"), F.col("__v").alias("__va"))
    vb2 = v.select(F.col("__vid").alias("id_b"), F.col("__v").alias("__vb"))
    cos_udf = cosine_pandas()

    def verify(cand: DataFrame) -> DataFrame:
        band = (
            cand.join(qa, "id_a")
            .join(qb, "id_b")
            .filter(
                approx_udf(F.col("__qa"), F.col("__qb"))
                >= threshold - INT8_COS_EPS
            )
            .select("id_a", "id_b")
        )
        return (
            band.join(va, "id_a")
            .join(vb2, "id_b")
            .withColumn(
                "cosine", F.round(cos_udf(F.col("__va"), F.col("__vb")), 6)
            )
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )

    def cand_from(vbk: DataFrame) -> DataFrame:
        left = vbk.select(F.col("__vid").alias("id_a"), "__t", "__key")
        right = vbk.select(F.col("__vid").alias("id_b"), "__t", "__key")
        return (
            left.join(right, ["__t", "__key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )

    if merge_slices is PROFILE_DEFAULT:
        from ..profile import embedding_merge_slices

        merge_slices = embedding_merge_slices(df.count())
    if not merge_slices or merge_slices <= 1:
        cand = cand_from(vb)
        if star_pairs is not None:
            cand = cand.unionByName(star_pairs)
        return verify(cand.distinct())

    # SHARD-AND-MERGE (round 8, after the 8M soak died on spill with the
    # single-pass pipeline — SCALE.md): the candidate volume, not the
    # geometry, binds first. The (table, bucket) space splits into
    # ``merge_slices`` hash slices processed as SEQUENTIAL jobs — every
    # candidate pair belongs to exactly one (table, key), so the union
    # of per-slice verified pairs equals the single-pass output after
    # one final distinct (a pair colliding in several tables can emerge
    # from several slices). Per-job shuffle/spill is ~1/slices of the
    # single pass; wall-clock is the same total work, serialized. Each
    # slice materializes via an EAGER localCheckpoint so its shuffle
    # files can be reclaimed before the next slice runs.
    #
    # The bucketing rows (n * tables) materialize ONCE — to compressed
    # parquet under ``spill_dir`` when given (3-5x smaller than
    # executor-disk persist blocks and reclaimed deterministically; on
    # a cluster pass a shared path — executors must reach it), else a
    # MEMORY_AND_DISK persist. The re-validation of the first 8M soak
    # died with persist: per-slice spill PLUS the persisted bucketing
    # exceeded the node budget (SCALE.md round-8-late).
    spark = df.sparkSession
    spilled_path = None
    slice_results = []
    if spill_dir:
        import uuid as _uuid

        # URI-safe join: ``spill_dir`` may be any executor-reachable
        # Hadoop URI (hdfs://, s3a://, file:/, plain POSIX) — os.path.join
        # would mangle scheme-qualified paths.
        spilled_path = (
            spill_dir.rstrip("/") + f"/emb_lsh_buckets_{_uuid.uuid4().hex}"
        )
        vb.write.parquet(spilled_path)
        vb = spark.read.parquet(spilled_path)
    else:
        vb = vb.persist()
        vb.count()  # materialize bucketing once (matmul + split detection)
    try:
        for k in range(merge_slices):
            vbk = vb.filter(
                F.pmod(F.xxhash64("__t", "__key"), F.lit(merge_slices))
                == F.lit(k)
            )
            out_k = verify(cand_from(vbk).distinct()).localCheckpoint(
                eager=True
            )
            slice_results.append(out_k)
            spark.sparkContext._jvm.System.gc()  # nudge shuffle cleanup
        if star_pairs is not None:
            slice_results.append(verify(star_pairs.distinct())
                                 .localCheckpoint(eager=True))
    finally:
        if spilled_path is None:
            vb.unpersist()
        else:
            # Reclaim through the Hadoop FileSystem API so hdfs:// and
            # s3a:// spill dirs are deleted too, not only driver-local
            # POSIX paths (r8 ADVICE: os.path.isdir is False for URIs,
            # silently leaking the bucketing parquet on shared storage).
            try:
                jvm = spark.sparkContext._jvm
                hpath = jvm.org.apache.hadoop.fs.Path(spilled_path)
                hconf = spark.sparkContext._jsc.hadoopConfiguration()
                hpath.getFileSystem(hconf).delete(hpath, True)
            except Exception:  # cleanup is best-effort
                pass
    out = slice_results[0]
    for r in slice_results[1:]:
        out = out.unionByName(r)
    return out.distinct()


# --------------------------------------------------------------------------
# Incremental MinHash dedup (increment vs an already-deduped corpus)
# --------------------------------------------------------------------------
def minhash_dedup_incremental(
    base: DataFrame,
    inc: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    est_margin: float = 0.15,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    base_sig: DataFrame | None = None,
) -> DataFrame:
    """Dedup an incoming increment against an existing corpus WITHOUT
    re-pairing the corpus against itself — the ingest-time shape at 100 TB
    (a daily crawl drop is deduped against petabytes of history; history
    vs history was settled by earlier runs).

    ``base_sig`` is the corpus's precomputed signature/band table (the
    persisted asset previous runs maintain — columns ``__id/__text/__sig/
    __bands`` as produced by the signature stage). When given, ``base`` is
    not read at all: the verify tail takes the corpus text from
    ``base_sig`` (a table without ``__text`` raises ``ValueError``).
    Without it the signatures are recomputed from ``base`` in the same
    pass as the increment's. Either way the corpus is scanned at most
    once, by the signature pass.

    Scale design: base-vs-base candidate pairs are never generated. The
    base side's band table is semi-joined down to buckets that contain at
    least one increment member BEFORE the pair join, so corpus-side work
    is proportional to bucket collisions with the increment, not corpus
    size. Pair orientation is fixed as (id_a = any side, id_b =
    increment), so the drop rule is a single distinct on
    id_b: an increment doc is dropped iff it verifies >= ``threshold``
    against ANY base doc or against a smaller-id increment doc (the
    deterministic survivor rule of ``minhash_dedup`` restricted to pairs
    that touch the increment).

    Returns the surviving increment rows (schema of ``inc``).
    """
    if base_sig is not None:
        if "__text" not in base_sig.columns:
            raise ValueError(
                "base_sig has no __text column: the verify reads the corpus "
                "text from the signature table, so rebuild it with "
                "_signature_table (columns __id, __text, __sig, __bands)"
            )
        sig_base = base_sig.select("__id", "__text", "__sig", "__bands")
        sig_inc = _signature_table(
            inc, id_col, text_col, shingle_k, num_hashes, bands
        )
        sig_all = sig_base.unionByName(sig_inc)
    else:
        # no precomputed corpus signatures: signature BOTH sides in ONE
        # tagged pass (base and inc are disjoint by contract), so the
        # scan + Arrow signature UDF + persist run once instead of twice
        # — one job and one cached table instead of two (guide §2.4/§1.2:
        # fewer passes before faster passes)
        tagged = base.withColumn("__inc", F.lit(False)).unionByName(
            inc.withColumn("__inc", F.lit(True))
        )
        sig_all = _signature_table(
            tagged, id_col, text_col, shingle_k, num_hashes, bands,
            carry=("__inc",),
        )
        sig_base = sig_all.filter(~F.col("__inc"))
        sig_inc = sig_all.filter(F.col("__inc"))

    def _buckets(sig: DataFrame) -> DataFrame:
        return sig.select("__id", F.posexplode("__bands").alias("__band_idx", "__band_hash"))

    b_inc = _buckets(sig_inc)
    # corpus-side pruning: only buckets an increment member lands in
    b_base = _buckets(sig_base).join(
        b_inc.select("__band_idx", "__band_hash").distinct(),
        ["__band_idx", "__band_hash"],
        "left_semi",
    )
    # (base, inc) collisions plus (inc, inc) collisions with id_a < id_b —
    # the id_b side is ALWAYS an increment doc (base/inc ids are disjoint).
    # ONE join does both: the left side unions pruned-base and increment
    # buckets with an origin tag, and the pair rule becomes
    # "base id_a always pairs; increment id_a pairs only below id_b" —
    # identical pair set to the former two-join union, one exchange and
    # one join fewer (guide §2.2).
    right = b_inc.select("__band_idx", "__band_hash", F.col("__id").alias("id_b"))
    left_all = b_base.select(
        "__band_idx", "__band_hash", F.col("__id").alias("id_a"),
        F.lit(False).alias("__inc_a"),
    ).unionByName(
        b_inc.select(
            "__band_idx", "__band_hash", F.col("__id").alias("id_a"),
            F.lit(True).alias("__inc_a"),
        )
    )
    pairs = (
        left_all.join(right, ["__band_idx", "__band_hash"])
        .filter(~F.col("__inc_a") | (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__nc"))
        .filter(F.col("__nc") >= 2)
        .select("id_a", "id_b")
    )
    verified = _verify_pairs(pairs, sig_all, threshold, est_margin, shingle_k, num_hashes)
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return inc.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# Exact shared-span detection (substring-level duplication)
# --------------------------------------------------------------------------
def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 16,
    max_span_df: int | None = None,
) -> DataFrame:
    """Cross-document EXACT repeated token spans — the substring-level
    granularity (Lee et al.'s exact-substring dedup shape) that document-
    level MinHash misses: two long documents sharing one plagiarized /
    boilerplate paragraph have low global Jaccard but a dead-exact span.

    Every ``window``-token sliding window (stride 1) is hashed (md5 of the
    space-joined slice); documents sharing >= 1 window hash pair up with
    the count of distinct shared spans and the coverage fraction of the
    larger-id doc. Pure JVM HOFs: tokenize -> transform(sequence) windows
    -> explode -> hash-bucketed self-join — linear in total tokens, never
    all-pairs (only same-hash buckets join, singleton hashes pruned
    first). ``max_span_df`` drops spans occurring in more than that many
    documents BEFORE the join — the boilerplate guard (a site-wide footer
    shared by millions of pages would otherwise hot-spot one bucket; such
    spans say nothing about pairwise duplication anyway).

    Returns (id_a, id_b, n_spans, coverage_b) with id_a < id_b.
    """
    from .text import tokens

    toks = spread(df).select(
        F.col(id_col).alias("__sid"), tokens(text_col).alias("__t")
    )
    # empty-guard: sequence(1, 0) is the DESCENDING [1, 0] in Spark (it
    # yields slice(start=0) errors for short docs); DuckDB's
    # generate_series(1, 0) is empty — same contract as word_shingles
    grams = (
        f"IF(size(__t) < {window}, cast(array() as array<string>), "
        f"transform(sequence(1, size(__t) - {window - 1}), "
        f"i -> md5(concat_ws(' ', slice(__t, i, {window})))))"
    )
    wins = toks.select(
        "__sid", F.explode(F.expr(f"array_distinct({grams})")).alias("__h")
    )
    wins = register_cache(wins, materialize=False)
    # per-doc distinct-window counts for the coverage denominator
    nwin = wins.groupBy("__sid").agg(F.count("*").alias("__nw"))
    # prune: singleton hashes can't pair; boilerplate hashes (df > cap) out
    hash_df = wins.groupBy("__h").agg(F.count("*").alias("__df")).filter(F.col("__df") > 1)
    if max_span_df is not None:
        hash_df = hash_df.filter(F.col("__df") <= max_span_df)
    w2 = wins.join(hash_df.select("__h"), "__h", "left_semi")
    a = w2.select(F.col("__h"), F.col("__sid").alias("id_a"))
    b = w2.select(F.col("__h"), F.col("__sid").alias("id_b"))
    pairs = (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_spans"))
    )
    return (
        pairs.join(nwin.select(F.col("__sid").alias("id_b"), "__nw"), "id_b")
        .select(
            "id_a", "id_b", "n_spans",
            F.round(F.col("n_spans").cast("double") / F.col("__nw"), 6).alias("coverage_b"),
        )
    )


def remove_boilerplate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_span_df: int = 2,
) -> DataFrame:
    """Exact-substring boilerplate REMOVAL (the action to
    ``shared_span_pairs``'s detection — Lee et al.'s dedup-by-deletion
    shape): every token covered by a ``window``-token sliding span whose
    hash appears in >= ``min_span_df`` DISTINCT documents is cut; the
    survivors keep their original order.

    Scale shape: one tokenize + span-hash pass (pure JVM HOFs), one
    aggregation to document-frequency, one semi-join back to the
    (doc, position) span rows, one collect_list of hot start positions
    per doc — every join keyed on the span hash or the doc id, never
    all-pairs. The per-doc cover test is a nested HOF (token-index
    filter against the hot-start list) that runs inside WholeStageCodegen;
    cost is O(tokens x hot_spans_in_doc), and hot spans per doc are
    bounded by the doc's own length. Corpus text is never shuffled — only
    (id, position) pairs and the final starts array move.

    Returns (id, n_tokens_before, n_tokens_removed, cleaned_text).
    Matches the DuckDB mirror token-for-token: both engines build the
    same 1-based start positions and the same NOT-covered filter.
    """
    from .text import tokens

    w = window
    toks = spread(df).select(
        F.col(id_col).alias("__bid"), tokens(text_col).alias("__t")
    )
    toks = register_cache(toks, materialize=False)
    grams = (
        f"IF(size(__t) < {w}, cast(array() as array<string>), "
        f"transform(sequence(1, size(__t) - {w - 1}), "
        f"i -> md5(concat_ws(' ', slice(__t, i, {w})))))"
    )
    # (doc, start, hash) — positions are 1-based on both engines
    wins = toks.select(
        "__bid", F.posexplode(F.expr(grams)).alias("__p0", "__h")
    ).select("__bid", (F.col("__p0") + 1).alias("__s"), "__h")
    hot = (
        wins.groupBy("__h")
        .agg(F.count_distinct("__bid").alias("__df"))
        .filter(F.col("__df") >= min_span_df)
        .select("__h")
    )
    starts = (
        wins.join(hot, "__h", "left_semi")
        .groupBy("__bid")
        .agg(F.sort_array(F.collect_set("__s")).alias("__starts"))
    )
    joined = toks.join(starts, "__bid", "left").withColumn(
        "__starts", F.coalesce("__starts", F.expr("cast(array() as array<int>)"))
    )
    kept = F.expr(
        f"filter(__t, (t, j) -> "
        f"NOT exists(__starts, s -> j + 1 >= s AND j + 1 <= s + {w - 1}))"
    )
    return joined.select(
        F.col("__bid").alias(id_col),
        F.size("__t").cast("long").alias("n_tokens_before"),
        (F.size("__t") - F.size(kept)).cast("long").alias("n_tokens_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )
