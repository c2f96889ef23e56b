"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale-first designs (the 100 TB rationale, per operator):

- **exact**: fingerprint groupBy — one shuffle on the md5 hash, map-side
  combine; the canonical survivor is min(doc_id) (deterministic).
- **n-gram Jaccard**: word-3-gram shingles; candidate pairs via a join on
  *rare* shingles (df ≤ threshold) — joining on ALL shingles explodes on
  Zipf-head shingles exactly like the hot-term merge (merge.py), so the
  blocking key is restricted before the self-join; full Jaccard is then
  computed only for candidates.
- **MinHash+LSH**: H universal-hash minima per doc, computed row-local
  over the shingle ARRAY (array_min ∘ transform — no explode, no
  per-doc Python, ZERO shuffle for signatures), banded into B buckets;
  docs sharing a band-bucket are candidates (classic banding; the band
  join is the only shuffle in the whole pipeline).
- **SimHash**: 64-bit fingerprint from per-token md5 bits, weighted by tf;
  near-dups = equal fingerprints (or Hamming ≤ r via bit-band blocking).

MinHash/SimHash parameters are deterministic constants so results are
reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analyze import terms_array
from .resources import DEDUP_PERSISTS
from .textstats import fingerprint

# --- exact -----------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: (fp, canonical_id, n_dups)."""
    return (
        fingerprint(df, text_col)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one doc per fingerprint (min doc_id wins — deterministic)."""
    fps = fingerprint(df, text_col)
    keep = fps.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return df.join(keep, "doc_id", "left_semi")


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """CPU-heavy row-local stages inherit the SCAN's split count; a small
    input (e.g. one parquet row group) would serialize their hashing on
    one core. When the scan has fewer splits than the cluster's default
    parallelism, round-robin repartition first. At 100 TB this is a
    no-op (splits ≫ cores); on small inputs the rows it moves are the
    same rows the r1–r3 explode/groupBy designs shuffled anyway. The
    algorithms themselves still need NO key shuffle (plan-tested)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --- shingles ----------------------------------------------------------------


def shingle_sets(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Per-doc distinct word n-gram shingle SET as an array column:
    (doc_id, sh_set). Row-local (tokenize → slide → array_distinct) —
    no explode, no shuffle."""
    toks = terms_array(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return _spread_small_scan(df).filter(F.size(toks) >= n).select(
        "doc_id", F.array_distinct(grams).alias("sh_set")
    )


def shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    return shingle_sets(df, n, text_col).select(
        "doc_id", F.explode("sh_set").alias("shingle")
    )


def hashed_shingle_sets(
    df: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-doc distinct shingle set as xxhash64 values: (doc_id, hs64).

    The production dedup pipeline's shared relation: MinHash signatures
    are affine transforms over these values and exact-Jaccard
    verification intersects them — one tokenize+shingle pass feeds both,
    and the verification joins move/intersect 8-byte longs instead of
    ~25-byte shingle strings. Set semantics are exact up to xxhash64
    collisions *within one document* (≈ m²/2⁶⁴ per doc, m = distinct
    shingles — negligible at any real document size); the oracle-parity
    variants keep raw strings (:func:`shingle_sets`)."""
    toks = terms_array(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return _spread_small_scan(df).filter(F.size(toks) >= n).select(
        "doc_id",
        F.array_distinct(F.transform(grams, lambda s: F.xxhash64(s))).alias("hs64"),
    )


# --- n-gram Jaccard ----------------------------------------------------------


def jaccard_candidates(
    sh: DataFrame, rare_df_max: int = 10
) -> DataFrame:
    """Candidate pairs (a < b) sharing at least one rare shingle."""
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= rare_df_max)
        .filter(F.col("df") >= 2)
        .select("shingle")
    )
    rs = sh.join(rare, "shingle")
    a = rs.select(F.col("shingle"), F.col("doc_id").alias("a"))
    b = rs.select(F.col("shingle"), F.col("doc_id").alias("b"))
    return (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def exact_jaccard_for_pairs(
    cand: DataFrame, sets: DataFrame, set_col: str = "sh_set"
) -> DataFrame:
    """Exact shingle Jaccard for given candidate pairs: (a, b, jaccard).

    ``sets`` is the (doc_id, sh_set) relation from :func:`shingle_sets`
    (row-local, never exploded). Each candidate pair joins to exactly two
    arrays and the intersection is a row-local ``array_intersect`` —
    |cand| rows through two equi-joins, instead of the r1–r3 per-shingle
    join whose intermediate was |cand| × shingles per doc. Union from
    |A|+|B|−|A∩B|. The expensive all-pairs work never happens — only
    candidates are verified; a pair's verification cost is O(|A|+|B|)
    local set arithmetic. Pairs with an empty intersection come out with
    jaccard 0.0 (callers threshold-filter them away).
    """
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("a"), F.col(set_col).alias("set_a")), "a"
        )
        .join(
            sets.select(F.col("doc_id").alias("b"), F.col(set_col).alias("set_b")), "b"
        )
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .select(
            "a",
            "b",
            F.round(
                F.col("inter")
                / (F.size("set_a") + F.size("set_b") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    rare_df_max: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """(a, b, jaccard) for candidate pairs with full Jaccard ≥ threshold."""
    sets = shingle_sets(df, n, text_col)
    cand = jaccard_candidates(sets.select("doc_id", F.explode("sh_set").alias("shingle")), rare_df_max)
    return exact_jaccard_for_pairs(cand, sets).filter(F.col("jaccard") >= threshold)


# --- pipeline cache discipline ----------------------------------------------


def release_dedup_caches() -> None:
    """Unpersist the relations (signatures, shingle sets) the LSH pipelines
    keep in the bounded ``resources.DEDUP_PERSISTS`` pool for their own
    multi-reference joins and for plan-matched hits when a pipeline is
    repeated; call explicitly to free cluster memory after the last dedup
    action of a session."""
    DEDUP_PERSISTS.clear()


# --- MinHash + LSH -----------------------------------------------------------

# 2^31-1: keeps x*a < 2^62 so the affine hash never overflows a Spark
# LongType under ANSI mode (x, a, b all < 2^31)
_MERSENNE = (1 << 31) - 1


def portable_hash60(col):
    """60-bit string hash computable IDENTICALLY in Spark and DuckDB.

    First 15 hex chars of md5(utf8(s)) parsed as an integer. DuckDB twin:
    ``CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)``. Used by the
    oracle-parity variants of MinHash/SimHash; the scale path keeps
    xxhash64 (one JVM op vs a cryptographic hash + hex parse).
    """
    return F.conv(F.substring(F.md5(F.encode(col, "utf-8")), 1, 15), 16, 10).cast(
        "long"
    )


def _minhash_params(h: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=h, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=h, dtype=np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame, n: int = 3, num_hashes: int = 32, seed: int = 42,
    text_col: str = "text", portable: bool = False,
) -> DataFrame:
    """(doc_id, sig array<long>) MinHash signatures over word shingles.

    ZERO-shuffle: the per-doc shingle set stays an ARRAY column (never
    exploded), each shingle is hashed ONCE into ``_xs`` (xxhash64 JVM-side
    — or the md5-based :func:`portable_hash60` when ``portable``, the
    DuckDB-reproducible form the driver's oracle gate uses), and each of
    the H affine universal hashes mod a Mersenne prime is an
    ``array_min(transform(...))`` over that array — pure per-row Catalyst,
    embarrassingly parallel at 100 TB. The hashed array is a separate
    projection so CollapseProject keeps it evaluated once per row, not
    once per hash function (non-cheap expr referenced H times is not
    inlined). Replaces the r1–r3 explode + 32-min groupBy, whose shuffle
    of every shingle row was the single slowest bench item.
    """
    if not portable:
        # one code path with the shared-relation pipeline: distinct-then-hash
        # vs hash-then-distinct give the same multiset minimum
        return minhash_signatures_from_hashed(
            hashed_shingle_sets(df, n, text_col), num_hashes, seed
        )
    toks = terms_array(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    hashed = _spread_small_scan(df).filter(F.size(toks) >= n).select(
        "doc_id",
        F.transform(
            F.array_distinct(grams), lambda s: portable_hash60(s)
        ).alias("hs64"),
    )
    return minhash_signatures_from_hashed(hashed, num_hashes, seed)


def minhash_sig_col(num_hashes: int = 32, seed: int = 42, xs_col: str = "_xs"):
    """The MinHash signature as ONE array column over a pmod-reduced
    hashed-shingle array column (``xs_col``) — row-local, zero shuffle.
    Exposed so callers can compute (hs64, sig, buckets) in a single
    projection instead of joining derived relations back on doc_id."""
    a, b = _minhash_params(num_hashes, seed)
    mins = [
        F.array_min(
            F.transform(
                F.col(xs_col),
                lambda x: F.pmod(
                    x * F.lit(int(a[i])) + F.lit(int(b[i])), F.lit(_MERSENNE)
                ),
            )
        )
        for i in range(num_hashes)
    ]
    return F.array(*mins)


def xs_col(hs_col: str = "hs64"):
    """pmod-reduce a hashed-shingle array into the MinHash input domain."""
    return F.transform(F.col(hs_col), lambda x: F.pmod(x, F.lit(_MERSENNE)))


def minhash_signatures_from_hashed(
    hsets: DataFrame, num_hashes: int = 32, seed: int = 42
) -> DataFrame:
    """(doc_id, sig) from a precomputed (doc_id, hs64) hashed-shingle
    relation (:func:`hashed_shingle_sets`) — the shared-relation form: the
    tokenize+shingle+hash pass runs once and feeds both signature
    generation and exact-Jaccard verification. ``_xs`` (the pmod-reduced
    array) is its own projection so CollapseProject keeps it evaluated
    once per row, not once per hash function."""
    hashed = hsets.withColumn("_xs", xs_col())
    return hashed.select(
        "doc_id", minhash_sig_col(num_hashes, seed).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    text_col: str = "text",
    portable: bool = False,
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs (a, b, est_jaccard) via banded MinHash LSH.

    rows-per-band = num_hashes / bands; docs agreeing on a full band land
    in the same bucket (band join). est_jaccard = fraction of agreeing
    hash functions over the full signature.

    **Bucket-size cap** (the hot-key discipline of merge.py applied here,
    VERDICT r01): a degenerate bucket — thousands of boilerplate-identical
    pages sharing a band — would emit O(n²) pairs. Buckets larger than
    ``max_bucket`` fall back to a STAR topology: every member pairs only
    with the bucket's min doc_id, O(n) pairs, and the group stays
    transitively connected through its canonical representative.

    ``portable`` switches the shingle hash and band-bucket key to
    DuckDB-reproducible forms (md5-based hash, collision-free join on the
    band's raw signature values) for the oracle gate.
    """
    assert num_hashes % bands == 0
    sig = DEDUP_PERSISTS.persist(minhash_signatures(df, n, num_hashes, seed, text_col, portable))
    cand = _lsh_candidates(sig, num_hashes, bands, portable, max_bucket)
    sa = sig.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.lit(float(num_hashes)),
                4,
            ).alias("est_jaccard"),
        )
    )


def _lsh_candidates(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    portable: bool,
    max_bucket: int,
) -> DataFrame:
    """Banded-LSH candidate pairs (a, b) from a signature relation —
    the band join is the pipeline's only shuffle; degenerate buckets
    (> max_bucket) fall back to canonical-star pairing (O(n) pairs,
    transitively connected). ``sig`` should be persisted by the caller:
    the bucket relation is referenced twice (size agg + join-back)."""
    rpb = num_hashes // bands
    bucket_key = (
        # collision-free: the band's raw values, '_'-joined (SQL twin joins
        # on the raw columns, which is the same relation)
        lambda i: F.concat_ws(
            "_", *[F.col("sig")[j].cast("string") for j in range(i * rpb, (i + 1) * rpb)]
        )
        if portable
        else F.xxhash64(*[F.col("sig")[j] for j in range(i * rpb, (i + 1) * rpb)])
    )
    buckets = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        bucket_key(i).cast("string").alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return _bucket_pairs(buckets, max_bucket)


def _bucket_pairs(
    buckets: DataFrame, max_bucket: int, new_after: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (a < b) from a (doc_id, band, bucket)
    membership relation: all-pairs inside buckets of size ≤ max_bucket,
    canonical-star (min pairs with every other member) beyond the cap.

    ``new_after``: incremental form (dedup_store appends) — only pairs
    with at least one endpoint > new_after are emitted ((old, old) pairs
    belong to earlier generations).

    Shuffle shape (r7, guide §2.4): per-bucket size and canonical min
    come from WINDOW functions over (band, bucket) instead of the r6
    groupBy + join-back — the window, the small/star branches and the
    all-pairs self-join all reuse ONE hash exchange of the membership
    rows (the self-join sides are exchange-reuse of the same subtree),
    leaving the pair `distinct` as the only other exchange. Row-per-
    member throughout: no per-bucket array is ever materialized, so a
    degenerate bucket costs O(n) distributed rows, never one fat row.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "bucket")
    bk = buckets.withColumn(
        "n_in_bucket", F.count(F.lit(1)).over(w)
    ).withColumn("min_doc", F.min("doc_id").over(w))
    small = bk.filter(F.col("n_in_bucket") <= max_bucket)
    new_small = (
        small
        if new_after is None
        else small.filter(F.col("doc_id") > F.lit(new_after))
    )
    a = new_small.select("band", "bucket", F.col("doc_id").alias("x"))
    b = small.select("band", "bucket", F.col("doc_id").alias("y"))
    pairs_small = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
    )
    star = bk.filter(
        (F.col("n_in_bucket") > max_bucket) & (F.col("doc_id") > F.col("min_doc"))
    )
    if new_after is not None:
        star = star.filter(F.col("doc_id") > F.lit(new_after))
    pairs_star = star.select(F.col("min_doc").alias("a"), F.col("doc_id").alias("b"))
    return pairs_small.unionByName(pairs_star).distinct()


def lsh_verified_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    threshold: float = 0.5,
    text_col: str = "text",
    max_bucket: int = 64,
) -> DataFrame:
    """Production near-dup pipeline: xxhash64 MinHash-LSH **candidate
    generation** followed by **exact shingle-Jaccard verification** —
    output (a, b, jaccard): LSH-candidate pairs whose TRUE Jaccard ≥
    threshold. Every emitted pair's Jaccard is exact; COMPLETENESS is
    probabilistic, bounded by LSH candidate recall.

    This is the standard two-stage web-dedup design (candidates from LSH,
    then verify): the O(n²) exact comparison runs only on the LSH
    candidate set, while the emitted pairs carry the exact Jaccard — a
    hash-family-independent value a SQL oracle can recompute from the raw
    shingle sets (an all-pairs shared-shingle join at oracle scale) —
    verification here intersects the xxhash64'd sets
    (:func:`hashed_shingle_sets`), identical to the string-set Jaccard up
    to negligible within-pair hash collisions.
    Recall at 32 hashes / 8 bands follows the banding S-curve
    1 − (1 − J⁴)⁸: ≈ 2.4 × 10⁻⁴ miss per pair at J = 0.9, but only ~50%
    at J ≈ 0.6 — so with `threshold` well below ~0.85 the output is NOT
    the exhaustive ≥-threshold pair set (tune num_hashes/bands up for
    higher recall at lower thresholds). Additionally, buckets larger than
    ``max_bucket`` fall back to canonical-star pairing (bounded
    candidates; connected groups rather than all within-bucket pairs).
    On the fixture corpora all true near-dup pairs sit at J ≥ 0.9 and no
    bucket degenerates, so measured recall there is exactly 1.0 — the
    driver gate runs at threshold 0.9 for this reason (queries.py).
    """
    assert num_hashes % bands == 0
    # ONE tokenize+shingle+hash pass feeds BOTH stages: signatures are
    # affine transforms over the hashed sets, and verification intersects
    # the same 8-byte-long arrays (vs ~25-byte shingle strings — smaller
    # join payloads, cheaper intersects). Persisted (tracked) because the
    # verification joins reference it twice (set_a, set_b) — measured
    # ~30% off the pipeline at sf0.1; this invocation holds exactly
    # {hsets, sig}.
    hsets = DEDUP_PERSISTS.persist(hashed_shingle_sets(df, n, text_col))
    sig = DEDUP_PERSISTS.persist(minhash_signatures_from_hashed(hsets, num_hashes, seed))
    cand = _lsh_candidates(sig, num_hashes, bands, portable=False, max_bucket=max_bucket)
    return exact_jaccard_for_pairs(cand, hsets, set_col="hs64").filter(
        F.col("jaccard") >= threshold
    )


# --- SimHash -----------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", portable: bool = False) -> DataFrame:
    """(doc_id, simhash long): 64-bit SimHash over analyzer tokens.

    Token → xxhash64 bits; each bit contributes +tf / −tf; sign of the
    per-bit sum gives the fingerprint bit. Pure Catalyst and row-local:
    tokens are hashed once into an array column, each bit's sum is an
    ``F.aggregate`` fold over it, and the 64 signs pack into one bigint —
    no explode, no groupBy, no shuffle.

    ``portable``: token hash = :func:`portable_hash60` (60 bits, same
    value in DuckDB), so the driver's oracle recomputes the identical
    fingerprint in SQL.
    """
    n_bits = 60 if portable else 64
    hash_of = portable_hash60 if portable else F.xxhash64
    # tf-weighting is free: Σ_distinct-terms tf·(±1) ≡ Σ_occurrences (±1),
    # so no (doc, term) grouping is needed — hash every occurrence once
    # into an array column (own projection: CollapseProject keeps the
    # non-cheap hash evaluated once, not once per bit) and fold each bit
    # as a row-local F.aggregate. ZERO shuffles (was explode + 2 groupBys
    # in r1–r3); embarrassingly parallel at 100 TB.
    hashed = _spread_small_scan(df).select(
        "doc_id",
        F.transform(terms_array(F.col(text_col)), lambda t: hash_of(t)).alias("_hs"),
    ).filter(F.size("_hs") > 0)  # token-less docs had no rows under the old explode
    bit_sums = [
        F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        for i in range(n_bits)
    ]
    packed = None
    for i in range(n_bits):
        bit = F.when(bit_sums[i] > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        packed = term if packed is None else packed.bitwiseOR(term)
    return hashed.select("doc_id", packed.alias("simhash"))


def simhash_duplicate_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Docs with identical SimHash: (simhash, canonical_id, n_docs)."""
    return (
        simhash(df, text_col)
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
