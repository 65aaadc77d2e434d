"""Expression reference models of the three fingerprint kernels.

The product computes MinHash band rows, SimHash fingerprints and
winnowing fingerprints with Arrow kernels (``dedup.minhash_band_rows``,
``dedup.simhash_rows``, ``text.winnowing_fingerprints``). The pure-JVM
forms below build the same values from Spark column expressions, one
construction step at a time, and the parity tests pin the kernels to
them row for row — including NULL ids and non-bigint id types.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators.dedup import (
    MINHASH_MOD,
    bucket_pairs,
    minhash_params,
    portable_hash,
    shingle_hashes_from_tokens,
)

# ---------------------------------------------------------------------------
# MinHash + LSH bands
# ---------------------------------------------------------------------------


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """n-word shingles of a token array (empty if fewer than n tokens)."""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    sh = F.transform(idx, lambda i: F.concat_ws(" ", *[
        F.element_at(tokens, (i + j + 1).cast("int")) for j in range(n)
    ]))
    return F.when(F.size(tokens) >= n, sh).otherwise(F.array().cast("array<string>"))


def base_hashes(shingles: Column, impl: str = "md5") -> Column:
    """One portable hash per shingle (materialize before the k rehashes:
    higher-order functions get no common-subexpression elimination)."""
    return F.transform(shingles, lambda s: portable_hash(s, salt="mh:", impl=impl))


def minhash_rehash(hashes: Column, k: int) -> list[Column]:
    """k affine min-rehashes of a base-hash array:
    ``sig_j = min over h of (a_j * h + b_j) mod 2^32``."""

    def _rehash_fn(a: int, b: int):
        # Closure-bound constants (pyspark HOF lambdas fill extra params
        # with lambda variables, so no default-arg binding).
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_MOD)

    return [F.array_min(F.transform(hashes, _rehash_fn(a, b))) for a, b in minhash_params(k)]


def lsh_bands(sig_cols: list[Column], rows_per_band: int = 2) -> list[Column]:
    """Band signatures: md5 over each group of ``rows_per_band`` values."""
    bands = []
    for b in range(0, len(sig_cols), rows_per_band):
        group = sig_cols[b : b + rows_per_band]
        bands.append(F.md5(F.concat_ws(",", *[g.cast("string") for g in group])))
    return bands


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    hash_impl: str = "md5",
) -> DataFrame:
    """(_id, band, band_hash) — one row per (doc, LSH band); docs shorter
    than ``shingle_n`` tokens produce no rows."""
    toks = F.split(F.col(text_col), " ")
    token_hashed = df.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n).select(
        F.col(id_col).alias("_id"),
        F.transform(toks, lambda t: portable_hash(t, salt="mh:", impl=hash_impl)).alias("_th"),
    )
    hashed = token_hashed.select(
        "_id", shingle_hashes_from_tokens(F.col("_th"), shingle_n).alias("_hashes")
    )
    sigs = minhash_rehash(F.col("_hashes"), k)
    band_exprs = lsh_bands(sigs, rows_per_band)
    return hashed.select(
        "_id", F.posexplode(F.array(*band_exprs)).alias("band", "band_hash")
    )


def lsh_candidates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``dedup.minhash_lsh_candidates`` over the reference band rows."""
    buckets = (
        minhash_band_rows(df, id_col, text_col)
        .groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_set("_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    return bucket_pairs(buckets)


def index_candidates(batch: DataFrame, store: DataFrame) -> DataFrame:
    """``incdedup.near_dup_candidates_against_index`` over reference band
    rows of the (doc_id, text) batch and stored snapshot."""
    b = minhash_band_rows(batch, "doc_id", "text").withColumnRenamed("_id", "batch_id")
    s = minhash_band_rows(store, "doc_id", "text").withColumnRenamed("_id", "index_id")
    return (
        b.join(s, ["band", "band_hash"])
        .filter(F.col("batch_id") != F.col("index_id"))
        .select("batch_id", "index_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_from_hashes(token_hashes: Column, bits: int = 16) -> Column:
    """SimHash from a pre-hashed token array: per bit, sum +-1 votes; the
    sign vector packs into an int."""

    def _vote_fn(i: int):
        # Closure-bound bit index (see minhash_rehash on lambda arity).
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_cols = []
    for i in range(bits):
        votes = F.aggregate(token_hashes, F.lit(0), _vote_fn(i))
        bit_cols.append(F.when(votes > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out.cast("bigint")


def with_simhash(
    df: DataFrame, text_col: str, out_col: str = "simhash", bits: int = 16,
    hash_impl: str = "md5",
) -> DataFrame:
    """Add a SimHash column: token hashes materialize once in their own
    projection, then ``bits`` vote-folds read the shared array."""
    hashed = df.withColumn(
        "_token_hashes",
        F.transform(F.split(F.col(text_col), " "), lambda t: portable_hash(t, salt="sh:", impl=hash_impl)),
    )
    return hashed.withColumn(out_col, simhash_from_hashes(F.col("_token_hashes"), bits)).drop(
        "_token_hashes"
    )


# ---------------------------------------------------------------------------
# Winnowing
# ---------------------------------------------------------------------------


def char_kgram_hashes(text: Column, k: int = 8, impl: str = "md5") -> Column:
    """Portable hash of every character k-gram (empty array for short text)."""
    n_grams = F.length(text) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: portable_hash(F.substring(text, i, F.lit(k)), salt="wn:", impl=impl),
    )
    return F.when(n_grams >= 1, grams).otherwise(F.array().cast("array<bigint>"))


def winnowing_fingerprints_long(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, window: int = 4,
    hash_impl: str = "md5",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003), one (id, fp) row per
    distinct fingerprint per document: posexplode the gram hashes, take
    the min over each full sliding window with a window frame, drop tail
    windows, distinct. The window partitions by id, so each id must name
    one document."""
    grams = df.select(
        F.col(id_col),
        (F.length(text_col) - (k - 1) - window).alias("_last_start"),
        F.posexplode(char_kgram_hashes(F.col(text_col), k, hash_impl)).alias("_pos", "_h"),
    )
    w_frame = Window.partitionBy(id_col).orderBy("_pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("_wm", F.min("_h").over(w_frame))
        .filter(F.col("_pos") <= F.col("_last_start"))
        .select(F.col(id_col), F.col("_wm").alias("fp"))
        .distinct()
    )
