package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text building blocks. Everything here is built from
  * codegen'd `org.apache.spark.sql.functions` (no Scala UDFs) so the
  * operators composed on top stay inside whole-stage codegen.
  *
  * Hashing is md5-based on purpose: the correctness oracle (DuckDB)
  * computes the identical hex digest, so every downstream fingerprint,
  * bucket id, and MinHash signature is bit-reproducible across engines
  * — the same property the reference leans on with its SHA-256 file
  * hashes (vector_db.py:420-429).
  */
object TextFunctions {

  /** Whitespace tokenization (the reference embeds whole text blocks;
    * our hashing embedder tokenizes first). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Canonical text form for exact near-dup hashing: lowercase, squeeze
    * whitespace. */
  def normText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** First 8 md5 hex digits as a 32-bit non-negative hash of a string. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** md5-derived bucket id in [0, buckets): first byte of the digest
    * modulo the bucket count. Used by the hashing-trick embedder.
    * (Named to avoid clashing with sql.functions.bucket.) */
  def hashBucket(c: Column, buckets: Int): Column =
    pmod(conv(substring(md5(c), 1, 2), 16, 10).cast("long"), lit(buckets.toLong))

  /** Per-row token counts as array<struct<token, tf>> — a NARROW
    * run-length encode of the sorted token array. Replaces the
    * explode + (doc, token) groupBy corpus shuffle wherever only
    * per-document counts are needed (tfidf, dsir). O(len·log len)
    * per row, zero shuffle — a native expression
    * ([[graft.functions.expressions.TokenCounts]]): the HOF
    * formulation re-evaluated its sub-arrays per lambda element
    * (no CSE in the interpreted path), going O(n³ log n). */
  def tokenCounts(text: Column): Column =
    graft.functions.expressions.TokenCounts(tokens(text))

  /** Word n-gram shingles: ["a","b","c"] with n=2 → ["a b","b c"].
    * Guarded: fewer than n tokens → empty (Spark's sequence(1,0) would
    * otherwise count *down*). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
}
