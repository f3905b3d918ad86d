package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function formulations of the native codegen'd
  * expressions, kept as the executable specs the equivalence tests
  * pin the natives against: [[Dedup.simhash]] /
  * [[Dedup.simhashShingled]] (`SimHash60`), [[TextOps.fingerprint]]
  * (`RollingHash`) and [[Similarity.cosine]] (`CosineSim`).
  */
object HofReference {

  /** [[Dedup.simhash]]: distinct whitespace tokens of the trimmed,
    * lowercased text, each hashed rolling ≪ 30 | rolling∘reverse.
    */
  def simhashHof(text: Column): Column =
    simhashOfHashes(transform(array_distinct(split(lower(trim(text)), "\\s+")), t =>
      shiftleft(graft.functions.RollingHash(t), 30)
        .bitwiseOR(graft.functions.RollingHash(reverse(t)))))

  /** [[Dedup.simhashShingled]]: the same hash over distinct word
    * n-grams; fewer than `n` tokens give fingerprint 0.
    */
  def simhashShingledHof(text: Column, n: Int = 3): Column = {
    require(n >= 1, "shingle width must be >= 1")
    val toks = split(lower(trim(text)), "\\s+")
    val m = size(toks) - (n - 1)
    val shingles = array_distinct(
      when(m >= 1, transform(sequence(lit(1), m), i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>")))
    simhashOfHashes(transform(shingles, s =>
      shiftleft(graft.functions.RollingHash(s), 30)
        .bitwiseOR(graft.functions.RollingHash(reverse(s)))))
  }

  /** Bit-vote fold: per bit, sum +1/−1 votes across the (distinct)
    * feature hashes; bit set if the vote is positive.
    */
  private def simhashOfHashes(hashes: Column): Column = {
    val bits = Dedup.SimhashBits
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), bits),
      (acc, h) =>
        zip_with(acc, sequence(lit(0), lit(bits - 1)),
          (a, bit) => a + when(call_function("shiftright", h, bit.cast("int")).bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, bit) => when(v > 0, call_function("shiftleft", lit(1L), bit.cast("int"))).otherwise(0L)),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b))
  }

  /** [[TextOps.fingerprint]]: h = (31·h + code) mod 1e9+7 over the
    * characters of the whitespace-normalized lowercase text.
    */
  def fingerprintHof(text: Column): Column = {
    val chars = split(TextOps.normalized(text), "")
    aggregate(chars, lit(0L), (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)
  }

  /** [[Similarity.cosine]] as a dot / (norm · norm) fold, in double. */
  def cosineHof(a: Column, b: Column): Column =
    Similarity.dot(a, b) / (Similarity.norm(a) * Similarity.norm(b))
}
