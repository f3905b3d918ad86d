package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit SimHash: one tight loop from text to the fingerprint,
  * replacing the interpreted HOF pipeline (`aggregate`/`zip_with`
  * lambdas do not participate in codegen and allocate a fresh 60-long
  * vote array — plus a 60-long `sequence` — per FEATURE).
  *
  * Semantics are IDENTICAL to
  * the HOF vote fold (`HofReference.simhashOfHashes`, test scope) over the unigram ([[graft.operators.Dedup.simhash]])
  * or shingled ([[graft.operators.Dedup.simhashShingled]]) feature
  * hashes, and to the DuckDB oracle SQL:
  *   - tokens: `split(lower(trim(text)), "\s+")` (SQL trim = ASCII
  *     space only; Java regex split, no limit);
  *   - features: `shingle <= 1` → distinct tokens (array_distinct —
  *     distinct by STRING, so hash-colliding distinct tokens still
  *     vote twice); `shingle = n > 1` → distinct word n-grams joined
  *     by a single space; fewer than n tokens → empty feature set →
  *     fingerprint 0;
  *   - feature hash: rolling(f) << 30 | rolling(reverse(f)) where
  *     rolling = (h·31 + codepoint) mod 1e9+7 ([[RollingHash]]) and
  *     reverse is code-point reversal (Spark's string `reverse`);
  *     both halves < 2^30 so the OR is exact — 60 bits total;
  *   - fingerprint: per bit 0..59, sum +1/−1 votes over the features'
  *     hashes; bit set iff the vote is positive.
  *
  * Codegen emits a call to [[SimHash60.compute]] — the loop itself is
  * a single JIT-friendly static method, and the expression stays
  * inside whole-stage codegen (no CodegenFallback).
  */
case class SimHash60(child: Expression, shingle: Int) extends UnaryExpression {
  require(shingle >= 1, s"SimHash60: shingle must be >= 1, got $shingle")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash60.compute(input.asInstanceOf[UTF8String], shingle))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash60.compute($c, $shingle);")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {

  private val M = 1000000007L
  private val Bits = 60

  /** rolling(s[from..until)) — forward code-point order. */
  private def rollingFwd(s: String, from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % M
      i += Character.charCount(cp)
    }
    h
  }

  /** rolling(reverse(s[from..until))) — folds the SAME code points in
    * reverse order, equal to hashing the code-point-reversed string
    * (Spark's `reverse` keeps surrogate pairs intact, i.e. reverses
    * by code point).
    */
  private def rollingRev(s: String, from: Int, until: Int): Long = {
    var h = 0L
    var i = until
    while (i > from) {
      val cp = s.codePointBefore(i)
      h = (h * 31L + cp) % M
      i -= Character.charCount(cp)
    }
    h
  }

  private def vote(votes: Array[Int], s: String): Unit = {
    val h = (rollingFwd(s, 0, s.length) << 30) | rollingRev(s, 0, s.length)
    var bit = 0
    while (bit < Bits) {
      if (((h >> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
      bit += 1
    }
  }

  def compute(text: UTF8String, shingle: Int): Long = {
    // SQL-trim (ASCII space only) + lower, then Java-regex \s+ split —
    // the MinHashSig/NgramXxHashes tokenization, identical to the HOF
    // `split(lower(trim(text)), "\s+")`.
    val toks: Array[String] = text.trim().toLowerCase.toString.split("\\s+", -1)
    val votes = new Array[Int](Bits)
    if (shingle <= 1) {
      // array_distinct semantics: distinct by token STRING.
      val seen = new java.util.HashSet[String]()
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        if (seen.add(t)) vote(votes, t)
        i += 1
      }
    } else if (toks.length >= shingle) {
      val seen = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= toks.length - shingle) {
        sb.setLength(0)
        var j = 0
        while (j < shingle) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val s = sb.toString
        if (seen.add(s)) vote(votes, s)
        i += 1
      }
    }
    var fp = 0L
    var bit = 0
    while (bit < Bits) {
      if (votes(bit) > 0) fp |= (1L << bit)
      bit += 1
    }
    fp
  }

  def apply(c: Column, shingle: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(SimHash60(GraftBridge.expression(c), shingle))
  }
}
