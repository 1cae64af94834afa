package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
 * SIGMOD'03 — the MOSS algorithm) over a ROLLING character k-gram
 * hash: a Rabin–Karp polynomial hash slides across the normalized
 * text in O(1) per character (one multiply, one subtract, one add —
 * never rehashing the window), and each window of `w` consecutive
 * k-gram hashes keeps its minimum (rightmost on ties). The selected
 * hashes are a position-independent fingerprint SET with the
 * winnowing guarantee: any shared substring of length ≥ w + k − 1
 * between two documents yields at least one shared fingerprint.
 *
 * Scale shape: one codegen'd projection producing a small sorted
 * array<long> per document; overlap detection is then an exact
 * explode + self-join on a long key — the same sub-quadratic bucket
 * pattern as the other dedup tiers, with plagiarism-detection-grade
 * substring sensitivity that token-set Jaccard and SimHash lack.
 *
 * Normalization: lowercase, whitespace runs collapsed to one space
 * (so token spacing doesn't perturb character k-grams). Texts shorter
 * than k characters fingerprint to an empty array.
 */
case class WinnowFingerprint(child: Expression, k: Int = 5, w: Int = 4)
    extends UnaryExpression {
  require(k > 0 && w > 0, s"winnow_fingerprint needs k>0 and w>0, got k=$k w=$w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprint requires a string column, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      WinnowFingerprint.winnow(v.asInstanceOf[UTF8String], k, w))

  /** Stays in whole-stage codegen; the kernel is one static call. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.expressions.WinnowFingerprint.winnow($c, $k, $w));""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WinnowFingerprint {
  private val Base = 1000003L // odd multiplier; wraps mod 2^64

  /** Winnowing kernel, callable from generated Java: normalized text →
    * sorted distinct selected k-gram hashes. */
  def winnow(u: UTF8String, k: Int, w: Int): Array[Long] = {
    // normalize: lowercase, collapse whitespace runs to single spaces
    val raw = ShingleHashes.lowerRoot(u.toString) // locale-pinned: tr-locale dotless-i must not fork fingerprints
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    var lastSpace = true // also trims leading whitespace
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (ShingleHashes.isWs(c)) { // pinned class — the DuckDB oracle replays it
        if (!lastSpace) { sb.append(' '); lastSpace = true }
      } else { sb.append(c); lastSpace = false }
      i += 1
    }
    while (sb.length > 0 && sb.charAt(sb.length - 1) == ' ')
      sb.setLength(sb.length - 1)
    val s = sb
    val n = s.length - k + 1
    if (n <= 0) return Array.emptyLongArray

    // Rabin–Karp rolling hash: h_{i+1} = (h_i − s[i]·Base^(k−1))·Base + s[i+k]
    var pow = 1L // Base^(k-1) mod 2^64
    i = 1
    while (i < k) { pow *= Base; i += 1 }
    val hashes = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + s.charAt(i); i += 1 }
    hashes(0) = h
    i = 1
    while (i < n) {
      h = (h - s.charAt(i - 1) * pow) * Base + s.charAt(i + k - 1)
      hashes(i) = h
      i += 1
    }

    // winnow: per window of w hashes keep the min, rightmost on ties
    val selected = new java.util.TreeSet[java.lang.Long]()
    val nWin = math.max(1, n - w + 1)
    var win = 0
    while (win < nWin) {
      val end = math.min(win + w, n)
      var best = win
      var j = win + 1
      while (j < end) {
        // unsigned comparison — hashes wrap mod 2^64
        if (java.lang.Long.compareUnsigned(hashes(j), hashes(best)) <= 0) best = j
        j += 1
      }
      selected.add(hashes(best)): Unit
      win += 1
    }
    val out = new Array[Long](selected.size)
    val it = selected.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}
