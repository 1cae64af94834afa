package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.util.hashing.MurmurHash3

/**
 * 64-bit SimHash document fingerprint over lowercase whitespace tokens
 * (optionally word n-gram shingles): per-bit majority vote of token
 * hashes. Near-duplicate texts land within a small Hamming distance;
 * identical shingle multisets produce identical fingerprints, so exact
 * grouping on the fingerprint is a cheap first-stage dedup at scale —
 * one narrow column, shuffle on a long.
 *
 * Deterministic: two fixed-seed MurmurHash3 32-bit hashes concatenated
 * to 64 bits. Empty/blank text fingerprints to 0L.
 */
case class SimHash64(child: Expression, shingleSize: Int = 1, seed: Int = 42)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string column, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(
      SimHash64.simhashText(v.asInstanceOf[UTF8String], shingleSize, seed))

  /** Stage stays in whole-stage codegen; the kernel is one static call. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.SimHash64.simhashText($c, $shingleSize, $seed);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash64 {
  /** The simhash kernel, callable from generated Java (static forwarder). */
  def simhashText(u: UTF8String, shingleSize: Int, seed: Int): Long = {
    val toks = ShingleHashes.WsPattern // locale-pinned fingerprints, pinned ws class
      .split(ShingleHashes.lowerRoot(u.toString)).filter(_.nonEmpty)
    val votes = new Array[Int](64)
    val n = math.max(0, toks.length - shingleSize + 1)
    var i = 0
    while (i < n) {
      val shingle =
        if (shingleSize == 1) toks(i)
        else toks.slice(i, i + shingleSize).mkString(" ")
      val h = (MurmurHash3.stringHash(shingle, seed).toLong << 32) |
        (MurmurHash3.stringHash(shingle, seed + 1).toLong & 0xffffffffL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}
