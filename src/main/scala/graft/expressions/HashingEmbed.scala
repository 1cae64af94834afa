package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic feature-hashing text embedder: lowercase, split on
 * whitespace, hash each token into one of `dim` signed buckets, then
 * L2-normalize. This is the JVM stand-in for the reference's neural
 * embedders (/root/reference/R/embedders.R:9-327) — same *shape*
 * semantics (fixed dim, L2-normalized at the source as all HF variants
 * are, R/embedders.R:56,85,...,309), fully deterministic so tests and
 * oracles can rely on it, and zero-dependency so it runs on any
 * executor.
 *
 * Hash is Scala's MurmurHash3 string hash with a fixed seed — stable
 * across JVMs and Spark versions. Empty/blank text yields the zero
 * vector (kept as-is, NOT normalized).
 */
case class HashingEmbed(child: Expression, dim: Int, seed: Int = 42)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashing_embed"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hashing_embed requires a string column, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashingEmbed.embedText(v.asInstanceOf[UTF8String], dim, seed)

  /** Stage stays in whole-stage codegen; the kernel is one static call. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.HashingEmbed.embedText($c, $dim, $seed);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HashingEmbed {
  /** The hashing kernel, callable from generated Java (static forwarder). */
  def embedText(u: UTF8String, dim: Int, seed: Int): ArrayData = {
    val text = ShingleHashes.lowerRoot(u.toString) // locale-pinned: executor JVM locale must not change embeddings
    val out = new Array[Float](dim)
    // manual whitespace scan: no regex compile, no token array allocation
    val n = text.length
    var start = 0; var i = 0
    while (i <= n) {
      if (i == n || ShingleHashes.isWs(text.charAt(i))) { // pinned family ws class
        if (i > start) {
          val h = scala.util.hashing.MurmurHash3.stringHash(text.substring(start, i), seed)
          val idx = java.lang.Math.floorMod(h, dim)
          // sign from a bit not used by the bucket index
          out(idx) += (if (((h >>> 31) & 1) == 0) 1f else -1f)
        }
        start = i + 1
      }
      i += 1
    }
    var s = 0.0; i = 0
    while (i < dim) { s += out(i).toDouble * out(i); i += 1 }
    val norm = math.sqrt(s)
    if (norm > 0.0) { i = 0; while (i < dim) { out(i) = (out(i) / norm).toFloat; i += 1 } }
    new GenericArrayData(out)
  }
}
