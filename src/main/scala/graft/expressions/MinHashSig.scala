package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * MinHash signature over word-shingle sets: `numHashes` independent
 * 64-bit universal hashes, each taking its minimum over the document's
 * distinct `shingleSize`-word shingles. `P[sig_i(A) == sig_i(B)] =
 * Jaccard(A, B)` — the classic sub-quadratic near-dup primitive
 * (Broder 1997).
 *
 * One pass over the tokens, no sparse-vector materialization, stays in
 * whole-stage codegen — this is the native replacement for the
 * spark.ml `HashingTF → MinHashLSH.fit → approxSimilarityJoin` chain,
 * whose per-row ml-Vector UDT (de)serialization and r=1 hash-table
 * explosion dominate at corpus scale.
 *
 * Hash family: one 64-bit base hash per DISTINCT shingle (two fixed-seed
 * MurmurHash3 words, hashed in place by [[ShingleHashes]]' gram loop
 * without building the shingle string), then h_i(x) = splitmix64(x ^ c_i) with per-slot
 * constants c_i = splitmix64(seed + i) — deterministic across runs,
 * partitionings, and JVMs. Texts with fewer than `shingleSize` tokens
 * yield an EMPTY array (no shingles → no signature; callers filter).
 */
case class MinHashSig(child: Expression, numHashes: Int = 128,
    shingleSize: Int = 3, seed: Int = 42)
    extends UnaryExpression {

  require(numHashes > 0 && numHashes <= 1024,
    s"numHashes must be in [1, 1024], got $numHashes")
  require(shingleSize > 0, s"shingleSize must be positive, got $shingleSize")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string column, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    MinHashSig.signature(v.asInstanceOf[UTF8String], numHashes, shingleSize, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.MinHashSig.signature($c, $numHashes, $shingleSize, $seed);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashSig {

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // per-slot constants c_i = splitmix64(seed + i), cached per (seed, H):
  // row-invariant, so computing them per row would waste H mixes/shingle
  private val slotConsts =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  private def consts(seed: Int, numHashes: Int): Array[Long] =
    slotConsts.computeIfAbsent((seed, numHashes),
      { case (s, h) => Array.tabulate(h)(j => mix64(s.toLong + j)) })

  /** The kernel, callable from generated Java (static forwarder).
    * Tokenization and base hash are [[ShingleHashes]]' own gram loop
    * ([[ShingleHashes.Tokens]]) — the minhash verify stage depends on
    * the two staying bit-identical. */
  def signature(u: UTF8String, numHashes: Int, shingleSize: Int, seed: Int): ArrayData = {
    // distinct shingle base hashes (MinHash is a SET estimator)
    val hs = new ShingleHashes.Tokens(u).gramHashes(shingleSize, seed)
    val n = ShingleHashes.sortDistinct(hs)
    if (n == 0) return ShingleHashes.longArray(hs, 0)
    val cs = consts(seed, numHashes)
    val sig = Array.fill[Long](numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs(i)
      var j = 0
      while (j < numHashes) {
        val v = mix64(h ^ cs(j))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    ShingleHashes.longArray(sig, numHashes)
  }
}
