package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Word-repetition counters for Gopher-style quality filtering (Rae et
 * al. 2021 §A1.1) in ONE codegen pass per document:
 * `struct(n_words, n_distinct, n_bigrams, top_cnt, dup_occ)` —
 * total/distinct word counts, total bigram occurrences, the most
 * frequent bigram's occurrence count, and the number of bigram
 * occurrences whose bigram occurs more than once.
 *
 * The map-only shape is the point: the equivalent relational
 * formulation (explode bigrams → groupBy(doc, gram) → groupBy(doc))
 * shuffles every n-gram occurrence twice — at corpus scale that is the
 * dominant cost of the quality pass, while this expression counts per
 * doc and shuffles nothing. (It also avoids the
 * `transform(sequence(...))` HOF pipeline, which executes as
 * CodegenFallback — see [[ShingleHashes]].)
 *
 * Counting is on the shared 64-bit [[ShingleHashes.baseHash]] of each
 * word/bigram (collisions ~n²/2⁶⁴ — immaterial for counters), taken
 * from the family's one gram loop ([[ShingleHashes.Tokens]]) and
 * counted by sorting the hashes and measuring runs — no strings, no
 * boxed counter map;
 * tokenization is the family's shared lowercase-\s+ split, identical
 * to the `string_split_regex(lower(text), '\s+')` the DuckDB oracle
 * uses, so the counter VALUES are engine-portable even though the
 * hashes never leave the kernel.
 */
case class RepetitionStats(child: Expression, seed: Int = 42)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_cnt", LongType, nullable = false),
    StructField("dup_occ", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "repetition_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats requires a string column, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    RepetitionStats.stats(v.asInstanceOf[UTF8String], seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.RepetitionStats.stats($c, $seed);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RepetitionStats {
  /** The kernel, callable from generated Java (static forwarder). */
  def stats(u: UTF8String, seed: Int): InternalRow = {
    val toks = new ShingleHashes.Tokens(u)
    val n = toks.count
    val distinct = ShingleHashes.sortDistinct(toks.gramHashes(1, seed))
    // bigram counts are the run lengths of the sorted bigram hashes
    val bigrams = toks.gramHashes(2, seed)
    java.util.Arrays.sort(bigrams)
    var topCnt = 0L
    var dupOcc = 0L
    var i = 0
    while (i < bigrams.length) {
      var j = i + 1
      while (j < bigrams.length && bigrams(j) == bigrams(i)) j += 1
      val c = (j - i).toLong
      if (c > topCnt) topCnt = c
      if (c > 1) dupOcc += c
      i = j
    }
    new GenericInternalRow(Array[Any](
      n.toLong, distinct.toLong, math.max(0, n - 1).toLong, topCnt, dupOcc))
  }
}
