package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Byte-pair-encoding tokenization against a FROZEN merge table
 * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
 * with Subword Units") — the subword tokenizer whose counts a real
 * token budget is denominated in (a whitespace count under-counts
 * rare/agglutinated words exactly where BPE splits them).
 *
 * Application is the paper's greedy procedure and is ORDER-SENSITIVE
 * in the merge ranks: each word is split to code points plus an
 * end-of-word symbol, then the lowest-RANK adjacent pair present is
 * merged (all non-overlapping occurrences, left to right) until no
 * learned pair remains. Rank order, not frequency-at-apply-time,
 * decides — which is why the merge table must be a frozen artifact:
 * two shards tokenized against different fits count different tokens
 * for the same text. Pre-tokenization is the family convention
 * (lowercase, [[ShingleHashes.isWs]] whitespace class), so BPE token
 * counts are comparable with every other text operator's.
 *
 * The merge table rides into generated code as a reference object
 * (the [[PqAdcDot]] pattern); the kernel is one static call, so the
 * stage stays in whole-stage codegen.
 */
case class BpeTokens(child: Expression, merges: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens requires a string column, got ${other.catalogString}")
  }

  @transient private lazy val runtime = new BpeRuntime(merges.toArray)

  override def nullSafeEval(v: Any): Any =
    BpeTokens.tokenize(v.asInstanceOf[UTF8String], runtime)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rt = ctx.addReferenceObj("bpeRuntime", runtime,
      classOf[BpeRuntime].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.BpeTokens.tokenize($c, $rt);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The merge table compiled for apply: pair → rank. Serializable (it
  * ships inside the expression to executors); the hash map is rebuilt
  * lazily per JVM. Pair keys are `left + " " + right` — symbols come
  * from whitespace-split words, so they can never contain a space. */
final class BpeRuntime(val merges: Array[String]) extends Serializable {
  @transient lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) { m.put(merges(i), Integer.valueOf(i)); i += 1 }
    m
  }
}

object BpeTokens {

  /** End-of-word marker, a separate initial symbol per the paper —
    * merges across it are impossible, and a token ending in it is
    * word-final.
    *
    * KNOWN AMBIGUITY (shared with the paper's reference
    * implementation, which uses the same literal): input text that
    * literally contains "</w>" is split into the chars '<','/','w','>'
    * during pre-tokenization; if the learned merge table happens to
    * reassemble them, the resulting symbol is indistinguishable from
    * the marker, and the `replace(Eow, " ")` reconstruction in BpeSpec
    * is lossy for such input regardless of merges (the joined chars
    * already spell the marker). The frozen committed artifact was
    * trained on a corpus with no literal "</w>", so no merge table we
    * ship can reassemble it; the ambiguity only affects reconstruction
    * of adversarial INPUT text, not tokenization determinism. We keep
    * the paper's marker for artifact compatibility rather than
    * switching to a noncharacter code point. */
  val Eow = "</w>"

  /** The kernel, callable from generated Java (static forwarder):
    * lowercase, whitespace-split, BPE-apply each word, concatenate. */
  def tokenize(u: UTF8String, rt: BpeRuntime): ArrayData = {
    val text = ShingleHashes.lowerRoot(u.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val n = text.length
    var start = 0; var i = 0
    while (i <= n) {
      if (i == n || ShingleHashes.isWs(text.charAt(i))) {
        if (i > start) {
          val toks = applyWord(text.substring(start, i), rt)
          var t = 0
          while (t < toks.length) { out += UTF8String.fromString(toks(t)); t += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** Split a word into initial symbols: one per CODE POINT (a
    * surrogate pair is one symbol — splitting it would manufacture
    * unpaired surrogates) plus the end-of-word marker. */
  private[graft] def initialSymbols(word: String): Array[String] = {
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val w = Character.charCount(cp)
      syms += word.substring(i, i + w)
      i += w
    }
    syms += Eow
    syms.toArray
  }

  /** Greedy rank-ordered merge application (the paper's procedure):
    * repeatedly merge ALL non-overlapping, left-to-right occurrences
    * of the lowest-rank pair present. Deterministic — rank is a total
    * order and scanning is positional. */
  private[graft] def applyWord(word: String, rt: BpeRuntime): Array[String] = {
    var syms = initialSymbols(word)
    var done = syms.length < 2
    while (!done) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rt.rank.get(syms(i) + " " + syms(i + 1))
        if (r != null && r.intValue() < best) best = r.intValue()
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val pair = rt.merges(best)
        val sp = pair.indexOf(' ')
        syms = mergePair(syms, pair.substring(0, sp), pair.substring(sp + 1))
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Merge all non-overlapping, left-to-right occurrences of (l, r) —
    * shared by apply (above) and fit ([[graft.operators.TextAnalysis.fitBpe]]),
    * so learning and application can never disagree on occurrence
    * resolution. */
  private[graft] def mergePair(syms: Array[String], l: String, r: String): Array[String] = {
    val merged = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
        merged += l + r; j += 2
      } else { merged += syms(j); j += 1 }
    }
    merged.toArray
  }
}
