package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import scala.util.hashing.MurmurHash3

/**
 * Distinct word-shingle set as SORTED 64-bit hashes — the set
 * representation behind the Jaccard/MinHash family, produced in one
 * codegen pass. Replaces the `transform(sequence(...), concat_ws ∘
 * element_at) → array_distinct` higher-order-function pipeline, which
 * Spark executes as CodegenFallback (interpreted expression-tree walk
 * PER ELEMENT — measured ~50µs/shingle, i.e. 12s for 5k fixture docs;
 * this kernel does the same work in ~0.3s).
 *
 * Hash = two fixed-seed MurmurHash3 32-bit words over the space-joined
 * shingle — the same base hash [[MinHashSig]] uses, so
 * `array_intersect` on two of these columns counts exactly the shared
 * shingles (collisions at 64 bits are negligible: ~n²/2⁶⁴). Sorted
 * ascending for deterministic output; fewer tokens than `shingleSize`
 * yields an empty array.
 *
 * The kernel builds no strings and boxes nothing: grams are hashed in
 * place from one lowercased char array ([[ShingleHashes.Tokens]], both
 * seeds in one pass, bit-identical to [[ShingleHashes.baseHash]] of the
 * joined gram), made distinct by a primitive sort and an adjacent
 * dedupe, and returned as an `UnsafeArrayData`.
 */
case class ShingleHashes(child: Expression, shingleSize: Int = 3, seed: Int = 42)
    extends UnaryExpression {

  require(shingleSize > 0, s"shingleSize must be positive, got $shingleSize")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string column, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    ShingleHashes.hashes(v.asInstanceOf[UTF8String], shingleSize, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ShingleHashes.hashes($c, $shingleSize, $seed);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** POSITIONAL word-shingle hashes — [[ShingleHashes]] keeping order
  * and duplicates: element i is the 64-bit hash of the gram STARTING
  * at token i (same tokenize, same baseHash, same seed semantics), so
  * `posexplode` recovers (token position, gram identity) pairs — the
  * frame exact-substring dedup ([[graft.operators.Dedup
  * .removeDuplicateSpans]]) marks and merges into spans. Fewer tokens
  * than `shingleSize` yields an empty array (such docs carry no
  * duplicable span). */
case class PositionalShingleHashes(child: Expression, shingleSize: Int = 13,
    seed: Int = 42) extends UnaryExpression {

  require(shingleSize > 0, s"shingleSize must be positive, got $shingleSize")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "positional_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"positional_shingle_hashes requires a string column, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    ShingleHashes.positionalHashes(v.asInstanceOf[UTF8String], shingleSize, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ShingleHashes.positionalHashes($c, $shingleSize, $seed);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ShingleHashes {

  /** THE whitespace token boundary, pinned as an explicit character
    * class so Java regex (every Spark-side tokenizer and kernel) and
    * RE2 (the DuckDB oracle's `string_split_regex`) split on the
    * IDENTICAL character set. The two engines' `\s` differ: Java's is
    * exactly `[ \t\n\x0B\f\r]` while RE2's is `[ \t\n\f\r]` — no
    * U+000B vertical tab — a latent cross-engine divergence whenever
    * both sides spell `\s` (ASCII fixtures mask it). Spelling the
    * class out (`\x0B` is a valid hex escape in BOTH dialects) makes
    * the boundary set identical by construction; JVM-side behavior is
    * bit-for-bit unchanged because the class IS Java's `\s`. Oracle
    * SQL must interpolate [[WsRegex]] instead of writing `'\s+'`. */
  val WsClass = " \\t\\n\\x0B\\f\\r"
  val WsRegex = s"[$WsClass]+"
  val WsPattern: java.util.regex.Pattern = java.util.regex.Pattern.compile(WsRegex)

  /** Character-predicate form of [[WsClass]] for the character-scanning
    * kernels ([[WinnowFingerprint]], [[HashingEmbed]], [[Tokens]]) — the same six
    * chars, no regex. `Character.isWhitespace` is a THIRD boundary set
    * (adds U+001C–1F and Unicode space separators) and must not be
    * used where an oracle or a sibling kernel tokenizes with `\s`. */
  @inline def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Shared tokenization of the Jaccard/MinHash family — lowercase
    * (ROOT locale: executor JVM locale must not fork fingerprints),
    * split on whitespace runs ([[WsRegex]]), drop empties.
    * [[MinHashSig]], [[RepetitionStats]] and this kernel MUST split
    * identically: the minhash verify stage counts shared shingles
    * across kernels, so any tokenization drift silently breaks that
    * invariant. They all split through [[Tokens]], the regex-free form
    * of this function (pinned equal to it by `ShingleKernelSpec`). */
  def tokenize(u: UTF8String): Array[String] =
    WsPattern.split(lowerRoot(u.toString)).filter(_.nonEmpty)

  /** `s.toLowerCase(Locale.ROOT)`, in linear time. On JDK 17 the ROOT
    * lowering copies its whole output each time a char lowers to two
    * chars, and U+0130 `İ` is the one char that does (to `i` U+0069 +
    * combining dot U+0307), so a text full of `İ` lowered in quadratic
    * time. Rewriting each `İ` to `I` + U+0307 first gives the same
    * output: `I` lowers to `i`, U+0307 is its own lowercase, and being
    * case-ignorable it leaves the final-sigma context of every `Σ` as it
    * was. Pinned equal to `toLowerCase(Locale.ROOT)` by
    * `ShingleKernelSpec`. */
  def lowerRoot(s: String): String =
    (if (s.indexOf('\u0130') < 0) s else s.replace("\u0130", "I\u0307"))
      .toLowerCase(java.util.Locale.ROOT)

  /** Shared 64-bit base hash of one shingle string: two fixed-seed
    * MurmurHash3 32-bit words. Same bit-identity requirement as
    * [[tokenize]]. The kernels compute it without the string, in
    * [[Tokens.gramHashes]]; this is the reference they must equal. */
  @inline def baseHash(shingle: String, seed: Int): Long =
    (MurmurHash3.stringHash(shingle, seed).toLong << 32) |
      (MurmurHash3.stringHash(shingle, seed + 1).toLong & 0xffffffffL)

  /** A document's tokens ([[tokenize]]'s split) lowercased once and
    * re-joined by single spaces in one `char[]`, so the gram of tokens
    * i until i + k is one slice of it — the very string
    * `tokenize(u).slice(i, i + k).mkString(" ")` — and is hashed in
    * place: no token or gram string is built. Token bounds come from a
    * scan for the [[isWs]] characters, the same split as [[WsPattern]]
    * (lowercasing first, on the whole string, as [[tokenize]] does:
    * `İ` grows to two chars and a word-final `Σ` lowers to `ς`). This is
    * the one gram loop of the family: [[ShingleHashes]],
    * [[PositionalShingleHashes]], [[MinHashSig]] and [[RepetitionStats]]
    * all hash through [[Tokens.gramHashes]]. */
  private[expressions] final class Tokens(u: UTF8String) {
    private val chars = lowerRoot(u.toString).toCharArray
    // end offset of each token in the compacted `chars`; token i starts
    // one past the end of token i - 1 (at 0 for the first), as exactly
    // one space separates tokens after compaction
    private val ends = new Array[Int]((chars.length + 1) / 2)
    /** Number of tokens. */
    val count: Int = {
      var r = 0
      var w = 0
      var n = 0
      while (r < chars.length) {
        while (r < chars.length && isWs(chars(r))) r += 1
        if (r < chars.length) {
          // w < r here: a token ends at a separator, so the space lands
          // on a char already read
          if (n > 0) { chars(w) = ' '; w += 1 }
          while (r < chars.length && !isWs(chars(r))) { chars(w) = chars(r); w += 1; r += 1 }
          ends(n) = w
          n += 1
        }
      }
      n
    }

    /** [[baseHash]] of every gram of `k` tokens, in token order with
      * duplicates kept; empty when there are fewer than `k` tokens. */
    def gramHashes(k: Int, seed: Int): Array[Long] = {
      val n = count - k + 1
      if (n <= 0) return Array.emptyLongArray
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        out(i) = hashSlice(if (i == 0) 0 else ends(i - 1) + 1, ends(i + k - 1), seed)
        i += 1
      }
      out
    }

    // MurmurHash3.stringHash over chars(from until to) under `seed` and
    // `seed + 1` in one pass: same pairing of chars, same tail and
    // finalization, so the result equals baseHash of the slice's string
    private def hashSlice(from: Int, to: Int, seed: Int): Long = {
      var h1 = seed
      var h2 = seed + 1
      var i = from
      while (i + 1 < to) {
        val data = (chars(i) << 16) + chars(i + 1)
        h1 = MurmurHash3.mix(h1, data)
        h2 = MurmurHash3.mix(h2, data)
        i += 2
      }
      if (i < to) {
        h1 = MurmurHash3.mixLast(h1, chars(i))
        h2 = MurmurHash3.mixLast(h2, chars(i))
      }
      (MurmurHash3.finalizeHash(h1, to - from).toLong << 32) |
        (MurmurHash3.finalizeHash(h2, to - from).toLong & 0xffffffffL)
    }
  }

  /** Sorts `a` ascending (signed, as `java.lang.Long` orders) and moves
    * its distinct values to the front; returns how many there are. */
  private[expressions] def sortDistinct(a: Array[Long]): Int = {
    java.util.Arrays.sort(a)
    var m = 0
    var i = 0
    while (i < a.length) {
      if (m == 0 || a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
      i += 1
    }
    m
  }

  /** The first `n` values of `a` as an unboxed Spark array. */
  private[expressions] def longArray(a: Array[Long], n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(a, Platform.LONG_ARRAY_OFFSET, n, 8)

  /** [[PositionalShingleHashes]]' kernel: hash of the gram starting at
    * each token index, in order, duplicates kept. */
  def positionalHashes(u: UTF8String, shingleSize: Int, seed: Int): ArrayData = {
    val hs = new Tokens(u).gramHashes(shingleSize, seed)
    longArray(hs, hs.length)
  }

  /** The kernel, callable from generated Java (static forwarder):
    * distinct gram hashes, ascending. */
  def hashes(u: UTF8String, shingleSize: Int, seed: Int): ArrayData = {
    val hs = new Tokens(u).gramHashes(shingleSize, seed)
    longArray(hs, sortDistinct(hs))
  }
}
