package graft

import java.util.Locale

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import scala.util.hashing.MurmurHash3

import graft.expressions.{MinHashSig, PositionalShingleHashes, RepetitionStats, ShingleHashes}

/** The word-gram kernels hash grams in place from one char array; the
  * reference they must equal bit for bit is the string-building form
  * kept here: regex split of the lowercased text → `mkString(" ")` per
  * gram → two `MurmurHash3.stringHash` words → `TreeSet` / `HashSet` /
  * `HashMap`. Checked on direct calls and through a DataFrame with
  * codegen on and off, over inputs that stress the split: case folding
  * that changes length (`İ`) or depends on context (final `Σ`), all six
  * separators, look-alike spaces that are not separators, surrogate
  * pairs, edge whitespace, short and empty texts and a text over 1 MB. */
class ShingleKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private object Ref {
    private val Ws = java.util.regex.Pattern.compile("[ \\t\\n\\x0B\\f\\r]+")
    def tokenize(s: String): Array[String] =
      Ws.split(s.toLowerCase(Locale.ROOT)).filter(_.nonEmpty)
    def baseHash(gram: String, seed: Int): Long =
      (MurmurHash3.stringHash(gram, seed).toLong << 32) |
        (MurmurHash3.stringHash(gram, seed + 1).toLong & 0xffffffffL)
    def grams(s: String, k: Int): Seq[String] = {
      val toks = tokenize(s)
      (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
    }
    def positional(s: String, k: Int, seed: Int): Seq[Long] =
      grams(s, k).map(baseHash(_, seed))
    def hashes(s: String, k: Int, seed: Int): Seq[Long] = {
      val set = new java.util.TreeSet[java.lang.Long]()
      positional(s, k, seed).foreach(h => set.add(h))
      set.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
    }
    private def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def signature(s: String, numHashes: Int, k: Int, seed: Int): Seq[Long] = {
      val base = new java.util.HashSet[java.lang.Long]()
      positional(s, k, seed).foreach(h => base.add(h))
      if (base.isEmpty) return Seq.empty
      val cs = Array.tabulate(numHashes)(j => mix64(seed.toLong + j))
      val sig = Array.fill(numHashes)(Long.MaxValue)
      base.forEach { h =>
        for (j <- 0 until numHashes) sig(j) = math.min(sig(j), mix64(h ^ cs(j)))
      }
      sig.toSeq
    }
    def stats(s: String, seed: Int): Seq[Long] = {
      val toks = tokenize(s)
      val n = toks.length
      val words = toks.map(baseHash(_, seed)).toSet
      val bigrams = new java.util.HashMap[java.lang.Long, Int]()
      for (i <- 0 until n - 1)
        bigrams.merge(baseHash(toks(i) + " " + toks(i + 1), seed), 1, (a, b) => a + b)
      var top = 0L
      var dup = 0L
      bigrams.values().forEach { c =>
        if (c > top) top = c.toLong
        if (c > 1) dup += c
      }
      Seq(n.toLong, words.size.toLong, math.max(0, n - 1).toLong, top, dup)
    }
  }

  private val bigDoc: String = {
    val rnd = new scala.util.Random(7)
    // no `İ` here: String.toLowerCase copies its whole output each time
    // a char lowers to two, which is quadratic over a long text of them
    val vocab = Array("alpha", "Beta", "GAMMA", "delta", "ΣΟΦΟΣ", "naïve", "x", "𐐀𐐁", "Ωμέγα")
    val seps = Array(" ", " ", " ", "\t", "\n", "\u000B", "\f", "\r", "  \n ")
    val sb = new StringBuilder
    while (sb.length < (1 << 20) + 4096)
      sb.append(vocab(rnd.nextInt(vocab.length))).append(seps(rnd.nextInt(seps.length)))
    sb.toString
  }

  private val texts: Seq[String] = Seq(
    "The Quick BROWN fox Jumps over THE lazy DOG the quick brown fox",
    "İstanbul İSTANBUL istanbul İ i̇ I ı",
    "ΟΔΟΣ ΣΟΦΟΣ Σ ΣΣ ὈΔΥΣΣΕΎΣ οδος",
    "a b\tc\nd\u000Be\ff\rg a  b\t\tc\n\nd\u000B\u000Be",
    "no\u00A0break em\u2003space x\u00A0\u2003y \u00A0 \u2003",
    "one two three four one two three four",
    "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 emoji 😀😀 𐐀𐐁 𐐨 x😀y",
    "  \t\n lead and trailing whitespace \r\n\u000B ",
    "two words",
    "",
    " \t\n\u000B\f\r ",
    "odd lengths: a bb ccc dddd eeeee a bb ccc",
    bigDoc)

  private val fuzz: Seq[String] = {
    val rnd = new scala.util.Random(42)
    // whole code points: Spark strings are UTF-8, a lone surrogate
    // would reach the kernels as '?'
    val alphabet = Seq("a", "A", "b", "B", "z", "Z", " ", "\t", "\n", "\u000B", "\f", "\r",
      "\u00A0", "\u2003", "İ", "Σ", "σ", "ς", "😀", "é", "𐐀")
    Seq.fill(300)(Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.size))).mkString)
  }

  private val sizes = Seq(1, 2, 3, 13)
  private val seeds = Seq(42, -7)

  private def u(s: String) = UTF8String.fromString(s)

  test("tokenize and baseHash are the regex split and MurmurHash3.stringHash") {
    for (t <- texts ++ fuzz) {
      assert(ShingleHashes.tokenize(u(t)).toSeq == Ref.tokenize(t).toSeq)
      for (seed <- seeds) assert(ShingleHashes.baseHash(t, seed) == Ref.baseHash(t, seed))
    }
  }

  test("direct kernel calls equal the string-building reference bit for bit") {
    for ((t, i) <- (texts ++ fuzz).zipWithIndex; seed <- seeds) {
      for (k <- sizes) {
        assert(ShingleHashes.positionalHashes(u(t), k, seed).toLongArray().toSeq ==
          Ref.positional(t, k, seed), s"positional k=$k on input $i")
        assert(ShingleHashes.hashes(u(t), k, seed).toLongArray().toSeq ==
          Ref.hashes(t, k, seed), s"distinct k=$k on input $i")
        assert(MinHashSig.signature(u(t), 16, k, seed).toLongArray().toSeq ==
          Ref.signature(t, 16, k, seed), s"signature k=$k on input $i")
      }
      val st = RepetitionStats.stats(u(t), seed)
      assert((0 until 5).map(st.getLong) == Ref.stats(t, seed), s"stats on input $i")
    }
  }

  test("through a DataFrame, codegen on and off, the kernels equal the reference") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    // an RDD-backed frame: a local relation would be folded by the optimizer
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      (texts ++ fuzz.take(40)).zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2), schema)
    val byId = (texts ++ fuzz.take(40)).zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
    def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column = ColumnBridge.column(e)
    val text = ColumnBridge.expression(col("text"))
    val cols = col("id") +: sizes.flatMap(k => Seq(
      c(ShingleHashes(text, k)), c(PositionalShingleHashes(text, k)), c(MinHashSig(text, 16, k)))) :+
      c(RepetitionStats(text))
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
        conf.set(keys(0), wholeStage)
        conf.set(keys(1), factory)
        val out = df.select(cols: _*)
        assert(out.queryExecution.executedPlan.toString.contains("*(") == (wholeStage == "true"))
        for (r <- out.collect()) {
          val t = byId(r.getLong(0))
          for ((k, j) <- sizes.zipWithIndex) {
            assert(r.getSeq[Long](1 + 3 * j) == Ref.hashes(t, k, 42), s"codegen=$wholeStage k=$k")
            assert(r.getSeq[Long](2 + 3 * j) == Ref.positional(t, k, 42), s"codegen=$wholeStage k=$k")
            assert(r.getSeq[Long](3 + 3 * j) == Ref.signature(t, 16, k, 42), s"codegen=$wholeStage k=$k")
          }
          val st = r.getStruct(cols.length - 1)
          assert((0 until 5).map(st.getLong) == Ref.stats(t, 42), s"codegen=$wholeStage")
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("lowerRoot equals toLowerCase(Locale.ROOT), and stays linear on a long İ-heavy text") {
    for (t <- texts ++ fuzz) assert(ShingleHashes.lowerRoot(t) == t.toLowerCase(Locale.ROOT))
    // 256k chars of Turkish capitals and sigma contexts: the ROOT lowering
    // of this text is quadratic, the reference below pays it once
    val rnd = new scala.util.Random(3)
    val words = Array("İZMİR", "İstanbul", "ΣİΣ", "İ", "Σ", "ΟΔΟΣ İ", "iİi", "I\u0307İ")
    val sb = new StringBuilder
    while (sb.length < (1 << 18)) sb.append(words(rnd.nextInt(words.length))).append(' ')
    val heavy = sb.toString
    assert(ShingleHashes.lowerRoot(heavy) == heavy.toLowerCase(Locale.ROOT))
    assert(ShingleHashes.hashes(u(heavy), 3, 42).toLongArray().toSeq == Ref.hashes(heavy, 3, 42))
  }
}
