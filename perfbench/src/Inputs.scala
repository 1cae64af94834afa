package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One generated document. `lang` is the grouping key qualityBuckets ranks within. */
final case class Doc(id: Long, topic: Int, lang: String, text: String)

/** The curate corpus plus the ground truth the checks compare against.
  *
  * @param dupParagraphs  paragraph occurrences Dedup.dedupParagraphs must drop
  *                       (every occurrence of a paragraph after its first)
  * @param contaminated   ids of the paragraph-deduped documents sharing a
  *                       13-gram with the eval split
  * @param nearDupPairs   planted (original, edited copy) pairs, original < copy
  */
final case class CurateInputs(
    docs: Vector[Doc],
    evalTexts: Vector[String],
    dupParagraphs: Long,
    contaminated: Set[Long],
    nearDupPairs: Vector[(Long, Long)])

/** Seeded input generator. Every share and size below is fixed; the seed
  * changes only the draw. Documents are bags of words from a topic model
  * whose topic sizes follow a Zipf law, so embedded documents cluster
  * unevenly and IVF cells differ in size. */
object Inputs {
  val Topics = 64
  val VocabSize = 20000
  val TopicVocabSize = 400
  val TopicWordShare = 0.75
  val WordsPerParagraph = 20
  val Langs = Vector("en", "de", "fr")

  // curate shares, as fractions of documents or paragraphs
  val DupParagraphShare = 0.06
  val BoilerplatePool = 40
  val NearDupShare = 0.04
  val ContaminatedShare = 0.02
  val EvalDocs = 200
  val EvalWords = 60
  val EvalSpanWords = 20
  val NgramN = 13

  val QueryWords = 12

  /** Eight lowercase letters per word, distinct for every index below 20^4. */
  def word(i: Int): String = {
    val cons = "bdkt"
    val vows = "aeiou"
    val sb = new StringBuilder(8)
    var x = i
    for (_ <- 0 until 4) {
      val syl = x % 20
      sb.append(cons(syl / 5)).append(vows(syl % 5))
      x /= 20
    }
    sb.toString
  }

  private val words: Array[String] = {
    val ws = Array.tabulate(VocabSize)(word)
    require(ws.distinct.length == ws.length, "generated vocabulary must be distinct")
    ws
  }

  /** Inverse-CDF sampler for a Zipf law with exponent `s` over `n` ranks. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** The topic model of one seed: topic sizes, per-topic vocabularies. */
  final class TopicModel(seed: Long) {
    private val rnd = new SplittableRandom(seed ^ 0x5eedL)
    private val topicZipf = new Zipf(Topics, 1.0)
    private val inTopic = new Zipf(TopicVocabSize, 1.0)
    private val background = new Zipf(VocabSize, 1.1)
    private val topicWords: Array[Array[Int]] =
      Array.fill(Topics)(Array.fill(TopicVocabSize)(rnd.nextInt(VocabSize)))

    def topic(r: SplittableRandom): Int = topicZipf.sample(r)
    def word(r: SplittableRandom, topic: Int): String =
      if (r.nextDouble() < TopicWordShare) words(topicWords(topic)(inTopic.sample(r)))
      else words(background.sample(r))
    def text(r: SplittableRandom, topic: Int, n: Int): Array[String] =
      Array.fill(n)(word(r, topic))
    def paragraph(r: SplittableRandom, topic: Int): String =
      text(r, topic, WordsPerParagraph).mkString(" ")
  }

  private def lang(topic: Int): String = Langs(topic % Langs.length)

  /** Documents of `parasPerDoc` paragraphs with ids `firstId` onwards, for
    * the vector workloads: no planted structure beyond the topics. */
  def plainDocs(seed: Long, stream: Int, firstId: Long, n: Int,
      parasPerDoc: Int): Vector[Doc] = {
    val tm = new TopicModel(seed)
    val rnd = new SplittableRandom(seed * 1000003L + stream)
    Vector.tabulate(n) { i =>
      val t = tm.topic(rnd)
      Doc(firstId + i, t, lang(t),
        Vector.fill(parasPerDoc)(tm.paragraph(rnd, t)).mkString("\n"))
    }
  }

  /** Distinct query texts drawn from the same topic model. */
  def queryTexts(seed: Long, stream: Int, n: Int): Vector[String] = {
    val tm = new TopicModel(seed)
    val rnd = new SplittableRandom(seed * 1000003L + stream)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += tm.text(rnd, tm.topic(rnd), QueryWords).mkString(" ")
    seen.toVector
  }

  /** The curate corpus: `nDocs` documents of `parasPerDoc` paragraphs, with
    * exact-duplicate paragraphs (a hot boilerplate pool plus copies of other
    * documents' paragraphs), edited near-duplicate copies and documents
    * carrying an eval-split span planted in them. */
  def curate(seed: Long, nDocs: Int, parasPerDoc: Int): CurateInputs = {
    val tm = new TopicModel(seed)
    val rnd = new SplittableRandom(seed * 1000003L + 1)
    val topics = Array.fill(nDocs)(tm.topic(rnd))
    val paras: Array[Array[String]] =
      Array.tabulate(nDocs)(i => Array.fill(parasPerDoc)(tm.paragraph(rnd, topics(i))))
    val evalTexts = Vector.fill(EvalDocs) {
      val t = tm.topic(rnd)
      tm.text(rnd, t, EvalWords).mkString(" ")
    }

    // roles: copies sit in the upper nine tenths so each has a lower original
    val order = (0 until nDocs).toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val tmp = order(i); order(i) = order(j); order(j) = tmp
    }
    val nNear = math.round(NearDupShare * nDocs).toInt
    val nCont = math.round(ContaminatedShare * nDocs).toInt
    val copies = order.iterator.filter(_ >= nDocs / 10).take(nNear).toArray.sorted
    val copySet = copies.toSet
    val used = mutable.Set.empty[Int] ++ copySet
    val pairs = copies.map { c =>
      var o = rnd.nextInt(c)
      while (used(o)) o = rnd.nextInt(c)
      used += o
      (o, c)
    }
    for ((o, c) <- pairs) {
      topics(c) = topics(o)
      // one word replaced per paragraph: the copy shares ~3/4 of its
      // 3-shingles with the original, but no paragraph verbatim
      paras(c) = paras(o).map { p =>
        val ws = p.split(' ')
        val k = rnd.nextInt(ws.length)
        var w = tm.word(rnd, topics(o))
        while (w == ws(k)) w = tm.word(rnd, topics(o))
        ws(k) = w
        ws.mkString(" ")
      }
    }
    val contaminated = order.iterator.filterNot(used).take(nCont).toArray
    used ++= contaminated
    val spans = mutable.Set.empty[(Int, Int)]
    for (d <- contaminated) {
      var span = (rnd.nextInt(EvalDocs), rnd.nextInt(EvalWords - EvalSpanWords + 1))
      while (spans(span)) span = (rnd.nextInt(EvalDocs), rnd.nextInt(EvalWords - EvalSpanWords + 1))
      spans += span
      val ws = evalTexts(span._1).split(' ')
      paras(d)(1 + rnd.nextInt(parasPerDoc - 1)) =
        ws.slice(span._2, span._2 + EvalSpanWords).mkString(" ")
    }
    // duplicate paragraphs never replace paragraph 0, so no document
    // loses every paragraph to paragraph dedup
    val boiler = Array.fill(BoilerplatePool)(tm.paragraph(rnd, tm.topic(rnd)))
    val boilerZipf = new Zipf(BoilerplatePool, 1.0)
    val plain = (0 until nDocs).filterNot(used).toArray
    val nDup = math.round(DupParagraphShare * nDocs * parasPerDoc).toInt
    for (_ <- 0 until nDup) {
      val d = plain(rnd.nextInt(plain.length))
      val pos = 1 + rnd.nextInt(parasPerDoc - 1)
      paras(d)(pos) =
        if (rnd.nextBoolean()) boiler(boilerZipf.sample(rnd))
        else paras(plain(rnd.nextInt(plain.length)))(rnd.nextInt(parasPerDoc))
    }

    val docs = Vector.tabulate(nDocs)(i =>
      Doc(i.toLong, topics(i), lang(topics(i)), paras(i).mkString("\n")))
    val (dropped, truth) = groundTruth(paras, evalTexts)
    CurateInputs(docs, evalTexts, dropped, truth,
      pairs.toVector.map { case (o, c) => (o.toLong, c.toLong) })
  }

  /** Exact truth, computed independently of the program: paragraph dedup
    * keeps the first occurrence in (doc, position) order; a deduped
    * document is contaminated when any of its whitespace 13-grams occurs
    * in an eval text. */
  private def groundTruth(paras: Array[Array[String]],
      evalTexts: Vector[String]): (Long, Set[Long]) = {
    def grams(ws: Array[String]): Iterator[String] =
      ws.sliding(NgramN).filter(_.length == NgramN).map(_.mkString(" "))
    val evalGrams = evalTexts.iterator.flatMap(t => grams(t.split(' '))).toSet
    val evalFirst = evalGrams.map(_.takeWhile(_ != ' '))
    def hit(ws: Array[String]): Boolean = (0 to ws.length - NgramN).exists(i =>
      evalFirst(ws(i)) && evalGrams(ws.slice(i, i + NgramN).mkString(" ")))
    val seen = mutable.HashSet.empty[String]
    var dropped = 0L
    val contaminated = Set.newBuilder[Long]
    for (d <- paras.indices) {
      val kept = paras(d).filter { p =>
        val first = seen.add(p)
        if (!first) dropped += 1
        first
      }
      val ws = kept.mkString(" ").split(' ')
      if (hit(ws)) contaminated += d.toLong
    }
    (dropped, contaminated.result())
  }
}
