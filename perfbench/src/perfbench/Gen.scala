package perfbench

import scala.util.Random
import graft.search.{PhraseQ, PrefixQ, Query, TermQ}

/** Seeded inputs of the benchmark: the code-file table, the query mix and
  * the delete batches. Everything here is a pure function of the seed; the
  * engine only ever sees the rows and queries produced here.
  */
object Gen {

  final case class Doc(repo: String, path: String, commit: String,
      lang: String, content: String)

  /** A generated corpus plus the counts the generator knows about it. */
  final case class Corpus(docs: Array[Doc], df: Map[String, Int],
      sumTotalTermFreq: Long, contentBytes: Long,
      idioms: Array[Array[String]], bigrams: Array[(String, String)]) {
    def numDocs: Int = docs.length
  }

  final case class Q(name: String, query: Query, k: Int)

  val VocabSize = 30000
  private val Consonants = "bcdfghklmnprstvwz"
  private val Vowels = "aeiou"
  private val Seps = Array(" ", " ", " ", ".", "(", ")", ", ", " = ",
    ";\n  ", "\n", "->", "[", "]")
  private val Langs = Array("scala", "java", "py", "c", "go", "rs")

  /** Distinct identifiers, camel-cased for display; `simpleTokens` turns
    * each into exactly its lowercase form (one token).
    */
  private def vocabulary(rnd: Random): Array[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Array.newBuilder[String]
    while (seen.size < VocabSize) {
      val syl = 2 + rnd.nextInt(3)
      val sb = new StringBuilder
      var i = 0
      while (i < syl) {
        val c = Consonants.charAt(rnd.nextInt(Consonants.length))
        sb.append(if (i > 0 && rnd.nextInt(3) == 0) c.toUpper else c)
        sb.append(Vowels.charAt(rnd.nextInt(Vowels.length)))
        i += 1
      }
      if (rnd.nextInt(10) == 0) sb.append(rnd.nextInt(10))
      val w = sb.toString
      if (seen.add(w.toLowerCase)) out += w
    }
    out.result()
  }

  /** Zipf(s = 1) over `n` ranks: cumulative weights for inverse-CDF draws. */
  private def zipfCdf(n: Int): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
    c
  }

  private def draw(rnd: Random, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf(cdf.length - 1))
    if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
  }

  /** The "language" shared by every seed: the vocabulary in Zipf rank
    * order and 40 idioms of 2-3 mid-frequency words. Fixed, so that seeds
    * vary the documents and queries but not the term statistics' shape.
    */
  private lazy val language: (Array[String], Array[Array[Int]]) = {
    val rnd = new Random(20111L)
    val vocab = vocabulary(rnd)
    (vocab, Array.fill(40)(Array.fill(2 + rnd.nextInt(2))(50 + rnd.nextInt(1950))))
  }

  /** `numDocs` files: log-normal token counts (median 48, long right tail
    * up to 4000), Zipf vocabulary with a long tail of rare identifiers,
    * and recurring 2-3 word idioms so phrases have real matches.
    */
  def corpus(numDocs: Int, seed: Long): Corpus = {
    val rnd = new Random(seed)
    val (vocab, idioms) = language
    val lower = vocab.map(_.toLowerCase)
    val cdf = zipfCdf(vocab.length)
    val df = new java.util.HashMap[String, Int]()
    val bigrams = Array.newBuilder[(String, String)]
    var sumTtf = 0L
    var bytes = 0L
    val docs = Array.tabulate(numDocs) { i =>
      val len = math.max(1, math.min(4000,
        math.round(math.exp(math.log(48) + 1.1 * rnd.nextGaussian())).toInt))
      val toks = new Array[Int](len)
      var t = 0
      while (t < len) {
        if (rnd.nextInt(25) == 0) {
          val id = idioms(rnd.nextInt(idioms.length))
          var j = 0
          while (j < id.length && t < len) { toks(t) = id(j); t += 1; j += 1 }
        } else { toks(t) = draw(rnd, cdf); t += 1 }
      }
      val sb = new StringBuilder
      val inDoc = scala.collection.mutable.HashSet.empty[Int]
      t = 0
      while (t < len) {
        if (t > 0) sb.append(Seps(rnd.nextInt(Seps.length)))
        sb.append(vocab(toks(t)))
        inDoc += toks(t)
        t += 1
      }
      inDoc.foreach(w => df.merge(lower(w), 1, (a: Int, b: Int) => a + b))
      if (i % 97 == 0 && len >= 2) {
        val p = rnd.nextInt(len - 1)
        bigrams += ((lower(toks(p)), lower(toks(p + 1))))
      }
      sumTtf += len
      val content = sb.toString
      bytes += content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      val lang = Langs(rnd.nextInt(Langs.length))
      Doc(f"org${draw(rnd, cdf) % 50}%02d/proj${rnd.nextInt(400)}%03d",
        s"src/main/p${rnd.nextInt(40)}/F$i.$lang",
        f"${rnd.nextLong()}%016x", lang, content)
    }
    import scala.jdk.CollectionConverters._
    Corpus(docs, df.asScala.toMap, sumTtf, bytes,
      idioms.map(_.map(lower)), bigrams.result())
  }

  /** Salting threshold for the corpus: the shipped default (50k) assumes
    * far larger inputs, so scale it to keep the hottest terms salted.
    */
  def saltThreshold(numDocs: Int): Long = math.max(1L, numDocs / 4L)

  /** The distinct queries of the mix: single terms at hot (salted), mid,
    * rare and absent df; AND/OR of 2 and 3 terms; OR with msm = 2; NOT;
    * exact phrase; prefix. Terms come from narrow df-rank bands and k is
    * fixed per query, so every seed's mix costs about the same.
    */
  def queryMix(c: Corpus, seed: Long): Array[Q] = {
    val rnd = new Random(seed * 7919L + 17L)
    val byDf = c.df.toArray.sortBy { case (t, d) => (-d, t) }.map(_._1)
    val rank = byDf.zipWithIndex.toMap
    def band(lo: Int, hi: Int): String = byDf(lo + rnd.nextInt(hi - lo))
    def hot() = TermQ(band(0, 3))
    def mid() = TermQ(band(200, 220))
    val rareTerms = c.df.collect { case (t, d) if d >= 3 && d <= 5 => t }.toArray.sorted
    def rare() = TermQ(rareTerms(rnd.nextInt(rareTerms.length)))
    val absent = Iterator.continually("zq" + rnd.alphanumeric.take(6).mkString.toLowerCase)
      .find(t => !c.df.contains(t)).get
    // phrases and prefixes whose terms stay out of the head, so their
    // cost does not swing with the seed
    def inBand(t: String) = rank.get(t).exists(r => r >= 50 && r < 600)
    val bigrams = c.bigrams.filter { case (a, b) => inBand(a) && inBand(b) }
    val bi = bigrams(rnd.nextInt(bigrams.length))
    val idioms = c.idioms.filter(_.forall(inBand))
    def prefix(len: Int, from: () => String): PrefixQ =
      Iterator.continually(from().take(len)).find { p =>
        val ds = c.df.collect { case (t, d) if t.startsWith(p) => d }
        ds.sum >= c.numDocs / 40 && ds.sum <= c.numDocs / 8 &&
          ds.forall(_ < c.numDocs / 10)
      }.map(PrefixQ).get
    Array(
      Q("term_hot", hot(), 10),
      Q("term_hot", hot(), 100),
      Q("term_mid", mid(), 100),
      Q("term_rare", rare(), 10),
      Q("term_absent", TermQ(absent), 10),
      Q("and2", Query.and(hot(), mid()), 10),
      Q("and2", Query.and(mid(), mid()), 100),
      Q("and3", Query.and(rnd.shuffle(byDf.take(3).toList).take(2).map(TermQ) :+ mid(): _*), 10),
      Q("or2", Query.or(mid(), rare()), 100),
      Q("or3", Query.or(hot(), mid(), rare()), 10),
      Q("or_msm2", Query.orMin(2, hot(), mid(), mid()), 100),
      Q("not", Query.not(hot(), mid()), 10),
      Q("phrase", PhraseQ(idioms(rnd.nextInt(idioms.length)).toSeq), 10),
      Q("phrase", PhraseQ(Seq(bi._1, bi._2)), 100),
      Q("prefix", prefix(4, () => band(200, 260)), 10),
      Q("prefix", prefix(3, () => rare().term), 100))
  }

  /** One tombstone batch: half drawn from docIds the last answers
    * returned (so a leak would show), half uniform over the corpus.
    */
  def deleteBatch(rnd: Random, numDocs: Int, recentHits: Array[Long],
      size: Int): Seq[Long] = {
    val fromHits =
      if (recentHits.isEmpty) Seq.empty
      else Seq.fill(size / 2)(recentHits(rnd.nextInt(recentHits.length)))
    (fromHits ++ Seq.fill(size - fromHits.size)(rnd.nextInt(numDocs).toLong)).distinct
  }
}
