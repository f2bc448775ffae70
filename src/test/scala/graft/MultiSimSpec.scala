package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Corpus
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** MultiSimilarity (CombSUM, `similarities/MultiSimilarity.java:37`):
  * per-term score = FLOAT-accumulated sum of the component sims' scores
  * in component order. Verified against the independently gate-proven
  * per-sim engine paths (the component scores come from SEPARATE search
  * runs, not the multi scorer), plus distributed parity and the loud
  * input guards.
  */
class MultiSimSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import SegmentSearcher._

  private lazy val (searcher, ixDir) = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-multisim").toString
    val files = Corpus.generate(240, seed = 83L)
    val ix = IndexBuilder.buildLogical(
      spark.createDataset(files).repartition(4).toDF(),
      "content", None, Seq("repo", "path", "commit"),
      BuildConfig(numBuckets = 4, numDocShards = 2, saltThreshold = 90L))
    IndexBuilder.writeIndex(ix, tmp, "msim", 1)
    ix.unpersistCached(); ix.postings.unpersist()
    (new Searcher(spark, SegmentSearcher.load(tmp)), tmp)
  }

  private def scores(q: Query, sim: Int): Map[Long, Double] =
    searcher.search(q, 500, None, true, sim).map(h => h.docId -> h.score).toMap

  /** Stepwise float accumulation in component order — the
    * MultiSimScorer.score law.
    */
  private def combSum(parts: Seq[Float]): Float = {
    var s = 0f
    parts.foreach(s += _)
    s
  }

  test("multi(term) == float fold of the per-sim engine scores") {
    val combos = Seq(
      Seq(SimBm25, SimLMDirichlet),
      Seq(SimLMDirichlet, SimBm25), // order matters in float
      Seq(SimBm25, SimClassic, SimDFR),
      Seq(SimBm25, SimLMJM, SimDFRPL2, SimDFIChi))
    for (t <- Seq("def", "index", "spark"); kinds <- combos) {
      val multi = searcher.search(TermQ(t), 500, multiSims = kinds)
      assert(multi.nonEmpty, s"$t/$kinds")
      val perSim = kinds.map {
        case SimClassic =>
          // standalone Classic applies queryNorm = 1/idf (single term);
          // under Multi queryNorm is the base similarity's 1f — recompute
          // the component from first principles instead
          val st = searcher.stats(Set(t))(t)
          val n = searcher.index.manifest.docCount
          val idf = (math.log((n + 1) / (st._1 + 1).toDouble) + 1.0).toFloat
          val v = idf * idf
          scoresClassicComponent(t, v)
        case k => scores(TermQ(t), k)
      }
      multi.foreach { h =>
        val parts = perSim.map(_(h.docId).toFloat)
        assert(h.score == combSum(parts).toDouble,
          s"term=$t kinds=$kinds doc=${h.docId}")
      }
    }
  }

  /** Classic component from first principles: (√tf · idf²) · byte315
    * fieldNorm, over raw tokens + the stored norm byte law.
    */
  private def scoresClassicComponent(t: String, v: Float): Map[Long, Double] = {
    val docs = spark.read.parquet(s"$ixDir/docs")
      .select("docId", "length", "content").collect()
    docs.flatMap { r =>
      val toks = graft.core.Analysis.simpleTokens(r.getString(2))
      val tf = toks.count(_ == t)
      if (tf == 0) None
      else {
        val nb = graft.core.Norms.normByte(r.getInt(1))
        val norm = graft.core.SmallFloat.byte315ToFloat(nb)
        Some(r.getLong(0) ->
          ((math.sqrt(tf.toDouble).toFloat * v) * norm).toDouble)
      }
    }.toMap
  }

  test("multi disjunction: per-term CombSUM, double-summed across terms") {
    val kinds = Seq(SimBm25, SimLMDirichlet)
    val q = Query.or(TermQ("def"), TermQ("merge"))
    val multi = searcher.search(q, 500, multiSims = kinds)
    assert(multi.nonEmpty)
    val perTerm = Seq("def", "merge").map { t =>
      val bm = scores(TermQ(t), SimBm25)
      val lm = scores(TermQ(t), SimLMDirichlet)
      bm.keySet.map(d => d -> combSum(Seq(bm(d).toFloat, lm(d).toFloat))).toMap
    }
    multi.foreach { h =>
      var s = 0d
      perTerm.foreach(m => m.get(h.docId).foreach(s += _.toDouble))
      assert(h.score == s.toFloat.toDouble, s"doc=${h.docId}")
    }
  }

  test("forced-distributed parity") {
    val dist = new Searcher(spark, SegmentSearcher.load(ixDir),
      cacheSegments = false, maxLocalBytes = 0L)
    val kinds = Seq(SimBm25, SimClassic, SimDFR)
    for (q <- Seq[Query](TermQ("def"),
        Query.or(TermQ("def"), TermQ("merge")),
        Query.and(TermQ("def"), TermQ("val")))) {
      val a = searcher.search(q, 50, multiSims = kinds).toSeq
        .map(h => (h.docId, h.score))
      val b = dist.search(q, 50, multiSims = kinds).toSeq
        .map(h => (h.docId, h.score))
      assert(a == b, s"q=$q")
    }
  }

  test("loud guards: arity, nesting, boosts, unsupported shapes") {
    intercept[IllegalArgumentException](
      searcher.search(TermQ("def"), 5, multiSims = Seq(SimBm25)))
    intercept[IllegalArgumentException](
      searcher.search(TermQ("def"), 5,
        multiSims = Seq(SimBm25, SimMulti)))
    intercept[IllegalArgumentException](
      searcher.search(BoostQ(TermQ("def"), 2f), 5,
        multiSims = Seq(SimBm25, SimLMDirichlet)))
    intercept[IllegalArgumentException](
      searcher.search(PhraseQ(Seq("def", "val")), 5,
        multiSims = Seq(SimBm25, SimLMDirichlet)))
  }
}
