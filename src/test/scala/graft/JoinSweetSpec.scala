package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** Laws the DuckDB gate can't pin: (1) the JoinUtil score folds are the
  * ORDERED float `+=` of TermsWithScoreCollector.SV — a fixture whose
  * float sum is order-sensitive proves doc_id order is the one used;
  * (2) SweetSpotSimilarity vs an independent in-spec pipeline on a
  * sweet-normed index; (3) the norm-encoder/similarity mismatch guards.
  */
class JoinSweetSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  // ---------- JoinUtil fold laws ----------

  private def joinOn(scores: Seq[(Long, Float)], jv: Map[Long, String],
      mode: String, k: Int = 100): Seq[(Long, Double)] = {
    import spark.implicits._
    val docs = jv.toSeq.map { case (d, v) => (d, v) }.toDF("doc_id", "src")
    val sc = scores.toDF("docId", "score")
    graft.ops.Join.joinScored(docs, sc, "src", "src", mode, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("Total fold is float += in doc_id order (order-sensitive fixture)") {
    // float fold in id order: ((1e8 + 1) + -1e8) = 0f  (1e8+1 rounds to 1e8)
    // any other order (e.g. (1e8 + -1e8) + 1) would give 1f
    val scores = Seq(1L -> 1e8f, 2L -> 1f, 3L -> -1e8f)
    val jv = Map(1L -> "a", 2L -> "a", 3L -> "a", 9L -> "a")
    val got = joinOn(scores, jv, "total")
    assert(got.map(_._2).distinct == Seq(0.0))
    assert(got.map(_._1).sorted == Seq(1L, 2L, 3L, 9L))
  }

  test("Avg = ordered float sum / int count, applied once at the end") {
    val scores = Seq(1L -> 3f, 2L -> 4f, 5L -> 6f)
    val jv = Map(1L -> "a", 2L -> "a", 5L -> "b", 7L -> "b")
    val got = joinOn(scores, jv, "avg").toMap
    assert(got(1L) == ((3f + 4f) / 2f).toDouble)
    assert(got(5L) == 6.0 && got(7L) == 6.0)
  }

  test("Max / Min / None fold laws") {
    val scores = Seq(1L -> 3f, 2L -> 7f, 3L -> 5f)
    val jv = Map(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "b")
    assert(joinOn(scores, jv, "max").toMap.apply(1L) == 7.0)
    assert(joinOn(scores, jv, "min").toMap.apply(2L) == 3.0)
    val none = joinOn(scores, jv, "none").toMap
    assert(none(3L) == 1.0 && !none.contains(4L)) // b never matched
    intercept[IllegalArgumentException] { joinOn(scores, jv, "bogus") }
  }

  test("joinScoredLocal ≡ the distributed fold+broadcast path (all modes)") {
    val ix = IndexBuilder.buildLogical(
      Corpus.dataset(spark, 300, seed = 77L).repartition(4).toDF(),
      "content", None, Seq("repo", "path", "commit", "lang"),
      BuildConfig(numBuckets = 4, numDocShards = 2,
        saltThreshold = 1000000L))
    val dir = java.nio.file.Files.createTempDirectory("graft-joinloc").toString
    IndexBuilder.writeIndex(ix, dir, "snap", 1)
    val docs = ix.docs.select(col("docId").as("doc_id"), col("repo"))
    val local = new Searcher(spark, SegmentSearcher.load(dir))
    val gated = new Searcher(spark, SegmentSearcher.load(dir),
      cacheSegments = false, maxLocalBytes = 0L)
    for (q <- Seq(TermQ("merge"), TermQ("def"),
           Query.or(TermQ("spark"), TermQ("codec")));
         mode <- Seq("avg", "max", "min", "total")) {
      val dist = graft.ops.Join
        .joinScored(docs, DataFrameSearcher.scores(ix, q),
          "repo", "repo", mode, 50)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
        .toSeq
      val loc = local.joinScoredLocal(q, "repo", "repo", mode, 50)
      assert(loc.isDefined, s"$q/$mode should take the local tier")
      val locRows = loc.get.zipWithIndex
        .map { case (h, i) => (h.docId, h.score, i + 1) }.toSeq
      // exact doubles: the fold laws must be bit-identical, not close
      assert(locRows == dist, s"$q mode=$mode")
      // beyond the gate the tier declines and callers fall back
      assert(gated.joinScoredLocal(q, "repo", "repo", mode, 50).isEmpty)
    }
    // mode none has no local fold (TermsQuery rewrite)
    assert(local.joinScoredLocal(TermQ("merge"), "repo", "repo",
      "none", 50).isEmpty)
    ix.unpersistCached(); ix.postings.unpersist()
    local.close(); gated.close()
  }

  // ---------- SweetSpotSimilarity ----------

  private lazy val (sweetSearcher, docsToks) = {
    import spark.implicits._
    val files = Corpus.generate(150, seed = 33L)
    val ix = IndexBuilder.buildLogical(
      spark.createDataset(files).repartition(4).toDF(),
      "content", None, Seq("repo", "path", "commit"),
      BuildConfig(numBuckets = 4, numDocShards = 2, saltThreshold = 1000000L,
        normSim = "sweetspot:8:40:0.5"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sweet").toString
    IndexBuilder.writeIndex(ix, dir, "snap", 1)
    val toks = ix.docs.select("docId", "content").collect()
      .map(r => r.getLong(0) -> Analysis.simpleTokens(r.getString(1)))
      .toMap
    ix.unpersistCached(); ix.postings.unpersist()
    (new Searcher(spark, SegmentSearcher.load(dir)), toks)
  }

  test("lengthNorm plateau: [min,max] encodes to exactly 1; sides fall off") {
    for (l <- 8 to 40)
      assert(SmallFloat.byte315ToFloat(
        Norms.sweetSpotNormByte(l, 8, 40, 0.5f)) == 1f)
    assert(SmallFloat.byte315ToFloat(Norms.sweetSpotNormByte(2, 8, 40, 0.5f)) < 1f)
    assert(SmallFloat.byte315ToFloat(Norms.sweetSpotNormByte(200, 8, 40, 0.5f)) < 1f)
  }

  test("baselineTf: 0→0, tf≤min→base, continuous at the knee, then sqrt-ish") {
    assert(SegmentSearcher.sweetSpotTf(0f) == 0f)
    assert(SegmentSearcher.sweetSpotTf(1f) == 1.5f)
    assert(SegmentSearcher.sweetSpotTf(2f) == 1.5f)
    // at tf = min + base² − base² ... reference: sqrt(tf + base² − min)
    assert(SegmentSearcher.sweetSpotTf(3f) ==
      math.sqrt((3f + 2.25f - 2f).toDouble).toFloat)
    assert(SegmentSearcher.sweetSpotTf(10f) > SegmentSearcher.sweetSpotTf(3f))
  }

  /** Independent SweetSpot pipeline over raw token lists. */
  private def expectedSweet(terms: Seq[String]): Map[Long, Float] = {
    val n = docsToks.size.toLong
    def df(t: String): Long = docsToks.count(_._2.contains(t)).toLong
    def idf(t: String): Float =
      (math.log((n + 1) / (df(t) + 1).toDouble) + 1.0).toFloat
    var sumSq = 0f
    terms.foreach { t => val qw = idf(t); sumSq += qw * qw }
    var qn = (1.0 / math.sqrt(sumSq.toDouble)).toFloat
    if (qn.isInfinite || qn.isNaN) qn = 1f
    def value(t: String): Float = (qn * idf(t)) * idf(t)
    def fieldNorm(len: Int): Float =
      SmallFloat.byte315ToFloat(Norms.sweetSpotNormByte(len, 8, 40, 0.5f))
    docsToks.flatMap { case (id, toks) =>
      val subs = terms.flatMap { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) None
        else Some((SegmentSearcher.sweetSpotTf(tf.toFloat) * value(t)) *
          fieldNorm(toks.length))
      }
      if (subs.isEmpty) None
      else {
        var s = 0d; subs.foreach(s += _)
        val coord =
          if (terms.size > 1) subs.size.toFloat / terms.size.toFloat else 1f
        Some(id -> s.toFloat * coord)
      }
    }
  }

  test("SweetSpot term + or2 match an independent in-spec pipeline") {
    for (terms <- Seq(Seq("val"), Seq("def", "class"))) {
      val q = if (terms.size == 1) TermQ(terms.head)
        else Query.or(terms.map(TermQ.apply): _*)
      val hits = sweetSearcher.search(q, 12, None, true,
        SegmentSearcher.SimSweetSpot)
      val exp = expectedSweet(terms).toSeq
        .sortBy { case (id, s) => (-s.toDouble, id) }.take(12)
      assert(hits.map(h => (h.docId, h.score)).toSeq ==
        exp.map { case (id, s) => (id, s.toDouble) })
    }
  }

  test("norm-encoder/similarity mismatch is rejected loudly both ways") {
    intercept[IllegalArgumentException] {
      sweetSearcher.search(TermQ("val"), 5) // BM25 on sweet norms
    }
    intercept[IllegalArgumentException] {
      // SweetSpot on default norms
      val files = Corpus.generate(30, seed = 5L)
      import spark.implicits._
      val ix = IndexBuilder.buildLogical(
        spark.createDataset(files).toDF(), "content", None,
        Seq("repo", "path", "commit"),
        BuildConfig(numBuckets = 2, numDocShards = 1, saltThreshold = 1000000L))
      val dir = java.nio.file.Files.createTempDirectory("graft-sweet-bad").toString
      IndexBuilder.writeIndex(ix, dir, "snap", 1)
      ix.unpersistCached(); ix.postings.unpersist()
      new Searcher(spark, SegmentSearcher.load(dir))
        .search(TermQ("val"), 5, None, true, SegmentSearcher.SimSweetSpot)
    }
  }

  // ---------- multi-field sort ----------

  test("searchBySort: chain ordering, tie fall-through, distributed parity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark a b", 30L), (2L, "spark a b", 10L),
      (3L, "spark a b c d", 99L), (4L, "spark a b", 20L),
      (5L, "nothing here", 5L), (6L, "spark x y z w q", 7L))
      .toDF("doc_id", "text", "aux")
    val ix = graft.index.IndexBuilder.buildLogical(docs, "text",
      Some("doc_id"), Nil, graft.index.IndexBuilder.BuildConfig(
        numBuckets = 2, numDocShards = 1, saltThreshold = 100000L))
    val dir = java.nio.file.Files.createTempDirectory("graft-msort").toString
    graft.index.IndexBuilder.writeIndex(ix, dir, "snap", 1)
    ix.unpersistCached(); ix.postings.unpersist()
    val local = new Searcher(spark, SegmentSearcher.load(dir))
    // docs 1,2,4 tie on length (3 tokens) -> aux DESC breaks: 1(30),4(20),2(10)
    val got = local.searchBySort(TermQ("spark"), 10,
      Seq(("length", true), ("aux", false))).map(_._1).toSeq
    assert(got == Seq(1L, 4L, 2L, 3L, 6L))
    // k cuts inside the tie group
    assert(local.searchBySort(TermQ("spark"), 2,
      Seq(("length", true), ("aux", false))).map(_._1).toSeq == Seq(1L, 4L))
    // forced-distributed parity
    val dist = new Searcher(spark, SegmentSearcher.load(dir),
      cacheSegments = false, maxLocalBytes = 0L)
    val a = local.searchBySort(TermQ("spark"), 10,
      Seq(("length", true), ("aux", false))).map(t => (t._1, t._2.toSeq)).toSeq
    val b = dist.searchBySort(TermQ("spark"), 10,
      Seq(("length", true), ("aux", false))).map(t => (t._1, t._2.toSeq)).toSeq
    assert(a == b)
    local.close(); dist.close()
  }
}
