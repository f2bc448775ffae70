package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** ClassicSimilarity (Lucene-6 TF-IDF) scoring laws the DuckDB gate
  * can't cover: coord with an ABSENT clause (maxCoord counts every
  * scoring clause at weight construction), scores recomputed by an
  * independent in-spec pipeline, and the supported-shape guard.
  */
class ClassicSimSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private lazy val (searcher, docsToks) = {
    import spark.implicits._
    val files = Corpus.generate(120, seed = 77L)
    val ix = IndexBuilder.buildLogical(
      spark.createDataset(files).repartition(4).toDF(),
      "content", None, Seq("repo", "path", "commit"),
      BuildConfig(numBuckets = 4, numDocShards = 2, saltThreshold = 1000000L))
    val dir = java.nio.file.Files.createTempDirectory("graft-classic").toString
    IndexBuilder.writeIndex(ix, dir, "snap", 1)
    val toks = ix.docs.select("docId", "content").collect()
      .map(r => r.getLong(0) -> Analysis.simpleTokens(r.getString(1)))
      .toMap
    ix.unpersistCached(); ix.postings.unpersist()
    (new Searcher(spark, SegmentSearcher.load(dir)), toks)
  }

  /** Independent classic pipeline over the raw token lists. */
  private def expected(terms: Seq[String], kind: String): Seq[(Long, Float)] = {
    val n = docsToks.size.toLong
    def df(t: String): Long = docsToks.count(_._2.contains(t)).toLong
    def idf(t: String): Float =
      (math.log((n + 1) / (df(t) + 1).toDouble) + 1.0).toFloat
    var sumSq = 0f
    terms.foreach { t => val qw = idf(t); sumSq += qw * qw }
    var qn = (1.0 / math.sqrt(sumSq.toDouble)).toFloat
    if (qn.isInfinite || qn.isNaN) qn = 1f
    def value(t: String): Float = (qn * idf(t)) * idf(t)
    def fieldNorm(len: Int): Float = Norms.decodedNorm(len)
    def tscore(t: String, toks: Array[String]): Option[Float] = {
      val tf = toks.count(_ == t)
      if (tf == 0) None
      else Some((math.sqrt(tf.toFloat.toDouble).toFloat * value(t)) * fieldNorm(toks.length))
    }
    docsToks.toSeq.flatMap { case (id, toks) =>
      val subs = terms.flatMap(t => tscore(t, toks))
      kind match {
        case "or" if subs.nonEmpty =>
          var s = 0d; subs.foreach(s += _)
          val coord = subs.size.toFloat / terms.size.toFloat
          Some(id -> s.toFloat * coord)
        case "and" if subs.size == terms.size =>
          var s = 0d; subs.foreach(s += _)
          Some(id -> s.toFloat)
        case "term" if subs.nonEmpty => Some(id -> subs.head)
        case _ => None
      }
    }.sortBy { case (id, s) => (-s.toDouble, id) }.take(10)
  }

  private def got(q: Query): Seq[(Long, Float)] =
    searcher.search(q, 10, None, true, SegmentSearcher.SimClassic)
      .map(h => (h.docId, h.score.toFloat)).toSeq

  /** Independent pipeline for the MUST+SHOULD composite
    * (`BooleanTopLevelScorers.java:91-181`): reqScore = (float)Σdouble of
    * must clauses, opt = (float)Σdouble of MATCHED optionals, score =
    * (req +float opt) × coords[mustCount + matchedOptionals]; coords
    * over maxCoord = every scoring clause, absent terms included. With
    * minShouldMatch: docs matching < msm present optionals don't match.
    */
  private def expectedBool(must: Seq[String], should: Seq[String],
      msm: Int): Seq[(Long, Float)] = {
    val n = docsToks.size.toLong
    def df(t: String): Long = docsToks.count(_._2.contains(t)).toLong
    def idf(t: String): Float =
      (math.log((n + 1) / (df(t) + 1).toDouble) + 1.0).toFloat
    var sumSq = 0f
    (must ++ should).foreach { t => val qw = idf(t); sumSq += qw * qw }
    var qn = (1.0 / math.sqrt(sumSq.toDouble)).toFloat
    if (qn.isInfinite || qn.isNaN) qn = 1f
    def value(t: String): Float = (qn * idf(t)) * idf(t)
    def tscore(t: String, toks: Array[String]): Option[Float] = {
      val tf = toks.count(_ == t)
      if (tf == 0) None
      else Some((math.sqrt(tf.toFloat.toDouble).toFloat * value(t)) *
        Norms.decodedNorm(toks.length))
    }
    val presentShould = should.filter(df(_) > 0)
    val maxCoord = must.size + should.size
    def cf(i: Int): Float = if (i == 0) 0f else i.toFloat / maxCoord.toFloat
    if (msm > 0 && presentShould.size < msm) return Nil
    docsToks.toSeq.flatMap { case (id, toks) =>
      val mustSubs = must.map(t => tscore(t, toks))
      if (mustSubs.exists(_.isEmpty)) None
      else {
        val req: Float =
          if (must.size == 1) mustSubs.head.get
          else { var s = 0d; mustSubs.foreach(s += _.get); s.toFloat }
        val shouldSubs = presentShould.flatMap(t => tscore(t, toks))
        if (shouldSubs.size < msm) None
        else if (shouldSubs.isEmpty) Some(id -> req * cf(must.size))
        else {
          val opt: Float =
            if (shouldSubs.size == 1) shouldSubs.head
            else { var s = 0d; shouldSubs.foreach(s += _); s.toFloat }
          Some(id -> (req + opt) * cf(must.size + shouldSubs.size))
        }
      }
    }.sortBy { case (id, s) => (-s.toDouble, id) }.take(10)
  }

  test("classic term scores match an independent pipeline exactly") {
    assert(got(TermQ("def")) == expected(Seq("def"), "term"))
    assert(got(TermQ("index")) == expected(Seq("index"), "term"))
  }

  test("classic disjunction applies coord, including an ABSENT clause") {
    assert(got(Query.or(TermQ("def"), TermQ("merge"))) ==
      expected(Seq("def", "merge"), "or"))
    // absent term still counts in maxCoord: matching docs score coord(1,2)
    assert(got(Query.or(TermQ("def"), TermQ("zzzznotaterm"))) ==
      expected(Seq("def", "zzzznotaterm"), "or"))
  }

  test("classic conjunction: coord(n,n) = 1, double-sum float cast") {
    assert(got(Query.and(TermQ("def"), TermQ("merge"))) ==
      expected(Seq("def", "merge"), "and"))
  }

  test("classic MUST+SHOULD composite matches the independent pipeline") {
    def bq(m: Seq[String], s: Seq[String], msm: Int = 0): Query =
      BoolQ(must = m.map(TermQ), should = s.map(TermQ), minShouldMatch = msm)
    // ReqSingleOptScorer: one optional
    assert(got(bq(Seq("def"), Seq("merge"))) ==
      expectedBool(Seq("def"), Seq("merge"), 0))
    // ReqMultiOptScorer: 2+ optionals, per-doc matchCount drives coord
    assert(got(bq(Seq("def"), Seq("merge", "index"))) ==
      expectedBool(Seq("def"), Seq("merge", "index"), 0))
    // multi-must conjunction under the composite
    assert(got(bq(Seq("def", "index"), Seq("merge", "sort"))) ==
      expectedBool(Seq("def", "index"), Seq("merge", "sort"), 0))
    // ABSENT optional still counts in maxCoord (weight-time clause count)
    assert(got(bq(Seq("def"), Seq("zzzznotaterm", "merge"))) ==
      expectedBool(Seq("def"), Seq("zzzznotaterm", "merge"), 0))
  }

  test("classic MUST+SHOULD with minShouldMatch coordinates correctly") {
    def bq(m: Seq[String], s: Seq[String], msm: Int): Query =
      BoolQ(must = m.map(TermQ), should = s.map(TermQ), minShouldMatch = msm)
    // CoordinatingConjunctionScorer: msm makes the optionals required
    assert(got(bq(Seq("def"), Seq("merge", "index"), 1)) ==
      expectedBool(Seq("def"), Seq("merge", "index"), 1))
    assert(got(bq(Seq("def"), Seq("merge", "index"), 2)) ==
      expectedBool(Seq("def"), Seq("merge", "index"), 2))
    // single PRESENT optional + msm=1: plain conjunction with coord
    assert(got(bq(Seq("def"), Seq("merge", "zzzznotaterm"), 1)) ==
      expectedBool(Seq("def"), Seq("merge", "zzzznotaterm"), 1))
    // msm exceeds the present optionals: the query matches nothing
    assert(got(bq(Seq("def"), Seq("merge", "zzzznotaterm"), 2)).isEmpty)
  }

  test("classic boosted clauses: queryNorm·boost·idf·idf association") {
    val n = docsToks.size.toLong
    def df(t: String): Long = docsToks.count(_._2.contains(t)).toLong
    def idf(t: String): Float =
      (math.log((n + 1) / (df(t) + 1).toDouble) + 1.0).toFloat
    def qnOf(v: Float): Float = {
      val q = (1.0 / math.sqrt(v.toDouble)).toFloat
      if (q.isInfinite || q.isNaN) 1f else q
    }
    def tsc(value: Float, t: String, toks: Array[String]): Option[Float] = {
      val tf = toks.count(_ == t)
      if (tf == 0) None
      else Some((math.sqrt(tf.toFloat.toDouble).toFloat * value) *
        Norms.decodedNorm(toks.length))
    }
    def top(rows: Seq[(Long, Float)]): Seq[(Long, Float)] =
      rows.sortBy { case (id, s) => (-s.toDouble, id) }.take(10)

    // boosted clause inside a disjunction: vfn = ((idf²·b)·b) + idf²,
    // value_boosted = ((qn·b)·idf)·idf, coord unchanged
    locally {
      val iD = idf("def"); val iM = idf("merge")
      var v = 0f
      v += ((iD * iD) * 2f) * 2f
      v += iM * iM
      val qn = qnOf(v)
      val valD = ((qn * 2f) * iD) * iD
      val valM = ((qn * 1f) * iM) * iM
      val exp = top(docsToks.toSeq.flatMap { case (id, toks) =>
        val subs = Seq(tsc(valD, "def", toks), tsc(valM, "merge", toks)).flatten
        if (subs.isEmpty) None
        else {
          var s = 0d; subs.foreach(s += _)
          Some(id -> s.toFloat * (subs.size.toFloat / 2f))
        }
      })
      assert(got(Query.or(BoostQ(TermQ("def"), 2f), TermQ("merge"))) == exp)
    }

    // top-level boost over a conjunction: the whole subtree's sum
    // scales (sum·b)·b and every leaf's accumulated boost is b
    locally {
      val iD = idf("def"); val iM = idf("merge")
      var inner = 0f
      inner += iD * iD
      inner += iM * iM
      val qn = qnOf((inner * 0.5f) * 0.5f)
      val valD = ((qn * 0.5f) * iD) * iD
      val valM = ((qn * 0.5f) * iM) * iM
      val exp = top(docsToks.toSeq.flatMap { case (id, toks) =>
        (tsc(valD, "def", toks), tsc(valM, "merge", toks)) match {
          case (Some(a), Some(b)) =>
            var s = 0d; s += a; s += b
            Some(id -> s.toFloat)
          case _ => None
        }
      })
      assert(got(BoostQ(Query.and(TermQ("def"), TermQ("merge")), 0.5f)) == exp)
    }

    // boosted SHOULD inside the MUST+SHOULD composite
    locally {
      val iD = idf("def"); val iM = idf("merge"); val iI = idf("index")
      var v = 0f
      v += iD * iD
      v += ((iM * iM) * 3f) * 3f
      v += iI * iI
      val qn = qnOf(v)
      val valD = ((qn * 1f) * iD) * iD
      val valM = ((qn * 3f) * iM) * iM
      val valI = ((qn * 1f) * iI) * iI
      def cf(i: Int): Float = if (i == 0) 0f else i.toFloat / 3f
      val exp = top(docsToks.toSeq.flatMap { case (id, toks) =>
        tsc(valD, "def", toks).flatMap { req =>
          val subs = Seq(tsc(valM, "merge", toks),
            tsc(valI, "index", toks)).flatten
          if (subs.isEmpty) Some(id -> req * cf(1))
          else {
            val opt = if (subs.size == 1) subs.head
              else { var s = 0d; subs.foreach(s += _); s.toFloat }
            Some(id -> (req + opt) * cf(1 + subs.size))
          }
        }
      })
      assert(got(BoolQ(must = Seq(TermQ("def")),
        should = Seq(BoostQ(TermQ("merge"), 3f), TermQ("index")))) == exp)
    }

    // one term under two different boosts needs two weights — rejected
    intercept[IllegalArgumentException] {
      searcher.search(Query.or(BoostQ(TermQ("def"), 2f), TermQ("def")),
        10, None, true, SegmentSearcher.SimClassic)
    }
  }

  test("forced-distributed == driver-local for Classic and LMDirichlet") {
    // maxLocalBytes = 0 pushes every query onto the groupByKey shard
    // path; Plan.sim must survive serialization into executor closures
    val dist = new Searcher(spark, searcher.index, cacheSegments = false,
      maxLocalBytes = 0)
    try {
      for (sim <- Seq(SegmentSearcher.SimClassic, SegmentSearcher.SimLMDirichlet,
             SegmentSearcher.SimDFR);
           q <- Seq[Query](TermQ("def"), Query.or(TermQ("def"), TermQ("merge")),
             Query.and(TermQ("def"), TermQ("merge")))
             ++ (if (sim == SegmentSearcher.SimClassic)
               Seq[Query](BoolQ(must = Seq(TermQ("def")),
                 should = Seq(TermQ("merge"), TermQ("index"))))
             else Nil)) {
        val local = searcher.search(q, 10, None, true, sim)
          .map(h => (h.docId, h.score)).toSeq
        val forced = dist.search(q, 10, None, true, sim)
          .map(h => (h.docId, h.score)).toSeq
        assert(local == forced, s"sim=$sim q=$q")
      }
    } finally dist.close()
  }

  test("lmdirichlet term scores match an independent pipeline exactly") {
    val sumTtf = docsToks.values.map(_.length.toLong).sum
    def exp(t: String): Seq[(Long, Float)] = {
      val ttf = docsToks.values.map(_.count(_ == t).toLong).sum
      val cp = (ttf.toFloat + 1f) / (sumTtf.toFloat + 1f)
      val muCp = 2000f * cp
      docsToks.toSeq.flatMap { case (id, toks) =>
        val tf = toks.count(_ == t)
        if (tf == 0) None
        else {
          val dl = Norms.quantizedLength(toks.length)
          val s = (math.log((1f + tf.toFloat / muCp).toDouble) +
            math.log((2000f / (dl + 2000f)).toDouble)).toFloat
          Some(id -> (if (s > 0f) s else 0f))
        }
      }.sortBy { case (id, s) => (-s.toDouble, id) }.take(10)
    }
    def gotLm(t: String): Seq[(Long, Float)] =
      searcher.search(TermQ(t), 10, None, true, SegmentSearcher.SimLMDirichlet)
        .map(h => (h.docId, h.score.toFloat)).toSeq
    assert(gotLm("def") == exp("def"))
    assert(gotLm("index") == exp("index"))
  }

  test("dfr gb2 scores match an independent pipeline exactly") {
    val n = docsToks.size.toLong
    val sumTtf = docsToks.values.map(_.length.toLong).sum
    // SimilarityBase avgFieldLength: float cast THEN float division
    val avgdl = sumTtf.toFloat / n.toFloat
    val ln2 = math.log(2)
    def sub(t: String, toks: Array[String]): Option[Float] = {
      val df = docsToks.count(_._2.contains(t)).toLong
      val ttf = docsToks.values.map(_.count(_ == t).toLong).sum
      val fD = (ttf + 1).toDouble
      val lambda = fD / (n.toDouble + fD)
      val g1 = math.log(lambda + 1) / ln2
      val g2 = math.log((1 + lambda) / lambda) / ln2
      val tf = toks.count(_ == t)
      if (tf == 0) None
      else {
        val docLen = Norms.quantizedLength(toks.length)
        val tfn = (tf.toFloat.toDouble *
          (math.log((1f + avgdl / docLen).toDouble) / ln2)).toFloat
        val bm = (g1 + tfn.toDouble * g2).toFloat
        val ae = (ttf + 2L).toFloat / ((df + 1L).toFloat * (tfn + 1f))
        Some((1f * bm) * ae)
      }
    }
    def top(rows: Seq[(Long, Float)]): Seq[(Long, Float)] =
      rows.sortBy { case (id, s) => (-s.toDouble, id) }.take(10)
    def gotD(q: Query): Seq[(Long, Float)] =
      searcher.search(q, 10, None, true, SegmentSearcher.SimDFR)
        .map(h => (h.docId, h.score.toFloat)).toSeq
    for (t <- Seq("def", "index")) {
      val exp = top(docsToks.toSeq.flatMap { case (id, toks) =>
        sub(t, toks).map(id -> _)
      })
      assert(gotD(TermQ(t)) == exp, s"term $t")
    }
    // disjunction: plain (float)Σdouble of member scores, no coord
    val expOr = top(docsToks.toSeq.flatMap { case (id, toks) =>
      val subs = Seq(sub("def", toks), sub("merge", toks)).flatten
      if (subs.isEmpty) None
      else { var s = 0d; subs.foreach(s += _); Some(id -> s.toFloat) }
    })
    assert(gotD(Query.or(TermQ("def"), TermQ("merge"))) == expOr)
    // conjunction
    val expAnd = top(docsToks.toSeq.flatMap { case (id, toks) =>
      (sub("def", toks), sub("merge", toks)) match {
        case (Some(a), Some(b)) =>
          var s = 0d; s += a; s += b; Some(id -> s.toFloat)
        case _ => None
      }
    })
    assert(gotD(Query.and(TermQ("def"), TermQ("merge"))) == expAnd)
  }

  test("unsupported shapes are rejected loudly") {
    intercept[IllegalArgumentException] {
      searcher.search(PhraseQ(Seq("def", "merge")), 10, None, true,
        SegmentSearcher.SimClassic)
    }
  }
}
