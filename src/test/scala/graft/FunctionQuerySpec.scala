package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** Function queries (`lucene/queries/.../function/`) pinned against
  * from-scratch float recomputations in spec code (independent of both
  * the Column evaluator and the local evaluator), plus local ↔
  * forced-distributed parity for BoostedQuery.
  */
class FunctionQuerySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private lazy val (dir, nlenOf) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    val files = Corpus.generate(140, seed = 1313L)
    val df = spark.createDataset(files).repartition(4).toDF()
      .withColumn("nlen", length(col("content")).cast("long"))
    val ix = IndexBuilder.buildLogical(df, "content", None,
      Seq("repo", "path", "commit"),
      BuildConfig(numBuckets = 4, numDocShards = 2, saltThreshold = 1000000L))
    val d = java.nio.file.Files.createTempDirectory("graft-func").toString
    IndexBuilder.writeIndex(ix, d, "snap", 1)
    val nlens = ix.docs.select("docId", "nlen").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ix.unpersistCached(); ix.postings.unpersist()
    (d, nlens)
  }

  private lazy val searcher = new Searcher(spark, SegmentSearcher.load(dir))
  private lazy val distSearcher =
    new Searcher(spark, SegmentSearcher.load(dir), cacheSegments = false,
      maxLocalBytes = 0L)

  private val composite: ValueSrc = SumV(Seq(
    DivV(
      ProductV(Seq(
        MaxV(Seq(
          RecipV(FieldV("nlen"), 0.01f, 5f, 1f),
          MinV(Seq(
            LinearV(SqrtV(FieldV("nlen")), 0.5f, 2f),
            PowV(FieldV("nlen"), ConstV(0.5f)))))),
        RangeMapV(FieldV("nlen"), 100f, 300f, 7f, None))),
      SumV(Seq(
        Log10V(SumV(Seq(
          DivV(ProductV(Seq(ConstV(0.1f), FieldV("nlen"))), ConstV(1f)),
          ConstV(1f)))),
        ConstV(1f)))),
    AbsV(ConstV(-3f))))

  test("functionDf matches a from-scratch float recompute on every node type") {
    val got = searcher.functionDf(composite).collect()
      .map(r => r.getLong(0) -> r.getFloat(1)).toMap
    assert(got.size == nlenOf.size)
    nlenOf.foreach { case (d, n) =>
      val exp = {
        val x = n.toFloat
        val recip = 5f / (0.01f * x + 1f)
        val lin = math.sqrt(x.toDouble).toFloat * 0.5f + 2f
        val p = math.pow(x.toDouble, 0.5f.toDouble).toFloat
        val mx = math.max(recip, math.min(lin, p))
        val rm = if (x >= 100f && x <= 300f) 7f else x
        val lg = math.log10((0.1f * x / 1f + 1f).toDouble).toFloat
        (mx * rm / (lg + 1f)) + math.abs(-3f)
      }
      assert(got(d) == exp, s"doc $d nlen $n")
    }
  }

  test("searchFunction: top-k by value desc, docId tie-break, exact scores") {
    val vs = RecipV(FieldV("nlen"), 1f, 1000f, 1f)
    val exp = nlenOf.toSeq
      .map { case (d, n) => (d, 1000f / (1f * n.toFloat + 1f)) }
      .sortBy { case (d, s) => (-s.toDouble, d) }.take(10)
    val got = searcher.search(FunctionQ(vs), 10)
    assert(got.map(h => (h.docId, h.score.toFloat)).toSeq == exp)
  }

  test("searchFunction: NaN maps to -Float.MAX_VALUE (ValueSourceScorer law)") {
    // log10 of a negative linear transform → NaN for every doc
    val vs = Log10V(LinearV(FieldV("nlen"), 1f, -1e9f))
    val got = searcher.search(FunctionQ(vs), 5)
    assert(got.forall(_.score == -Float.MaxValue.toDouble))
    // NaN scores all equal → docId asc order
    assert(got.map(_.docId).toSeq == got.map(_.docId).toSeq.sorted)
  }

  test("ScaleV: corpus min → target min, corpus max → target max") {
    val hits = searcher.search(FunctionQ(ScaleV(FieldV("nlen"), 0f, 100f)),
      nlenOf.size)
    val byDoc = hits.map(h => h.docId -> h.score.toFloat).toMap
    val minDoc = nlenOf.minBy(_._2)._1
    val maxDoc = nlenOf.maxBy(_._2)._1
    assert(byDoc(maxDoc) == 100f)
    assert(byDoc(minDoc) == 0f)
    // law recompute
    val (mn, mx) = (nlenOf.values.min.toFloat, nlenOf.values.max.toFloat)
    val scale = 100f / (mx - mn)
    nlenOf.foreach { case (d, n) =>
      assert(byDoc(d) == (n.toFloat - mn) * scale + 0f)
    }
  }

  test("QueryV: match score where matched, defVal elsewhere") {
    val vs = SumV(Seq(QueryV(TermQ("merge"), 0.25f), ConstV(1f)))
    val matches = searcher.search(TermQ("merge"), nlenOf.size)
      .map(h => h.docId -> h.score.toFloat).toMap
    val got = searcher.functionDf(vs).collect()
      .map(r => r.getLong(0) -> r.getFloat(1)).toMap
    assert(matches.nonEmpty && matches.size < nlenOf.size)
    nlenOf.keys.foreach { d =>
      val exp = matches.getOrElse(d, 0.25f) + 1f
      assert(got(d) == exp, s"doc $d")
    }
  }

  test("searchBoosted: refold + local ↔ forced-distributed parity") {
    val q = BoolQ(should = Seq(TermQ("merge"), TermQ("sort")))
    val vs = RecipV(FieldV("nlen"), 0.01f, 5f, 1f)
    val all = searcher.search(q, nlenOf.size)
    val exp = all.map { h =>
      val v = 5f / (0.01f * nlenOf(h.docId).toFloat + 1f)
      (h.docId, h.score.toFloat * v)
    }.sortBy { case (d, s) => (-s.toDouble, d) }.take(12).toSeq
    val local = searcher.search(FuncBoostedQ(q, vs), 12)
    assert(local.map(h => (h.docId, h.score.toFloat)).toSeq == exp)
    assert(local.nonEmpty)
    val dist = distSearcher.search(FuncBoostedQ(q, vs), 12)
    assert(dist.map(h => (h.docId, h.score.toFloat)).toSeq == exp)
  }

  test("CustomScoreQ: default provider fold — boost * ((sub * v0) * v1) in clause order") {
    val sub = BoolQ(should = Seq(TermQ("merge"), TermQ("score")))
    val vss = Seq(
      RecipV(FieldV("nlen"), 0.01f, 5f, 1f),
      LinearV(SqrtV(FieldV("nlen")), 0.1f, 1f))
    val all = searcher.search(sub, nlenOf.size)
    val exp = all.map { h =>
      val x = nlenOf(h.docId).toFloat
      val recip = 5f / (0.01f * x + 1f)
      val lin = math.sqrt(x.toDouble).toFloat * 0.1f + 1f
      (h.docId, 1.7f * ((h.score.toFloat * recip) * lin))
    }.sortBy { case (d, s) => (-s.toDouble, d) }.take(10).toSeq
    val got = searcher.search(CustomScoreQ(sub, vss, 1.7f), 10)
    assert(got.nonEmpty)
    assert(got.map(h => (h.docId, h.score.toFloat)).toSeq == exp)
  }

  test("CustomScoreQ: zero sources degenerate to subScore * 1f (provider law)") {
    val sub = TermQ("merge")
    val plain = searcher.search(sub, 10)
    val got = searcher.search(CustomScoreQ(sub, Nil), 10)
    assert(got.map(h => (h.docId, h.score)).toSeq ==
      plain.map(h => (h.docId, h.score)).toSeq)
  }

  test("CustomScoreQ: local ↔ forced-distributed parity") {
    val sub = BoolQ(should = Seq(TermQ("merge"), TermQ("score")))
    val vss = Seq(
      RecipV(FieldV("nlen"), 0.01f, 5f, 1f),
      LinearV(SqrtV(FieldV("nlen")), 0.1f, 1f))
    val local = searcher.search(CustomScoreQ(sub, vss, 1.7f), 10)
    val dist = distSearcher.search(CustomScoreQ(sub, vss, 1.7f), 10)
    assert(local.nonEmpty)
    assert(dist.map(h => (h.docId, h.score)).toSeq ==
      local.map(h => (h.docId, h.score)).toSeq)
  }

  test("searchFunctionRange: inclusivity flags + value scores") {
    val vs = FieldV("nlen")
    val vals = nlenOf.toSeq.map { case (d, n) => (d, n.toFloat) }
    val sorted = vals.map(_._2).distinct.sorted
    val (lo, hi) = (sorted(sorted.size / 4), sorted(3 * sorted.size / 4))
    def expect(incl: Boolean): Seq[(Long, Float)] = vals
      .filter { case (_, v) =>
        if (incl) v >= lo && v <= hi else v > lo && v < hi }
      .sortBy { case (d, v) => (-v.toDouble, d) }.take(10)
    val gi = searcher.search(FunctionRangeQ(vs, lo, hi), 10)
    assert(gi.map(h => (h.docId, h.score.toFloat)).toSeq == expect(true))
    val ge = searcher.search(
      FunctionRangeQ(vs, lo, hi, inclLower = false, inclUpper = false), 10)
    assert(ge.map(h => (h.docId, h.score.toFloat)).toSeq == expect(false))
    assert(gi.length >= ge.length && gi.nonEmpty)
  }

  test("count() dispatch for function queries") {
    assert(searcher.count(FunctionQ(FieldV("nlen"))) == nlenOf.size.toLong)
    val inRange = nlenOf.values.count(n => n.toFloat >= 100f && n.toFloat <= 400f)
    assert(searcher.count(FunctionRangeQ(FieldV("nlen"), 100f, 400f)) ==
      inRange.toLong)
    val mCount = searcher.count(TermQ("merge"))
    assert(searcher.count(FuncBoostedQ(TermQ("merge"), FieldV("nlen"))) == mCount)
  }

  test("function queries are top-level only (loud failure inside trees)") {
    val ex = intercept[IllegalArgumentException] {
      searcher.search(BoolQ(should = Seq(TermQ("merge"),
        FunctionQ(FieldV("nlen")))), 5)
    }
    assert(ex.getMessage.contains("top-level"))
  }

  test("rewrite: FuncBoostedQ folds MatchNone, preserves inner rewrite") {
    assert(Query.rewrite(FuncBoostedQ(PhraseQ(Nil), FieldV("nlen"))) ==
      MatchNoneQ)
    val r = Query.rewrite(FuncBoostedQ(BoolQ(should = Seq(TermQ("a"))),
      FieldV("nlen")))
    assert(r == FuncBoostedQ(TermQ("a"), FieldV("nlen")))
  }

  test("parseFunc: string syntax maps 1:1 onto the ValueSrc zoo") {
    import ValueSources.parseFunc
    assert(parseFunc("sum(recip(n_chars,0.01,5,1), linear(n_chars,0.5,10))")
      === SumV(Seq(RecipV(FieldV("n_chars"), 0.01f, 5f, 1f),
        LinearV(FieldV("n_chars"), 0.5f, 10f))))
    assert(parseFunc("div(ln(x), sqrt(2.5))")
      === DivV(LnV(FieldV("x")), SqrtV(ConstV(2.5f))))
    assert(parseFunc("map(x,0,10,1,-1)")
      === RangeMapV(FieldV("x"), 0f, 10f, 1f, Some(-1f)))
    assert(parseFunc("max(product(a,b), abs(c), 3)")
      === MaxV(Seq(ProductV(Seq(FieldV("a"), FieldV("b"))),
        AbsV(FieldV("c")), ConstV(3f))))
    assert(parseFunc("query($q)", Map("q" -> TermQ("spark")))
      === QueryV(TermQ("spark")))
    // scalar slots demand literals; unknown funcs and params are loud
    intercept[IllegalArgumentException](parseFunc("linear(x, y, 1)"))
    intercept[IllegalArgumentException](parseFunc("frob(x)"))
    intercept[IllegalArgumentException](parseFunc("query($nope)"))
    intercept[IllegalArgumentException](parseFunc("sum(a,b) trailing"))
  }

  test("index-stat sources: constants + per-doc tf vs from-scratch recompute") {
    import org.apache.spark.sql.functions.col
    val term = "index"
    // independent ground truth: re-tokenize the stored content
    val tokfn = IndexBuilder.tokenizerFn(BuildConfig().tokenizer)
    val contents = searcher.docsDf.select(col("docId"), col("content"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val tfm = contents.map { case (d, c) =>
      d -> tokfn(c).count(_ == term).toFloat }
    val dfT = tfm.count(_._2 > 0f)
    val n = contents.size
    val idfF = (math.log(n / (dfT + 1).toDouble) + 1.0).toFloat
    val got = searcher.functionDf(
      ProductV(Seq(TfV(term), IdfV(term)))).collect()
      .map(r => r.getLong(0) -> r.getFloat(1)).toMap
    assert(got.size == n)
    contents.keys.foreach { d =>
      val expect = math.sqrt(tfm(d).toDouble).toFloat * idfF
      assert(got(d) == expect, s"doc $d")
    }
    // per-searcher constants resolve before evaluation
    assert(searcher.resolveStatVs(DocFreqV(term)) == ConstV(dfT.toFloat))
    assert(searcher.resolveStatVs(MaxDocV) == ConstV(n.toFloat))
    assert(searcher.resolveStatVs(IdfV(term)) == ConstV(idfF))
    assert(searcher.resolveStatVs(DocFreqV("zz_absent")) == ConstV(0f))
  }

  test("NormV decodes the stored byte315 norm per doc") {
    import org.apache.spark.sql.functions.col
    val bytes = searcher.docsDf.select(col("docId"), col("normByte"))
      .collect().map(r => r.getLong(0) -> r.getByte(1)).toMap
    val got = searcher.functionDf(NormV).collect()
      .map(r => r.getLong(0) -> r.getFloat(1)).toMap
    assert(got.size == bytes.size)
    bytes.foreach { case (d, b) =>
      assert(got(d) == graft.core.SmallFloat.byte315ToFloat(b), s"doc $d")
    }
  }

  test("TermFreqV: local ↔ forced-distributed parity through searchBoosted") {
    val vs = LinearV(TermFreqV("merge"), 0.25f, 1f)
    val l = searcher.search(FuncBoostedQ(TermQ("index"), vs), 15).toSeq
    val d = distSearcher.search(FuncBoostedQ(TermQ("index"), vs), 15).toSeq
    assert(l == d)
    assert(l.nonEmpty)
  }

  test("parseFunc: index-stat function names") {
    import ValueSources.parseFunc
    assert(parseFunc(
      "sum(docfreq(f, abc), tf(f, abc), idf(abc), termfreq(abc), norm(f), " +
        "maxdoc(), numdocs(), sumtotaltermfreq(), ttf(f, abc))") ==
      SumV(Seq(DocFreqV("abc"), TfV("abc"), IdfV("abc"), TermFreqV("abc"),
        NormV, MaxDocV, NumDocsV, SumTotalTermFreqV, TotalTermFreqV("abc"))))
    intercept[IllegalArgumentException](parseFunc("docfreq(1.5)"))
  }

  test("bool functions: truncating truth law, exists, def — both paths") {
    // truth = (int) floatVal != 0 (FunctionValues.java:51): 0.5 is FALSE
    val halfTrue = IfV(ConstV(0.5f), ConstV(1f), ConstV(2f))
    assert(searcher.functionDf(halfTrue).head().getFloat(1) == 2f)
    assert(searcher.functionDf(
      IfV(ConstV(1.5f), ConstV(1f), ConstV(2f))).head().getFloat(1) == 1f)
    // exists(query) = matched; def falls back for non-matches
    val defVs = DefV(Seq(QueryV(TermQ("index"), 0f), ConstV(7f)))
    val got = searcher.functionDf(defVs).collect()
      .map(r => r.getLong(0) -> r.getFloat(1)).toMap
    val scores = searcher.search(TermQ("index"), 10000,
      useWand = false).map(h => h.docId -> h.score.toFloat).toMap
    got.foreach { case (d, v) =>
      scores.get(d) match {
        case Some(s) => assert(v == s, s"doc $d: matched → its score")
        case None => assert(v == 7f, s"doc $d: unmatched → fallback")
      }
    }
    assert(scores.nonEmpty)
    // local ↔ forced-distributed parity through searchBoosted
    val vs = IfV(ExistsV(QueryV(TermQ("merge"), 0f)), ConstV(3f), ConstV(1f))
    val l = searcher.search(FuncBoostedQ(TermQ("index"), vs), 12).toSeq
    val dd = distSearcher.search(FuncBoostedQ(TermQ("index"), vs), 12).toSeq
    assert(l == dd && l.nonEmpty)
  }

  test("realTimeGet: last-write-wins across batches; tier merges oldest") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-rtg").toString
    def snap(id: String, rows: Seq[(Long, String)]): Unit = {
      val ix = IndexBuilder.buildLogical(
        rows.toDF("doc_id", "content"), "content", Some("doc_id"), Nil,
        BuildConfig(numBuckets = 2, numDocShards = 1, saltThreshold = 100000L))
      IndexBuilder.writeIndex(ix, s"$base/snap=$id", s"rtg-$id", 1)
      ix.unpersistCached(); ix.postings.unpersist()
    }
    // a tier-merged snapshot (oldest), then batches 2 and 10 — numeric
    // order must place snap=10 after snap=2 (lexicographic would not)
    snap("tier-r0", Seq(1L -> "one v0", 2L -> "two v0", 3L -> "three v0"))
    snap("2", Seq(1L -> "one v2", 3L -> "three v2"))
    snap("10", Seq(3L -> "three v10"))
    val got = graft.streaming.StreamingIndex
      .realTimeGet(spark, base, Seq(1L, 2L, 3L))
      .select("docId", "contentSha256").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Map(1L -> sha("one v2"), 2L -> sha("two v0"),
      3L -> sha("three v10")))
  }
}
