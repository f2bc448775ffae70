package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.index.IndexBuilder.LogicalIndex

/** Declarative scoring path: every Boolean composition is expressed as
  * Dataset joins / aggregates so Catalyst plans it (SURVEY.md §2.6 mapping
  * column). This path is (a) the rank-identical reference implementation
  * the segment/WAND path is equivalence-tested against — mirroring the
  * reference's dual-scorer oracle tests
  * (`lucene/core/src/test/.../search/TestBoolean2.java:16-19`) — and
  * (b) the DuckDB-oracle-checkable surface.
  *
  * Per-term scoring mirrors TermQuery/TermWeight
  * (`search/TermQuery.java:40-124`): stats are gathered up front
  * (driver-side, the createWeight analog), the per-doc work is a pure
  * float function of (tf, normByte).
  */
object DataFrameSearcher {

  /** Stats the scorer needs, gathered once per query (TermWeight ctor /
    * ExactStatsCache analog: global df by construction).
    */
  final case class QueryStats(dfByTerm: Map[String, Long], docCount: Long,
      sumTotalTermFreq: Long)

  def gatherStats(ix: LogicalIndex, terms: Set[String]): QueryStats = {
    val dfMap =
      if (terms.isEmpty) Map.empty[String, Long]
      else ix.statsFor(terms).map { case (t, (df, _)) => t -> df }
    QueryStats(dfMap, ix.collStats.docCount, ix.collStats.sumTotalTermFreq)
  }

  /** Full per-doc scores for a query: DataFrame(docId: long, score: float).
    * Absent docs = no match (score row absent), like an iterator.
    */
  def scores(ix: LogicalIndex, q0: Query, params: BM25Params = BM25.Default): DataFrame = {
    val q = Query.rewrite(q0)
    val stats = gatherStats(ix, Query.literalTerms(q))
    scoreDf(ix, q, 1f, stats, params)
  }

  /** Top-k: score desc, docId asc (HitQueue.java:76-81 tie-break law),
    * optional searchAfter cursor (IndexSearcher.java:421-445).
    * Returns DataFrame(docId: long, score: double, rank: int).
    */
  def search(ix: LogicalIndex, q: Query, k: Int,
      after: Option[(Double, Long)] = None,
      params: BM25Params = BM25.Default): DataFrame = {
    val sc = scores(ix, q, params).withColumn("score", col("score").cast("double"))
    val paged = after match {
      case Some((s, d)) =>
        sc.filter(col("score") < s || (col("score") === s && col("docId") > d))
      case None => sc
    }
    // TakeOrderedAndProject: per-partition top-k heap + driver merge —
    // Catalyst's native analog of TopScoreDocCollector + TopDocs.merge
    paged.orderBy(desc("score"), asc("docId")).limit(k)
      .select(col("docId"), col("score"))
  }

  // ---------- recursive scorer construction ----------

  /** Build DataFrame(docId, score: float) for a rewritten query. */
  private def scoreDf(ix: LogicalIndex, q: Query, boost: Float,
      stats: QueryStats, params: BM25Params): DataFrame = q match {

    case TermQ(t) => termScoreDf(ix, t, boost, stats, params)

    case MatchAllQ =>
      ix.docs.select(col("docId"), lit(boost).cast("float").as("score"))

    case MatchNoneQ => emptyScores(ix)

    case BoostQ(inner, b) => scoreDf(ix, inner, boost * b, stats, params)

    case ConstScoreQ(inner, s) =>
      scoreDf(ix, inner, 1f, stats, params)
        .select(col("docId"), lit(boost * s).cast("float").as("score"))

    case SynonymQ(ts) => synonymScoreDf(ix, ts, boost, stats, params)

    case BlendedQ(ts, tie) => blendedScoreDf(ix, ts, tie, boost, stats, params)

    case BlendedBoostedQ(ts, dfo) =>
      blendedBoostedScoreDf(ix, ts, dfo, boost, stats, params)

    case DisMaxQ(clauses, tie) =>
      // max + (sum-max)*tie with the sum folded in FLOAT in clause order —
      // matches DisMaxScorer (the reference accumulates `float scoreSum`,
      // DisjunctionMaxScorer.java:50-61). Per-clause columns via full-outer
      // joins keep the fold order deterministic (a groupBy sum would not).
      val parts = clauses.zipWithIndex.map { case (c, i) =>
        scoreDf(ix, c, boost, stats, params)
          .select(col("docId"), col("score").as(s"_c$i"))
      }
      val joined = parts.reduce((a, b) => a.join(b, Seq("docId"), "full_outer"))
      val cols = clauses.indices.map(i =>
        coalesce(col(s"_c$i"), lit(0f)).cast("float"))
      val sm = cols.reduce((a, b) => (a + b).cast("float"))
      val mx = greatest(cols: _*)
      joined.select(col("docId"),
        (mx + ((sm - mx).cast("float") * lit(tie)).cast("float"))
          .cast("float").as("score"))

    case PrefixQ(p) =>
      multiTermConstScore(ix, col("term").startsWith(p), boost)
    case RegexpQ(pat) =>
      // whole-term semantics like the segment path (RegexpQuery.java:48)
      multiTermConstScore(ix, col("term").rlike(s"^(?:$pat)$$"), boost)
    case WildcardQ(pat) =>
      multiTermConstScore(ix, col("term").rlike(WildcardQ.toRegex(pat)), boost)
    case FuzzyQ(t, maxEdits) =>
      multiTermConstScore(ix, levenshtein(col("term"), lit(t)) <= maxEdits, boost)
    case TermRangeQ(lo, hi, il, iu) =>
      val lower = if (il) col("term") >= lo else col("term") > lo
      val upper = if (iu) col("term") <= hi else col("term") < hi
      multiTermConstScore(ix, lower && upper, boost)

    case PhraseQ(terms, slop) => phraseScoreDf(ix, terms, slop, boost, stats, params)

    case SpanNearQ(terms, slop, inOrder) =>
      spanNearScoreDf(ix, terms, slop, inOrder, boost, stats, params)

    case SpanNearOrQ(cs, slop, inOrder) =>
      spanNearOrScoreDf(ix, cs, slop, inOrder, boost, stats, params)

    case MultiPhraseQ(ps, slop) =>
      multiPhraseScoreDf(ix, ps, slop, boost, stats, params)

    case BoolQ(must, should, mustNot, filterQs, msm) =>
      boolScoreDf(ix, must, should, mustNot, filterQs, msm, boost, stats, params)

    case other =>
      sys.error(s"DataFrame path does not support: $other (use the " +
        "segment path — Searcher / MultiField)")
  }

  private def emptyScores(ix: LogicalIndex): DataFrame =
    ix.postings.sparkSession.range(0)
      .select(col("id").as("docId"), lit(0f).as("score"))

  /** TermQuery scoring: filter postings to the term (pushed to the scan),
    * per-row float score via the 256-entry cache.
    */
  private def termScoreDf(ix: LogicalIndex, term: String, boost: Float,
      stats: QueryStats, params: BM25Params): DataFrame = {
    val df = stats.dfByTerm.getOrElse(term, 0L)
    if (df == 0L)
      return emptyScores(ix)
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    val w = BM25.weightValue(BM25.idf(df, stats.docCount), params, boost)
    // native codegen'd expression — bit-identical to BM25.score, stays
    // inside whole-stage codegen (no UDF serialization boundary)
    ix.postings.filter(col("term") === term)
      .select(col("docId"),
        graft.functions.GraftFunctions
          .bm25Score(col("tf"), col("normByte"), w, cache).as("score"))
  }

  /** BlendedTermQuery (`BlendedTermQuery.java:62-88`): per-term score
    * frames sharing ONE weight (idf of max df over present members),
    * combined with the DisMax float fold (DisjunctionMaxRewrite).
    */
  private def blendedScoreDf(ix: LogicalIndex, terms: Seq[String],
      tie: Float, boost: Float, stats: QueryStats,
      params: BM25Params): DataFrame = {
    val present = terms.distinct.filter(t => stats.dfByTerm.getOrElse(t, 0L) > 0L)
    if (present.isEmpty) return emptyScores(ix)
    val dfMax = present.map(stats.dfByTerm).max
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    val w = BM25.weightValue(BM25.idf(dfMax, stats.docCount), params, boost)
    val parts = present.zipWithIndex.map { case (t, i) =>
      ix.postings.filter(col("term") === t)
        .select(col("docId"),
          graft.functions.GraftFunctions
            .bm25Score(col("tf"), col("normByte"), w, cache).as(s"_c$i"))
    }
    if (parts.size == 1) // dismax of one clause is the clause
      return parts.head.select(col("docId"), col("_c0").as("score"))
    val joined = parts.reduce((a, b) => a.join(b, Seq("docId"), "full_outer"))
    val cols = present.indices.map(i =>
      coalesce(col(s"_c$i"), lit(0f)).cast("float"))
    val sm = cols.reduce((a, b) => (a + b).cast("float"))
    val mx = greatest(cols: _*)
    joined.select(col("docId"),
      (mx + ((sm - mx).cast("float") * lit(tie)).cast("float"))
        .cast("float").as("score"))
  }

  /** BOOLEAN_REWRITE blended (BlendedTermQuery.java:247-272 + boosted
    * clauses): every member scores with the blended MAX df, per-clause
    * weight (boost·idf)·(k1+1), SHOULD-sum combine — double sum of the
    * float partials, one float cast (DisjunctionSumScorer.java:43-46).
    */
  private def blendedBoostedScoreDf(ix: LogicalIndex,
      ts: Seq[(String, Float)], dfOverride: Option[Long], boost: Float,
      stats: QueryStats, params: BM25Params): DataFrame = {
    val present = ts.filter(p => stats.dfByTerm.getOrElse(p._1, 0L) > 0L)
    if (present.isEmpty) return emptyScores(ix)
    val dfMax = present.map(p => stats.dfByTerm(p._1)).max
    val idf = BM25.idf(dfOverride.getOrElse(dfMax), stats.docCount)
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    val parts = present.zipWithIndex.map { case ((t, b), i) =>
      val w = BM25.weightValue(idf, params, boost * b)
      ix.postings.filter(col("term") === t)
        .select(col("docId"),
          graft.functions.GraftFunctions
            .bm25Score(col("tf"), col("normByte"), w, cache).as(s"_c$i"))
    }
    if (parts.size == 1)
      return parts.head.select(col("docId"), col("_c0").as("score"))
    val joined = parts.reduce((a, b) => a.join(b, Seq("docId"), "full_outer"))
    val sm = present.indices
      .map(i => coalesce(col(s"_c$i"), lit(0f)).cast("double"))
      .reduce(_ + _)
    joined.select(col("docId"), sm.cast("float").as("score"))
  }

  /** SynonymQuery (SynonymQuery.java:46): union postings, per-doc summed
    * tf, scored once with blended stats (df = max over members).
    */
  private def synonymScoreDf(ix: LogicalIndex, terms: Seq[String],
      boost: Float, stats: QueryStats, params: BM25Params): DataFrame = {
    val dfs = terms.map(t => stats.dfByTerm.getOrElse(t, 0L))
    val df = if (dfs.isEmpty) 0L else dfs.max
    if (df == 0L) return emptyScores(ix)
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    val w = BM25.weightValue(BM25.idf(df, stats.docCount), params, boost)
    val scoreUdf = udf((tf: Long, nb: Byte) =>
      BM25.score(w, tf.toFloat, cache(nb & 0xff)))
    ix.postings.filter(col("term").isin(terms: _*))
      .groupBy("docId", "normByte").agg(sum("tf").as("_tf"))
      .select(col("docId"), scoreUdf(col("_tf"), col("normByte")).as("score"))
  }

  /** Multi-term queries rewrite to const-score over the union of matching
    * terms' postings (MultiTermQueryConstantScoreWrapper.java:44).
    */
  private def multiTermConstScore(ix: LogicalIndex, termPred: Column,
      boost: Float): DataFrame =
    ix.postings.filter(termPred)
      .select("docId").distinct()
      .select(col("docId"), lit(boost).cast("float").as("score"))

  /** Exact/sloppy phrase via the positions column (PhraseQuery.java:69;
    * two-phase doc-match + position-verify becomes a positions self-join
    * for slop=0, a per-doc sweep over collected position arrays for
    * slop>0 — SloppyPhraseScorer semantics via PhraseFreq.sloppy).
    * Scored like one pseudo-term with freq = phrase frequency and
    * idf = Σ idf(term_i) (PhraseWeight sums constituent idfs).
    */
  private def phraseScoreDf(ix: LogicalIndex, terms: Seq[String], slop: Int,
      boost: Float, stats: QueryStats, params: BM25Params): DataFrame = {
    if (terms.exists(t => stats.dfByTerm.getOrElse(t, 0L) == 0L))
      return emptyScores(ix)
    if (slop > 0) return sloppyPhraseScoreDf(ix, terms, slop, boost, stats, params)
    val pos = positionalPostings(ix)
    // chain join: positions of term_i at pos p+i
    val base = pos.filter(col("term") === terms.head)
      .select(col("docId"), col("pos"))
    val matchedPositions = terms.zipWithIndex.tail.foldLeft(base) {
      case (acc, (t, i)) =>
        val next = pos.filter(col("term") === t)
          .select(col("docId").as("_d"), col("pos").as("_p"))
        acc.join(next, acc("docId") === col("_d") && col("_p") === acc("pos") + i)
          .select(acc("docId"), acc("pos"))
    }
    val freqs = matchedPositions.groupBy("docId")
      .agg(count(lit(1)).cast("int").as("_freq"))
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    // idf = float sum of constituent idfs, in query order
    var idfSum = 0f
    terms.foreach(t => idfSum += BM25.idf(stats.dfByTerm(t), stats.docCount))
    val w = BM25.weightValue(idfSum, params, boost)
    val scoreUdf = udf((tf: Int, nb: Byte) =>
      BM25.score(w, tf.toFloat, cache(nb & 0xff)))
    freqs.join(ix.docs.select("docId", "normByte"), "docId")
      .select(col("docId"), scoreUdf(col("_freq"), col("normByte")).as("score"))
  }

  /** Sloppy phrase: per-doc sweep over the per-term position arrays the
    * postings already carry — one join per term, no explode, freq via
    * PhraseFreq.sloppy (SloppyPhraseScorer.java:92-126 semantics).
    */
  private def sloppyPhraseScoreDf(ix: LogicalIndex, terms: Seq[String],
      slop: Int, boost: Float, stats: QueryStats, params: BM25Params): DataFrame = {
    require(ix.cfg.positions, "sloppy phrase requires BuildConfig.positions")
    val base = terms.zipWithIndex.map { case (t, i) =>
      val p = ix.postings.filter(col("term") === t)
      if (i == 0) p.select(col("docId"), col("normByte"), col("pos").as("_p0"))
      else p.select(col("docId"), col("pos").as(s"_p$i"))
    }.reduce((a, b) => a.join(b, "docId"))
    val offsets = terms.indices.toArray
    val rpt0 = Array.tabulate(terms.size) { i =>
      if (terms.count(_ == terms(i)) > 1) terms.indexOf(terms(i)) else -1
    }
    val rpt = if (rpt0.exists(_ >= 0)) rpt0 else null
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    var idfSum = 0f
    terms.foreach(t => idfSum += BM25.idf(stats.dfByTerm(t), stats.docCount))
    val w = BM25.weightValue(idfSum, params, boost)
    val scoreUdf = udf { (ps: Seq[Seq[Int]], nb: Byte) =>
      val freq = PhraseFreq.sloppy(ps.map(_.toArray).toArray, offsets, slop, rpt)
      if (freq > 0f) Some(BM25.score(w, freq, cache(nb & 0xff))) else None
    }
    base.select(col("docId"),
        scoreUdf(array(terms.indices.map(i => col(s"_p$i")): _*),
          col("normByte")).as("score"))
      .filter(col("score").isNotNull)
      .select(col("docId"), col("score").cast("float").as("score"))
  }

  /** Span-near via the positions columns — the same one-join-per-clause
    * shape as the sloppy phrase, freq via the shared
    * PhraseFreq.spanNearOrdered/Unordered kernels; idf folds float-
    * stepwise over DISTINCT terms in sorted order (SpanWeight TreeSet).
    */
  private def spanNearScoreDf(ix: LogicalIndex, terms: Seq[String],
      slop: Int, inOrder: Boolean, boost: Float, stats: QueryStats,
      params: BM25Params): DataFrame = {
    require(ix.cfg.positions, "span-near requires BuildConfig.positions")
    if (terms.exists(t => stats.dfByTerm.getOrElse(t, 0L) == 0L))
      return emptyScores(ix)
    val base = terms.zipWithIndex.map { case (t, i) =>
      val p = ix.postings.filter(col("term") === t)
      if (i == 0) p.select(col("docId"), col("normByte"), col("pos").as("_p0"))
      else p.select(col("docId"), col("pos").as(s"_p$i"))
    }.reduce((a, b) => a.join(b, "docId"))
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    var idfSum = 0f
    terms.distinct.sorted.foreach(t =>
      idfSum += BM25.idf(stats.dfByTerm(t), stats.docCount))
    val w = BM25.weightValue(idfSum, params, boost)
    val ord = inOrder
    val scoreUdf = udf { (ps: Seq[Seq[Int]], nb: Byte) =>
      val arr = ps.map(_.toArray).toArray
      val freq =
        if (ord) PhraseFreq.spanNearOrdered(arr, slop)
        else PhraseFreq.spanNearUnordered(arr, slop)
      if (freq > 0f) Some(BM25.score(w, freq, cache(nb & 0xff))) else None
    }
    base.select(col("docId"),
        scoreUdf(array(terms.indices.map(i => col(s"_p$i")): _*),
          col("normByte")).as("score"))
      .filter(col("score").isNotNull)
      .select(col("docId"), col("score").cast("float").as("score"))
  }

  /** Span-near with SpanOr union clauses: the multi-phrase union base
    * (per-clause `term IN (...)` grouped by doc, merged sorted
    * positions) with the SpanNearScorer freq kernels. Weight = float
    * idf fold over sorted DISTINCT PRESENT terms across all clauses.
    */
  private def spanNearOrScoreDf(ix: LogicalIndex, cs: Seq[Seq[String]],
      slop: Int, inOrder: Boolean, boost: Float, stats: QueryStats,
      params: BM25Params): DataFrame = {
    require(ix.cfg.positions, "span-near requires BuildConfig.positions")
    if (cs.exists(_.forall(t => stats.dfByTerm.getOrElse(t, 0L) == 0L)))
      return emptyScores(ix)
    val base = cs.zipWithIndex.map { case (ts, i) =>
      val grouped = ix.postings.filter(col("term").isin(ts.distinct: _*))
        .groupBy("docId")
        .agg(first("normByte").as(s"_nb$i"),
          array_sort(array_distinct(flatten(collect_list(col("pos")))))
            .as(s"_p$i"))
      if (i == 0) grouped else grouped.drop(s"_nb$i")
    }.reduce((a, b) => a.join(b, "docId"))
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    var idfSum = 0f
    cs.flatten.distinct.sorted.foreach { t =>
      val df = stats.dfByTerm.getOrElse(t, 0L)
      if (df > 0L) idfSum += BM25.idf(df, stats.docCount)
    }
    val w = BM25.weightValue(idfSum, params, boost)
    val ord = inOrder
    val scoreUdf = udf { (ps: Seq[Seq[Int]], nb: Byte) =>
      val arr = ps.map(_.toArray).toArray
      val freq =
        if (ord) PhraseFreq.spanNearOrdered(arr, slop)
        else PhraseFreq.spanNearUnordered(arr, slop)
      if (freq > 0f) Some(BM25.score(w, freq, cache(nb & 0xff))) else None
    }
    base.select(col("docId"),
        scoreUdf(array(cs.indices.map(i => col(s"_p$i")): _*),
          col("_nb0")).as("score"))
      .filter(col("score").isNotNull)
      .select(col("docId"), col("score").cast("float").as("score"))
  }

  /** Multi-phrase (MultiPhraseQuery.java:49): per offset, the per-doc
    * UNION of member-term positions (flatten + distinct + sort — pure
    * Catalyst array functions over the postings' pos column), then the
    * same PhraseFreq kernel as the segment path computes freq.
    */
  private def multiPhraseScoreDf(ix: LogicalIndex, ps: Seq[Seq[String]],
      slop: Int, boost: Float, stats: QueryStats,
      params: BM25Params): DataFrame = {
    require(ix.cfg.positions, "multi-phrase requires BuildConfig.positions")
    if (ps.exists(_.forall(t => stats.dfByTerm.getOrElse(t, 0L) == 0L)))
      return emptyScores(ix)
    val base = ps.zipWithIndex.map { case (ts, i) =>
      val grouped = ix.postings.filter(col("term").isin(ts.distinct: _*))
        .groupBy("docId")
        .agg(first("normByte").as(s"_nb$i"),
          array_sort(array_distinct(flatten(collect_list(col("pos")))))
            .as(s"_p$i"))
      if (i == 0) grouped else grouped.drop(s"_nb$i")
    }.reduce((a, b) => a.join(b, "docId"))
    val offsets = ps.indices.toArray
    val avgdl = BM25.avgFieldLength(stats.sumTotalTermFreq, stats.docCount)
    val cache = BM25.normCache(params, avgdl)
    var idfSum = 0f
    ps.foreach(_.distinct.foreach { t =>
      val df = stats.dfByTerm.getOrElse(t, 0L)
      if (df > 0L) idfSum += BM25.idf(df, stats.docCount)
    })
    val w = BM25.weightValue(idfSum, params, boost)
    val (rptGroup, multiTermRpts) = PhraseFreq.multiPhraseRptGroups(ps)
    val scoreUdf = udf { (arrs: Seq[Seq[Int]], nb: Byte) =>
      val pos = arrs.map(_.toArray).toArray
      val freq =
        if (slop == 0) PhraseFreq.exact(pos, offsets).toFloat
        else PhraseFreq.sloppy(pos, offsets, slop, rptGroup, multiTermRpts)
      if (freq > 0f) Some(BM25.score(w, freq, cache(nb & 0xff))) else None
    }
    base.select(col("docId"),
        scoreUdf(array(ps.indices.map(i => col(s"_p$i")): _*),
          col("_nb0")).as("score"))
      .filter(col("score").isNotNull)
      .select(col("docId"), col("score").cast("float").as("score"))
  }

  /** Positions table (docId, pos, term). When the build kept positions
    * (cfg.positions) this is a narrow explode of the postings' pos arrays;
    * otherwise it re-tokenizes (DOCS_AND_FREQS fallback).
    */
  def positionalPostings(ix: LogicalIndex): DataFrame = {
    if (ix.cfg.positions)
      return ix.postings.select(col("docId"), col("term"),
        explode(col("pos")).as("pos"))
    val tok = graft.index.IndexBuilder.tokenizerFn(ix.cfg.tokenizer)
    val tokensUdf = udf((s: String) => tok(s))
    ix.docs
      .withColumn("_toks", tokensUdf(col(ix.contentCol)))
      .select(col("docId"), posexplode(col("_toks")).as(Seq("pos", "term")))
  }

  /** Boolean composition (BooleanWeight.java:375-469 semantics):
    * MUST: intersection, scores summed;
    * SHOULD: adds score on MUST matches (ReqOptSumScorer) or drives
    *         matching alone with minShouldMatch when no MUST/FILTER;
    * MUST_NOT: anti-join (ReqExclScorer);
    * FILTER: semi-join, no score contribution.
    */
  private def boolScoreDf(ix: LogicalIndex, must: Seq[Query],
      should: Seq[Query], mustNot: Seq[Query], filterQs: Seq[Query],
      msm: Int, boost: Float, stats: QueryStats, params: BM25Params): DataFrame = {

    val mustDfs = must.map(scoreDf(ix, _, boost, stats, params))
    val shouldDfs = should.map(scoreDf(ix, _, boost, stats, params))

    // SHOULD side: union + per-doc double-sum of float clause scores and
    // matched-clause count (DisjunctionSumScorer accumulates in double,
    // returns float — `search/DisjunctionSumScorer.java:43-46`)
    val shouldAgg: Option[DataFrame] =
      if (shouldDfs.isEmpty) None
      else Some(shouldDfs.reduce(_ unionByName _)
        .groupBy("docId")
        .agg(sum(col("score").cast("double")).as("_sScore"),
          count(lit(1)).as("_sCnt")))

    // filter-only bool (no MUST/SHOULD): matches the filter intersection
    // with score 0 (BooleanWeight filter-only semantics)
    if (mustDfs.isEmpty && shouldAgg.isEmpty && filterQs.nonEmpty) {
      val base = filterQs.map(scoreDf(ix, _, 1f, stats, params).select("docId"))
        .reduce((a, b) => a.join(b, Seq("docId"), "left_semi"))
        .select(col("docId"), lit(0f).as("score"))
      return finishBool(ix, base, mustNot, Nil, boost, stats, params)
    }

    val scored: DataFrame =
      if (mustDfs.isEmpty) {
        val effMsm = math.max(msm, 1)
        shouldAgg match {
          case None => emptyScores(ix)
          case Some(sa) =>
            sa.filter(col("_sCnt") >= effMsm)
              .select(col("docId"), col("_sScore").cast("float").as("score"))
        }
      } else {
        // intersection with double-sum of float scores (ConjunctionScorer)
        val base = mustDfs.zipWithIndex.map { case (d, i) =>
          d.select(col("docId"), col("score").as(s"_m$i"))
        }.reduce((a, b) => a.join(b, "docId"))
          .select(col("docId"),
            mustDfs.indices.map(i => col(s"_m$i").cast("double"))
              .reduce(_ + _).as("_mScore"))
        // attach optional SHOULD scores (+ msm gate) — ReqOptSumScorer:
        // each side rounds to float at its scorer boundary before the
        // final float add, exactly like the scorer tree
        shouldAgg match {
          case Some(sa) =>
            val joined = base.join(sa, Seq("docId"), "left")
            val gated =
              if (msm > 0) joined.filter(col("_sCnt") >= msm) else joined
            gated.select(col("docId"),
              (col("_mScore").cast("float").cast("double") +
                coalesce(col("_sScore").cast("float").cast("double"), lit(0d)))
                .cast("float").as("score"))
          case None =>
            base.select(col("docId"), col("_mScore").cast("float").as("score"))
        }
      }
    finishBool(ix, scored, mustNot, filterQs, boost, stats, params)
  }

  private def finishBool(ix: LogicalIndex, scored: DataFrame,
      mustNot: Seq[Query], filterQs: Seq[Query], boost: Float,
      stats: QueryStats, params: BM25Params): DataFrame = {
    val afterFilter = filterQs.foldLeft(scored) { (acc, fq) =>
      acc.join(scoreDf(ix, fq, 1f, stats, params).select("docId"),
        Seq("docId"), "left_semi")
    }
    mustNot.foldLeft(afterFilter) { (acc, nq) =>
      acc.join(scoreDf(ix, nq, 1f, stats, params).select("docId"),
        Seq("docId"), "left_anti")
    }
  }
}
