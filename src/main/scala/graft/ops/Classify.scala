package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.search.{BoolQ, BoostQ, Query, Searcher, SegmentSearcher, TermQ}

/** Index-backed text classification — the reference's classification
  * module (`lucene/classification/src/java/org/apache/lucene/
  * classification/`), Spark-first: training statistics are DataFrame
  * aggregations over the corpus (nothing doc-count-sized reaches the
  * driver — only the |queryWords| × |classes| count matrix and per-class
  * priors), scoring folds driver-side in the reference's exact double
  * arithmetic.
  */
object Classify {

  // (A round-robin "parallelism floor" before the tokenize UDF was
  // tried and reverted: on the sub-split-sized bench corpus the keyless
  // repartition's local sort + shuffle cost more than the parallel
  // tokenize saved — measured q_classify_nb 236 → 318 ms; at real scale
  // file splits provide the parallelism anyway.)

  /** One class assignment: raw log score (NB) / vote score (KNN) plus
    * the softmax-normalized score where the reference normalizes.
    */
  final case class ClassScore(cls: String, raw: Double, norm: Double)

  /** SimpleNaiveBayesClassifier (`SimpleNaiveBayesClassifier.java:47`):
    * for each class c (class terms in sorted order, `classesEnum`),
    *
    *   score(c) = ln(df_c) − ln(docsWithClass)                [:268-270]
    *            + Σ_{w ∈ tokens(text), in order}
    *                ln((hits(w,c) + 1) /
    *                   (avgUniqueTermsPerDoc·df_c + docsWithClass))
    *                                                          [:196-215]
    *
    * with hits(w,c) = docs of class c containing w, avgUniqueTermsPerDoc
    * = sumDocFreq/docCount of the text field (`getTextTermFreqForClass`,
    * :222-231), add-1 smoothing, all double. Results are softmax-
    * normalized to (0,1) exactly as `normClassificationResults`
    * (:288-313): smax = best raw score, norm_i = exp(raw_i − (smax +
    * ln(Σ exp(raw_i − smax)))) with the exp-sum folded over classes in
    * DESCENDING raw order. Ties sort class-ascending (the reference's
    * stable sort over its sorted-class build order).
    *
    * The class column is matched as a WHOLE value (the reference indexes
    * the class as a single StringField token); null/empty class rows are
    * unclassed and excluded from docsWithClass.
    */
  def naiveBayes(docs: DataFrame, textCol: String, classCol: String,
      tokenizer: String => Array[String], text: String): Seq[ClassScore] = {
    val toks = tokenizer(text)
    val words = toks.distinct.toSeq
    val distinctTermsUdf = udf((s: String) => tokenizer(s).distinct)
    val base = docs
      .select(col(classCol).as("cls"),
        distinctTermsUdf(col(textCol)).as("terms"))
    // ONE grouped aggregation (guide §2.4) computes everything the
    // scorer needs: the text-field collection stats (sumDocFreq = Σ
    // per-doc distinct terms, docCount = docs with ≥1 token — summed
    // over every class group incl. unclassed), the per-class priors,
    // AND the |words|×|classes| hit matrix — hits(w, c) counts class-c
    // docs whose DISTINCT term set contains w, so `array_contains` per
    // query word replaces the former explode + second aggregation (and
    // with a single pass the tokenized frame needs no persist at all).
    val hitCols = words.zipWithIndex.map { case (w, i) =>
      count(when(array_contains(col("terms"), w), 1)).as(s"_h$i")
    }
    val aggTail = Seq(
      sum(size(col("terms"))).as("sdf"),
      count(when(size(col("terms")) > 0, 1)).as("dc")) ++ hitCols
    val perClass = base.groupBy("cls")
      .agg(count(lit(1)).as("n"), aggTail: _*).collect()
    val sumDocFreq = perClass.map(_.getLong(2)).sum
    val fieldDocCount = perClass.map(_.getLong(3)).sum
    val avgUniqueTerms = sumDocFreq / fieldDocCount.toDouble

    // per-class priors (df of each class term) — |classes| rows
    val classedRows = perClass
      .filter(r => !r.isNullAt(0) && r.getString(0).nonEmpty)
    val dfByClass =
      classedRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val docsWithClass = dfByClass.valuesIterator.sum

    val hits: Map[(String, String), Long] = classedRows.flatMap { r =>
      words.zipWithIndex.map { case (w, i) =>
        (r.getString(0), w) -> r.getLong(4 + i)
      }
    }.toMap

    val raw = dfByClass.keys.toSeq.sorted.map { c =>
      val dfC = dfByClass(c)
      var s = math.log(dfC.toDouble) - math.log(docsWithClass.toDouble)
      val den = avgUniqueTerms * dfC + docsWithClass
      toks.foreach { w =>
        val num = hits.getOrElse((c, w), 0L) + 1d
        s += math.log(num / den)
      }
      (c, s)
    }
    normalize(raw)
  }

  /** Batch SimpleNaiveBayes: classify EVERY doc of a corpus in one
    * distributed pass — the Spark-first form of the reference's
    * CachingNaiveBayesClassifier (`classification/
    * CachingNaiveBayesClassifier.java:40`), whose cache of per-term
    * class-hit counts is here the `hits` DataFrame kept distributed and
    * joined (never collected — at 100 TB the vocab × classes matrix
    * stays on executors).
    *
    * Per doc, the score law is exactly [[naiveBayes]]'s
    * (SimpleNaiveBayesClassifier.java:196-270): score(c) = ln(df_c) −
    * ln(docsWithClass) + a LEFT FOLD over the doc's token occurrences
    * in stream order of ln((hits(w,c)+1)/den_c) — the fold order is
    * preserved via posexplode + sort_array + `aggregate`, because double
    * addition is order-sensitive and the reference adds per occurrence
    * in token order. The assigned class replays `assignClass`
    * (:104-115): strict `>` over classes in ascending order, so ties
    * keep the lexicographically smallest class.
    *
    * Docs with null text are excluded (the reference's confusion
    * generator skips them, ConfusionMatrixGenerator.java:143); docs
    * with zero tokens score prior-only. Output: (idCol, cls, score) —
    * the winning class and its raw log score per doc.
    */
  def naiveBayesBatch(docs: DataFrame, idCol: String, textCol: String,
      classCol: String, tokenizer: String => Array[String]): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val toksUdf = udf((s: String) => tokenizer(s))
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(classCol).as("cls"),
        toksUdf(col(textCol)).as("toks"))
      .persist()
    try {
      val fieldStats = base.agg(
        sum(size(array_distinct(col("toks")))).as("sumDocFreq"),
        count(when(size(array_distinct(col("toks"))) > 0, 1)).as("docCount"))
        .collect()(0)
      val avgUniqueTerms = fieldStats.getLong(0) / fieldStats.getLong(1).toDouble

      val classed = base.filter(col("cls").isNotNull && col("cls") =!= "")
      // |classes| rows — tiny by definition of a class label
      val dfByClass = classed.groupBy("cls").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(dfByClass.nonEmpty, "naiveBayesBatch: no classed docs")
      val docsWithClass = dfByClass.valuesIterator.sum
      val model = dfByClass.toSeq.sorted.map { case (c, dfC) =>
        (c, math.log(dfC.toDouble) - math.log(docsWithClass.toDouble),
          avgUniqueTerms * dfC + docsWithClass)
      }
      val classesDf = spark.createDataFrame(model)
        .toDF("cls", "prior", "den")

      // hits(c, w) stays a DataFrame: distinct-per-doc term counts per
      // class, joined (not collected) — the only vocab-sized state
      val hits = classed
        .select(col("cls"), explode(array_distinct(col("toks"))).as("term"))
        .groupBy("cls", "term").agg(count(lit(1)).as("h"))

      val occ = base.select(col("id"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      val contribs = occ
        .join(broadcast(classesDf.select("cls", "den")))
        .join(hits, Seq("cls", "term"), "left")
        .withColumn("contrib",
          log((coalesce(col("h"), lit(0L)) + lit(1.0d)) / col("den")))
        .groupBy("id", "cls")
        .agg(sort_array(collect_list(struct(col("pos"), col("contrib"))))
          .as("arr"))

      val emptyArr = array().cast("array<struct<pos:int,contrib:double>>")
      val scored = base.select("id")
        .crossJoin(broadcast(classesDf.select("cls", "prior")))
        .join(contribs, Seq("id", "cls"), "left")
        .withColumn("score",
          aggregate(coalesce(col("arr"), emptyArr), col("prior"),
            (acc, x) => acc + x.getField("contrib")))
      val w = Window.partitionBy("id")
        .orderBy(col("score").desc, col("cls").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("id").as(idCol), col("cls"), col("score"))
    } finally base.unpersist()
  }

  /** The linearized confusion matrix plus its metrics, exactly as the
    * reference computes them (`classification/utils/
    * ConfusionMatrixGenerator.java:120-307`).
    *
    * Counting (:143-175, single-valued class fields): rows with a
    * non-null assigned class and a non-null, non-empty correct class
    * increment counts(correct)(assigned). Metrics over the OBSERVED
    * correct classes k (matrix rows):
    *   precision(k) = m(k,k) > 0 ? m(k,k) / colsum_present(k) : 0
    *   recall(k)    = rowsum(k) > 0 ? m(k,k) / rowsum(k) : 0  (:200-214)
    *   accuracy     = (tp + tn) / (tfp + fn + tn) where tp/fn fold the
    *     cells (diagonal / off-diagonal) and, per row-class k, tfp adds
    *     colsum of k over rows HAVING the cell and tn counts rows
    *     missing it (:245-272)
    *   macro precision/recall = per-class mean (:279-304); the
    *     reference folds these in HashMap iteration order (unspecified)
    *     — we pin class-ASCENDING order, documented deviation
    *   F1 = 2PR/(P+R) when both > 0 (:222-238)
    *
    * The matrix is a distributed groupBy; only |classes|² cells reach
    * the driver.
    */
  final case class Confusion(matrix: Seq[(String, String, Long)],
      accuracy: Double, precision: Double, recall: Double, f1: Double,
      evaluated: Long) {
    private lazy val rows = matrix.map(_._1).distinct.sorted
    private lazy val cells = matrix.map { case (c, a, n) => (c, a) -> n }.toMap
    def precisionOf(k: String): Double = {
      val tp = cells.getOrElse((k, k), 0L).toDouble
      val den = rows.iterator
        .flatMap(r => cells.get((r, k))).map(_.toDouble).sum
      if (tp > 0) tp / den else 0d
    }
    def recallOf(k: String): Double = {
      val tp = cells.getOrElse((k, k), 0L).toDouble
      val fn = matrix.iterator
        .collect { case (c, a, n) if c == k && a != k => n }.sum.toDouble
      if (tp + fn > 0) tp / (tp + fn) else 0d
    }
    def f1Of(k: String): Double = {
      val (p, r) = (precisionOf(k), recallOf(k))
      if (p > 0 && r > 0) 2 * p * r / (p + r) else 0d
    }
  }

  def confusionMatrix(pairs: DataFrame, correctCol: String,
      assignedCol: String): Confusion = {
    val m = pairs
      .filter(col(correctCol).isNotNull && col(correctCol) =!= "" &&
        col(assignedCol).isNotNull)
      .groupBy(col(correctCol).as("correct"), col(assignedCol).as("assigned"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(c => (c._1, c._2)).toSeq
    val rows = m.map(_._1).distinct.sorted
    val cells = m.map { case (c, a, n) => (c, a) -> n }.toMap
    // accuracy (:245-272): integer folds, one division
    var (tp, tn, tfp, fn) = (0L, 0L, 0L, 0L)
    rows.foreach { k =>
      m.foreach { case (c, a, n) =>
        if (c == k) { if (a == k) tp += n else fn += n }
      }
      rows.foreach { r =>
        cells.get((r, k)) match {
          case Some(v) => tfp += v
          case None    => tn += 1
        }
      }
    }
    val conf0 = Confusion(m, 0, 0, 0, 0, m.map(_._3).sum)
    // macro averages folded class-ascending (pinned order)
    var (pSum, rSum) = (0d, 0d)
    rows.foreach { k => pSum += conf0.precisionOf(k); rSum += conf0.recallOf(k) }
    val p = pSum / rows.size
    val r = rSum / rows.size
    conf0.copy(
      accuracy = (tp + tn).toDouble / (tfp + fn + tn).toDouble,
      precision = p, recall = r,
      f1 = if (p > 0 && r > 0) 2 * p * r / (p + r) else 0d)
  }

  /** `normClassificationResults` (SimpleNaiveBayesClassifier.java:
    * 288-313): softmax over raw log scores, exp-sum folded in
    * DESCENDING raw order (stable: ties keep class-ascending order).
    */
  private[graft] def normalize(raw: Seq[(String, Double)]): Seq[ClassScore] = {
    if (raw.isEmpty) return Nil
    val sorted = raw.sortBy { case (c, s) => (-s, c) }
    val smax = sorted.head._2
    var sumLog = 0d
    sorted.foreach { case (_, s) => sumLog += math.exp(s - smax) }
    val loga = smax + math.log(sumLog)
    sorted.map { case (c, s) => ClassScore(c, s, math.exp(s - loga)) }
  }

  /** BooleanPerceptronClassifier's answer: assigned class, confidence,
    * and the raw perceptron output / threshold it was derived from.
    */
  final case class BoolScore(cls: Boolean, score: Double,
      output: Long, threshold: Double)

  /** BooleanPerceptronClassifier (`classification/
    * BooleanPerceptronClassifier.java:59`): a per-term weight table
    * seeded with the corpus-wide totalTermFreq of every text term
    * (:108-115), threshold defaulting to sumDocFreq/2 (:94-101), then
    * ONE sequential pass over the classed docs in doc order (:121-151,
    * a constant-score search → docId order):
    *
    *   output(d) = Σ_{token occurrences t of d} fst(t)   (:211-222)
    *   assigned  = output ≥ threshold
    *   on a miss, modifier = correct.compareTo(assigned) ∈ {−1, +1}
    *   and for each DISTINCT term t of d (term-vector iteration):
    *     weights(t) = fst(t) + modifier · tf(t, d)       (:168-180)
    *
    * where `fst` is the last SNAPSHOT of `weights` — refreshed only on
    * a miss whose running doc index satisfies i % batchSize == 0
    * (:146-148, `batchCount % batchSize`, counted over ALL classed docs)
    * — so between refreshes reads see stale values and same-term updates
    * OVERWRITE (fst(t) + m·tf, not an accumulate). Classification of the
    * input reads the final (possibly stale) snapshot; score = 1 −
    * exp(−|threshold − output| / threshold) (:227-228).
    *
    * Spark-first split: the corpus statistics (totalTermFreq per
    * relevant term, sumDocFreq) are distributed aggregations; the weight
    * fold is inherently sequential (each step's prediction depends on
    * all prior updates) and runs driver-side over the collected training
    * vectors, exactly like the reference's single-threaded training
    * loop. `maxTrainDocs` bounds that collect loudly — at 100 TB you
    * train on a sampled/filtered subset (`trainFilter`, the reference's
    * `query` constructor arg), not the corpus.
    *
    * Classes parse as `Boolean.valueOf` does: equalsIgnoreCase("true").
    * Null/empty class rows are unclassed (excluded from training).
    * Deviation (documented): the reference stores weights in a
    * PositiveIntOutputs FST whose writer asserts non-negativity — the
    * arithmetic itself (replicated here, and by the oracle) is
    * well-defined for negative weights, so we carry them rather than
    * corrupt-or-crash.
    */
  def booleanPerceptron(docs: DataFrame, textCol: String, classCol: String,
      orderCol: String, tokenizer: String => Array[String], text: String,
      batchSize: Int = 1, threshold: Double = 0d,
      trainFilter: org.apache.spark.sql.Column = lit(true),
      maxTrainDocs: Int = 500000): BoolScore = {
    require(batchSize > 0, "batchSize must be positive")
    val toksUdf = udf((s: String) => tokenizer(s))
    val base = docs
      .select(col(orderCol).cast("long").as("ord"), col(classCol).as("cls"),
        toksUdf(col(textCol)).as("terms"), trainFilter.as("keep"))
      .persist()
    try {
      // one pass computes the threshold numerator AND the training-set
      // size (the safety count must precede the collect — guide §2.4,
      // shared aggregation)
      val keepCond = col("cls").isNotNull && col("cls") =!= "" && col("keep")
      val agg0 = base.agg(
        sum(size(array_distinct(col("terms")))).as("sdf"),
        count(when(keepCond, 1)).as("ntrain")).collect()(0)
      val thr =
        if (threshold != 0d) threshold
        else agg0.getLong(0) / 2d

      // training docs, doc order, driver-side tf vectors (capped loudly)
      val classed = base.filter(keepCond)
      val nTrain = agg0.getLong(1)
      require(nTrain <= maxTrainDocs,
        s"booleanPerceptron: $nTrain training docs exceeds maxTrainDocs=" +
          s"$maxTrainDocs — the perceptron fold is sequential by " +
          "definition; pass a trainFilter to sample the training set")
      // collect unordered, sort driver-side: the set is maxTrainDocs-
      // bounded anyway, and a distributed orderBy of it costs a range-
      // partitioning sample pass plus a sort shuffle (guide §2.4 — an
      // orderBy used only to make a driver-side fold deterministic)
      val train: Array[(Map[String, Long], Boolean)] = classed
        .select(col("terms"), col("cls"), col("ord")).collect()
        .sortBy(_.getLong(2))
        .map { r =>
          val tf = r.getSeq[String](0).groupBy(identity)
            .map { case (t, xs) => t -> xs.length.toLong }
          (tf, r.getString(1).equalsIgnoreCase("true"))
        }

      // relevant term universe: training terms ∪ input tokens; initial
      // weight = corpus-wide totalTermFreq (terms absent from the corpus
      // are absent from the FST → contribute 0)
      val inputToks = tokenizer(text)
      val universe = (train.iterator.flatMap(_._1.keysIterator) ++
        inputToks.iterator).toSet
      val uDf = docs.sparkSession.createDataFrame(
        universe.toSeq.map(Tuple1(_))).toDF("term")
      val ttf = base.select(explode(col("terms")).as("term"))
        .join(broadcast(uDf), "term")
        .groupBy("term").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

      // the sequential perceptron fold (reference :121-151)
      val weights = scala.collection.mutable.HashMap.empty[String, Long]
      ttf.foreach { case (t, c) => weights(t) = c }
      var fst: Map[String, Long] = weights.toMap
      var i = 0
      train.foreach { case (tf, correct) =>
        var out = 0L
        tf.foreach { case (t, f) => out += fst.getOrElse(t, 0L) * f }
        val assigned = out >= thr
        if (assigned != correct) {
          val mod = if (correct) 1L else -1L
          tf.foreach { case (t, f) =>
            // reference :173-177: previousValue == null writes 0, not
            // mod·tf (unreachable here — training terms are corpus
            // terms, always in the snapshot — but matched exactly)
            weights(t) = fst.get(t).map(_ + mod * f).getOrElse(0L)
          }
          if (i % batchSize == 0) fst = weights.toMap
        }
        i += 1
      }

      var out = 0L
      inputToks.foreach { t => out += fst.getOrElse(t, 0L) }
      BoolScore(out >= thr, 1d - math.exp(-math.abs(thr - out) / thr),
        out, thr)
    } finally base.unpersist()
  }

  /** The reference MoreLikeThis term selection from a TEXT input
    * (`queries/mlt/MoreLikeThis.java:647-694` createQueue +
    * `:616-641` createQuery with boost=true): per input word, tf from
    * the text, df from the index; skip tf < minTermFreq, df <
    * minDocFreq, df = 0; score = (float)(tf · classicIdf(df, numDocs));
    * keep the top maxQueryTerms by score; clause boosts =
    * score/bestScore where bestScore is the LOWEST selected score (the
    * PQ pops ascending). Deviation (documented): score ties break
    * word-ascending deterministically — the reference's tie order is
    * HashMap-iteration-dependent.
    */
  def mltTextQuery(s: Searcher, text: String, maxQueryTerms: Int = 25,
      minTermFreq: Int = 2, minDocFreq: Int = 5): Query = {
    val tokenizer = graft.index.IndexBuilder
      .tokenizerFn(s.index.manifest.tokenizer)
    val toks = tokenizer(text)
    val tf = toks.groupBy(identity).map { case (t, xs) => t -> xs.length }
    val df = s.stats(tf.keySet)
    val numDocs = s.index.manifest.docCount
    val scored = tf.toSeq.flatMap { case (w, f) =>
      if (minTermFreq > 0 && f < minTermFreq) None
      else df.get(w).map(_._1).filter(d =>
        d > 0 && (minDocFreq <= 0 || d >= minDocFreq)).map { d =>
        val idf = (math.log((numDocs + 1) / (d + 1).toDouble) + 1.0).toFloat
        (w, f * idf)
      }
    }
    // top-maxQueryTerms by score, then clause order = ascending score
    // (PQ pop order); bestScore = the lowest selected
    val selected = scored.sortBy { case (w, sc) => (-sc, w) }
      .take(maxQueryTerms)
      .reverse
    if (selected.isEmpty) return graft.search.MatchNoneQ
    val bestScore = selected.head._2
    BoolQ(should = selected.map { case (w, sc) =>
      val b = sc / bestScore
      if (b == 1f) TermQ(w) else BoostQ(TermQ(w), b)
    }, minShouldMatch = 1)
  }

  /** KNearestNeighborClassifier (`KNearestNeighborClassifier.java:40`):
    * MLT query from the input text (boosted, [[mltTextQuery]]), top-k
    * under `sim`, then the rank-ordered class vote
    * (`buildListFromTopDocs`, :131-169): per class, count its docs and
    * accumulate Σ(score/maxScore) in RANK order; result score =
    * (count · (boostSum/count)) / k, scaled by k/sumdoc when fewer than
    * k docs returned. Output sorted (score desc, class asc). Deviations
    * (documented): no class-field wildcard MUST clause (every doc here
    * carries a class — matching is unchanged; the reference adds it
    * only to restrict to classed docs), and the default gate similarity
    * is BM25 via the constructor's explicit-similarity arm rather than
    * the null→ClassicSimilarity default.
    */
  def knn(s: Searcher, classCol: String, text: String, k: Int = 10,
      maxQueryTerms: Int = 25, minTermFreq: Int = 2, minDocFreq: Int = 5,
      sim: Int = SegmentSearcher.SimBm25): Seq[ClassScore] = {
    val q = mltTextQuery(s, text, maxQueryTerms, minTermFreq, minDocFreq)
    val hits = s.search(q, k, None, true, sim)
    if (hits.isEmpty) return Nil
    // k-sized class lookup: the gated string docvalues accessor when the
    // column is driver-resident (NULL reads "" there — dropped below
    // exactly like a NULL), else one pruned collect
    val classOf = s.docKeysLocal(classCol) match {
      case Some(get) => hits.iterator.map(h => h.docId -> get(h.docId)).toMap
      case None => s.docsDf
        .filter(col("docId").isin(hits.map(_.docId).toSeq: _*))
        .select(col("docId"), col(classCol)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val maxScore = hits.head.score // rank 1 (score desc, docId asc)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val boosts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var sumdoc = 0
    hits.foreach { h =>
      classOf.get(h.docId).filter(c => c != null && c.nonEmpty).foreach { c =>
        counts.update(c, counts.getOrElse(c, 0) + 1)
        boosts.update(c, boosts.getOrElse(c, 0d) + h.score / maxScore)
        sumdoc += 1
      }
    }
    val temp = counts.toSeq.map { case (c, cnt) =>
      val normBoost = boosts(c) / cnt
      (c, (cnt * normBoost) / k.toDouble)
    }
    val scoredOut =
      if (sumdoc < k) temp.map { case (c, sc) => (c, sc * k / sumdoc.toDouble) }
      else temp
    scoredOut.sortBy { case (c, sc) => (-sc, c) }
      .map { case (c, sc) => ClassScore(c, sc, sc) }
  }
}
