package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.functions._
import graft.core._
import graft.index.{Deletes, IndexBuilder}
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** The distributed tier's resident postings store and its one-job shard
  * calls (`maxLocalBytes = 0`): every entry point answers bit-identically
  * to the default-budget Searcher on a sharded index, a handle releases
  * everything it pinned, and a call runs one job whose map stage visits
  * only the store partitions that hold the query's buckets.
  */
class ShardStoreSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
  private val cfg = BuildConfig(numBuckets = 8, numDocShards = 4,
    saltThreshold = 60L, bloom = true)

  /** Salted (df = 75 ≥ saltThreshold) yet present on shard 0 only. */
  private val ShardZero = "shardzero"
  /** A rare vocabulary word: a cold (unsalted) posting list. */
  private val Cold = "storemerger"

  private lazy val docs = {
    import spark.implicits._
    Corpus.generate(300, seed = 29L).zipWithIndex.map { case (f, i) =>
      (i.toLong, f.repo, f.path, f.lang,
        if (i % 4 == 0) s"${f.content} $ShardZero" else f.content)
    }.toDF("docId", "repo", "path", "lang", "content")
      .withColumn("num", pmod(xxhash64(col("path")), lit(50L)))
      .withColumn("grp", pmod(xxhash64(col("repo")), lit(7L)).cast("string"))
  }

  private def build(field: String, dir: String): String = {
    val ix = IndexBuilder.buildLogical(docs, field, Some("docId"), Nil, cfg)
    IndexBuilder.writeIndex(ix, dir, s"store-$field", numGroups = 1)
    ix.unpersistCached(); ix.postings.unpersist()
    dir
  }

  private lazy val contentDir = build("content", s"$tmp/content")
  private lazy val pathDir = build("path", s"$tmp/path")

  private def open(dir: String, dist: Boolean): Searcher =
    if (dist) new Searcher(spark, SegmentSearcher.load(dir), maxLocalBytes = 0L)
    else new Searcher(spark, SegmentSearcher.load(dir))

  private val termQueries = Seq[Query](
    TermQ("def"), TermQ(Cold), TermQ(ShardZero),
    Query.and(TermQ("index"), TermQ(Cold)),
    Query.orMin(2, TermQ("spark"), TermQ("val"), TermQ(Cold)),
    BoolQ(must = Seq(TermQ("def")), mustNot = Seq(TermQ("val"))),
    PhraseQ(Seq("def", "class")))

  /** MatchAll-backed bools whose only posting list lives on shard 0:
    * shards 1..3 hold none of the query's postings.
    */
  private val matchAllQueries = Seq[Query](
    BoolQ(must = Seq(MatchAllQ), should = Seq(TermQ(ShardZero))),
    BoolQ(must = Seq(MatchAllQ), mustNot = Seq(TermQ(ShardZero))))

  private def pairs(hs: Array[Hit]): Seq[(Long, Double)] =
    hs.toSeq.map(h => (h.docId, h.score))

  /** Every ported entry point's answer for `q`, named. */
  private def answers(s: Searcher, ref: Searcher, q: Query,
      heavy: Boolean): Seq[(String, Any)] = {
    val page = ref.search(q, 5)
    val after = page.lastOption.map(h => (h.score, h.docId))
    val first = ref.search(TermQ("merge"), 20)
    val base = Seq(
      "search" -> pairs(s.search(q, 10)),
      "search after" -> pairs(s.search(q, 5, after)),
      "count" -> s.count(q),
      "searchWithCount" -> {
        val (h, n) = s.searchWithCount(q, 10); (pairs(h), n)
      },
      "rescore" -> pairs(s.rescore(first, q, 2f, 10)))
    if (!heavy) base
    else base ++ Seq(
      "searchByField asc" -> s.searchByField(q, 10, "num", asc = true).toSeq,
      "searchByField desc" -> s.searchByField(q, 10, "num", asc = false).toSeq,
      "searchDiversified" -> pairs(s.searchDiversified(q, 10, "grp", 2)),
      "searchDvFiltered" -> pairs(s.searchDvFiltered(q, 10, "num",
        DvPred.Range(Some(10L), Some(40L)))),
      "matchScores" -> pairs(s.searchFunction(
        SumV(Seq(QueryV(q, 0f), ConstV(1f))), 10)))
  }

  private def assertParity(dir: String, queries: Seq[Query],
      heavy: Query => Boolean): Unit = {
    val local = open(dir, dist = false)
    val dist = open(dir, dist = true)
    try for (q <- queries) {
      val want = answers(local, local, q, heavy(q))
      val got = answers(dist, local, q, heavy(q))
      want.zip(got).foreach { case ((name, w), (_, g)) =>
        assert(g == w, s"$name q=$q")
      }
      assert(want.head._2.asInstanceOf[Seq[_]].nonEmpty, s"fixture: q=$q")
    } finally { local.close(); dist.close() }
  }

  test("fixture is sharded: hot terms and the shard-0 term are salted") {
    val s = open(contentDir, dist = false)
    try {
      val st = s.stats(Set("def", ShardZero, Cold))
      assert(st("def")._1 >= cfg.saltThreshold)
      assert(st(ShardZero)._1 == 75L)
      assert(st(Cold)._1 < cfg.saltThreshold)
    } finally s.close()
  }

  test("parity: every distributed entry point ≡ default budget, incl. after") {
    assertParity(contentDir, termQueries,
      q => q == TermQ("def") || q == termQueries(3))
  }

  test("parity: MatchAll-backed bool with shards holding none of its postings") {
    assertParity(contentDir, matchAllQueries, _ => true)
    // and both tiers answer the law: MatchAll keeps every doc, the
    // exclusion drops exactly the shard-0 term's 75
    val s = open(contentDir, dist = true)
    try assert(matchAllQueries.map(s.count) == Seq(300L, 225L))
    finally s.close()
  }

  test("parity after deleteIds") {
    val dir = build("content", s"$tmp/deleted")
    val ref = open(dir, dist = false)
    val del = (ref.search(TermQ("def"), 6).map(_.docId) ++
      ref.search(matchAllQueries(1), 3).map(_.docId)).toSeq
    ref.close()
    Deletes.deleteIds(spark, dir, del)
    assertParity(dir, termQueries.take(3) ++ matchAllQueries,
      q => q == TermQ("def") || q == matchAllQueries(1))
    val s = open(dir, dist = true)
    try assert(!s.search(TermQ("def"), 50).exists(h => del.contains(h.docId)))
    finally s.close()
  }

  test("parity: MultiField dismax over two distributed field indexes") {
    val fields = Seq((contentDir, 1f), (pathDir, 2f))
    def run(dist: Boolean): Seq[(Long, Double)] = {
      val ss = fields.map { case (d, _) => open(d, dist) }
      try pairs(MultiField.searchDisMax(
        ss.zip(fields).map { case (s, (_, b)) => MultiField.FieldRef(s, b) },
        "def merge src", mm = "1", tie = 0.1f, k = 15))
      finally ss.foreach(_.close())
    }
    val want = run(dist = false)
    assert(want.nonEmpty)
    assert(run(dist = true) == want)
  }

  test("lifecycle: open → distributed query → close leaves nothing persisted") {
    val dir = build("content", s"$tmp/lifecycle")
    val sc = spark.sparkContext
    val start = sc.getPersistentRDDs.size
    (1 to 5).foreach { _ =>
      val s = open(dir, dist = true)
      assert(s.search(TermQ("def"), 10).nonEmpty)
      assert(sc.getPersistentRDDs.size > start) // the store is resident
      s.close()
    }
    assert(sc.getPersistentRDDs.size == start)
    assert(SegmentSearcher.search(spark, SegmentSearcher.load(dir),
      TermQ("def"), 10).nonEmpty)
    val oneShot = new Searcher(spark, SegmentSearcher.load(dir),
      cacheSegments = false, maxLocalBytes = 0L)
    assert(oneShot.search(TermQ("def"), 10).nonEmpty)
    assert(sc.getPersistentRDDs.size == start)
  }

  /** Jobs and map-stage tasks of the calls made in `body`, counted by a
    * listener scoped to a job group of this thread.
    */
  private def measure(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"shape-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger()
    val mapStages = ConcurrentHashMap.newKeySet[Int]()
    val mapTasks = new AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
    def groupOf(p: java.util.Properties): String =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val tap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case `group` =>
            jobs.incrementAndGet()
            e.stageInfos.filter(_.parentIds.isEmpty)
              .foreach(si => mapStages.add(si.stageId))
          case `fence` => fenceJobs.add(e.jobId)
          case _ =>
        }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (mapStages.contains(e.stageId)) mapTasks.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (fenceJobs.contains(e.jobId)) fenced.countDown()
    }
    sc.addSparkListener(tap)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once the fence job's end is
      // seen, every event of `body` has been delivered
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(tap)
    (jobs.get, mapTasks.get)
  }

  test("shape: one job per call, map stage pruned to the term's buckets") {
    val s = open(contentDir, dist = true)
    try {
      val term = "merge"
      s.search(TermQ(term), 10) // builds the store, loads stats + blooms
      val (jobs, tasks) = measure(s.search(TermQ(term), 10))
      assert(jobs == 1)
      // the store's partitions are the segment read's; which of them hold
      // the term's bucket
      val ix = SegmentSearcher.load(contentDir)
      val held = spark.read.option("basePath", s"$contentDir/segments")
        .parquet(ix.segmentPaths: _*).select("bucket").rdd
        .mapPartitions(rs => Iterator.single(rs.map(_.getInt(0)).toSet))
        .collect()
      val bucket = IndexBuilder.bucketOf(term, cfg.numBuckets)
      val want = held.count(_.contains(bucket))
      assert(held.length > 1, "fixture: the store needs several partitions")
      assert(tasks == want)
      assert(want < held.length)
    } finally s.close()
  }

  test("shape: a bloom-absent term runs no job") {
    val s = open(contentDir, dist = true)
    try {
      s.search(TermQ("def"), 10) // loads blooms, tombstones, the store
      val skipped = (0 until 20).map(i => s"absentterm$i").filter { t =>
        val before = s.bloomSkipped
        val (jobs, _) = measure(assert(s.search(TermQ(t), 10).isEmpty))
        if (s.bloomSkipped > before) { assert(jobs == 0, t); true } else false
      }
      assert(skipped.nonEmpty, "fixture: some candidate must be a bloom NO")
    } finally s.close()
  }
}
