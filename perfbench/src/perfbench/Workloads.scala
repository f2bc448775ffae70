package perfbench

import java.io.File
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.functions.col
import graft.core.{Analysis, DocIds, Hit}
import graft.index.{Deletes, IndexBuilder, PostingsCodec}
import graft.index.IndexBuilder.{BuildConfig, LogicalIndex}
import graft.search.{DataFrameSearcher, Query, Searcher, SegmentSearcher}

/** The workloads. Every call into the engine goes through its public API;
  * spans wrap each call so the traced run can attribute time and Spark
  * work to the `core`, `index` and `search` modules.
  *
  * Both workloads run the same phases: generate and write the corpus,
  * build the index (one timed build), compute reference answers with
  * DataFrameSearcher, open + warm a Searcher three times (set-up), run the
  * 4-client closed loop for the window, then a few delete → reopen →
  * first-answer cycles. They differ only in the Searcher's
  * `maxLocalBytes`: the default budget keeps every posting list on the
  * driver (query_local), 0 sends every query through Spark shard tasks
  * (query_dist).
  */
object Workloads {

  val Names = Seq("query_local", "query_dist")

  /** Corpus size. On a 4-core machine a build costs a near-constant
    * 10-15 s of Spark jobs at this scale, so a larger corpus would not
    * change what dominates.
    */
  val NumDocs = 5000
  val Clients = 4
  val SetupReps = 3
  val RefreshCycles = 4
  /** Untimed closed-loop run before the window, so the JIT has compiled
    * the query path before it is timed: at least this long and this many
    * answers (the distributed path answers ~20 queries a second, and keeps
    * getting faster for its first ~150).
    */
  val WarmupSeconds = 4
  val WarmupQueries = 150
  val SortCols = Seq("repo", "path", "commit")
  val DeleteBatch = 32

  /** The shipped defaults, with the salting threshold and bucket count
    * scaled to the corpus (they assume inputs many orders larger), and
    * the bloom sidecar on so absent-term lookups can skip the stats read.
    */
  def config(numDocs: Int): BuildConfig =
    BuildConfig(saltThreshold = Gen.saltThreshold(numDocs), bloom = true,
      numBuckets = 8)

  def run(ctx: Ctx): Unit = ctx.a.workload match {
    case "query_local" => run(ctx, 256L << 20)
    case "query_dist" => run(ctx, 0L)
  }

  // ---------- helpers ----------

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Driver heap after a full collection, MB. */
  private def heapLiveMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  /** Run `body(client)` on `n` threads inside the caller's span. */
  private def clients[A](ctx: Ctx, n: Int)(body: Int => A): Seq[A] = {
    val span = ctx.tracer.context
    val out = new Array[Any](n)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = (0 until n).map { c =>
      val t = new Thread(() =>
        try out(c) = ctx.tracer.within(span)(body(c))
        catch { case e: Throwable => err.compareAndSet(null, e); () })
      t.start()
      t
    }
    ts.foreach(_.join())
    if (err.get != null) throw err.get
    out.toSeq.map(_.asInstanceOf[A])
  }

  private def sameHits(a: Array[Hit], b: Array[Hit]): Boolean =
    a != null && b != null && a.length == b.length && a.indices.forall { i =>
      a(i).docId == b(i).docId &&
        java.lang.Double.doubleToLongBits(a(i).score) ==
          java.lang.Double.doubleToLongBits(b(i).score)
    }

  private def writeCorpus(ctx: Ctx, c: Gen.Corpus, path: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    spark.sparkContext.parallelize(c.docs.toSeq, 8).toDS()
      .write.mode("overwrite").parquet(path)
  }

  /** buildLogical + writeIndex with the manifest checked against the
    * counts the generator knows. Returns (seconds, logical index).
    */
  private def buildIndex(ctx: Ctx, c: Gen.Corpus, input: String,
      out: String): (Double, LogicalIndex) = {
    val t0 = System.nanoTime()
    val ix = ctx.tracer.span("index.build_logical") {
      IndexBuilder.buildLogical(ctx.spark.read.parquet(input), "content",
        None, SortCols, config(c.numDocs))
    }
    val m = ctx.tracer.span("index.write_index") {
      IndexBuilder.writeIndex(ix, out, "perfbench", numGroups = 1)
    }
    val s = secs(t0)
    ctx.attempt(1)
    if (m.docCount != c.numDocs || m.sumTotalTermFreq != c.sumTotalTermFreq)
      ctx.fail(1, s"manifest docCount=${m.docCount} sumTotalTermFreq=" +
        s"${m.sumTotalTermFreq}, generator ${c.numDocs} / ${c.sumTotalTermFreq}")
    (s, ix)
  }

  private def dropLogical(ctx: Ctx, ix: LogicalIndex): Unit = {
    ix.unpersistCached()
    ix.postings.unpersist()
    ctx.spark.catalog.clearCache()
  }

  /** Postings read by traced queries (Σ df of their expanded terms). */
  private val postingsRead = new AtomicLong(0L)
  private val tracedQueries = new AtomicLong(0L)

  /** One query through the public API. Traced runs also time the rewrite
    * and the stats lookup as separate calls before the search.
    */
  private def runQuery(ctx: Ctx, s: Searcher, q: Gen.Q): Array[Hit] = {
    val tr = ctx.tracer
    tr.span("bench.query", request = true) {
      if (tr.on) {
        val rq = tr.span("search.rewrite")(s.expandMultiTerm(Query.rewrite(q.query)))
        val st = tr.span("search.stats")(s.stats(Query.literalTerms(rq)))
        postingsRead.addAndGet(st.values.map(_._1).sum)
        tracedQueries.incrementAndGet()
      }
      tr.span("search.search")(s.search(q.query, q.k))
    }
  }

  /** Open a searcher and run every distinct query once: the set-up whose
    * time `setup_s` reports for the query workloads.
    */
  private def openWarm(ctx: Ctx, dir: String, budget: Long,
      mix: Array[Gen.Q]): (Searcher, Array[Array[Hit]]) = {
    val s = ctx.tracer.span("search.open") {
      new Searcher(ctx.spark, SegmentSearcher.load(dir), maxLocalBytes = budget)
    }
    val first = new Array[Array[Hit]](mix.length)
    ctx.tracer.span("bench.warm") {
      clients(ctx, Clients) { c =>
        var i = c
        while (i < mix.length) {
          first(i) =
            try runQuery(ctx, s, mix(i))
            catch { case NonFatal(e) => ctx.fail(1, s"warm ${mix(i)}: $e"); null }
          i += Clients
        }
      }
    }
    (s, first)
  }

  // ---------- traced-run probes ----------

  /** Tokenizer cost over a seeded sample, and the docId pass. */
  private def coreProbes(ctx: Ctx, c: Gen.Corpus, input: String): Unit = {
    if (!ctx.a.trace) return
    val rnd = new Random(ctx.a.seed + 3)
    val sample = Array.fill(1000)(c.docs(rnd.nextInt(c.numDocs)).content)
    val bytes = sample.map(_.length.toLong).sum
    var passes = 0
    var sink = 0L
    val t0 = System.nanoTime()
    ctx.tracer.span("core.tokenize") {
      while (passes < 3 || System.nanoTime() - t0 < 300000000L) {
        sample.foreach(s => sink += Analysis.simpleTokens(s).length)
        passes += 1
      }
    }
    ctx.layer("core.tokenize_ns_per_byte") =
      ((System.nanoTime() - t0).toDouble / (passes * bytes), "ns/byte")
    val t1 = System.nanoTime()
    ctx.tracer.span("core.docids") {
      DocIds.withDocIdsCounted(ctx.spark.read.parquet(input), SortCols)
    }
    ctx.layer("core.docids_ms") = (ms(t1), "ms")
    ctx.spark.catalog.clearCache()
    ctx.detail("tokenize_sink") = sink
  }

  private def drain(ctx: Ctx): SparkCounts.Snapshot = {
    val c = ctx.counts.get
    c.drain(ctx.spark.sparkContext)
    c.snapshot()
  }

  private def spanMs(ctx: Ctx, name: String, from: Long, to: Long): Seq[Double] =
    ctx.tracer.spans.filter(s => s.name == name && s.start >= from && s.end <= to)
      .map(_.ns / 1e6)

  /** Build-side Spark metrics over the timed build. */
  private def sparkBuild(ctx: Ctx, before: SparkCounts.Snapshot,
      after: SparkCounts.Snapshot, wallS: Double): Unit = {
    val a = after.since(before)
    ctx.layer("spark.shuffle_write_bytes") = (a.shuffleWrite.toDouble, "bytes")
    ctx.layer("spark.spill_bytes") = (a.spill.toDouble, "bytes")
    ctx.layer("spark.max_task_over_median") = (ctx.counts.get.skew(before), "ratio")
    ctx.layer("spark.core_util") = (a.runMs / (wallS * 1000.0 * 4), "ratio")
  }

  /** Per-task Spark metrics over the query-serving phases (set-up, window,
    * refresh); on query_local the window itself runs no tasks.
    */
  private def sparkServe(ctx: Ctx, before: SparkCounts.Snapshot,
      after: SparkCounts.Snapshot): Unit = {
    val a = after.since(before)
    val n = math.max(1L, a.tasks).toDouble
    ctx.layer("spark.sched_wait_ms") = (a.schedWaitMs / n, "ms")
    ctx.layer("spark.task_run_ms") = (a.runMs / n, "ms")
    ctx.layer("spark.task_gc_ms") = (a.gcMs / n, "ms")
    ctx.detail("spark_serve") = a.toMap
  }

  private val QuerySpans =
    Set("search.rewrite", "search.stats", "search.search")

  /** search.* metrics over the traced queries between two snapshots. */
  private def searchLayer(ctx: Ctx, before: SparkCounts.Snapshot,
      after: SparkCounts.Snapshot, from: Long, to: Long,
      queries: Long, postings: Long): Unit = {
    val a = after.since(before, QuerySpans.contains)
    val n = math.max(1L, queries).toDouble
    ctx.layer("search.rewrite_us") =
      (median(spanMs(ctx, "search.rewrite", from, to)) * 1000, "us")
    ctx.layer("search.stats_us") =
      (median(spanMs(ctx, "search.stats", from, to)) * 1000, "us")
    ctx.layer("search.search_ms") =
      (median(spanMs(ctx, "search.search", from, to)), "ms")
    ctx.layer("search.jobs_per_query") = (a.jobs / n, "count")
    ctx.layer("search.tasks_per_query") = (a.tasks / n, "count")
    ctx.layer("search.shuffle_bytes_per_query") = (a.shuffleWrite / n, "bytes")
    ctx.layer("search.shuffle_bytes_per_posting") =
      (a.shuffleWrite.toDouble / math.max(1L, postings), "bytes/posting")
  }

  /** Decode cost: the mix's posting blobs, read via segmentsDf, iterated
    * with PostingsCodec.iterator.
    */
  private def decodeProbe(ctx: Ctx, s: Searcher, mix: Array[Gen.Q]): Unit = {
    val tr = ctx.tracer
    val terms = mix.flatMap(q => Query.literalTerms(q.query)).distinct
    val blobs = tr.span("search.segments_read") {
      s.segmentsDf.filter(col("term").isin(terms: _*))
        .select("docBlocks", "skipData").collect()
        .map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    }
    var postings = 0L
    var passes = 0
    val t0 = System.nanoTime()
    tr.span("index.decode") {
      while (passes < 3 || System.nanoTime() - t0 < 300000000L) {
        blobs.foreach { case (d, sk) =>
          val it = PostingsCodec.iterator(d, sk)
          while (it.nextDoc()) postings += 1
        }
        passes += 1
      }
    }
    ctx.layer("index.decode_ns_per_posting") =
      ((System.nanoTime() - t0).toDouble / math.max(1L, postings), "ns/posting")
  }

  /** Query requests whose spans the trace file lists; the aggregates
    * cover every request.
    */
  val WrittenQueryRequests = 2000

  /** Span tree summary and per-module attribution of the traced run. */
  private def finishTrace(ctx: Ctx): Unit = {
    val spans = ctx.tracer.spans
    val self = Tracer.selfTimes(spans)
    val snap = drain(ctx)
    val queryReqs = spans.filter(_.name == "bench.query").map(_.req)
    val dropped = queryReqs.drop(WrittenQueryRequests).toSet
    ctx.traceOut("spans") = spans.filterNot(s => dropped(s.req)).map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end))
    ctx.traceOut("query_requests") =
      Map("total" -> queryReqs.size, "written" -> (queryReqs.size - dropped.size))
    ctx.traceOut("by_name") = spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "total_ms" -> ss.map(_.ns).sum / 1e6,
        "self_ms" -> ss.map(x => self(x.id)).sum / 1e6)
    }
    val empty = SparkCounts.Snapshot(Map.empty, -1)
    ctx.traceOut("modules") = Seq("core", "index", "search", "bench").map { m =>
      m -> (Map("self_ms" -> spans.filter(s => Tracer.module(s.name) == m)
        .map(x => self(x.id)).sum / 1e6) ++
        snap.since(empty, n => Tracer.module(n) == m).toMap)
    }.toMap + ("spark" -> snap.since(empty).toMap)
    ctx.traceOut("spark_by_span") = snap.byName.map { case (n, a) => n -> a.toMap }
  }

  // ---------- phases ----------

  /** DataFrameSearcher's answer to every distinct query (null on error). */
  private def references(ctx: Ctx, ix: LogicalIndex,
      mix: Array[Gen.Q]): Array[Array[Hit]] = {
    val ref = new Array[Array[Hit]](mix.length)
    ctx.tracer.span("bench.reference") {
      clients(ctx, Clients) { cl =>
        var i = cl
        while (i < mix.length) {
          val q = mix(i)
          ref(i) =
            try DataFrameSearcher.search(ix, q.query, q.k).collect()
              .map(r => Hit(r.getLong(0), r.getDouble(1)))
            catch { case NonFatal(e) => System.err.println(s"reference $q: $e"); null }
          i += Clients
        }
      }
    }
    ref
  }

  /** Open + warm, `SetupReps` times; the last handle stays open. */
  private def setupSearcher(ctx: Ctx, dir: String, budget: Long,
      mix: Array[Gen.Q]): (Searcher, Array[Array[Hit]]) = {
    var cur: (Searcher, Array[Array[Hit]]) = null
    val setup = (0 until SetupReps).map { _ =>
      if (cur != null) ctx.tracer.span("search.close")(cur._1.close())
      val t0 = System.nanoTime()
      cur = openWarm(ctx, dir, budget, mix)
      secs(t0)
    }
    ctx.e2e("setup_s") = (median(setup), "s")
    ctx.detail("setup_s") = setup
    cur
  }

  /** Delete → close → reopen → first answer, `RefreshCycles` + 1 times;
    * the first cycle is untimed, as it also compiles the reopen path.
    * Half of each delete batch comes from the previous first answer, so a
    * tombstone leak would show in the next one. Returns the open handle.
    */
  private def refresh(ctx: Ctx, s0: Searcher, dir: String, budget: Long,
      mix: Array[Gen.Q], numDocs: Int): Searcher = {
    val tr = ctx.tracer
    val rnd = new Random(ctx.a.seed ^ 0x5DEECE66DL)
    val deleted = mutable.HashSet.empty[Long]
    val head = mix(0)
    var recent = Array.empty[Long]
    var s = s0
    var bloom = 0L
    val took = (0 to RefreshCycles).map { cycle =>
      val batch = Gen.deleteBatch(rnd, numDocs, recent, DeleteBatch)
      val t0 = System.nanoTime()
      tr.span("index.delete_ids")(Deletes.deleteIds(ctx.spark, dir, batch))
      bloom += s.bloomSkipped
      tr.span("search.close")(s.close())
      s = tr.span("search.open") {
        new Searcher(ctx.spark, SegmentSearcher.load(dir), maxLocalBytes = budget)
      }
      val first = tr.span("search.first_query")(s.search(head.query, head.k))
      val t = ms(t0)
      deleted ++= batch
      ctx.attempt(1)
      if (first.exists(h => deleted(h.docId)))
        ctx.fail(1, s"refresh cycle $cycle: tombstoned doc in the answer")
      recent = first.map(_.docId)
      t
    }.drop(1)
    bloom += s.bloomSkipped
    ctx.e2e("refresh_p50_ms") = (median(took), "ms")
    ctx.detail("refresh_ms") = took
    if (ctx.a.trace) {
      def med(n: String) = median(ctx.tracer.spans.filter(_.name == n)
        .takeRight(RefreshCycles).map(_.ns / 1e6))
      ctx.layer("index.delete_ids_ms") = (med("index.delete_ids"), "ms")
      ctx.layer("search.open_ms") = (med("search.open"), "ms")
      ctx.layer("search.first_query_ms") = (med("search.first_query"), "ms")
      ctx.layer("search.close_ms") = (med("search.close"), "ms")
      ctx.layer("search.bloom_skipped") = (bloom.toDouble, "count")
    }
    s
  }

  /** One run: corpus → build → references → set-up → window → refresh. */
  def run(ctx: Ctx, budget: Long): Unit = {
    val tr = ctx.tracer
    val snap = () => ctx.counts.map(_ => drain(ctx))
    val gc0 = gcMs()
    val c = tr.span("bench.generate")(Gen.corpus(NumDocs, ctx.a.seed))
    val input = ctx.dir("corpus")
    tr.span("bench.write_corpus")(writeCorpus(ctx, c, input))
    ctx.phase("corpus")
    coreProbes(ctx, c, input)

    val dir = ctx.dir("index")
    val b0 = snap()
    val (buildS, ix) = buildIndex(ctx, c, input, dir)
    val indexBytes = dirBytes(new File(dir)).toDouble
    ctx.e2e("build_docs_per_s") = (c.numDocs / buildS, "docs/s")
    ctx.e2e("index_bytes_per_input_byte") = (indexBytes / c.contentBytes, "ratio")
    if (ctx.a.trace) {
      sparkBuild(ctx, b0.get, snap().get, buildS)
      ctx.layer("index.build_logical_ms") =
        (median(spanMs(ctx, "index.build_logical", 0L, Long.MaxValue)), "ms")
      ctx.layer("index.write_index_ms") =
        (median(spanMs(ctx, "index.write_index", 0L, Long.MaxValue)), "ms")
      ctx.layer("index.output_bytes") = (indexBytes, "bytes")
    }
    ctx.phase("build")

    val mix = Gen.queryMix(c, ctx.a.seed)
    val ref = references(ctx, ix, mix)
    dropLogical(ctx, ix)
    ctx.phase("reference")

    val s0 = snap()
    val (s, first) = setupSearcher(ctx, dir, budget, mix)
    ctx.phase("setup")

    val ops = new AtomicLongArray(mix.length)
    val bad = new AtomicLongArray(mix.length)
    // (1-second slice since `from`, latency ms) of every answer before `end`;
    // the warm-up and the window share this loop, so its code is compiled
    // when the window starts
    def closedLoop(streams: Long, from: Long, end: Long,
        atLeast: Int = 0): Seq[(Int, Double)] = {
      val answered = new AtomicLong(0L)
      clients(ctx, Clients) { cl =>
        val rnd = new Random(streams + cl)
        val buf = mutable.ArrayBuffer.empty[(Int, Double)]
        while (System.nanoTime() < end || answered.get < atLeast) {
          val qi = rnd.nextInt(mix.length)
          val t0 = System.nanoTime()
          val ok =
            try sameHits(runQuery(ctx, s, mix(qi)), first(qi))
            catch { case NonFatal(_) => false }
          val t1 = System.nanoTime()
          buf += (((t1 - from) / 1000000000L).toInt -> (t1 - t0) / 1e6)
          answered.incrementAndGet()
          ops.incrementAndGet(qi)
          if (!ok) bad.incrementAndGet(qi)
        }
        buf.toSeq
      }.flatten
    }
    val warm0 = System.nanoTime()
    tr.span("bench.warmup") {
      closedLoop(ctx.a.seed * 1000033L, warm0,
        warm0 + WarmupSeconds * 1000000000L, WarmupQueries)
    }
    val w0 = snap()
    val (p0, q0) = (postingsRead.get, tracedQueries.get)
    val from = System.nanoTime()
    val lats = tr.span("bench.window") {
      closedLoop(ctx.a.seed * 1000003L, from, from + ctx.a.seconds * 1000000000L)
    }
    val to = System.nanoTime()
    val w1 = snap()
    // medians over the window's 1-second slices: a burst of host noise or
    // a late JIT compile moves a few slices, not the reported value
    val bySlice = lats.filter(_._1 < ctx.a.seconds).groupMap(_._1)(_._2)
    val slices = (0 until ctx.a.seconds).map(i => bySlice.getOrElse(i, Nil))
    val busy = slices.filter(_.nonEmpty)
    ctx.e2e("query_p50_ms") = (median(busy.map(median)), "ms")
    ctx.e2e("query_p90_ms") = (median(busy.map(pct(_, 0.90))), "ms")
    // per slice, a closed loop of N clients answers N / (mean latency)
    // queries per second (Little's law); unlike a count it is not
    // quantized when a slice holds only a dozen answers
    ctx.e2e("qps") = (median(busy.map(l => Clients * 1000.0 * l.size / l.sum)),
      "queries/s")
    ctx.e2e("heap_live_mb") = (heapLiveMb(), "MB")
    ctx.detail("queries") = lats.size
    ctx.detail("queries_per_slice") = slices.map(_.size)
    ctx.detail("distinct_queries") = mix.map(q => s"${q.name} k=${q.k}: ${q.query}").toSeq
    if (ctx.a.trace) {
      searchLayer(ctx, w0.get, w1.get, from, to,
        tracedQueries.get - q0, postingsRead.get - p0)
      ctx.layer("jvm.heap_live_mb") = ctx.e2e("heap_live_mb")
    }
    ctx.phase("window")

    mix.indices.foreach { i =>
      ctx.attempt(ops.get(i) + 1)
      if (!sameHits(first(i), ref(i)))
        ctx.fail(ops.get(i) + 1, s"${mix(i)} differs from DataFrameSearcher")
      else if (bad.get(i) > 0)
        ctx.fail(bad.get(i), s"${mix(i)}: answers vary between calls")
    }

    val last = refresh(ctx, s, dir, budget, mix, c.numDocs)
    ctx.phase("refresh")
    if (ctx.a.trace) {
      sparkServe(ctx, s0.get, snap().get)
      decodeProbe(ctx, last, mix)
      ctx.layer("jvm.gc_ms") = ((gcMs() - gc0).toDouble, "ms")
      finishTrace(ctx)
    }
    last.close()
  }
}
