package graft

import org.apache.spark.sql.SparkSession
import graft.core.Corpus
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.search._

/** Benchmark main (BASELINE.md metrics):
  *  - index-build docs/sec on the deterministic synthetic corpus
  *    (FIXTURES.md §1), at two parallelism levels — local[N] vs local[4N]
  *    stands in for N vs 4N executors (no real cluster in this sandbox)
  *  - top-k BM25 QPS on the reference query set over the built index,
  *    at both levels
  *  - scaling efficiency = (throughput@4N / throughput@N) / 4
  *  - per-gate-query seconds on the sf dir's documents table
  *
  * Prints ONE JSON line to stdout at the end. Crucially the harness is
  * TIMEOUT-PROOF (the round-3 artifact was rc=124 with no JSON at all):
  *  - a hard internal deadline (SPARK_GRAFT_BENCH_DEADLINE_S, default
  *    2000s) is checked before every expensive section; when it trips,
  *    whatever was measured so far is emitted as the final JSON
  *  - after EVERY attempt the cumulative JSON snapshot is written to
  *    bench_progress.json and stderr
  *  - a JVM shutdown hook prints the latest snapshot to stdout if the
  *    final print has not happened (catches an external SIGTERM)
  *  - the peak phase (not a scaling metric) runs only with time to spare
  */
object Bench {

  /** 1M docs: below ~600k fixed costs dominate the scaling ratio (300k
    * measured 0.74 in a clean window); at 1M the ~2-min 2-core phase also
    * AVERAGES over host-weather windows the boundary probes can't see —
    * back-to-back "clean" 600k 2-core builds varied 100–116 s (±8%),
    * which is most of the observed attempt-to-attempt efficiency spread.
    *
    * `var`: the parent process ADAPTIVELY downsizes this before attempt 1
    * when the calibration probes measure a degraded host (see
    * `sizeAttempt`), so that even a 20x-degraded window completes at
    * least one attempt inside the deadline. Child (phase) JVMs receive
    * the resolved value via the SPARK_GRAFT_BENCH_DOCS env var.
    */
  var BenchDocs: Long =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "1000000").toLong
  val BenchDocsDefault: Long = 1000000L
  /** Never size below this: fixed costs dominate the scaling ratio under
    * ~600k already; 150k is the agreed floor where the number is still a
    * measurement of the engine rather than of JVM start-up.
    */
  val BenchDocsFloor: Long =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS_FLOOR", "150000").toLong

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      // 4 tasks/core: at 2×/core the build's range-partitioned tokenize
      // tasks are skewed by content length and the straggler tail idles
      // ~25-35% of the cores (job-level util 0.63-0.73 measured at both
      // levels); 4×/core halves the tail without meaningful task overhead
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", benchTmp)
      // parquet codec knob: zstd trades memory-bus bytes for CPU — on
      // hosts whose delivered bandwidth stops scaling with threads, the
      // compute-bound trade scales better
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Scratch space for shuffle + bench indexes. Defaults to tmpfs when
    * available: the sandbox's virtual disk degrades 10×+ in bursts, which
    * would measure the host, not the engine (a real cluster writes to
    * distributed storage). Override with SPARK_GRAFT_TMP.
    */
  lazy val benchTmp: String = sys.env.getOrElse("SPARK_GRAFT_TMP", {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-bench")
      d.mkdirs()
      d.getAbsolutePath
    } else sys.props("java.io.tmpdir")
  })

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Full build: synthetic corpus → logical index → committed segments.
    * Times EVERYTHING from raw corpus to committed manifest; returns
    * (total, logical, write) seconds so the artifact itself carries the
    * per-stage split (the round-3 0.276-while-"clean" anomaly was a
    * write-stage stall invisible in a total-only number).
    */
  private def buildIndex(spark: SparkSession, dir: String,
      cpus: Int): (Double, Double, Double) = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val corpus = Corpus.distributed(spark, BenchDocs, seed = 42L,
      partitions = cpus * 4)
    val cfg = BuildConfig(numBuckets = 32, numDocShards = 8,
      saltThreshold = BenchDocs / 4, tokenizer = "simple")
    var tLogical = 0.0
    var tWrite = 0.0
    val (t, _) = time {
      val (tl, ix) = time {
        IndexBuilder.buildLogical(corpus.toDF(), "content", None,
          Seq("repo", "path", "commit"), cfg)
      }
      val (tw, _) = time {
        IndexBuilder.writeIndex(ix, dir, "bench", numGroups = 1,
          verbose = sys.env.contains("SPARK_GRAFT_VERBOSE_BUILD"))
      }
      tLogical = tl; tWrite = tw
      System.err.println(
        f"[bench] build@$cpus: logical=$tl%.1fs write=$tw%.1fs")
      ix.unpersistCached()
      ix.postings.unpersist()
    }
    (t, tLogical, tWrite)
  }

  /** Reference query set over the synthetic corpus vocabulary
    * (FIXTURES.md §4: common/rare/absent terms, AND, OR, msm, hot terms,
    * k ∈ {1,10,100}).
    */
  private def referenceQueries: Seq[(String, Query, Int)] = Seq(
    ("term_hot_k10", TermQ("def"), 10),
    ("term_hot_k100", TermQ("def"), 100),
    ("term_hot_k1", TermQ("index"), 1),
    ("term_mid_k10", TermQ("partition"), 10),
    ("term_rare_k10", TermQ("getblockwriter"), 10),
    ("term_absent", TermQ("zzzabsent"), 10),
    ("and2", Query.and(TermQ("index"), TermQ("merge")), 10),
    ("and3", Query.and(TermQ("def"), TermQ("val"), TermQ("score")), 10),
    ("or2", Query.or(TermQ("spark"), TermQ("lucene")), 10),
    ("or3_msm2", Query.orMin(2, TermQ("spark"), TermQ("lucene"), TermQ("segment")), 10),
    ("or_hot", Query.or(TermQ("def"), TermQ("class")), 10),
    ("not", Query.not(TermQ("index"), TermQ("spark")), 10))

  /** `reps` passes over the query set under a concurrent client load
    * (QPS-style, like the reference's benchmark search tasks); returns
    * (seconds, totalQueries).
    */
  private def querySet(searcher: Searcher, reps: Int,
      concurrency: Int): (Double, Int) = {
    val tasks: Seq[(Query, Int)] =
      (1 to reps).flatMap(_ => referenceQueries.map { case (_, q, k) => (q, k) })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
    try {
      val (t, _) = time {
        tasks.map { case (q, k) =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = searcher.search(q, k).length
          })
        }.foreach(_.get())
      }
      (t, tasks.size)
    } finally pool.shutdown()
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  // ---------------------------------------------------------------------
  // Host-weather probes. Two contention modes have been observed on this
  // sandbox: memory-bus saturation (strided-sum probe catches it) and
  // write-path stalls (round-3: an 8-core build spent 85.4s of 109.2s in
  // the write stage while the strided probe read clean — the neighbors
  // were contending on page allocation / dirty-page writeback, which a
  // read-only strided sum never touches). A calibration point therefore
  // samples BOTH probes, and clean requires both.
  // ---------------------------------------------------------------------

  /** Preallocated, page-touched probe buffers — fresh 64 MB allocations
    * per sample measured page-fault/heap-growth noise (1-thread samples
    * ranged 22..155 ms within one phase purely from JVM state), which
    * made the clean/degraded verdict track the JVM, not the host.
    */
  private val calibBufs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
  private def calibBuf(i: Int): Array[Long] = calibBufs.synchronized {
    while (calibBufs.size <= i) {
      val b = new Array[Long](8 * 1024 * 1024)
      var j = 0
      while (j < b.length) { b(j) = j; j += 512 } // fault every page in
      calibBufs += b
    }
    calibBufs(i)
  }

  private def stridedProbe(threads: Int): Long = {
    // memory-BANDWIDTH-sensitive workload (strided sums over a private
    // 64 MB array per thread): pure-register spins stayed flat while
    // builds degraded 3× — the neighbors contend on the memory bus, not
    // the ALUs, so the probe must stress what the engine stresses
    def spin(buf: Array[Long]): Long = {
      var h = 0L
      var pass = 0
      while (pass < 6) {
        var i = 0
        while (i < buf.length) { h += buf(i); i += 8 }
        pass += 1
      }
      h
    }
    val bufs = Array.tabulate(threads)(calibBuf)
    def once(): Long = {
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val ts = bufs.map(b => new Thread(() => { sink.addAndGet(spin(b)); () }))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1000000
    }
    once() // untimed warm pass (thread spin-up, caches)
    // min of 3: the minimum is the least-interference estimate of what
    // the host can actually deliver right now
    Seq(once(), once(), once()).min
  }

  private lazy val writeChunk: Array[Byte] = {
    val b = new Array[Byte](8 * 1024 * 1024)
    new java.util.Random(42).nextBytes(b)
    b
  }

  /** Per-thread 64 MB file write to the bench scratch dir (tmpfs when
    * available) — the same path the index write stage exercises. Wall ms
    * for all threads to finish, min-of-2 after a warm pass.
    */
  private def writeProbe(threads: Int): Long = {
    val dir = new java.io.File(benchTmp, "calib-write")
    dir.mkdirs()
    def once(): Long = {
      val t0 = System.nanoTime()
      val ts = Array.tabulate(threads) { i =>
        new Thread(() => {
          val f = new java.io.File(dir, s"w$i.bin")
          val out = new java.io.FileOutputStream(f)
          var p = 0
          while (p < 8) { out.write(writeChunk); p += 1 }
          out.close()
          f.delete()
          ()
        })
      }
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1000000
    }
    once()
    math.min(once(), once())
  }

  /** One calibration point: both probes at 1 thread and at `cpus`. */
  final case class Calib(s1: Long, sN: Long, w1: Long, wN: Long) {
    def stridedClean: Boolean = sN <= s1 * StridedFactor
    def writeClean: Boolean = wN <= w1 * WriteFactor
    def clean: Boolean = stridedClean && writeClean
    def json: String = s"[$s1,$sN,$w1,$wN]"
    def fields: String = s"$s1 $sN $w1 $wN"
  }
  val StridedFactor: Double =
    sys.env.getOrElse("SPARK_GRAFT_STRIDED_FACTOR", "1.6").toDouble
  val WriteFactor: Double =
    sys.env.getOrElse("SPARK_GRAFT_WRITE_FACTOR", "2.5").toDouble

  def calibrate(cpus: Int): Calib =
    Calib(stridedProbe(1), stridedProbe(cpus), writeProbe(1), writeProbe(cpus))

  // ---------------------------------------------------------------------
  // Adaptive attempt sizing (round-4 verdict #1). The probes are fixed
  // deterministic work, so their absolute times measure host speed
  // directly. Nominal clean-host values below are the medians over the 21
  // clean calibration points in the committed r4 artifacts
  // (BENCH/local_r4_run1.json, run2: s1 25–52 ms, w1 28–58 ms, and at 8
  // threads sN 34–52 ms, wN 29–66 ms). Overridable if the fleet changes.
  // ---------------------------------------------------------------------
  val NominalS1Ms: Double =
    sys.env.getOrElse("SPARK_GRAFT_NOMINAL_S1_MS", "38").toDouble
  val NominalW1Ms: Double =
    sys.env.getOrElse("SPARK_GRAFT_NOMINAL_W1_MS", "36").toDouble
  val NominalSNMs: Double =
    sys.env.getOrElse("SPARK_GRAFT_NOMINAL_SN_MS", "46").toDouble
  val NominalWNMs: Double =
    sys.env.getOrElse("SPARK_GRAFT_NOMINAL_WN_MS", "45").toDouble

  /** How much slower than a clean host the current window is: the worst
    * ratio of any probe reading to its clean-host nominal. ≥ 1. Captures
    * both uniform degradation (s1/w1 elevated) and core starvation (sN/wN
    * elevated while 1-thread reads clean).
    */
  def hostDegradation(c: Calib): Double =
    Seq(c.s1 / NominalS1Ms, c.w1 / NominalW1Ms,
        c.sN / NominalSNMs, c.wN / NominalWNMs, 1.0).max

  /** Clean-host attempt cost model at the lo/hi pair, fit from the r4
    * artifacts (1M docs ≈ 350–420 s per attempt: lo build 155–210 s +
    * hi build 46–67 s + query 37–46 s docs-proportional; warm builds,
    * six calibration points and two JVM start-ups ≈ 130–160 s fixed).
    */
  val AttemptFixedS: Double = 150.0
  val AttemptVarSPerM: Double = 280.0
  def attemptEstimateS(docs: Long, degradation: Double): Double =
    degradation * (AttemptFixedS + AttemptVarSPerM * docs / 1e6)

  /** Pick the attempt's doc count for the measured host speed so one full
    * attempt fits in `budgetS` (deadline/3 per the round-4 verdict).
    * Returns (docs, degradation, reason). Never sizes UP past the
    * default, never below the floor; an env-pinned doc count wins.
    */
  def sizeAttempt(c: Calib, budgetS: Double): (Long, Double, String) = {
    val d = hostDegradation(c)
    if (sys.env.contains("SPARK_GRAFT_BENCH_DOCS"))
      return (BenchDocs, d, s"pinned by SPARK_GRAFT_BENCH_DOCS=$BenchDocs")
    val fit = ((budgetS / d - AttemptFixedS) / AttemptVarSPerM * 1e6).toLong
    val docs = math.max(BenchDocsFloor, math.min(BenchDocsDefault, fit))
    val reason =
      if (docs == BenchDocsDefault) f"clean-enough host (degradation $d%.2fx): default size"
      else if (fit < BenchDocsFloor)
        f"host degraded $d%.2fx (probe ${c.fields} vs nominal $NominalS1Ms%.0f/$NominalSNMs%.0f/$NominalW1Ms%.0f/$NominalWNMs%.0f ms): fit $fit < floor, clamped to $BenchDocsFloor"
      else f"host degraded $d%.2fx: sized to $docs docs for a ${budgetS}%.0fs attempt budget"
    (docs, d, reason)
  }

  /** Wait (bounded) for a host window that actually delivers `cpus`
    * cores: the scaling rule measures the ENGINE at two parallelism
    * levels, which is meaningless in a window where the hypervisor hands
    * out 2 of 8 requested cores.
    */
  private def awaitCleanWindow(cpus: Int, tag: String): Calib = {
    val maxTries = sys.env.getOrElse("SPARK_GRAFT_CALIB_TRIES", "4").toInt
    var tries = 0
    var best: Calib = null
    while (tries < maxTries) {
      val c = calibrate(cpus)
      best = c
      if (c.clean) return c
      System.err.println(s"[bench] $tag: degraded window " +
        s"(strided 1t=${c.s1}ms ${cpus}t=${c.sN}ms, " +
        s"write 1t=${c.w1}ms ${cpus}t=${c.wN}ms), waiting 20s")
      tries += 1
      if (tries < maxTries) Thread.sleep(20000)
    }
    best
  }

  private def runPhase(cpus: Int, reps: Int, tag: String): Unit = {
    val tmp = benchTmp
    // the phase emulates an N-core node end-to-end: the searcher's
    // shard-fan-out pool must not exceed N either
    System.setProperty("graft.search.localPoolSize", cpus.toString)
    val pre = awaitCleanWindow(cpus, tag)
    val s = session(cpus)
    // JIT/codegen warm-up: a small untimed build first, so the timed run
    // measures steady-state throughput (tokenize/encode kernels C2-
    // compiled, Catalyst codegen cached) rather than JVM cold-start —
    // a fixed cost that would otherwise masquerade as poor scaling.
    locally {
      val warmDocs = math.max(10000L, BenchDocs / 20)
      val corpus = Corpus.distributed(s, warmDocs, seed = 7L, partitions = cpus * 4)
      val cfg = BuildConfig(numBuckets = 32, numDocShards = 8,
        saltThreshold = warmDocs / 4, tokenizer = "simple")
      val ix = IndexBuilder.buildLogical(corpus.toDF(), "content", None,
        Seq("repo", "path", "commit"), cfg)
      IndexBuilder.writeIndex(ix, s"$tmp/graft-bench-$tag-warm", "warm", 1)
      ix.unpersistCached()
      ix.postings.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$tmp/graft-bench-$tag-warm"))
    }
    val gc0 = gcMillis()
    val (tBuild, tLogical, tWrite) = buildIndex(s, s"$tmp/graft-bench-$tag", cpus)
    System.err.println(f"[bench] build@$cpus gcTime=${(gcMillis() - gc0) / 1000.0}%.1fs of $tBuild%.1fs")
    // post-BUILD calibration: the pre-phase probe only gates the phase
    // START; a long build spans multiple host-weather windows, so a phase
    // is trusted only when BOTH ends measured clean (round-2 artifact
    // failed exactly here: clean start, degraded mid-build)
    val mid = calibrate(cpus)
    val searcher = new Searcher(s, SegmentSearcher.load(s"$tmp/graft-bench-$tag"))
    querySet(searcher, 10, cpus) // warm: fill caches + JIT the kernels
    val (tQuery, nQ) = querySet(searcher, reps, cpus)
    val post = calibrate(cpus)
    // per-query-type mean latencies (single-threaded) for the breakdown
    referenceQueries.foreach { case (name, q, k) =>
      val (t, _) = time { (1 to 20).foreach(_ => searcher.search(q, k)) }
      System.err.println(f"[bench] q@$cpus $name%-16s ${t / 20 * 1000}%8.2f ms")
    }
    s.stop()
    println(s"[phase] $tBuild $tLogical $tWrite $tQuery $nQ " +
      s"${pre.fields} ${mid.fields} ${post.fields}")
  }

  final case class PhaseResult(build: Double, logical: Double, write: Double,
      query: Double, nQ: Int, pre: Calib, mid: Calib, post: Calib) {
    /** Build phase bracketed by clean windows (pre + mid). */
    def buildClean: Boolean = pre.clean && mid.clean
    /** Query phase bracketed by clean windows (mid + post). */
    def queryClean: Boolean = mid.clean && post.clean
  }

  /** Thrown when a forked phase exceeds its watchdog budget; the main
    * loop catches it, emits the snapshot, and exits 0 — a mid-attempt
    * host collapse must still produce a parseable artifact.
    */
  final class PhaseTimeout(tag: String, budgetS: Double)
    extends RuntimeException(f"phase $tag exceeded watchdog budget $budgetS%.0fs")

  /** Fork self with the same JVM flags/classpath for one phase. The child
    * is hard-killed at `maxWaitS` (deadline minus an emit reserve): a
    * fixed-size attempt on a collapsing host must not ride past the
    * external timeout.
    */
  private def forkPhase(cpus: Int, reps: Int, tag: String,
      calibTries: Int, maxWaitS: Double): PhaseResult = {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    // replace the parent's heap (sbt runs with a small -Xmx; a 600k-doc
    // build under 4g spends its time in external-sort spills, measuring
    // the spill path instead of the engine)
    jvmArgs.forEach(a =>
      if (!a.startsWith("-agentlib") && !a.startsWith("-Xmx") &&
          !a.startsWith("-Xms")) cmd.add(a))
    cmd.add(s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "24g")}")
    // emulate an N-core node faithfully: GC workers, JIT compiler threads,
    // ForkJoinPool.commonPool and every availableProcessors()-sized pool
    // must scale WITH the phase's core count — otherwise the 2-core phase
    // silently borrows the host's 32-core GC/JIT and the measured scaling
    // ratio under-credits the 8-core phase
    cmd.add(s"-XX:ActiveProcessorCount=$cpus")
    cmd.add("-cp"); cmd.add(sys.props("java.class.path"))
    cmd.add("graft.Bench"); cmd.add("phase"); cmd.add(cpus.toString)
    cmd.add(reps.toString); cmd.add(tag)
    val pb = new ProcessBuilder(cmd)
    // child stderr (stage breakdowns, GC stats) streams straight through
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.environment().putAll(System.getenv())
    pb.environment().put("SPARK_GRAFT_CALIB_TRIES", calibTries.toString)
    // the resolved (possibly downsized) doc count reaches the child here
    pb.environment().put("SPARK_GRAFT_BENCH_DOCS", BenchDocs.toString)
    val proc = pb.start()
    // drain stdout on a daemon thread so the watchdog can act even while
    // the child is mid-write (readAllBytes inline would block past it)
    val outBuf = new java.io.ByteArrayOutputStream()
    val drain = new Thread(() => {
      try proc.getInputStream.transferTo(outBuf)
      catch { case _: java.io.IOException => } // child killed mid-stream
    })
    drain.setDaemon(true)
    drain.start()
    val finished =
      if (maxWaitS == Double.MaxValue) { proc.waitFor(); true }
      else proc.waitFor(math.max(1000L, (maxWaitS * 1000).toLong),
        java.util.concurrent.TimeUnit.MILLISECONDS)
    if (!finished) {
      proc.destroyForcibly()
      proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      throw new PhaseTimeout(tag, maxWaitS)
    }
    drain.join(5000)
    val out = outBuf.toString("UTF-8")
    val code = proc.exitValue()
    if (code != 0) sys.error(s"phase $tag exited $code")
    out.linesIterator.find(_.startsWith("[phase] ")) match {
      case Some(l) =>
        val a = l.stripPrefix("[phase] ").split(" ").filter(_.nonEmpty)
        require(a.length == 17, s"phase line had ${a.length} fields: $l")
        def cal(o: Int) = Calib(a(o).toLong, a(o + 1).toLong,
          a(o + 2).toLong, a(o + 3).toLong)
        PhaseResult(a(0).toDouble, a(1).toDouble, a(2).toDouble,
          a(3).toDouble, a(4).toInt, cal(5), cal(9), cal(13))
      case None => sys.error(s"phase $tag printed no result:\n$out")
    }
  }

  /** Codec microbench: decode throughput of the FOR-packed block format
    * vs the legacy var-byte format over synthetic posting lists at
    * realistic shapes (rare → very hot terms over a 10M-doc space; tf
    * mostly 1 with a geometric tail). Times a full-stream nextDoc sweep
    * and an advance-heavy sweep (conjunction economics), min-of-5 after
    * JIT warmup. `sbt "runMain graft.Bench codec"`.
    */
  private def codecBench(): Unit = {
    import graft.index.PostingsCodec
    val N = 10000000L
    val rnd = new java.util.Random(42)
    def genList(df: Int): (Array[Long], Array[Int], Array[Byte]) = {
      val meanGap = math.max(1.0, N.toDouble / df)
      val docs = new Array[Long](df)
      var d = 0L
      var i = 0
      while (i < df) {
        d += 1 + math.floor(-meanGap * math.log(rnd.nextDouble())).toLong
        docs(i) = d
        i += 1
      }
      val tfs = Array.fill(df)(
        if (rnd.nextDouble() < 0.8) 1 else 1 + rnd.nextInt(15))
      val norms = Array.fill(df)(rnd.nextInt(256).toByte)
      (docs, tfs, norms)
    }
    def timeMin(reps: Int)(f: => Long): (Double, Long) = {
      var sink = 0L
      (1 to 3).foreach(_ => sink += f) // JIT warm
      var best = Double.MaxValue
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        sink += f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, sink)
    }
    println("[")
    val lines = for {
      df <- Seq(1000, 100000, 1000000, 5000000)
      (docs, tfs, norms) = genList(df)
      fmt <- Seq(PostingsCodec.FmtVByte, PostingsCodec.FmtFor)
    } yield {
      val (body, skip) = PostingsCodec.encode(docs, tfs, norms, fmt)
      // full-stream sweep: every doc + tf + norm observed
      val (tNext, _) = timeMin(5) {
        val it = PostingsCodec.iterator(body, skip)
        var acc = 0L
        while (it.nextDoc()) acc += it.doc + it.tf + it.norm
        acc
      }
      // advance-heavy sweep: ~1/16 of the docs visited via skip jumps
      val stride = math.max(1L, (docs.last / math.max(df / 16, 1)))
      val (tAdv, _) = timeMin(5) {
        val it = PostingsCodec.iterator(body, skip)
        var t = 0L
        var acc = 0L
        while (it.advance(t)) { acc += it.doc; t = it.doc + stride }
        acc
      }
      val fmtName = if (fmt == PostingsCodec.FmtVByte) "vbyte" else "for"
      f"""{"df":$df,"fmt":"$fmtName","bytes":${body.length + skip.length},"next_ns_per_doc":${tNext * 1e9 / df}%.2f,"advance_sweep_ms":${tAdv * 1000}%.3f}"""
    }
    println(lines.mkString(",\n"))
    println("]")
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 1 && args(0) == "codec") { codecBench(); return }
    if (args.length >= 1 && args(0) == "phase") {
      runPhase(args(1).toInt, args(2).toInt, args(3))
      return
    }
    if (args.length >= 1 && args(0) == "calib") {
      // probe-only mode: print a few calibration points and exit (used to
      // validate probe thresholds on a given host)
      (1 to args.lift(1).map(_.toInt).getOrElse(3)).foreach { i =>
        val c = calibrate(args.lift(2).map(_.toInt).getOrElse(8))
        println(s"calib $i: strided ${c.s1}/${c.sN}ms write ${c.w1}/${c.wN}ms clean=${c.clean}")
      }
      return
    }
    val t0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0) / 1e9
    // Default 1800: run_bench.sh's external timeout is 2400, leaving 600 s
    // of emit headroom (round-4 verdict: 2000 left only 400 s, and the doc
    // said 1800 while the code said 2000 — reconciled to 1800 everywhere).
    val deadlineS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_S", "1800").toDouble
    def remainingS: Double = deadlineS - elapsedS
    // seconds reserved at the tail of the deadline for snapshot/emit work
    val emitReserveS = 90.0

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val peak = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Scaling pair N vs 4N: measured at local[2] vs local[8]. Empirically
    // this host delivers ≤8 vCPUs stably but fluctuates up to 15× at
    // higher thread counts (noisy neighbors) — identical 32-thread runs
    // ranged 31s..460s. The 2→8 pair isolates the ENGINE's scaling from
    // host-capacity noise; the 32-core peak is still reported below.
    val lo = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "2").toInt
    val hi = sys.env.getOrElse("SPARK_GRAFT_BENCH_4N", "8").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "100").toInt
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "4").toInt
    val runPeak = sys.env.getOrElse("SPARK_GRAFT_BENCH_PEAK", "1") != "0"
    val runGate = sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE", "1") != "0"

    // Each level runs in its own fresh JVM; attempts interleaved. Every
    // phase is calibrated BEFORE and AFTER (and between build and query)
    // with BOTH probes; a PHASE counts as clean when both its bracketing
    // points measured clean.
    //
    // Estimator: each level's uncontended runtime = the MINIMUM over its
    // calibration-clean phase runs — the same least-interference
    // estimator the probe itself uses — and efficiency = (minLo/minHi)/4.
    // Symmetric by construction: taking the best of EACH side can't
    // cherry-pick a lucky (slow-lo, fast-hi) pairing the way best-pair
    // selection could.
    //
    // Stopping rule (advisor round 3: no optional stopping on the 0.8
    // pass threshold): stop once ≥2 attempts ran AND each level has ≥1
    // calibration-clean build phase and ≥1 clean query phase — a
    // criterion that never looks at the efficiency estimate — then
    // report min-over-clean WHATEVER it is. Bounded by maxAttempts and
    // by the deadline; all attempts ship in the JSON for audit.
    val runs = scala.collection.mutable.ArrayBuffer.empty[(PhaseResult, PhaseResult)]
    var peakResult: Option[PhaseResult] = None
    var perQuery: Seq[(String, Double)] = Nil
    var stopReason = "completed"
    var finalPrinted = false

    // ---- adaptive attempt sizing (round-4 verdict #1) ----
    // One calibration pair at the hi level BEFORE attempt 1: its absolute
    // probe times measure the window's speed; the attempt's doc count is
    // sized so one full attempt fits in deadline/3 on THIS host. A
    // 20x-degraded window then runs a floor-sized attempt instead of a
    // fixed 1M-doc build that can never finish.
    val sizingCalib = calibrate(hi)
    val (sizedDocs, sizedDegradation, sizingReason) =
      sizeAttempt(sizingCalib, deadlineS / 3)
    BenchDocs = sizedDocs
    System.err.println(f"[bench] sizing: degradation ${sizedDegradation}%.2fx " +
      s"(probe ${sizingCalib.fields}) -> docs=$BenchDocs ($sizingReason)")

    def f(d: Double) = f"$d%.4f".toDouble
    def minClean(sel: PhaseResult => Double, phases: Seq[PhaseResult],
        clean: PhaseResult => Boolean): (Double, Boolean) = {
      val cl = phases.filter(clean)
      if (cl.nonEmpty) (cl.map(sel).min, true)
      else (phases.map(sel).min, false)
    }

    // Absolute window sanity, on top of the N-vs-1 ratio probes: a
    // UNIFORMLY degraded window slows 1 thread and N threads alike, so
    // its ratio reads clean (observed: mid-calib w1=167ms vs the run's
    // normal ~35ms — a 5x write stall — while wN/w1 = 1.1 "passed", and
    // a 92.8s stalled build entered a "clean" headline). The probe is
    // fixed deterministic work, so its 1-THREAD time tracks host health
    // directly: a calibration point is absolutely sane when its
    // 1-thread values are within 3x of the best seen anywhere this run.
    def allCalibs: Seq[Calib] =
      runs.toSeq.flatMap { case (l, h) => Seq(l, h) }
        .flatMap(p => Seq(p.pre, p.mid, p.post)) ++
        peakResult.toSeq.flatMap(p => Seq(p.pre, p.mid, p.post))
    def absOk(c: Calib): Boolean = {
      val cs = allCalibs
      cs.isEmpty ||
        (c.s1 <= cs.map(_.s1).min * 3 && c.w1 <= cs.map(_.w1).min * 3)
    }
    def buildCleanAbs(p: PhaseResult): Boolean =
      p.buildClean && absOk(p.pre) && absOk(p.mid)
    def queryCleanAbs(p: PhaseResult): Boolean =
      p.queryClean && absOk(p.mid) && absOk(p.post)

    /** Full cumulative artifact from whatever has been measured so far —
      * ALWAYS a parseable JSON line, even after one attempt.
      */
    def snapshotJson(): String = {
      val sizingJson =
        s""""sizing":{"docs":$BenchDocs,"docs_default":$BenchDocsDefault""" +
        s""","degradation":${f(sizedDegradation)},"calib":${sizingCalib.json}""" +
        s""","reason":"$sizingReason"}"""
      if (runs.isEmpty)
        return s"""{"metric":"bench_total","value":0,"unit":"sec","queries":{},"sf":"$sfDir","error":"no attempt completed before deadline",$sizingJson,"stop_reason":"$stopReason"}"""
      val nQ = runs.head._1.nQ
      val los = runs.map(_._1).toSeq
      val his = runs.map(_._2).toSeq
      val (tBuildLo, cBLo) = minClean(_.build, los, buildCleanAbs)
      val (tBuildHi, cBHi) = minClean(_.build, his, buildCleanAbs)
      val (tQueryLo, cQLo) = minClean(_.query, los, queryCleanAbs)
      val (tQueryHi, cQHi) = minClean(_.query, his, queryCleanAbs)
      val effBuild = (tBuildLo / tBuildHi) / (hi.toDouble / lo)
      val effQuery = (tQueryLo / tQueryHi) / (hi.toDouble / lo)
      val qJson = perQuery.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      val total = perQuery.map(_._2).sum + tBuildHi + tQueryHi
      val attemptsJson = runs.zipWithIndex.map { case ((l, h), i) =>
        s"""{"attempt":${i + 1},"n_build_sec":${f(l.build)},"4n_build_sec":${f(h.build)}""" +
        s""","n_logical_sec":${f(l.logical)},"n_write_sec":${f(l.write)}""" +
        s""","4n_logical_sec":${f(h.logical)},"4n_write_sec":${f(h.write)}""" +
        s""","n_query_sec":${f(l.query)},"4n_query_sec":${f(h.query)}""" +
        s""","n_calib":[${l.pre.json},${l.mid.json},${l.post.json}]""" +
        s""","4n_calib":[${h.pre.json},${h.mid.json},${h.post.json}]""" +
        s""","clean_build":${buildCleanAbs(l) && buildCleanAbs(h)}""" +
        s""","clean_query":${queryCleanAbs(l) && queryCleanAbs(h)}""" +
        s""","build_eff":${f((l.build / h.build) / (hi.toDouble / lo))}""" +
        s""","query_eff":${f((l.query / h.query) / (hi.toDouble / lo))}}"""
      }.mkString("[", ",", "]")
      // Host memory-bandwidth ceiling: the strided probe's per-thread
      // slowdown at T threads vs 1 measures how much of a T-fold speedup
      // this host can physically deliver to bandwidth-bound work (a REAL
      // 4N-node cluster brings 4N× bandwidth; 4N threads on one box do
      // not). ceiling = slowdown(N)/slowdown(4N): the max scaling
      // efficiency a fully bandwidth-bound job could measure here. It is
      // REPORTED, not used to rescale the headline.
      def slowdowns(ps: Seq[PhaseResult]): Seq[Double] =
        ps.flatMap(p => Seq(p.pre, p.mid, p.post)).filter(_.clean)
          .map(c => c.sN.toDouble / math.max(1L, c.s1))
      def med(xs: Seq[Double]): Double =
        if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.size / 2)
      val sdLo = med(slowdowns(los))
      val sdHi = med(slowdowns(his))
      val hostJson =
        if (sdLo.isNaN || sdHi.isNaN) """"host":null"""
        else s""""host":{"strided_slowdown_n":${f(sdLo)},"strided_slowdown_4n":${f(sdHi)}""" +
          s""","memband_scaling_ceiling":${f(math.min(1.0, sdLo / sdHi))}}"""
      // median efficiency over SAME-ATTEMPT clean pairs: a drift-robust
      // companion to the min-over-clean headline (adjacent lo/hi phases
      // share a weather window; cross-attempt minima need not)
      val pairEffs = runs.toSeq.collect {
        case (l, h) if buildCleanAbs(l) && buildCleanAbs(h) =>
          (l.build / h.build) / (hi.toDouble / lo)
      }.sorted
      val pairMedJson =
        if (pairEffs.isEmpty) "null"
        else f(pairEffs(pairEffs.size / 2)).toString
      val peakJson = peakResult match {
        case Some(pk) =>
          s"""{"cores":$peak,"docs_per_sec":${f(BenchDocs / pk.build)}""" +
          s""","qps":${f(nQ / pk.query)},"calib":[${pk.pre.json},${pk.mid.json},${pk.post.json}]}"""
        case None => "null"
      }
      s"""{"metric":"bench_total","value":${f(total)},"unit":"sec","queries":$qJson,"sf":"$sfDir"""" +
      s""","build":{"docs":$BenchDocs,"cores_n":$lo,"cores_4n":$hi""" +
      s""","docs_default":$BenchDocsDefault,"sizing_degradation":${f(sizedDegradation)},"sizing_reason":"$sizingReason"""" +
      s""","docs_per_sec_n":${f(BenchDocs / tBuildLo)},"docs_per_sec_4n":${f(BenchDocs / tBuildHi)}""" +
      s""","seconds_n":${f(tBuildLo)},"seconds_4n":${f(tBuildHi)}""" +
      s""","scaling_efficiency":${f(effBuild)},"clean":${cBLo && cBHi}""" +
      s""","estimator":"min-over-calibration-clean-phases"""" +
      s""","probes":"strided-sum<=${StridedFactor}x AND tmpfs-write<=${WriteFactor}x, bracketed"""" +
      s""",$hostJson,"pair_eff_clean_median":$pairMedJson}""" +
      s""","query":{"set_size":$nQ,"qps_n":${f(nQ / tQueryLo)},"qps_4n":${f(nQ / tQueryHi)}""" +
      s""","seconds_n":${f(tQueryLo)},"seconds_4n":${f(tQueryHi)}""" +
      s""","scaling_efficiency":${f(effQuery)},"clean":${cQLo && cQHi}}""" +
      s""","attempts":$attemptsJson,"peak":$peakJson""" +
      s""","elapsed_s":${f(elapsedS)},"deadline_s":$deadlineS,"stop_reason":"$stopReason"}"""
    }

    def writeSnapshot(): Unit = {
      val j = snapshotJson()
      try {
        val w = new java.io.PrintWriter("bench_progress.json")
        w.println(j); w.close()
      } catch { case _: Exception => }
      System.err.println(s"[bench] snapshot: $j")
    }

    // Backstop for an external SIGTERM (round 3 lost 6 completed attempts
    // to the harness timeout): if the final print never ran, emit the
    // latest snapshot on the way down.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finalPrinted) {
        stopReason = "killed"
        println(snapshotJson())
        System.out.flush()
      }
    }))

    // initial estimate from the cost model at the sized doc count and
    // measured degradation; replaced by the measured time after attempt 1
    var attemptEstS = attemptEstimateS(BenchDocs, sizedDegradation)
    var a = 0
    var done = false
    var phaseTimeouts = 0
    var lastWatchdogS = 0.0
    while (a < maxAttempts && !done) {
      // attempt 1 ALWAYS runs (an artifact with one attempt beats none);
      // later attempts are gated on the measured attempt duration
      if (a >= 1 && remainingS < attemptEstS * 1.1 + 60) {
        stopReason = s"deadline (${f(remainingS)}s left < attempt est ${f(attemptEstS)}s)"
        done = true
      } else try {
        a += 1
        val tA0 = elapsedS
        val calibTries = math.max(1, math.min(4, (remainingS / 120).toInt))
        // watchdog: each phase may use at most the time left before the
        // emit reserve, AND at most 2.5x the current whole-attempt
        // estimate — the round-5 driver run lost its ENTIRE 1709s budget
        // to one 2-core phase when the host collapsed ~20x right after a
        // clean-reading sizing probe. A phase that exceeds 2.5x the
        // attempt estimate is hopeless in this window; killing it early
        // leaves time for a downsized retry (below) instead of shipping
        // a zero-attempt artifact.
        def watchdogS: Double = {
          val cap = sys.env.get("SPARK_GRAFT_PHASE_CAP_S").map(_.toDouble)
            .getOrElse(math.max(300.0, attemptEstS * 2.5))
          lastWatchdogS = math.max(30.0,
            math.min(remainingS - emitReserveS, cap))
          lastWatchdogS
        }
        val l = forkPhase(lo, reps, s"lo$a", calibTries, watchdogS)
        if (remainingS < emitReserveS) throw new PhaseTimeout(s"hi$a", 0)
        val h = forkPhase(hi, reps, s"hi$a", calibTries, watchdogS)
        runs += ((l, h))
        attemptEstS = elapsedS - tA0
        // ≥2 clean phases per level per metric: with a min-over-clean
        // estimator, a single clean sample is an unconverged minimum —
        // round 4's query headline paired one level's only-clean phase
        // with the other level's fastest, mixing two weather windows
        val cleanBuild = runs.count(r => buildCleanAbs(r._1)) >= 2 &&
          runs.count(r => buildCleanAbs(r._2)) >= 2
        val cleanQuery = runs.count(r => queryCleanAbs(r._1)) >= 2 &&
          runs.count(r => queryCleanAbs(r._2)) >= 2
        System.err.println(f"[bench] attempt $a (${attemptEstS}%.0fs): " +
          f"lo=${l.build}%.1fs (clean=${l.buildClean}) " +
          f"hi=${h.build}%.1fs (clean=${h.buildClean}); " +
          s"have cleanBuild=$cleanBuild cleanQuery=$cleanQuery")
        done = a >= 2 && cleanBuild && cleanQuery
        if (done) stopReason = "completed"
        else if (a >= maxAttempts) stopReason = "max attempts"
        writeSnapshot()
      } catch {
        case t: PhaseTimeout =>
          phaseTimeouts += 1
          // mid-run host collapse with NOTHING completed yet: downsize to
          // what fits half the remaining window at the degradation the
          // kill itself implies (the phase ran >= its budget, so the
          // window is at least budget / clean-phase-estimate slow), and
          // retry — a zero-attempt artifact is the one outcome every
          // round-4/5 driver run has shipped, and it is the worst one
          val cleanLoEstS = 0.65 * attemptEstimateS(BenchDocs, 1.0)
          val impliedDeg = math.max(sizedDegradation,
            lastWatchdogS / math.max(1.0, cleanLoEstS))
          if (runs.isEmpty && phaseTimeouts <= 3 &&
              remainingS > emitReserveS + 240) {
            val budgetS = (remainingS - emitReserveS) / 2
            val fitDocs =
              ((budgetS / impliedDeg - AttemptFixedS) / AttemptVarSPerM * 1e6)
                .toLong
            BenchDocs = math.max(BenchDocsFloor,
              math.min(BenchDocs, fitDocs))
            attemptEstS = attemptEstimateS(BenchDocs, impliedDeg)
            a -= 1 // the killed attempt doesn't burn a slot
            System.err.println(f"[bench] phase watchdog: ${t.getMessage} — " +
              f"window ~${impliedDeg}%.1fx; retrying at docs=$BenchDocs " +
              f"(est ${attemptEstS}%.0fs, ${f(remainingS)}s left)")
            writeSnapshot()
          } else {
            stopReason = s"phase watchdog: ${t.getMessage}"
            System.err.println(s"[bench] $stopReason — emitting what completed")
            done = true
            writeSnapshot()
          }
      }
    }

    // ---- per-gate-query timings on the sf dir (warm index) ----
    // budget-gated: the scaling artifact (above) is the north-rule item
    if (runGate && remainingS > 240) {
      try {
        val sHi = session(hi)
        gate.SearchGate.clearCaches()
        val gateQs = gate.SearchGate.queries.toSeq.sortBy(_._1)
        gateQs.foreach { case (_, fn) => fn(sHi, sfDir).count() } // warm + build
        perQuery = gateQs.map { case (name, fn) =>
          val (t, _) = time(fn(sHi, sfDir).count())
          name -> t
        }
        sHi.stop()
        writeSnapshot()
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] gate-query section failed: $e")
      }
    } else if (runGate) {
      System.err.println(f"[bench] skipping gate queries ($remainingS%.0fs left)")
    }

    // peak-core single attempt (throughput record, NOT a scaling metric —
    // no clean-window waiting, and skipped entirely when time is short)
    if (runPeak && remainingS > math.min(attemptEstS * 0.8, 240.0) + 60) {
      try {
        peakResult = Some(forkPhase(peak, reps, "peak", calibTries = 1,
          maxWaitS = math.max(30.0, remainingS - emitReserveS)))
      } catch {
        case e: Exception => System.err.println(s"[bench] peak phase failed: $e")
      }
    } else if (runPeak) {
      System.err.println(f"[bench] skipping peak phase ($remainingS%.0fs left)")
    }

    finalPrinted = true
    println(snapshotJson())
  }
}
