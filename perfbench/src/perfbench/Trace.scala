package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into the engine. Kept
  * in memory and written out when the run ends. With tracing off, `span`
  * only evaluates its body.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  import Tracer._

  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Frame]] {
    override def initialValue(): List[Frame] = Nil
  }

  /** The open span of this thread, to hand to worker threads. */
  def context: List[Frame] = if (on) stack.get else Nil

  /** Run `f` on this thread as if inside `ctx` (a span of another thread). */
  def within[A](ctx: List[Frame])(f: => A): A =
    if (!on) f
    else {
      val saved = stack.get
      stack.set(ctx)
      label(ctx)
      try f
      finally { stack.set(saved); label(saved) }
    }

  /** Time `f` as span `name`. `request` starts a new request id, which the
    * spans nested inside share.
    */
  def span[A](name: String, request: Boolean = false)(f: => A): A =
    if (!on) f
    else {
      val outer = stack.get
      val id = ids.incrementAndGet()
      val parent = outer.headOption.map(_.id).getOrElse(0L)
      val req =
        if (request || outer.isEmpty) id else outer.head.req
      val frame = Frame(id, req, name)
      stack.set(frame :: outer)
      label(frame :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, parent, req, name, t0, System.nanoTime()))
        stack.set(outer)
        label(outer)
      }
    }

  /** Jobs submitted from this thread carry the innermost span's name. */
  private def label(st: List[Frame]): Unit = st.headOption match {
    case Some(f) =>
      sc.setLocalProperty(SpanProp, f.name)
      sc.setLocalProperty(ReqProp, f.req.toString)
    case None =>
      sc.setLocalProperty(SpanProp, null)
      sc.setLocalProperty(ReqProp, null)
  }

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq.sortBy(_.start)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val ReqProp = "perfbench.req"

  final case class Frame(id: Long, req: Long, name: String)
  final case class Span(id: Long, parent: Long, req: Long, name: String,
      start: Long, end: Long) {
    def ns: Long = end - start
  }

  def module(name: String): String = name.takeWhile(_ != '.')

  /** Self time of every span: its duration minus the union of its
    * children's intervals (children may overlap when run by worker
    * threads).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, s.ns - covered)
    }.toMap
  }
}

/** Spark work counted by one listener, attributed to the span that
  * submitted each job.
  */
final class SparkCounts extends SparkListener {
  import SparkCounts._

  private val byName = mutable.HashMap.empty[String, Acc]
  private val stageName = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var markerJob = -1
  private var markerLatch: CountDownLatch = null

  private def acc(n: String): Acc = byName.getOrElseUpdate(n, new Acc)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val p = js.properties
    val name = Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp)))
      .getOrElse("untraced")
    if (name == MarkerSpan) markerJob = js.jobId
    js.stageIds.foreach(stageName.put(_, name))
    acc(name).jobs += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    if (je.jobId == markerJob && markerLatch != null) markerLatch.countDown()
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit.put(s.stageInfo.stageId,
      s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageName.getOrElse(te.stageId, "untraced"))
    a.tasks += 1
    val info = te.taskInfo
    stageSubmit.get(te.stageId).foreach(t0 =>
      a.schedWaitMs += math.max(0L, info.launchTime - t0))
    stageTasks.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += info.duration
    val m = te.taskMetrics
    if (m != null) {
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
    }
  }

  /** Block until every event posted before this call has reached the
    * listener: a marker job's end is delivered after them.
    */
  def drain(sc: SparkContext): Unit = {
    val latch = new CountDownLatch(1)
    synchronized { markerLatch = latch; markerJob = -1 }
    val saved = (sc.getLocalProperty(Tracer.SpanProp), sc.getLocalProperty(Tracer.ReqProp))
    sc.setLocalProperty(Tracer.SpanProp, MarkerSpan)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(Tracer.SpanProp, saved._1)
      sc.setLocalProperty(Tracer.ReqProp, saved._2)
    }
    latch.await(30, TimeUnit.SECONDS)
    ()
  }

  def snapshot(): Snapshot = synchronized {
    Snapshot(byName.map { case (k, v) => k -> v.copy() }.toMap,
      if (stageSubmit.isEmpty) -1 else stageSubmit.keys.max)
  }

  /** Task-time-weighted max/median task duration over the stages (of at
    * least four tasks) submitted after `from`.
    */
  def skew(from: Snapshot): Double = synchronized {
    var num = 0.0
    var den = 0.0
    stageTasks.foreach { case (st, ds) =>
      if (st > from.maxStage && ds.size >= 4) {
        val s = ds.sorted
        val med = math.max(1L, s(s.size / 2))
        val tot = s.sum.toDouble
        num += tot * (s.last.toDouble / med)
        den += tot
      }
    }
    if (den == 0) 1.0 else num / den
  }
}

object SparkCounts {
  val MarkerSpan = "bench.drain"

  final class Acc(var jobs: Long = 0, var tasks: Long = 0,
      var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
      var spill: Long = 0, var runMs: Long = 0, var gcMs: Long = 0,
      var schedWaitMs: Long = 0) {
    def copy(): Acc = new Acc(jobs, tasks, shuffleWrite, shuffleRead, spill,
      runMs, gcMs, schedWaitMs)
    def +=(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; shuffleWrite += o.shuffleWrite
      shuffleRead += o.shuffleRead; spill += o.spill; runMs += o.runMs
      gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
    }
    def -(o: Acc): Acc = new Acc(jobs - o.jobs, tasks - o.tasks,
      shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
      spill - o.spill, runMs - o.runMs, gcMs - o.gcMs,
      schedWaitMs - o.schedWaitMs)
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "task_run_ms" -> runMs, "task_gc_ms" -> gcMs,
      "sched_wait_ms" -> schedWaitMs)
  }

  final case class Snapshot(byName: Map[String, Acc], maxStage: Int) {
    /** Work done between `before` and this snapshot, summed over the span
      * names `keep` accepts; the drain marker is never counted.
      */
    def since(before: Snapshot, keep: String => Boolean = _ => true): Acc = {
      val out = new Acc
      byName.foreach { case (n, a) =>
        if (n != MarkerSpan && keep(n))
          out += (a - before.byName.getOrElse(n, new Acc))
      }
      out
    }
  }
}
