package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --report FILE`. Prints one JSON result line as
  * the last line of stdout and writes the full report to FILE.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, report: File)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.Names.contains(w), s"unknown workload $w")
    val t = need("--trace")
    require(t == "0" || t == "1", "--trace is 0 or 1")
    Args(w, need("--seed").toLong, need("--seconds").toInt, t == "1",
      new File(need("--work")).getAbsoluteFile,
      new File(need("--report")).getAbsoluteFile)
  }

  private def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a =
      try parse(argv)
      catch {
        case e: Exception =>
          System.err.println(s"perfbench: ${e.getMessage}")
          sys.exit(2)
      }
    a.work.mkdirs()
    val spark = session(a.work)
    val ctx = new Ctx(spark, a)
    val ok =
      try {
        Workloads.run(ctx)
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      } finally {
        ctx.phase("done")
        spark.stop()
        ctx.phase("stopped")
      }
    if (!ok) sys.exit(1)
    Json.write(a.report, ctx.report)
    println(Json.render(ctx.resultLine))
  }
}

/** State of one run: counters, metrics and the tracer. */
final class Ctx(val spark: SparkSession, val a: Main.Args) {
  val tracer = new Tracer(a.trace, spark.sparkContext)
  val counts: Option[SparkCounts] =
    if (!a.trace) None
    else {
      val c = new SparkCounts
      spark.sparkContext.addSparkListener(c)
      Some(c)
    }
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** Extra trace output (span tree, per-module attribution). */
  val traceOut = mutable.LinkedHashMap.empty[String, Any]

  def dir(name: String): String = new File(a.work, name).getPath

  private val phases = mutable.LinkedHashMap.empty[String, Double]
  /** Mark the end of a phase of the run (seconds since the JVM started). */
  def phase(name: String): Unit = synchronized {
    phases(name) = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }
  phase("session")

  /** Count `n` failed operations. */
  def fail(n: Long, why: String): Unit = synchronized {
    failed += n
    if (failures.size < 20) failures += why
    System.err.println(s"[perfbench] FAIL ($n): $why")
  }

  def attempt(n: Long): Unit = synchronized { attempted += n }

  def metrics: mutable.LinkedHashMap[String, (Double, String)] =
    if (a.trace) layer else e2e

  def resultLine: Map[String, Any] = Map(
    "correct" -> (failed == 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })

  def report: Map[String, Any] = Map(
    "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
    "trace" -> a.trace, "attempted" -> attempted, "failed" -> failed,
    "error_rate" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted),
    "failures" -> failures.toSeq,
    "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "per_layer" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "detail" -> detail,
    "phases_s" -> phases,
    "trace_out" -> traceOut)
}

/** Minimal JSON rendering for the report and the result line. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, render(v))
  }
}
