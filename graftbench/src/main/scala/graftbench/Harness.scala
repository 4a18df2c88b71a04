package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.sources.Tables

/** The benchmark's JVM side: it only measures. It times calls into the
  * program's public entry points, labels the jobs they start, and writes
  * every raw observation to `<out>/raw.json`. Statistics, output checks
  * and the result line are computed by run.py.
  *
  *   Harness batch  key=value...   see [[BatchRun]]
  *   Harness stream key=value...   see [[StreamRun]]
  *   Harness train  key=value...   both, one after the other, in one JVM
  *                                 (the class-loading profile for the
  *                                 class-data-sharing archive)
  *
  * Common keys: data (input dir), out (output dir), cpus, seed,
  * setups (session set-ups to time), trace (0|1). */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    args(0) match {
      case "batch"  => BatchRun(new Run(opts))
      case "stream" => StreamRun(new Run(opts))
      case "train"  =>
        for (m <- Seq("batch", "stream")) {
          val out = s"${opts("out")}/$m"
          new java.io.File(out).mkdirs()
          if (m == "batch") BatchRun(new Run(opts + ("out" -> out)))
          else StreamRun(new Run(opts + ("out" -> out)))
        }
      case m => sys.error(s"unknown mode '$m'")
    }
  }
}

/** Shared run state: options, the span log, session set-up, the phase
  * counters and the raw-output writer. */
final class Run(val opts: Map[String, String]) {
  def opt(k: String): String =
    opts.getOrElse(k, sys.error(s"missing option $k"))
  val dataDir: String = opt("data")
  val outDir: String = opt("out")
  val cpus: String = opt("cpus")
  val seed: Long = opt("seed").toLong
  val trace: Boolean = opt("trace") == "1"

  /** A generator drawn from the seed. The seed is spread over all bits
    * first: java.util.Random's first draws barely differ for small seeds. */
  def random(): scala.util.Random = new scala.util.Random(seed * 0x9E3779B97F4A7C15L)

  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  /** (pass, unit, phase, start_s, end_s), seconds since the run began. */
  val spans = mutable.ArrayBuffer.empty[(Int, String, String, Double, Double)]

  def span[A](pass: Int, unit: String, phase: String)(body: => A): A = {
    val s = now
    try body finally spans += ((pass, unit, phase, s, now))
  }

  /** As [[span]], with the jobs the body starts labelled by the phase. */
  def phase[A](spark: SparkSession, pass: Int, unit: String, phase: String)(
      body: => A): A =
    Phases.within(spark.sparkContext, Phases.label(pass, unit, phase)) {
      span(pass, unit, phase)(body)
    }

  val counters = new PhaseCounters

  /** Time `setups` session set-ups (session built, every input table
    * registered) and keep the last session. */
  def setUp(): (SparkSession, Seq[Double]) = {
    val n = opt("setups").toInt
    var spark: SparkSession = null
    val times = (1 to n).map { i =>
      if (spark != null) spark.stop()
      val s = System.nanoTime()
      spark = Sessions.local(cpus)
      Tables.registerAll(spark, dataDir)
      (System.nanoTime() - s) / 1e9
    }
    if (trace) spark.sparkContext.addSparkListener(counters)
    (spark, times)
  }

  def peakHeapMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
  }

  /** Stop the session (draining the listener bus) and write raw.json. */
  def finish(spark: SparkSession, fields: Seq[(String, Any)]): Unit = {
    val heap = peakHeapMb
    spark.stop()
    val all = fields ++ Seq(
      "cpus" -> cpus.toInt,
      "peak_heap_mb" -> heap,
      "spans" -> spans.toSeq.map { case (p, u, ph, s, e) => Seq(p, u, ph, s, e) },
      "counters" -> (if (trace) counters.snapshot else Map.empty),
      "listener_s" -> counters.busySeconds)
    Files.write(Paths.get(outDir, "raw.json"),
      Json(all.toMap).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the raw output. */
object Json {
  def apply(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => apply(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: Map[_, _]        =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]        => apply(xs.toSeq)
    case o: Option[_]        => o.fold("null")(apply)
    case other               => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
