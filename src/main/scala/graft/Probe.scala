package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge

/** Dev-only timing main, three modes:
  *   runMain graft.Probe suite <sfDir> <q1,q2,...> [reps=N] [queryCap=N] [jobs]
  *   runMain graft.Probe sql <sfDir> <sql text>
  *   runMain graft.Probe annrecall <sfDir> <qname> [queryCap=N] */
object Probe {
  /** One timed run: wall seconds end to end, the build-phase share
    * (jobs run while the DataFrame is constructed), and the row count. */
  private case class Run(total: Double, build: Double, rows: Long)

  /** Shared warmup + steady-state timing (measurement policy — full-plan
    * execution, cache clearing — lives in Sessions.runFully; this only
    * adds the warmup/clear/clock shape so the modes can't diverge). */
  private def timed(spark: SparkSession, onTimedStart: () => Unit = () => ())(
      build: => DataFrame): Run = {
    Sessions.runFully(build); Sessions.releaseAll(spark) // warmup
    onTimedStart()
    val t0 = System.nanoTime()
    val df = build
    val t1 = System.nanoTime()
    val n = Sessions.runFully(df)
    val t2 = System.nanoTime()
    Sessions.releaseAll(spark)
    Run((t2 - t0) / 1e9, (t1 - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    try mode match {
      case "sql" =>
        graft.sources.Tables.registerAll(spark, sfDir)
        val r = timed(spark)(spark.sql(args(2)))
        println(f"PROBE sql: ${r.total}%.2f s (${r.rows} rows)")
      case "annrecall" =>
        // recall@K of an ANN query vs brute truth at this dir's scale;
        // queryCap bounds the brute side at the big dirs
        args.drop(3).foreach { a =>
          if (a.startsWith("queryCap="))
            sys.props("graft.probe.queryCap") = a.stripPrefix("queryCap=")
        }
        println("PROBE annrecall: " +
          graft.queries.Similarity.serveRecall(spark, sfDir, args(2)))
      case "suite" => suite(spark, sfDir, args)
      case other =>
        sys.error(s"unknown Probe mode '$other' (suite, sql, annrecall)")
    } finally spark.stop()
  }

  /** Time several queries in one JVM. A failing query (e.g. a 100x
    * probe dir that only carries the four big tables) reports FAIL and
    * the suite continues — tools/probes.py records it as n/a instead of
    * losing the whole batch. Each line reads
    * `PROBE <q>: <total> s (<n> rows) (build <b> + exec <e>)`, the
    * build/exec split of the reported run.
    * Optional trailing `queryCap=N` pins the ANN family's query set
    * to its first N query ids (the fixed-query serve probes — r13
    * verdict ask #1); set BEFORE any SparkEntry access so even
    * SQL frozen at query-registry init sees the cap.
    * Optional trailing `reps=N`: time each query N times (after the
    * shared warmup) and report the MIN — the Bench retry convention,
    * for A/Bs where single-shot probe noise (±20%) swamps the
    * effect under test. */
  private def suite(spark: SparkSession, sfDir: String,
      args: Array[String]): Unit = {
    var reps = 1
    var countJobs = false
    args.drop(3).foreach { a =>
      if (a.startsWith("queryCap="))
        sys.props("graft.probe.queryCap") = a.stripPrefix("queryCap=")
      if (a.startsWith("reps=")) reps = a.stripPrefix("reps=").toInt
      if (a == "jobs") countJobs = true
    }
    // `jobs`: count scheduler jobs/stages/tasks during the LAST timed
    // rep (dev diagnostics only — §1's "know your job count" step)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    if (countJobs)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet()
            stages.addAndGet(j.stageInfos.size)
            tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
          }
        })
    args(2).split(",").toSeq.foreach { qn =>
      try {
        val runs = (1 to reps).map { i =>
          val reset: () => Unit =
            if (countJobs && i == reps) { () =>
              bridge.drainListenerBus(spark)
              jobs.set(0); stages.set(0); tasks.set(0)
            } else () => ()
          timed(spark, reset)(SparkEntry.queries(qn)(spark, sfDir))
        }
        val r = runs.minBy(_.total)
        val jn = if (countJobs) {
          bridge.drainListenerBus(spark) // the listener is async
          f" [jobs ${jobs.get}, stages ${stages.get}, tasks ${tasks.get}]"
        } else ""
        println(f"PROBE $qn: ${r.total}%.2f s (${r.rows} rows) " +
          f"(build ${r.build}%.2f + exec ${r.total - r.build}%.2f)$jn")
      } catch {
        // NonFatal only: after an OutOfMemoryError/LinkageError the
        // shared JVM's remaining timings are garbage — let the fatal
        // error abort the batch (tools/probes.py fail-louds on a
        // batch with no timings) instead of recording them (ADVICE r13)
        case scala.util.control.NonFatal(e) =>
          Sessions.releaseAll(spark)
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
          println(s"PROBE $qn: FAIL ($msg)")
      }
    }
  }
}
