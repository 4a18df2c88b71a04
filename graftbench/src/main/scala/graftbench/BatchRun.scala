package graftbench

import scala.collection.mutable

import graft.{Sessions, SparkEntry}

/** Batch workload: one cold pass, then `passes` steady-state passes over
  * `queries` (comma-separated inventory names, run in the order given:
  * the order decides which query pays the early passes' warm-up, so a
  * seed-drawn order would only add spread). Each query run is split into
  * the spans
  *
  *   build     QuerySpec.run until it returns a DataFrame
  *   optimize  queryExecution.optimizedPlan
  *   plan      queryExecution.executedPlan
  *   exec      Sessions.runFully, the full physical plan
  *   release   Sessions.releaseAll (off the clock, as in graft.Bench)
  *
  * and the last pass also writes each result under `<out>/results/<q>`
  * (the "check" span, off the clock) for run.py's oracle comparison. */
object BatchRun {
  def apply(run: Run): Unit = {
    val specs = SparkEntry.allSpecs.map(s => s.name -> s).toMap
    val names = run.opt("queries").split(",").toSeq
    val unknown = names.filterNot(specs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val passes = run.opt("passes").toInt

    val (spark, setups) = run.setUp()
    val sc = spark.sparkContext
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (p <- 0 to passes) run.span(p, "", "pass") {
      names.foreach { q =>
        var rows = -1L
        var error: String = null
        var persisted = 0
        try {
          val df = run.phase(spark, p, q, "build")(specs(q).run(spark, run.dataDir))
          run.phase(spark, p, q, "optimize")(df.queryExecution.optimizedPlan)
          run.phase(spark, p, q, "plan")(df.queryExecution.executedPlan)
          rows = run.phase(spark, p, q, "exec")(Sessions.runFully(df))
          if (p == passes) run.phase(spark, p, q, "check") {
            df.write.mode("overwrite").parquet(s"${run.outDir}/results/$q")
          }
        } catch {
          case e: Throwable => error = e.toString
        } finally run.phase(spark, p, q, "release") {
          persisted = sc.getPersistentRDDs.size
          Sessions.releaseAll(spark)
        }
        results += Map("pass" -> p, "query" -> q, "rows" -> rows,
          "persisted" -> persisted, "error" -> error)
      }
    }
    run.finish(spark, Seq(
      "mode" -> "batch",
      "setup_s" -> setups,
      "queries" -> names,
      "oracle_sql" -> SparkEntry.oracleSql.view.filterKeys(names.toSet).toMap,
      "results" -> results.toSeq))
  }
}
