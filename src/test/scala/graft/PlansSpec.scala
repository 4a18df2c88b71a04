package graft

import org.apache.spark.sql.graft.bridge

/** graft.Plans records the build phase as it really runs. q36 runs
  * its posting-list pair generation inside Dedup.withScratch's
  * localCheckpoint, so its final plan is only a checkpoint scan; the
  * dump must still show that body, and must leave nothing persisted. */
class PlansSpec extends SparkSpec {

  test("q36's dump shows the withScratch body and releases its scratch") {
    val plans = Plans.capture(spark, "q36_dedup_jaccard", "/root/testdata/sf0.001")
    assert(plans.last._1 == "final")
    assert(plans.last._2.contains("Scan ExistingRDD"))
    val body = plans.collect { case ("localCheckpoint", p) => p }
    assert(body.nonEmpty, s"no localCheckpoint captured: ${plans.map(_._1)}")
    // the posting-list pair generator and the shared-shingle count
    assert(body.exists(p => p.contains("postingpairs(") &&
        p.contains("partial_count(1)")),
      s"withScratch body missing from the dump:\n${body.mkString("\n")}")
    assert(bridge.cacheIsEmpty(spark))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
