package graft.queries

import org.apache.spark.sql.graft.bridge

import graft.SparkSpec

/** Round-2 review items: (a) the cache-using Dedup builders must release
  * their scratch persist()s themselves — a long-lived session running
  * them back to back must not accumulate CacheManager entries (those are
  * never GC-reclaimed, unlike checkpoint blocks); (b) q39's exact
  * all-pairs baseline must refuse to broadcast an unbounded side instead
  * of shipping an O(n^2) cartesian into a large-corpus pipeline. */
class CacheHygieneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Long =
    graft.SparkEntry.queries(name)(spark, dir).count()

  test("dedup builders leave no CacheManager entries behind") {
    assume(bridge.cacheIsEmpty(spark)) // a dirty fixture would mask a leak
    // every cache-using query, in one shared session, no clearCache
    for (q <- Seq("q36_dedup_jaccard", "q37_dedup_minhash",
        "q63_decontaminate", "q65_dup_clusters", "q66_canonical_keep",
        "q75_dedup_containment", "q80_incremental_ingest",
        "q81_dedup_editdist", "q86_novelty", "q87_source_overlap",
        "q74_vocab_zipf", "q91_cooccurrence", "q95_session_funnel",
        "q98_kmeans", "q99_temperature_mix",
        // round-5 third-pass cache users: the k-means family (nested
        // scratch), PageRank's internal persists, the funnel's gram index
        "q102_ivf_learned", "q103_semdedup", "q105_pagerank",
        "q107_diversity_sample", "q110_cluster_cohesion",
        "q111_pipeline_funnel", "q112_bm25",
        // round-6 scratch users: the heavy-hitter sketches (candidate
        // broadcast scratch) and the prefix-join's shingle scratch
        "q115_heavy_hitters", "q118_heavy_hitters_by_source",
        "q120_dedup_prefix_join")) {
      assert(run(q) >= 0)
      assert(bridge.cacheIsEmpty(spark), s"$q leaked a cached plan")
    }
  }

  test("scratch RDD blocks are released, not just dereferenced") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    run("q36_dedup_jaccard")
    // Anything persisted DURING the build beyond `before` must be either
    // the (tiny, context-cleaner-managed) localCheckpoint of the result
    // or nothing — the big shingle scratch must be gone already. The
    // scratch at sf0.001 holds ~500 docs of shingle arrays; its blocks
    // report >100 KB, a checkpointed pairs result reports <20 KB.
    val leaked = sc.getPersistentRDDs -- before
    val infos = sc.getRDDStorageInfo.filter(i => leaked.contains(i.id))
    assert(infos.forall(i => i.memSize + i.diskSize < 100 * 1024),
      s"scratch-sized blocks still cached: ${infos.mkString(", ")}")
  }

  test("releaseAll frees every block without a lineage-truncated WARN") {
    val sc = spark.sparkContext
    // RDD.unpersist WARNs once per locally checkpointed RDD; releaseAll
    // frees those through SparkContext.unpersistRDD and must log nothing
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val rootLog = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-warns", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    rootLog.addAppender(appender)
    try {
      run("q36_dedup_jaccard")
      assert(sc.getPersistentRDDs.nonEmpty) // the checkpointed result
      graft.Sessions.releaseAll(spark)
    } finally rootLog.removeAppender(appender)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(sc.getRDDStorageInfo.forall(_.numCachedPartitions == 0),
      sc.getRDDStorageInfo.mkString(", "))
    assert(!warns.toArray.exists(_.toString.contains("truncated")),
      warns.toArray.mkString("\n"))
  }

  test("q39 refuses to broadcast an oversized all-pairs side") {
    spark.conf.set(Dedup.AllPairsMaxRowsKey, "10")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.SparkEntry.queries("q39_dedup_embed_cosine")(spark, dir)
      }
      assert(e.getMessage.contains("refuses to broadcast"))
    } finally spark.conf.unset(Dedup.AllPairsMaxRowsKey)
    // and with the default limit the baseline still runs
    assert(run("q39_dedup_embed_cosine") > 0)
  }
}
