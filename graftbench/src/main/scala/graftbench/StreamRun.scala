package graftbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.Tables
import graft.streaming.{GStream, StreamEnv}

/** One replayed `events` record, stamped with the time it was due. */
final case class Ev(event_id: Long, user_id: Long, cents: Long, due_ns: Long)

/** Running per-user aggregate; `due_ns` is the due time of the latest
  * record folded in, so sink arrival minus `due_ns` is the latency of
  * the emitted row. */
final case class Agg(user: Long, n: Long, id_sum: Long, cents: Long, due_ns: Long)

object Agg {
  def of(e: Ev): Agg = Agg(e.user_id, 1L, e.event_id, e.cents, e.due_ns)
  val merge: (Agg, Agg) => Agg = (a, b) =>
    Agg(a.user, a.n + b.n, a.id_sum + b.id_sum, a.cents + b.cents,
      math.max(a.due_ns, b.due_ns))
}

/** Stream workload: the reference's keyed running reduce,
  * `fromDataset(MemoryStream) -> map -> keyBy(user_id) -> reduce`, fed a
  * replay of the `events` table (same-second events in an order shuffled
  * by the seed).
  *
  *   closed loop  a cold round of `cold_rows` rows, then `rounds`
  *                rounds of `round_rows` rows, added in batches of
  *                `batch_rows`, `processAllAvailable` after each.
  *   open loop    after two warm-up batches of 1,000 records, one
  *                generator thread adds records on a fixed schedule
  *                at `rate` records/s for `open_s` seconds (interarrival
  *                jitter drawn from the seed), trigger every
  *                `trigger_ms`; per-row latency is sink arrival on the
  *                driver minus the time the row's latest record was due,
  *                for records due after the first `warmup_s` seconds.
  *
  * Each loop is checked off the clock: one emission per record, and the
  * final per-user state equals the batch form of the same pipeline over
  * the records fed (spans build/optimize/plan/exec of unit
  * "recompute-<loop>"). */
object StreamRun {
  def apply(run: Run): Unit = {
    val (spark, setups) = run.setUp()
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val replay = run.phase(spark, 0, "replay", "load")(loadReplay(spark, run))

    val closed = new Loop(spark, run, "closed", replay, trigger = None)
    val coldRows = run.opt("cold_rows").toInt
    val roundRows = run.opt("round_rows").toInt
    val batchRows = run.opt("batch_rows").toInt
    val rounds = (0 to run.opt("rounds").toInt).map { r =>
      run.span(r, "closed", "round") {
        val t0 = System.nanoTime()
        var left = if (r == 0) coldRows else roundRows
        while (left > 0) {
          val b = math.min(batchRows, left)
          closed.add(b, System.nanoTime())
          closed.query.processAllAvailable()
          left -= b
        }
        (System.nanoTime() - t0) / 1e9
      }
    }

    val rate = run.opt("rate").toDouble
    val openS = run.opt("open_s").toDouble
    val open = new Loop(spark, run, "open", replay,
      trigger = Some(run.opt("trigger_ms").toLong))
    // the new query's first batches plan and compile: pay that before
    // the schedule starts
    run.span(0, "open", "warmup") {
      for (_ <- 1 to 2) {
        open.add(1000, System.nanoTime())
        open.query.processAllAvailable()
      }
    }
    val openStart = System.nanoTime()
    open.recordAfterNs = openStart + (run.opt("warmup_s").toDouble * 1e9).toLong
    val gen = run.span(0, "open", "generate")(
      generate(open, rate, openS, openStart, run.random()))
    open.query.processAllAvailable()

    val checks = Seq(closed, open).map(_.check())
    run.finish(spark, Seq(
      "mode" -> "stream",
      "setup_s" -> setups,
      "rounds_s" -> rounds,
      "cold_rows" -> coldRows,
      "round_rows" -> roundRows,
      "batch_rows" -> batchRows,
      "rate" -> rate,
      "open_s" -> openS,
      "closed" -> closed.report,
      "open" -> open.report,
      "generator" -> gen,
      "checks" -> checks))
  }

  /** Driver-side replay of `events`: ts order, same-second ties shuffled. */
  private def loadReplay(spark: SparkSession, run: Run): IndexedSeq[Ev] = {
    import spark.implicits._
    val rows = Tables(spark, run.dataDir, "events")
      .selectExpr("event_id", "user_id", "CAST(round(value * 100) AS BIGINT)",
        "unix_seconds(ts)")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._4, r._1))
    val rng = run.random()
    rows.toIndexedSeq.groupBy(_._4).toSeq.sortBy(_._1)
      .flatMap { case (_, same) => rng.shuffle(same.sortBy(_._1)) }
      .map { case (id, user, cents, _) => Ev(id, user, cents, 0L) }.toIndexedSeq
  }

  /** Add records on a fixed schedule: record i is due at
    * `start + sum(gaps)`, gaps jittered uniformly by +-50% around 1/rate.
    * Returns the source's validity figures. */
  private def generate(loop: Loop, rate: Double, seconds: Double, start: Long,
      rng: scala.util.Random): Map[String, Any] = {
    val total = (rate * seconds).toInt
    val due = new Array[Long](total)
    var t = start.toDouble
    for (i <- 0 until total) {
      due(i) = t.toLong
      t += 1e9 / rate * (0.5 + rng.nextDouble())
    }
    var i = 0
    var lateMaxNs = 0L
    var late = 0
    var backlogMax = 0L
    while (i < total) {
      val now = System.nanoTime()
      var j = i
      while (j < total && due(j) <= now) j += 1
      if (j > i) {
        val late0 = now - due(i)
        lateMaxNs = math.max(lateMaxNs, late0)
        (i until j).foreach(k => if (now - due(k) > 20L * 1000 * 1000) late += 1)
        loop.addDue(due.slice(i, j))
        i = j
      }
      backlogMax = math.max(backlogMax, loop.fed - loop.emitted)
      LockSupport.parkNanos(1000L * 1000)
    }
    Map("records" -> total, "late_events" -> late,
      "late_max_ms" -> lateMaxNs / 1e6, "backlog_rows_max" -> backlogMax)
  }

  /** One streaming query over its own MemoryStream, with a driver-side
    * sink that keeps the latest aggregate per user. */
  private final class Loop(spark: SparkSession, run: Run, name: String,
      replay: IndexedSeq[Ev], trigger: Option[Long]) {
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one partition per core: by default every addData call becomes its
    // own input partition, so a trigger over a 1 ms schedule's adds would
    // run hundreds of tiny tasks
    private val mem = MemoryStream[Ev](run.cpus.toInt)
    /** Rows whose latest record was due from this time on get a latency. */
    @volatile var recordAfterNs = Long.MaxValue
    private val fedRows = mutable.ArrayBuffer.empty[Ev]
    @volatile var fed = 0L
    @volatile var emitted = 0L
    private val last = mutable.HashMap.empty[Long, Agg]
    private val latencyMs = mutable.ArrayBuffer.empty[Double]
    private val collectMs = mutable.ArrayBuffer.empty[Double]

    private def sink(ds: Dataset[Agg], id: Long): Unit = {
      val t0 = System.nanoTime()
      val got = ds.collect()
      val t1 = System.nanoTime()
      collectMs += (t1 - t0) / 1e6
      got.foreach { a =>
        if (last.get(a.user).forall(_.n < a.n)) last(a.user) = a
        if (a.due_ns >= recordAfterNs) latencyMs += (t1 - a.due_ns) / 1e6
      }
      emitted += got.length
    }

    val query: StreamingQuery =
      run.span(0, name, "build") {
        Phases.within(spark.sparkContext, Phases.label(0, name, "stream")) {
          val reduced = StreamEnv(spark).fromDataset(mem.toDS())
            .map(Agg.of).keyBy(_.user).reduce(Agg.merge)
          val w = reduced.toDataset.writeStream.outputMode("update")
            .foreachBatch((ds: Dataset[Agg], id: Long) => sink(ds, id))
          trigger.fold(w)(ms => w.trigger(Trigger.ProcessingTime(ms))).start()
        }
      }

    /** Add the next `n` replay records, all due at `dueNs`. */
    def add(n: Int, dueNs: Long): Unit = addDue(Array.fill(n)(dueNs))

    def addDue(dues: Array[Long]): Unit = {
      val base = fedRows.size
      val batch = dues.indices.map { k =>
        val i = base + k
        val e = replay(i % replay.size)
        // later laps of the replay get fresh ids
        e.copy(event_id = e.event_id + (i / replay.size).toLong * replay.size,
          due_ns = dues(k))
      }
      fedRows ++= batch
      mem.addData(batch)
      fed += batch.size
    }

    /** Stop the query, then compare its output with the batch recompute. */
    def check(): Map[String, Any] = {
      run.span(0, name, "release")(query.stop())
      val unit = s"recompute-$name"
      val expected = run.phase(spark, 0, unit, "build") {
        new GStream(spark.createDataset(fedRows.toSeq))
          .map(Agg.of).keyBy(_.user).reduce(Agg.merge).toDataset
      }
      run.phase(spark, 0, unit, "optimize")(expected.queryExecution.optimizedPlan)
      run.phase(spark, 0, unit, "plan")(expected.queryExecution.executedPlan)
      val want = run.phase(spark, 0, unit, "exec")(expected.collect())
        .map(a => a.user -> (a.n, a.id_sum, a.cents)).toMap
      val got = last.map { case (k, a) => k -> (a.n, a.id_sum, a.cents) }.toMap
      Map("loop" -> name, "fed" -> fed, "emitted" -> emitted,
        "keys" -> want.size, "state_matches" -> (want == got),
        "error" -> query.exception.map(_.toString))
    }

    def report: Map[String, Any] = Map(
      "latency_ms" -> latencyMs.toSeq,
      "collect_ms" -> collectMs.toSeq,
      "progress" -> query.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val st = p.stateOperators.headOption
        Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> d,
          "state_rows" -> st.map(_.numRowsTotal),
          "state_memory_bytes" -> st.map(_.memoryUsedBytes),
          "state_commit_ms" -> st.map(_.commitTimeMs),
          "state_updates_ms" -> st.map(_.allUpdatesTimeMs))
      })
  }
}
