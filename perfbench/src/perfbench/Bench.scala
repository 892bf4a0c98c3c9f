package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import Main._

/** Set-up check, timed windows and the metrics of one workload run. */
final class Bench(spark: SparkSession, data: String, k: Int, lanes: Seq[String],
                  fnOf: String => Lane, minRounds: Int) {
  private val sc = spark.sparkContext

  /** Wall time of each lane's checked (first) run. */
  val checkMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Runs every lane once and compares its row count and checksum with the
    * expected ones. Returns each lane's failure cause, if any. */
  def checkPass(expected: Map[String, (Long, String)]): ListMap[String, Option[String]] =
    ListMap(lanes.map { lane =>
      val t0 = nowMs
      val outcome =
        try {
          val got = checksum(fnOf(lane)(spark, data))
          expected.get(lane) match {
            case None => Some("no expected checksum for this data set")
            case Some(exp) if exp != got =>
              Some(s"output mismatch: rows ${got._1} checksum ${got._2}, expected rows ${exp._1} checksum ${exp._2}")
            case _ => None
          }
        } catch { case e: Throwable if NonFatal(e) || e.isInstanceOf[StackOverflowError] => Some(cause(e)) }
      spark.catalog.clearCache()
      checkMs += lane -> (nowMs - t0)
      lane -> outcome
    }: _*)

  /** Untimed rounds in lane order after the check, so that the window starts
    * past the steepest part of JIT and cache warm-up. */
  def warm(rounds: Int): Unit =
    for (_ <- 1 to rounds; lane <- lanes) runOp(-1, lane, None)

  def runOp(idx: Int, lane: String, badCheck: Option[String]): Op = {
    val t0 = nowMs
    var t1 = Double.NaN
    val failure =
      try {
        sc.setJobGroup(s"op-$idx-build", lane)
        val df = fnOf(lane)(spark, data)
        t1 = nowMs
        sc.setJobGroup(s"op-$idx-write", lane)
        df.write.format("noop").mode("overwrite").save()
        badCheck.map(c => s"lane failed its output check: $c")
      } catch { case e: Throwable if NonFatal(e) || e.isInstanceOf[StackOverflowError] => Some(cause(e)) }
    val t2 = nowMs
    sc.clearJobGroup()
    spark.catalog.clearCache()
    Op(idx, lane, t0, if (t1.isNaN) t2 else t1, t2, failure)
  }

  /** Whole rounds of a seeded shuffle of the lanes, until at least
    * `seconds` have passed and `minRounds` rounds have run. With a tracer,
    * untraced and traced rounds alternate in blocks of untraced, traced,
    * traced, untraced (twice the rounds and seconds), so both halves see the
    * same warm-up. Returns the untraced ops, the traced ops and the wall
    * time. */
  def window(seed: Long, seconds: Double, check: ListMap[String, Option[String]],
             tracer: Option[Tracer] = None): (Vector[Op], Vector[Op], Double) = {
    val rng = new scala.util.Random(seed)
    val (step, block) = if (tracer.isDefined) (2, 4) else (1, 1)
    val t0 = nowMs
    var plain, traced = Vector.empty[Op]
    var round = 0
    while (round % block != 0 || round < minRounds * step || nowMs - t0 < seconds * 1000 * step) {
      val on = tracer.filter(_ => round % 4 == 1 || round % 4 == 2)
      on.foreach(attach)
      val ops = rng.shuffle(lanes).zipWithIndex.map { case (lane, i) =>
        runOp(round * lanes.size + i, lane, check(lane))
      }
      on.foreach(detach)
      if (on.isDefined) traced ++= ops else plain ++= ops
      round += 1
    }
    (plain, traced, nowMs - t0)
  }

  private def attach(t: Tracer): Unit = {
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
    spark.streams.addListener(t.streaming)
  }

  /** Waits for the listener bus to deliver what the window posted, then
    * removes the listeners. */
  private def detach(t: Tracer): Unit = {
    org.apache.spark.SparkBus.drain(sc)
    sc.removeSparkListener(t)
    spark.listenerManager.unregister(t)
    spark.streams.removeListener(t.streaming)
  }

  /** Warmed 1-row full-materialization actions: the per-job floor. */
  def floorProbes(n: Int): Seq[Double] = {
    sc.setJobGroup("probe-floor", "floor")
    def once(): Double = {
      val t = nowMs
      spark.range(1).write.format("noop").mode("overwrite").save()
      nowMs - t
    }
    (1 to 3).foreach(_ => once())
    try Seq.fill(n)(once()) finally sc.clearJobGroup()
  }

  /** Heap in use after a forced full GC; the least of three readings. */
  def retainedHeapMb(): Double = {
    spark.catalog.clearCache()
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Throughput of the uniform lane mix at each lane's median op time. */
  private def opsPerS(ops: Seq[Op]): Double = {
    val m = laneMedians(ops).values
    1000.0 * m.size / m.sum
  }

  private def laneMedians(ops: Seq[Op]): ListMap[String, Double] =
    ListMap(lanes.flatMap { l =>
      val xs = ops.filter(o => o.ok && o.lane == l).map(_.ms)
      if (xs.isEmpty) None else Some(l -> median(xs))
    }: _*)

  private def result(ops: Seq[Op], correct: Boolean,
                     metrics: ListMap[String, (Double, String)]): String =
    Json(ListMap("correct" -> correct, "attempted" -> ops.size, "failed" -> ops.count(!_.ok),
      "metrics" -> metrics.map { case (n, (v, u)) => n -> ListMap("value" -> v, "unit" -> u) }))

  private def failures(ops: Seq[Op]): Seq[ListMap[String, Any]] =
    ops.filterNot(_.ok).take(20).map(o => ListMap("op" -> o.idx, "lane" -> o.lane, "cause" -> o.failure.get))

  private def windowDetail(ops: Seq[Op], wallMs: Double, steal: Double): ListMap[String, Any] = {
    val ok = ops.filter(_.ok).map(_.ms)
    val beyond = ok.size - math.ceil(TailPct / 100.0 * ok.size).toInt
    ListMap(
      "rounds" -> ops.size / lanes.size, "ops" -> ops.size, "window_s" -> wallMs / 1000,
      "op_tail" -> ListMap("percentile" -> TailPct, "samples" -> ok.size, "beyond" -> beyond),
      "fail_ratio" -> ops.count(!_.ok).toDouble / ops.size,
      "failures" -> failures(ops),
      "host.steal_pct" -> steal,
      "lane_ms" -> laneMedians(ops), "check_ms" -> checkMs,
      "round_ms" -> ops.grouped(lanes.size).map(_.map(_.ms).sum).toSeq)
  }

  def untraced(seed: Long, seconds: Double, setupS: Double,
               check: ListMap[String, Option[String]]): (String, ListMap[String, Any]) = {
    val stat0 = cpuStat()
    val (ops, _, wallMs) = window(seed, seconds, check)
    val steal = stealPct(stat0, cpuStat())
    val ok = ops.filter(_.ok).map(_.ms)
    val metrics = ListMap(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (opsPerS(ops), "1/s"),
      "lane_geomean_ms" -> (geomean(laneMedians(ops).values.toSeq), "ms"),
      "op_p50_ms" -> (median(ok), "ms"),
      "op_tail_ms" -> (percentile(ok, TailPct), "ms"),
      "retained_heap_mb" -> (retainedHeapMb(), "MB"))
    (result(ops, check.values.forall(_.isEmpty), metrics), windowDetail(ops, wallMs, steal))
  }

  /** Alternating untraced and traced rounds; spans go to
    * `<work>/trace-<tag>.json`, per-layer metrics to the result. */
  def traced(seed: Long, seconds: Double, check: ListMap[String, Option[String]],
             floorBefore: Seq[Double], work: String, tag: String): (String, ListMap[String, Any]) = {
    val tracer = new Tracer
    val stat0 = cpuStat()
    val (plain, ops, wallMs) = window(seed, seconds, check, Some(tracer))
    val steal = stealPct(stat0, cpuStat())
    attach(tracer)
    val tables = tablesProbe()
    detach(tracer)
    val floor = median(floorBefore ++ floorProbes(12))
    val overhead = 100 * (1 - opsPerS(ops) / opsPerS(plain))
    val layers = new Layers(tracer, ops, k)
    Files.writeString(Paths.get(work, s"trace-$tag.json"), Json(layers.spans))
    val groups = tracer.jobs.values.asScala.toSeq.map(_.group)
    val tableJobs = tables.map { case (group, _) => groups.count(_ == group).toDouble }
    val metrics = layers.metrics(floor) ++ ListMap(
      "tables.load_ms" -> (median(tables.map(_._2)), "ms"),
      "tables.load_jobs" -> (mean(tableJobs), "count"),
      "host.steal_pct" -> (steal, "%"),
      "trace.overhead_pct" -> (overhead, "%"))
    (result(plain ++ ops, check.values.forall(_.isEmpty), metrics),
      windowDetail(ops, wallMs, steal) ++ layers.detail ++
        ListMap("trace_file" -> s"trace-$tag.json", "untraced_ops_per_s" -> opsPerS(plain)))
  }

  /** One `Tables.events` or `Tables.lineitem` call timed alone, five of
    * each, each in its own job group. */
  private def tablesProbe(): Seq[(String, Double)] =
    (0 until 10).map { i =>
      val group = s"probe-tables-$i"
      sc.setJobGroup(group, "tables")
      val t = nowMs
      if (i % 2 == 0) graft.Tables.events(spark, data) else graft.Tables.lineitem(spark, data)
      val ms = nowMs - t
      sc.clearJobGroup()
      group -> ms
    }
}
