package perfbench

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import Main._

/** Attributes a traced window's listener records to its ops and reduces
  * them to per-layer metrics. A job belongs to the op and phase named by its
  * job group; a job from another thread (a streaming micro-batch) to the op
  * and phase running when it started. Values are per op unless named
  * otherwise: counts are means over the window's ops (whole rounds, so they
  * repeat exactly), latencies are medians.
  */
final class Layers(t: Tracer, ops: Seq[Op], k: Int) {
  private val okOps = ops.filter(_.ok)
  private val Group = """op-(\d+)-(build|write)""".r

  private def opAt(ms: Double): Option[Op] = ops.find(o => o.startMs <= ms && ms <= o.endMs)

  private final case class JobAt(job: Tracer.Job, op: Int, phase: String) {
    def end: Double = t.jobEnd(job.id).toDouble
  }

  private val placed: Map[Int, JobAt] = t.jobs.asScala.values.flatMap { j =>
    val place = j.group match {
      case Group(i, phase) => Some(i.toInt -> phase)
      case g if g != null && g.startsWith("probe") => None
      case _ => opAt(j.startMs.toDouble).map(o =>
        o.idx -> (if (j.startMs <= o.buildEndMs) "build" else "write"))
    }
    place.map { case (op, phase) => j.id -> JobAt(j, op, phase) }
  }.toMap

  private val tasksByOp: Map[Int, Seq[Tracer.Task]] =
    t.tasks.flatMap(task => t.jobOfStage(task.stage).flatMap(placed.get).map(_.op -> task))
      .groupMap(_._1)(_._2)

  private val batchesByOp: Map[Int, Seq[Tracer.Batch]] =
    t.batches.flatMap(b => opAt(b.startMs.toDouble).map(_.idx -> b)).groupMap(_._1)(_._2)

  /** Milliseconds of [from, to] covered by the union of the intervals. */
  private def covered(from: Double, to: Double, iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur = from
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, cur)
      val e = math.min(e0, to)
      if (e > s) { total += e - s; cur = e }
    }
    total
  }

  private def jobsOf(op: Op, phase: String): Seq[JobAt] =
    placed.values.filter(j => j.op == op.idx && (phase == "" || j.phase == phase)).toSeq

  private def intervals(js: Seq[JobAt]): Seq[(Double, Double)] =
    js.map(j => (j.job.startMs.toDouble, if (j.end < 0) Double.MaxValue else j.end))

  private def perOp(f: Op => Double): Seq[Double] = okOps.map(f)
  private def taskSum(o: Op, f: Tracer.Task => Long): Double =
    tasksByOp.getOrElse(o.idx, Nil).map(f).sum.toDouble

  def metrics(floorMs: Double): ListMap[String, (Double, String)] = {
    val MB = 1048576.0
    val opMs = mean(perOp(_.ms))
    val jobs = mean(perOp(o => jobsOf(o, "").size))
    val cpu = mean(perOp(o => taskSum(o, _.cpuNs) / 1e6))
    val writes = t.writes
    val stateRows = perOp { o =>
      batchesByOp.getOrElse(o.idx, Nil).groupMapReduce(_.query)(_.stateRows)(math.max).values.sum.toDouble
    }
    ListMap(
      "queries.build_ms" -> (median(perOp(_.buildMs)), "ms"),
      "queries.build_jobs" -> (mean(perOp(o => jobsOf(o, "build").size)), "count"),
      "queries.build_self_ms" -> (median(perOp(o =>
        o.buildMs - covered(o.startMs, o.buildEndMs, intervals(jobsOf(o, "build"))))), "ms"),
      "tables.input_rows" -> (mean(perOp(o => taskSum(o, _.inRows))), "count"),
      "tables.input_mb" -> (mean(perOp(o => taskSum(o, _.inBytes))) / MB, "MB"),
      "plans.optimizer_ms" -> (mean(writes.map(_.optimizerMs)), "ms"),
      "plans.physical_ms" -> (mean(writes.map(_.physicalMs)), "ms"),
      "plans.write_self_ms" -> (median(perOp(o =>
        (o.endMs - o.buildEndMs) - covered(o.buildEndMs, o.endMs, intervals(jobsOf(o, "write"))))), "ms"),
      "spark.jobs" -> (jobs, "count"),
      "spark.stages" -> (mean(perOp(o => tasksByOp.getOrElse(o.idx, Nil).map(_.stage).distinct.size)), "count"),
      "spark.tasks" -> (mean(perOp(o => tasksByOp.getOrElse(o.idx, Nil).size)), "count"),
      "spark.job_ms" -> (median(perOp(o => covered(o.startMs, o.endMs, intervals(jobsOf(o, ""))))), "ms"),
      "spark.floor_ms" -> (floorMs, "ms"),
      "spark.floor_share" -> (jobs * floorMs / opMs, "ratio"),
      "spark.cpu_ms" -> (cpu, "ms"),
      "spark.gc_ms" -> (mean(perOp(o => taskSum(o, _.gcMs))), "ms"),
      "spark.slot_util" -> (cpu / (opMs * k), "ratio"),
      "spark.shuffle_write_kb" -> (mean(perOp(o => taskSum(o, _.shuffleWrite))) / 1024, "KB"),
      "spark.shuffle_read_kb" -> (mean(perOp(o => taskSum(o, _.shuffleRead))) / 1024, "KB"),
      "spark.spill_kb" -> (mean(perOp(o => taskSum(o, _.spill))) / 1024, "KB"),
      "spark.peak_exec_mb" -> ((0L +: t.tasks.map(_.peakExec)).max / MB, "MB"),
      "sources.output_kb" -> (mean(perOp(o => taskSum(o, _.outBytes))) / 1024, "KB"),
      "streaming.batches" -> (mean(perOp(o => batchesByOp.getOrElse(o.idx, Nil).size)), "count"),
      "streaming.state_rows" -> (mean(stateRows), "count"))
  }

  /** Workload-specific figures for the detail line: each lane's median and
    * the streaming batch phases, or why they are absent. */
  def detail: ListMap[String, Any] = {
    val lanes = okOps.groupMap(_.lane)(_.ms).map { case (l, xs) => s"lane.${l}_ms" -> median(xs) }
    val batches = batchesByOp.values.flatten.toSeq
    val streaming: ListMap[String, Any] =
      if (batches.isEmpty) ListMap("streaming.phases" -> "absent: no micro-batch ran in this workload")
      else ListMap(
        "streaming.batch_ms" -> median(batches.map(_.triggerMs)),
        "streaming.add_batch_ms" -> median(batches.map(_.addBatchMs)),
        "streaming.wal_commit_ms" -> median(batches.map(_.walCommitMs)),
        "streaming.planning_ms" -> median(batches.map(_.planningMs)))
    // the tracker times phases in whole milliseconds; analysis of an
    // already-analyzed frame almost always reads 0
    ListMap(lanes.toSeq.sortBy(_._1): _*) ++ streaming ++
      ListMap("plans.analysis_ms" -> mean(t.writes.map(_.analysisMs)))
  }

  /** Op, phase, job and micro-batch spans of the window. */
  def spans: Seq[ListMap[String, Any]] = {
    def span(id: String, parent: String, name: String, o: Op, s: Double, e: Double) =
      ListMap("id" -> id, "parent" -> parent, "name" -> name, "lane" -> o.lane,
        "start_ms" -> s, "end_ms" -> e)
    val byIdx = ops.map(o => o.idx -> o).toMap
    ops.flatMap { o =>
      Seq(span(s"op${o.idx}", null, "op", o, o.startMs, o.endMs)
        ++ ListMap("failure" -> o.failure),
        span(s"op${o.idx}.build", s"op${o.idx}", "build", o, o.startMs, o.buildEndMs),
        span(s"op${o.idx}.write", s"op${o.idx}", "write", o, o.buildEndMs, o.endMs))
    } ++ placed.values.toSeq.sortBy(_.job.id).map { j =>
      span(s"job${j.job.id}", s"op${j.op}.${j.phase}", "job", byIdx(j.op), j.job.startMs.toDouble, j.end)
    } ++ batchesByOp.toSeq.sortBy(_._1).flatMap { case (i, bs) =>
      bs.map(b => span(s"batch.${b.query}.${b.startMs}", s"op$i.build", "batch", byIdx(i),
        b.startMs.toDouble, b.startMs + b.triggerMs))
    }
  }
}
