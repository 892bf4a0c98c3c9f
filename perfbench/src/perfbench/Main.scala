package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closed-loop benchmark of graft's query catalog.
  *
  * One JVM per run. After set-up (session, one checked pass over every lane,
  * untimed warm-up rounds), one client runs whole rounds of a seeded shuffle
  * of the workload's lanes until the window has lasted `--seconds` and the
  * workload's minimum rounds. An op is `SparkEntry.queries(lane)(spark, data)`
  * (the build) followed by a full-materialization `write.format("noop")`;
  * `clearCache()` follows each op. With `--trace 1` untraced rounds alternate
  * with rounds that have Spark's listeners attached, and the per-layer
  * figures come from the traced rounds.
  *
  * The last stdout line is the result object; the line before it carries the
  * detail (per-lane medians, failures with their causes, the tail percentile
  * and its sample count).
  */
object Main {
  type Lane = (SparkSession, String) => DataFrame

  /** Lanes of each workload, each a `SparkEntry.queries` name. BENCHMARK.json
    * lists `reports` and `ingest`; `corpus` is for longer manual runs (its
    * lanes take 2-4 s each, too few samples for a steady short window). */
  val workloads: Map[String, Seq[String]] = Map(
    "reports" -> Seq("q_geo_box", "q_geo_polygon", "q_georestrictor_set",
      "q_alt_bands", "q_time_bucket", "q_range_filter", "q_agg_pricing", "q_mv_rewrite"),
    "ingest" -> Seq("q_metar_parse", "q_idspec_parse", "q_sink_partitioned", "q_track_stream"),
    "corpus" -> Seq("q_doc_minhash_lsh", "q_feature_hash_dup", "q_containment",
      "q_embed_dup_lsh", "q_semdedup", "q_dedup_keep_best", "q_knn_ivf2_pq",
      "q_bm25"))

  /** Whole rounds a window runs at least, so every lane has a median of
    * several samples and `reports` has 64 ops. */
  val minRounds: Map[String, Int] = Map("reports" -> 8, "ingest" -> 2, "corpus" -> 2)

  /** Untimed rounds after the check: op times still fall by half over the
    * first rounds of a fresh JVM. */
  val warmRounds: Map[String, Int] = Map("reports" -> 3, "ingest" -> 1, "corpus" -> 1)

  /** `--inject-failure 1` adds this lane; it throws on every build. */
  val InjectedLane = "injected_failure"
  /** The highest percentile with ten samples beyond it in `reports`' 64 ops. */
  val TailPct = 84

  final case class Op(idx: Int, lane: String, startMs: Double, buildEndMs: Double,
                      endMs: Double, failure: Option[String]) {
    def ms: Double = endMs - startMs
    def buildMs: Double = buildEndMs - startMs
    def ok: Boolean = failure.isEmpty
  }

  private val nano0 = System.nanoTime
  private val epoch0 = System.currentTimeMillis.toDouble
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * timestamps on Spark's listener events. */
  def nowMs: Double = epoch0 + (System.nanoTime - nano0) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val lanes = workloads.getOrElse(workload, sys.error(s"unknown workload $workload")) ++
      a.get("inject-failure").filter(_ == "1").map(_ => InjectedLane)
    val data = a("data")
    val k = math.min(4, Runtime.getRuntime.availableProcessors)
    quietLogs()
    val spark = session(k, a("work"))
    val sessionS = (nowMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000
    val catalog = graft.SparkEntry.queries
    val fnOf: String => Lane = {
      case InjectedLane => (_, _) => throw new IllegalStateException("injected failure")
      case lane => catalog(lane)
    }
    val lines =
      try a.get("derive") match {
        case Some(out) =>
          derive(spark, lanes, fnOf, data, out)
          Nil
        case None =>
          val seed = a("seed").toLong
          val seconds = a("seconds").toDouble
          val trace = a.getOrElse("trace", "0") == "1"
          val bench = new Bench(spark, data, k, lanes, fnOf, minRounds(workload))
          val floorBefore = if (trace) bench.floorProbes(12) else Nil
          val check = bench.checkPass(Expected.load(a("expected"), a("data-key")))
          bench.warm(warmRounds(workload))
          val setupS = (nowMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000
          val (result, detail) =
            if (!trace) bench.untraced(seed, seconds, setupS, check)
            else bench.traced(seed, seconds, check, floorBefore, a("work"), s"$workload-$seed")
          Seq(Json(Map("detail" -> (ListMap("workload" -> workload, "seed" -> seed, "k" -> k,
            "session_s" -> sessionS, "lanes" -> lanes,
            "check" -> check.map { case (l, c) => l -> c.getOrElse("ok") }) ++ detail))), result)
      } finally spark.stop()
    lines.foreach(println)
  }

  def session(k: Int, work: String): SparkSession =
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  private def quietLogs(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setRootLevel(Level.WARN)
    // the state store's maintenance thread logs a benign stack at shutdown
    Configurator.setLevel("org.apache.spark.sql.execution.streaming.state", Level.OFF)
  }

  /** Row count and an order-independent checksum of a result: the sum of
    * xxhash64 over each row's JSON (columns sorted by name). */
  def checksum(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Writes each lane's result as parquet with the DuckDB oracle SQL beside
    * it (the layout `scripts/check.py` reads) and the checksums of the live
    * result and of the written copy, for the benchmark's own test. */
  def derive(spark: SparkSession, lanes: Seq[String], fnOf: String => Lane,
             data: String, out: String): Unit = {
    val sums = lanes.map { lane =>
      fnOf(lane)(spark, data).write.mode("overwrite").parquet(s"$out/$lane")
      spark.catalog.clearCache()
      val live = checksum(fnOf(lane)(spark, data))
      spark.catalog.clearCache()
      val written = checksum(spark.read.parquet(s"$out/$lane"))
      lane -> ListMap("rows" -> live._1, "sum" -> live._2,
        "written_rows" -> written._1, "written_sum" -> written._2)
    }.toMap
    val oracle = graft.SparkEntry.oracleSqlFor(spark, data, lanes.toSet)
      .filter { case (name, _) => lanes.contains(name) }
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json(oracle))
    Files.writeString(Paths.get(out, "checksums.json"), Json(sums))
  }

  def cause(e: Throwable): String =
    e.getClass.getName + ": " + String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], pct: Int): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(pct / 100.0 * s.size).toInt - 1))
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Cumulative CPU time fields of /proc/stat (user .. steal), or empty. */
  def cpuStat(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong).toSeq
      finally src.close()
    } catch { case NonFatal(_) => Nil }

  def stealPct(before: Seq[Long], after: Seq[Long]): Double =
    if (before.size < 8 || after.size < 8) Double.NaN
    else {
      val d = after.zip(before).map { case (x, y) => x - y }
      if (d.sum <= 0) 0.0 else 100.0 * d(7) / d.sum
    }
}

/** Expected row counts and checksums, keyed by data set and lane. */
object Expected {
  def load(path: String, key: String): Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val node = root.path(key)
    import scala.jdk.CollectionConverters._
    node.fieldNames().asScala.map { lane =>
      lane -> (node.path(lane).path("rows").asLong, node.path(lane).path("sum").asText)
    }.toMap
  }
}
