package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.LinkedHashMap

/** The repo benchmark. One process, one client thread, four workloads:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--work <dir>] [--expected <file>] [--artifacts <dir>] [--min]
  *
  * Prints the end-to-end metrics of the workload (one `report` line),
  * then the result line. With `--trace 1` a job listener and a
  * streaming progress listener are registered, every span closes on a
  * listener-bus barrier, and the result carries the per-layer metrics.
  */
object Main {

  val Names = Seq("daily_medallion", "ann_ladders", "store_churn", "alert_stream")

  /** The per-layer metrics of the result line of a traced run (the
    * rows BENCHMARK.json lists), with unit; 0 where the workload does
    * not exercise the layer. A traced run reports more on its `layers`
    * line: every module/verb row, and the rows of store_churn and
    * alert_stream.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.single_task_job_share" -> "ratio",
    "spark.job_p50_ms" -> "ms",
    "spark.stages_per_op" -> "count",
    "op.build_s" -> "s",
    "op.build_share" -> "ratio",
    "op.action_s" -> "s",
    "spark.task_s" -> "s",
    "spark.parallelism" -> "ratio",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_mb" -> "MB",
    "Medallion.runDay_s" -> "s",
    "Dashboard.allMetrics_s" -> "s",
    "ModelRegistry.trainEvalRegister_s" -> "s",
    "medallion.bytes_written" -> "bytes",
    "Similarity.query_s" -> "s",
    "Dedup.query_s" -> "s",
    "Graph.query_s" -> "s",
    "TextAnalysis.query_s" -> "s",
    "stream.trigger_p50_ms" -> "ms",
    "stream.planning_ms" -> "ms",
    "stream.walCommit_ms" -> "ms",
    "stream.state_rows" -> "count",
    "calib.cpu_spin_s" -> "s",
    "calib.parquet_scan_s" -> "s",
    "calib.empty_job_ms" -> "ms")

  /** Units of the rows only the workloads BENCHMARK.json does not list
    * produce.
    */
  val LayerUnits: Map[String, String] = PerLayer.toMap ++ Map(
    "store.bytes_written_per_row" -> "bytes", "store.files" -> "count",
    "stream.backlog_files" -> "count", "stream.gen_late_ms" -> "ms")

  /** The end-to-end metric each workload reports as its headline
    * `unit_p50_s`: the median time of one unit of its work.
    */
  val Headline = Map(
    "daily_medallion" -> "day_s",
    "ann_ladders" -> "ladder_pass_s",
    "store_churn" -> "batch_s",
    "alert_stream" -> "alert_latency_p50_s")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = parse(args)
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    if (!Names.contains(workload)) usage(s"unknown workload $workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val min = opts.contains("min")
    val work = new File(opts.getOrElse("work",
      Files.createTempDirectory("perfbench").toString)).getAbsolutePath
    val expected = opts.get("expected").map(readFingerprints).getOrElse(Map.empty)

    val cpus = Runtime.getRuntime.availableProcessors
    val master = s"local[$cpus]"
    // The configuration graft.Bench runs on, plus a private local dir.
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep every commit-log entry: alert latency is read from it
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace)
    val c = new Ctx(spark, tracer, work, seed, seconds, min, expected)
    c.mark("session started")
    workload match {
      case "daily_medallion" => Workloads.dailyMedallion(c)
      case "ann_ladders" => Workloads.annLadders(c)
      case "store_churn" => Workloads.storeChurn(c)
      case "alert_stream" => Stream.run(c)
    }
    val measureEnd = System.nanoTime()
    c.mark("checked")
    val setupS = (c.measureStart - t0) / 1e9
    val head = c.report(Headline(workload))._1
    c.report("setup_s") = (setupS, "s")
    c.report("measured_s") = ((measureEnd - c.measureStart) / 1e9, "s")
    c.report("error_rate") = (c.failed.toDouble / math.max(1, c.attempted), "ratio")
    val calib = Calibration.run(spark, work)
    val layers = Layers.derive(c) ++ c.layer ++ calib
    c.report("peak_rss_mb") = (peakRssMb(), "MB")
    c.mark("calibrated")
    spark.stop()

    val header = LinkedHashMap[String, String](
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"), "size" -> (if (min) "min" else "bench"),
      "cpus" -> cpus.toString, "master" -> master,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "source_hash" -> sys.props.getOrElse("perfbench.source", "unknown"))
    c.errors.take(20).foreach(e => System.err.println(s"[perfbench] FAILED: $e"))

    def metricsJson(kv: Seq[(String, Double, String)]) = Json.obj(kv.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val reportJson = metricsJson(c.report.toSeq.map { case (k, (v, u)) => (k, v, u) })
    val allLayers = metricsJson((layers.keySet ++ PerLayer.map(_._1)).toSeq.sorted.map(k =>
      (k, layers.getOrElse(k, 0.0), LayerUnits.getOrElse(k, "s"))))
    println(s"""{"report":$reportJson}""")
    if (trace) println(s"""{"layers":$allLayers}""")
    opts.get("artifacts").foreach { dir =>
      new File(dir).mkdirs()
      val spans = tracer.spans.filter(_ != null).map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "unit" -> s.unit.toString, "phase" -> Json.str(s.phase), "start_ms" -> s.startMs.toString,
        "secs" -> Json.num(s.secs), "self_secs" -> Json.num(tracer.selfSecs(s)))))
      val art = Json.obj(Seq(
        "header" -> Json.obj(header.toSeq.map { case (k, v) => k -> Json.str(v) }),
        "calibration" -> Json.obj(calib.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
        "attempted" -> c.attempted.toString, "failed" -> c.failed.toString,
        "errors" -> c.errors.map(Json.str).mkString("[", ",", "]"),
        "end_to_end" -> reportJson,
        "per_layer" -> (if (trace) allLayers else "{}"),
        "fingerprints" -> Json.obj(c.fingerprints.toSeq.map { case (k, v) => k -> Json.str(v) }),
        "spans" -> spans.mkString("[", ",", "]")))
      Files.writeString(Paths.get(dir, s"$workload-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}.json"), art)
    }
    val metrics =
      if (trace) metricsJson(PerLayer.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) })
      else metricsJson(Seq(("unit_p50_s", head, "s"), ("setup_s", setupS, "s")))
    println(s"""{"correct": ${c.failed == 0}, "attempted": ${c.attempted}, "failed": ${c.failed}, "metrics": $metrics}""")
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Names.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("min")
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case f :: tail if f.startsWith("--") && flags(f.drop(2)) => go(tail, acc + (f.drop(2) -> "1"))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k.drop(2) -> v))
      case other :: _ => usage(s"unexpected argument $other")
    }
    go(args.toList, Map.empty)
  }

  /** `{"query": "rows:hash", ...}` as written by `--artifacts` runs. */
  def readFingerprints(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
      .properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** The JVM's resident-set high-water mark (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Box-drift rows, timed after the workload so they do not count in
  * its set-up: a fixed CPU spin, a fixed parquet scan, and empty
  * one-task jobs. Two artifacts whose calibration rows differ ran on
  * boxes (or windows) of different speed.
  */
object Calibration {
  def run(spark: SparkSession, work: String): Map[String, Double] = {
    def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    var x = 1L
    val spin = Workloads.median((1 to 3).map(_ => secs {
      var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    }))
    if (x == 42) println("")
    val path = s"$work/calib/fixed.parquet"
    spark.range(0, 50000, 1, 4)
      .select(col("id"), (col("id") * 7 % 1000).as("k"), sha2(col("id").cast("string"), 256).as("s"))
      .write.mode("overwrite").parquet(path)
    val scan = Workloads.median((1 to 3).map(_ => secs(
      spark.read.parquet(path).write.mode("overwrite").format("noop").save())))
    val empty = Workloads.median((1 to 10).map(_ => secs(
      spark.sparkContext.parallelize(0 until 1, 1).foreach(_ => ()))))
    Map("calib.cpu_spin_s" -> spin, "calib.parquet_scan_s" -> scan,
      "calib.empty_job_ms" -> empty * 1e3)
  }
}

/** Per-layer metrics derived from the spans and, in trace mode, the
  * jobs each operation span's window contains.
  */
object Layers {
  import Workloads.median

  def derive(c: Ctx): Map[String, Double] = {
    val spans = c.tracer.spans.filter(_ != null).toSeq
    val ops = spans.filter(_.phase == "op")
    val m = LinkedHashMap.empty[String, Double]
    // module/verb groups: per unit, summed; median over the units that ran it
    ops.groupBy(s => s.name.takeWhile(_ != '/')).foreach { case (g, ss) =>
      m(s"${g}_s") = median(ss.groupBy(_.unit).values.map(_.map(_.secs).sum).toSeq)
    }
    def phaseMedian(p: String) =
      median(spans.filter(_.phase == p).groupBy(_.unit).values.map(_.map(_.secs).sum).toSeq)
    val build = spans.filter(_.phase == "build").map(_.secs).sum
    val action = spans.filter(_.phase == "action").map(_.secs).sum
    // an operation with no build/action split is all action
    val unsplit = ops.filterNot(o => spans.exists(s => s.parent == o.id && s.phase == "build"))
    m("op.build_s") = phaseMedian("build")
    m("op.action_s") = median((spans.filter(_.phase == "action") ++ unsplit)
      .groupBy(_.unit).values.map(_.map(_.secs).sum).toSeq)
    m("op.build_share") = if (build + action > 0) build / (build + action) else 0.0
    c.tracer.jobs.foreach { jl =>
      val perOp = ops.map(o => o -> jl.jobsIn(o.startMs, o.endMs))
      val jobs = perOp.flatMap(_._2).distinct
      val n = math.max(1, ops.size)
      m("spark.jobs_per_op") = jobs.size.toDouble / n
      m("spark.single_task_job_share") =
        if (jobs.isEmpty) 0.0 else jobs.count(_.tasks <= 1).toDouble / jobs.size
      m("spark.job_p50_ms") = median(jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble))
      m("spark.stages_per_op") = jobs.map(_.stages).sum.toDouble / n
      def perUnit(f: JobRec => Double) = median(perOp.groupBy(_._1.unit).values
        .map(_.flatMap(_._2).distinct.map(f).sum).toSeq)
      m("spark.task_s") = perUnit(_.taskMs / 1e3)
      m("spark.shuffle_bytes") = perUnit(_.shuffleBytes.toDouble)
      m("spark.spill_bytes") = perUnit(_.spillBytes.toDouble)
      val wall = ops.map(_.secs).sum
      m("spark.parallelism") = if (wall > 0) jobs.map(_.taskMs).sum / 1e3 / wall else 0.0
      m("spark.peak_exec_mem_mb") = jobs.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0
    }
    m.toMap
  }
}

/** Just enough JSON writing for the result line and the artifact. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
