package perfbench

import graft.streaming.Alerts
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Why: the only path through Structured Streaming and the state store.
  * Open loop: a release thread moves staged files into the source
  * directory on a fixed schedule that does not slow down when Spark
  * does, and each file is timed from the moment it was due, so a stall
  * shows up as latency of every file behind it.
  */
object Stream {

  /** 1000 rows/s at the nominal rate, in files of 50 rows: 10 s at that
    * rate give 200 latency samples, 10 of them beyond p95. Each file
    * is rescanned by every dashboard table, so smaller files would
    * slow the batches, and so raise the latency.
    */
  val RowsPerFile = 50
  /** Files per second at the nominal rate; the ladder multiplies it. */
  val NominalFilesPerS = 20
  val Ladder = Seq(2, 4)
  /** The dashboard refresh tick: not the reference's 30 s, so that it
    * fires within a run. Each refresh rescans its batch for five
    * tables; a 1 s tick takes the cores the alert query needs and
    * spreads its latency.
    */
  val DashboardTickS = 5

  /** The p95 latency a rate must meet to count as sustained: on 4
    * cores the three queries' micro-batches alone take 1–2 s.
    */
  val LatencyLimitS = 5.0

  val schema: StructType = StructType(Seq(
    StructField("order_id", StringType), StructField("total", DoubleType),
    StructField("quantity", IntegerType), StructField("price", DoubleType),
    StructField("customer_id", StringType), StructField("product_name", StringType),
    StructField("ts", TimestampType), StructField("order_date", TimestampType),
    StructField("category", StringType), StructField("region", StringType),
    StructField("status", StringType)))

  final case class Ev(orderId: String, total: Double, quantity: Int, price: Double,
                      customer: String, product: String, tsMs: Long, status: String,
                      category: String, region: String) {
    /** The alert rules, in CASE priority order. */
    def alert: Option[String] =
      if (total > Alerts.HighValueTotal) Some("HIGH_VALUE_ORDER")
      else if (quantity > Alerts.SuspiciousQty) Some("SUSPICIOUS_QUANTITY")
      else if (price < 0) Some("NEGATIVE_PRICE")
      else if (quantity <= 0) Some("INVALID_QUANTITY")
      else None
    def json: String = {
      val t = java.time.Instant.ofEpochMilli(tsMs).toString
      s"""{"order_id":"$orderId","total":$total,"quantity":$quantity,"price":$price,""" +
        s""""customer_id":"$customer","product_name":"$product","ts":"$t","order_date":"$t",""" +
        s""""category":"$category","region":"$region","status":"$status"}"""
    }
  }

  /** The reference CDC smoke rows' mix (scripts/test_cdc_alerts.py):
    * two clean orders to each of the four anomaly shapes, jittered.
    */
  def events(rnd: Random, file: Int, n: Int, t0: Long): Seq[Ev] =
    (0 until n).map { i =>
      val p = math.rint((5 + rnd.nextDouble() * 200) * 100) / 100
      val q = 1 + rnd.nextInt(5)
      val (total, qty, price) = rnd.nextInt(6) match {
        case 0 | 1 => (p * q, q, p)
        case 2 => (10000.0 + rnd.nextInt(20000), q, 3000.0)     // HIGH_VALUE
        case 3 => (p * 60, 51 + rnd.nextInt(50), p)             // SUSPICIOUS
        case 4 => (-p * q, q, -p)                               // NEGATIVE_PRICE
        case _ => (p, 0, p)                                     // INVALID_QUANTITY
      }
      Ev(s"F$file-$i", total, qty, price, s"C${rnd.nextInt(300)}", s"P${rnd.nextInt(100)}",
        t0 + file * 2000L + rnd.nextInt(2000), Data.Statuses(rnd.nextInt(4)),
        Data.Categories(rnd.nextInt(8)), Data.Regions(rnd.nextInt(5)))
    }

  /** A rung: `files` released at `rate` files/s. */
  final case class Rung(rate: Int, first: Int, files: Int)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rnd = new Random(c.seed)
    // the run's seconds at the nominal rate, then a second at each faster rung
    val nominalSecs = if (c.min) 1 else math.max(10, c.seconds)
    val rungSecs = 1
    val warmFiles = 5
    val rungs = {
      var first = warmFiles
      (1 +: Ladder).map { m =>
        val files = NominalFilesPerS * m * (if (m == 1) nominalSecs else rungSecs)
        val r = Rung(NominalFilesPerS * m, first, files); first += files; r
      }
    }
    val total = rungs.last.first + rungs.last.files
    val stage = new File(s"${c.work}/stage"); stage.mkdirs()
    val srcDir = new File(s"${c.work}/src"); srcDir.mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evs = (0 until total).map { f =>
      val e = events(rnd, f, RowsPerFile, t0)
      Files.writeString(Paths.get(stage.getPath, f"f$f%06d.json"), e.map(_.json).mkString("\n"))
      e
    }
    def release(f: Int): Unit = Files.move(Paths.get(stage.getPath, f"f$f%06d.json"),
      Paths.get(srcDir.getPath, f"f$f%06d.json"), StandardCopyOption.ATOMIC_MOVE)

    c.mark("inputs written")
    // Untimed warm-up: a few files, released before the queries start so
    // that each query's first batch reads them; released later, the
    // dashboard would only read them at its next tick.
    (0 until warmFiles).foreach(release)
    val progress = if (c.tracer.enabled) Some(new ProgressListener) else None
    progress.foreach(spark.streams.addListener)
    val in = spark.readStream.schema(schema).json(srcDir.getPath)
    val ck = s"${c.work}/ck"
    val out = s"${c.work}/out"
    val qs = alertQueries(in, ck, out) :+
      Alerts.dashboardRefresh(in, s"$out/dashboard", s"$ck/dashboard", DashboardTickS)

    qs.foreach(_.processAllAvailable())

    c.mark("warm-up done")
    val due = new Array[Long](total)
    val released = new Array[Long](total)
    // The rungs follow each other without a pause, as a feed that speeds
    // up would: a rung starts with whatever backlog the one before left.
    c.measureStart = System.nanoTime()
    rungs.zipWithIndex.foreach { case (r, i) =>
      c.tracer.span("Alerts.stream", i + 1, "op") {
        val now = System.currentTimeMillis()
        // A processing-time trigger fires on multiples of its interval
        // since the epoch. The first rung starts midway between two
        // dashboard refreshes, so they fall at the same points of every run.
        val tick = DashboardTickS * 1000L
        val mid = now / tick * tick + tick / 2
        val start = if (i > 0) now + 20 else if (mid >= now + 20) mid else mid + tick
        val gen = new Thread(() => {
          (0 until r.files).foreach { k =>
            val f = r.first + k
            due(f) = start + k * 1000L / r.rate
            val wait = due(f) - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            release(f)
            released(f) = System.currentTimeMillis()
          }
        }, "perfbench-release")
        gen.start()
        gen.join()
        if (i == rungs.size - 1) qs.head.processAllAvailable()
      }
    }
    // Only the alert query, whose commits time the files, is drained.
    // The other two stop between batches: draining them would add their
    // slower batches to the run without adding a sample.
    qs.tail.foreach { q =>
      while (q.status.isTriggerActive) Thread.sleep(5)
      q.stop()
    }
    qs.head.stop()
    c.mark("measured")
    progress.foreach(spark.streams.removeListener)

    // Each released file's commit time, from the alert query's
    // checkpoint: the source log names the batch that read the file,
    // and the commit log's file time is when that batch committed.
    val commitMs = batchOfFile(s"$ck/alerts").map { case (name, b) =>
      name -> new File(s"$ck/alerts/commits/$b").lastModified() }
    val lat = (0 until total).map(f => commitMs.get(f"f$f%06d.json").map(m => (m - due(f)) / 1e3))
    val measured = warmFiles until total
    c.attempted += measured.size
    measured.filter(lat(_).isEmpty).foreach(f => c.fail(s"file $f never committed"))

    def rungLat(r: Rung) = (r.first until r.first + r.files).flatMap(lat(_))
    val nominal = rungLat(rungs.head)
    val p95 = Workloads.pct(nominal, 0.95)
    c.report("alert_latency_p50_s") = (Workloads.median(nominal), "s")
    c.report("alert_latency_p95_s") = (p95, "s")
    c.report("alert_latency_samples") = (nominal.size.toDouble, "count")
    c.report("alert_latency_beyond_p95") = (nominal.count(_ > p95).toDouble, "count")
    // sustained: p95 within the limit, and the rung's last quarter no
    // slower than the limit either (the backlog did not grow)
    val sustained = rungs.filter { r =>
      val l = rungLat(r)
      Workloads.pct(l, 0.95) <= LatencyLimitS &&
        Workloads.median(l.takeRight(math.max(1, l.size / 4))) <= LatencyLimitS
    }.map(_.rate * RowsPerFile)
    c.report("stream_sustained_rows_per_s") = (if (sustained.isEmpty) 0.0 else sustained.max.toDouble, "rows/s")

    val late = measured.map(f => (released(f) - due(f)).toDouble)
    c.layer("stream.gen_late_ms") = Workloads.pct(late, 0.95)
    // backlog at each release: files out minus files committed by then
    val commits = measured.flatMap(f => commitMs.get(f"f$f%06d.json")).sorted.toArray
    c.layer("stream.backlog_files") = measured.map { f =>
      val done = java.util.Arrays.binarySearch(commits, released(f)) match {
        case i if i >= 0 => i + 1
        case i => -i - 1
      }
      (f - warmFiles + 1 - done).toDouble
    }.max
    progress.foreach(progressRows(c, _))
    checkAlerts(c, srcDir, out, evs.flatten)
    c.attempted += 1
    if (!new File(s"$out/dashboard/overall_metrics").exists())
      c.fail("dashboard refresh wrote no overall_metrics table")
  }

  /** The stateless alert query and the watermarked rapid-order query
    * over `in`, writing parquet under `out`.
    */
  def alertQueries(in: DataFrame, ck: String, out: String): Seq[StreamingQuery] = Seq(
    Alerts.alertQuery(in, "parquet", "alerts", s"$ck/alerts", Some(s"$out/alerts")),
    Alerts.rapidOrders(in).writeStream.format("parquet").outputMode("append")
      .queryName("rapid").option("checkpointLocation", s"$ck/rapid")
      .option("path", s"$out/rapid").start())

  /** The `stream.*` per-layer rows the engine's progress reports give. */
  def progressRows(c: Ctx, p: ProgressListener): Unit = {
    val ps = p.snapshot.filter(_.numInputRows > 0)
    def dur(k: String) = ps.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    c.layer("stream.trigger_p50_ms") = Workloads.median(dur("triggerExecution"))
    c.layer("stream.planning_ms") = Workloads.median(dur("queryPlanning"))
    c.layer("stream.walCommit_ms") = Workloads.median(dur("walCommit"))
    c.layer("stream.state_rows") = p.snapshot.filter(_.name == "rapid")
      .flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0)
  }

  /** Checks the output of `alertQueries` against the rows `evs`
    * released into `srcDir`.
    */
  def checkAlerts(c: Ctx, srcDir: File, out: String, evs: Seq[Ev]): Unit = {
    val spark = c.spark
    // Alert counts by type must equal batch detectAlerts over the rows
    // released, and the same rules evaluated here.
    val rel = spark.read.schema(schema).json(srcDir.getPath)
    val batch = Alerts.detectAlerts(rel).groupBy("alert_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = spark.read.parquet(s"$out/alerts").groupBy("alert_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val local = evs.flatMap(_.alert).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    c.attempted += 2
    if (streamed != batch) c.fail(s"streamed alerts $streamed != batch detectAlerts $batch")
    if (batch != local) c.fail(s"batch detectAlerts $batch != rule count $local")
    // Every window the stateful query emitted is one the batch form finds.
    val rapidBatch = Alerts.rapidOrders(rel)
    val rapidStream = spark.read.parquet(s"$out/rapid")
    val extra = rapidStream.select("customer_id", "window_start", "order_count")
      .except(rapidBatch.select("customer_id", "window_start", "order_count")).count()
    c.attempted += 1
    if (extra > 0) c.fail(s"$extra streamed rapid-order windows absent from the batch result")
  }

  /** File name -> batch id, from a file source's metadata log
    * (`sources/0/<batch>` and its `.compact` files).
    */
  def batchOfFile(ckpt: String): Map[String, Long] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val dir = new File(s"$ckpt/sources/0")
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().drop(1).toSeq)
      .filter(_.startsWith("{")).map { l =>
        val n = mapper.readTree(l)
        new File(new java.net.URI(n.get("path").asText()).getPath).getName -> n.get("batchId").asLong()
      }.toMap
  }
}
