package perfbench

import graft.plans.{Medallion, ModelRegistry}
import graft.operators.{Dedup, Similarity}
import graft.streaming.{Alerts, Dashboard}
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.Random

/** State shared by a run: the session, the tracer, the run's private
  * temp tree, and the tally of checked operations.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long, val seconds: Int, val min: Boolean,
                val expected: Map[String, String]) {
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]
  /** End-to-end metrics by name: (value, unit). */
  val report = LinkedHashMap.empty[String, (Double, String)]
  /** Workload-specific per-layer metrics (the generic ones are derived
    * from spans and jobs by `Layers`).
    */
  val layer = LinkedHashMap.empty[String, Double]
  var measureStart = 0L
  val fingerprints = LinkedHashMap.empty[String, String]

  def fail(what: String): Unit = { failed += 1; errors += what }

  /** Runs `body`, then releases the RDDs it registered (its
    * localCheckpoint blocks), snapshotting first so nothing older is
    * touched. Without this the debris of earlier operations squeezes
    * execution memory and inflates later ones.
    */
  def isolated[T](body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach { case (k, rdd) =>
      if (!before.contains(k)) rdd.unpersist(blocking = false) }
  }

  /** One checked operation: `body` is timed as a span, `verify` runs
    * after it, untimed.
    */
  def op[T](name: String, unit: Int)(body: => T)(verify: T => Option[String]): Unit = {
    attempted += 1
    isolated {
      val res =
        try Right(tracer.span(name, unit, "op")(body))
        catch { case e: Throwable => Left(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      res.flatMap(v =>
        (try verify(v) catch { case e: Throwable => Some(s"check threw ${e.getMessage}") })
          .map(m => s"$name (unit $unit): $m").toLeft(v))
    }.left.foreach(fail)
  }

  /** A DataFrame-returning call: the build phase (everything that runs
    * while the plan is made) and the final action through the `noop`
    * sink are separate child spans. The action carries an observed
    * row count and order-independent content hash, so the output is
    * checked in the same pass that computes it.
    */
  def query(name: String, unit: Int)(build: => DataFrame)
           (verify: String => Option[String]): Unit =
    op(name, unit) {
      val df = tracer.span(name, unit, "build")(build)
      tracer.span(name, unit, "action")(Fingerprint.noop(df))
    }(verify)

  /** Logs a phase boundary to stderr, in seconds since the JVM started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $what")
}

object Fingerprint {
  private val n = new java.util.concurrent.atomic.AtomicLong

  /** Row count and the sum of per-row xxhash64 over the columns in
    * name order, doubles rounded to 6 decimals (the precision every
    * graft output already rounds to). Order-independent, and computed
    * by `Dataset.observe` inside the one `noop` write.
    */
  def noop(df: DataFrame): String = {
    val obs = Observation(s"fp${n.incrementAndGet()}")
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(s"`$c`").cast("double"), 6)
        case _ => col(s"`$c`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    df.observe(obs, count(lit(1)).as("rows"),
        coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))
      .write.mode("overwrite").format("noop").save()
    val m = obs.get
    s"${m("rows")}:${m("h")}"
  }
}

object Workloads {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def duBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)

  def fileCount(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles()).map(_.map(fileCount).sum).getOrElse(0L)

  /** Per unit, the summed wall time of the spans named `name`. */
  def perUnit(c: Ctx, name: String): Map[Int, Double] =
    c.tracer.spans.filter(s => s != null && s.name == name && s.phase == "op")
      .groupBy(_.unit).map { case (u, ss) => u -> ss.map(_.secs).sum }

  /** Per measured unit, the summed wall time of its operations (the
    * output checks between them are not counted).
    */
  def unitSecs(c: Ctx): Seq[Double] =
    c.tracer.spans.filter(s => s != null && s.phase == "op" && s.unit > 0)
      .groupBy(_.unit).toSeq.sortBy(_._1).map(_._2.map(_.secs).sum)

  /** How many units a closed-loop run measures: `--seconds` over the
    * unit's nominal time on 4 cores, at least `least`. The count
    * depends on the arguments only, never on the clock, so two commits
    * given the same arguments time the same units.
    */
  def unitCount(c: Ctx, nominalS: Double, least: Int): Int =
    if (c.min) 1 else math.max(least, math.round(c.seconds / nominalS).toInt)

  /** Closed loop: runs units 1 to `n` in order, each as a span. */
  def units(c: Ctx, n: Int)(unit: Int => Unit): Unit =
    (1 to n).foreach(u => c.tracer.span("unit", u, "unit")(unit(u)))

  // ---------------------------------------------------------------- daily_medallion

  /** Why: the reference's headline DAG (bronze → silver → gold, then
    * CF train/eval/register). Its time goes to shuffle and CPU in the
    * recommender and to parquet writes at the layer boundaries, over
    * few Spark jobs — so a job-count cut should leave it flat. Each day
    * ends with its orders through the alert and rapid-order streams,
    * closed loop: Structured Streaming and the state store under the
    * benchmark's gate without the open loop's queueing.
    */
  def dailyMedallion(c: Ctx): Unit = {
    val spark = c.spark
    // measured days 0 .. n-1, then one more for the warm-up
    val n = unitCount(c, DayNominalS, 3)
    val dayMs = 86400000L
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rnd = new Random(c.seed)
    val orders = (0 to n).foldLeft(Vector.empty[Data.Order])((acc, d) =>
      acc ++ Data.dayOrders(rnd, acc.size, t0 + d * dayMs, dayMs))
    def ds(d: Int) = new java.sql.Date(t0 + d * dayMs).toString
    val src = Data.write(spark, orders.map(Data.orderRow), Data.orderSchema,
      s"${c.work}/source/orders", 4)

    c.mark("inputs written")
    // The same orders as a stream: one JSON file a day, released into the
    // feed the alert and rapid-order queries read. The stream's warm-up
    // day precedes day 0, so the rapid-order watermark drops no later day.
    val warmFeed = Data.dayOrders(rnd, orders.size, t0 - dayMs, dayMs)
    val stage = new File(s"${c.work}/stage"); stage.mkdirs()
    val feed = new File(s"${c.work}/feed"); feed.mkdirs()
    def ev(o: Data.Order) = Stream.Ev(o.orderId, o.total, o.quantity, o.price,
      o.customerId.toString, s"P${o.productId}", o.ts, o.status, o.category, o.region)
    def dayOf(d: Int) = orders.filter(o => o.ts >= t0 + d * dayMs && o.ts < t0 + (d + 1) * dayMs)
    (("warm" -> warmFeed) +: (0 until n).map(d => ds(d) -> dayOf(d))).foreach { case (k, os) =>
      Files.writeString(Paths.get(stage.getPath, s"$k.json"), os.map(ev(_).json).mkString("\n"))
    }
    def release(k: String): Unit = Files.move(Paths.get(stage.getPath, s"$k.json"),
      Paths.get(feed.getPath, s"$k.json"), StandardCopyOption.ATOMIC_MOVE)

    // Untimed warm-up: the last day, in a lake and registry of its own,
    // and the stream's warm-up day.
    c.isolated(Medallion.runDay(src, s"${c.work}/warm/lake", ds(n)))
    c.isolated(ModelRegistry.trainEvalRegister(spark,
      interactions(spark.read.parquet(s"${c.work}/warm/lake/silver/orders")),
      s"${c.work}/warm/registry", "warm"))
    val progress = if (c.tracer.enabled) Some(new ProgressListener) else None
    progress.foreach(spark.streams.addListener)
    release("warm")
    val out = s"${c.work}/out"
    val qs = Stream.alertQueries(spark.readStream.schema(Stream.schema).json(feed.getPath),
      s"${c.work}/ck", out)
    qs.foreach(_.processAllAvailable())

    c.mark("warm-up done")
    val lake = s"${c.work}/lake"
    val registry = s"${c.work}/registry"
    c.measureStart = System.nanoTime()
    val written = ArrayBuffer.empty[Double]
    units(c, n) { u =>
      val d = u - 1
      val day = dayOf(d)
      val clean = day.filter(_.cleaned)
      val bytes0 = duBytes(new File(lake))
      c.op("Medallion.runDay", u)(Medallion.runDay(src, lake, ds(d))) { r =>
        val gold = spark.read.parquet(s"$lake/gold/daily_summary")
          .filter(col("date") === ds(d)).head()
        val rev = clean.map(o => BigDecimal(o.cleanTotal)).sum.toDouble
        if (r.extracted != day.size || r.cleaned != clean.size)
          Some(s"extracted/cleaned ${r.extracted}/${r.cleaned}, expected ${day.size}/${clean.size}")
        else if (gold.getAs[Long]("total_orders") != clean.size ||
          math.abs(gold.getAs[Double]("total_revenue") - rev) > 1e-6 * math.max(1.0, rev))
          Some(s"gold summary $gold, expected ${clean.size} orders, revenue $rev")
        else None
      }
      c.op("Dashboard.allMetrics", u) {
        val silver = spark.read.parquet(s"$lake/silver/orders").filter(col("date") === ds(d))
        Dashboard.allMetrics(silver).foreach { case (name, df) =>
          df.write.mode("overwrite").parquet(s"$lake/gold/dashboard/$name/date=${ds(d)}")
        }
      } { _ =>
        val valid = clean.filter(o => Dashboard.ValidStatuses.contains(o.status))
        val m = spark.read.parquet(s"$lake/gold/dashboard/overall_metrics/date=${ds(d)}").head()
        val nCat = spark.read.parquet(s"$lake/gold/dashboard/category_stats/date=${ds(d)}").count()
        if (m.getAs[Long]("total_orders") != valid.size ||
          m.getAs[Long]("unique_customers") != valid.map(_.customerId).distinct.size)
          Some(s"overall_metrics $m, expected ${valid.size} orders")
        else if (nCat != valid.map(_.category).distinct.size)
          Some(s"category_stats has $nCat rows")
        else None
      }
      written += (duBytes(new File(lake)) - bytes0).toDouble
      c.op("ModelRegistry.trainEvalRegister", u) {
        ModelRegistry.trainEvalRegister(spark,
          interactions(spark.read.parquet(s"$lake/silver/orders")), registry, ds(d))
      } { _ =>
        ModelRegistry.productionMetrics(spark, registry) match {
          case Some(m) if m.coverage >= 0 && m.coverage <= 1 &&
            m.precisionAt10 >= 0 && m.precisionAt10 <= 1 => None
          case other => Some(s"production model metrics $other")
        }
      }
      // checked at the end, over every day released
      c.op("Alerts.stream", u) {
        release(ds(d))
        qs.foreach(_.processAllAvailable())
      }(_ => None)
    }
    qs.foreach(_.stop())
    progress.foreach { p =>
      spark.streams.removeListener(p)
      Stream.progressRows(c, p)
    }
    Stream.checkAlerts(c, feed, out, (warmFeed ++ (0 until n).flatMap(dayOf)).map(ev))
    val etl = (1 to n).map(u => perUnit(c, "Medallion.runDay").getOrElse(u, 0.0) +
      perUnit(c, "Dashboard.allMetrics").getOrElse(u, 0.0))
    c.report("day_s") = (median(unitSecs(c)), "s")
    c.report("etl_day_s") = (median(etl), "s")
    c.report("train_eval_s") = (median(perUnit(c, "ModelRegistry.trainEvalRegister").values.toSeq), "s")
    c.layer("medallion.bytes_written") = median(written.toSeq)
  }

  /** A day's nominal time on 4 cores. */
  val DayNominalS = 7.0

  /** The CF input: distinct (customer, product) pairs seen so far. */
  private def interactions(silver: DataFrame): DataFrame =
    silver.select(col("customer_id").cast("long").as("user_id"),
      col("product_id").as("item_id")).distinct()

  // ---------------------------------------------------------------- ann_ladders

  /** One query per module from the probe's job-heavy set (36–49
    * mostly single-task Spark jobs each, parallelism below 1, little
    * shuffle). None of them caches a store across calls.
    */
  val Ladder: Seq[String] = Seq("dedup_best_of_cluster", "sim_knn_ivfpq_res",
    "txt_unigram_viterbi", "graph_hits")

  /** A pass's nominal time on 4 cores, in a fresh JVM. */
  val PassNominalS = 30.0

  def module(q: String): String = q.takeWhile(_ != '_') match {
    case "dedup" => "Dedup"
    case "sim" => "Similarity"
    case "txt" => "TextAnalysis"
    case "graph" => "Graph"
    case other => other
  }

  /** Why: these queries are bound by Spark job latency, the target of
    * ROADMAP direction 2, and `daily_medallion` bypasses them. The
    * corpus is fixed (so are the expected fingerprints); the seed
    * orders the list in each pass. There is no warm-up pass: the first
    * pass runs in a fresh JVM, as a spark-submit'ed job of the
    * reference does, so it pays for its own class loading, JIT and
    * code generation, and a run fits the benchmark's time budget.
    */
  def annLadders(c: Ctx): Unit = {
    val spark = c.spark
    val sf = s"${c.work}/sf"
    Data.ladderCorpus(spark, sf)
    c.mark("inputs written")
    val rnd = new Random(c.seed)
    c.measureStart = System.nanoTime()
    units(c, unitCount(c, PassNominalS, 1)) { u =>
      rnd.shuffle(Ladder).foreach { q =>
        c.query(s"${module(q)}.query/$q", u)(graft.SparkEntry.queries(q)(spark, sf)) { fp =>
          c.fingerprints(q) = fp
          c.expected.get(q) match {
            case Some(e) if e == fp => None
            case Some(e) => Some(s"fingerprint $fp, expected $e")
            case None => Some(s"no expected fingerprint (got $fp)")
          }
        }
      }
    }
    c.report("ladder_pass_s") = (median(unitSecs(c)), "s")
  }

  // ---------------------------------------------------------------- store_churn

  /** Why: writes beside reads on the persisted-store code (IVF cells,
    * IVF-PQ codes, MinHash-LSH index). A faster append that slows
    * serving, or inflates bytes on disk, shows here.
    */
  /** A batch's nominal time on 4 cores. */
  val BatchNominalS = 10.0

  def storeChurn(c: Ctx): Unit = {
    val spark = c.spark
    val rnd = new Random(c.seed)
    val batches = unitCount(c, BatchNominalS, 3)
    val (baseN, batchN) = if (c.min) (150, 20) else (600, 60)
    val (docBase, docBatch) = if (c.min) (100, 15) else (400, 40)
    val embPool = rnd.shuffle(Data.embeddings(rnd, 0, baseN + batchN * batches))
    val docPool = rnd.shuffle(Data.documents(rnd, 0, docBase + docBatch * batches + docBatch))
    val in = s"${c.work}/in"
    val embBase = Data.write(spark, embPool.take(baseN), Data.embeddingsSchema, s"$in/emb0")
    val embB = (1 to batches).map(b => Data.write(spark,
      embPool.slice(baseN + (b - 1) * batchN, baseN + b * batchN), Data.embeddingsSchema, s"$in/emb$b"))
    val docBaseDf = Data.write(spark, docPool.take(docBase), Data.documentsSchema, s"$in/doc0")
    val docB = (1 to batches).map(b => Data.write(spark,
      docPool.slice(docBase + (b - 1) * docBatch, docBase + b * docBatch), Data.documentsSchema, s"$in/doc$b"))
    val probeDocs = Data.write(spark, docPool.takeRight(docBatch), Data.documentsSchema, s"$in/probe")
    val queries = Data.write(spark, Data.embeddings(new Random(c.seed + 1), 1000000, 20),
      Data.embeddingsSchema, s"$in/queries")
    // ids to tombstone after batch b: drawn from what is live by then
    val live = scala.collection.mutable.LinkedHashSet(embPool.take(baseN).map(_.getLong(0)): _*)
    val deletes = (1 to batches).map { b =>
      live ++= embPool.slice(baseN + (b - 1) * batchN, baseN + b * batchN).map(_.getLong(0))
      val ids = rnd.shuffle(live.toSeq).take(batchN / 6).sorted
      live --= ids
      ids
    }

    def stores(root: String) = (s"$root/ivf/idx", s"$root/pq/idx", s"$root/lsh/idx")
    def build(root: String, u: Int, timed: Boolean): Unit = {
      val (ivf, pq, lsh) = stores(root)
      def run(name: String)(f: => Unit): Unit =
        if (timed) c.op(name, u)(f)(_ => None) else c.isolated(f)
      run("Similarity.ivfBuild")(Similarity.ivfBuild(spark, ivf, embBase))
      run("Similarity.ivfPqBuild")(Similarity.ivfPqBuild(spark, pq, embBase))
      run("Dedup.lshIndexBuild")(Dedup.lshIndexBuild(spark, lsh, docBaseDf))
    }
    def write(root: String, b: Int, timed: Boolean): Unit = {
      val (ivf, pq, lsh) = stores(root)
      def run(name: String)(f: => Unit): Unit =
        if (timed) c.op(name, b)(f)(_ => None) else c.isolated(f)
      run("Similarity.ivfAppend")(Similarity.ivfAppend(spark, ivf, embB(b - 1)))
      run("Similarity.ivfPqAppend")(Similarity.ivfPqAppend(spark, pq, embB(b - 1)))
      run("Dedup.lshIndexAppend")(Dedup.lshIndexAppend(spark, lsh, docB(b - 1), b.toLong))
      run("Similarity.ivfDelete")(Similarity.ivfDelete(spark, ivf, deletes(b - 1)))
    }
    def serve(root: String): Seq[(String, DataFrame)] = {
      val (ivf, pq, lsh) = stores(root)
      Seq("Similarity.searchStoreLive" -> Similarity.searchStoreLive(spark, ivf),
        "Similarity.searchPqStore" -> Similarity.searchPqStore(spark, pq, queries),
        "Dedup.incrementalDedupFromStore" -> Dedup.incrementalDedupFromStore(spark, lsh, probeDocs))
    }
    val names = Seq("Similarity.searchStoreLive", "Similarity.searchPqStore",
      "Dedup.incrementalDedupFromStore")
    def timedServe(root: String, u: Int): Unit =
      names.indices.foreach(i => c.query(names(i), u)(serve(root)(i)._2)(_ => None))

    c.mark("inputs written")
    // Untimed warm-up: the whole cycle once on a store tree of its own.
    val warm = s"${c.work}/warm"
    build(warm, 0, timed = false)
    write(warm, 1, timed = false)
    serve(warm).foreach { case (_, df) => c.isolated(Fingerprint.noop(df)) }

    c.mark("warm-up done")
    val root = s"${c.work}/stores"
    c.measureStart = System.nanoTime()
    c.tracer.span("unit", 0, "unit")(build(root, 0, timed = true))
    var deleted = Set.empty[Long]
    val written = ArrayBuffer.empty[Double]
    val n = batches
    units(c, n) { b =>
      val bytes0 = duBytes(new File(root))
      write(root, b, timed = true)
      written += (duBytes(new File(root)) - bytes0).toDouble / (2 * batchN + docBatch)
      deleted ++= deletes(b - 1)
      val d = deleted
      timedServe(root, b)
      // deleted ids must answer nowhere
      c.attempted += 1
      val hit = Similarity.searchStoreLive(spark, stores(root)._1)
        .filter(col("query_id").isin(d.toSeq: _*) || col("nbr_id").isin(d.toSeq: _*)).count()
      if (hit > 0) c.fail(s"batch $b: $hit serve rows name deleted ids")
    }
    val fin = n + 1
    c.tracer.span("final", fin, "final") {
      c.op("Similarity.ivfCompact", fin)(Similarity.ivfCompact(spark, stores(root)._1))(_ => None)
      c.op("Similarity.ivfRecover", fin)(Similarity.ivfRecover(spark, stores(root)._1))(_ => None)
    }
    c.mark("measured")
    val bytes = duBytes(new File(root))
    val files = fileCount(new File(root))
    // The final serve must equal a fresh build plus the same appends
    // and deletes.
    val got = serve(root).map { case (k, df) => k -> c.isolated(Fingerprint.noop(df)) }.toMap
    val replay = s"${c.work}/replay"
    build(replay, 0, timed = false)
    (1 to n).foreach(b => write(replay, b, timed = false))
    val want = serve(replay).map { case (k, df) => k -> c.isolated(Fingerprint.noop(df)) }.toMap
    names.foreach { k =>
      c.attempted += 1
      if (got(k) != want(k)) c.fail(s"final $k $got != replay ${want(k)}")
    }
    // live rows: IVF (appends minus deletes), IVF-PQ codes, LSH documents
    val rows = (baseN + n * batchN - deleted.size) + (baseN + n * batchN) + (docBase + n * docBatch)
    c.report("store_build_s") = (perUnit(c, "Similarity.ivfBuild")(0) +
      perUnit(c, "Similarity.ivfPqBuild")(0) + perUnit(c, "Dedup.lshIndexBuild")(0), "s")
    val wr = Seq("Similarity.ivfAppend", "Similarity.ivfPqAppend", "Dedup.lshIndexAppend",
      "Similarity.ivfDelete").map(perUnit(c, _))
    val rd = names.map(perUnit(c, _))
    def batchSum(ms: Seq[Map[Int, Double]], b: Int) = ms.map(_.getOrElse(b, 0.0)).sum
    c.report("store_append_s") = (median((1 to n).map(batchSum(wr, _))), "s")
    c.report("store_serve_s") = (median((1 to n).map(batchSum(rd, _))), "s")
    c.report("batch_s") = (median((1 to n).map(b => batchSum(wr, b) + batchSum(rd, b))), "s")
    c.report("store_bytes_per_row") = (bytes.toDouble / rows, "bytes")
    c.layer("store.files") = files.toDouble
    c.layer("store.bytes_written_per_row") = median(written.toSeq)
  }
}
