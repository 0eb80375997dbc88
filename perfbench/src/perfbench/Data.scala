package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.util.Random

/** Seeded input generators. The program under test only ever sees the
  * tables these write; every workload's inputs are a pure function of
  * its seed (and, for the ladder corpus, of a fixed data seed).
  */
object Data {

  private val Words = Array("the", "fast", "key", "order", "sort", "table",
    "scan", "merge", "part", "window", "small", "hash", "join", "batch",
    "stream", "spark", "spark", "group", "query", "row", "data", "slow",
    "filter", "customer", "line", "value", "agg", "column", "a", "big",
    "vector", "index", "shard", "cache", "page", "node", "edge", "rank",
    "token", "span")

  /** Documents with planted near-duplicate clusters: a quarter of the
    * rows copy an earlier document with one or two words swapped, so
    * the LSH/dedup paths have real clusters to find.
    */
  def documents(rnd: Random, idFrom: Long, n: Int): Seq[Row] = {
    val made = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val text =
        if (made.nonEmpty && rnd.nextDouble() < 0.25) {
          val w = made(rnd.nextInt(made.size)).split(' ')
          (0 until 1 + rnd.nextInt(2)).foreach(_ =>
            w(rnd.nextInt(w.length)) = Words(rnd.nextInt(Words.length)))
          w.mkString(" ")
        } else
          Seq.fill(20 + rnd.nextInt(60))(Words(rnd.nextInt(Words.length)))
            .mkString(" ")
      made += text
      val id = idFrom + i
      Row(id, text, Seq("en", "de", "fr", "es", "zh")(i % 5),
        s"src${id % 20}", text.length.toLong)
    }
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val Dim = 64
  val Labels = 10

  /** Unit-scale embeddings around `Labels` fixed cluster centres. */
  def embeddings(rnd: Random, idFrom: Long, n: Int): Seq[Row] = {
    val centres = {
      val c = new Random(7)
      Array.fill(Labels, Dim)(c.nextGaussian() * 0.2)
    }
    (0 until n).map { i =>
      val label = rnd.nextInt(Labels)
      val v = Array.tabulate(Dim)(d =>
        (centres(label)(d) + rnd.nextGaussian() * 0.05).toFloat)
      Row(idFrom + i, v.toSeq, label)
    }
  }

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val Epoch = Timestamp.valueOf("1995-01-01 00:00:00").getTime

  /** TPC-H-shaped orders/lineitem: the CF and graph ladders read the
    * (customer, part) purchase graph out of their join.
    */
  def ordersAndLineitem(rnd: Random, nOrders: Int, nCust: Int,
                        nPart: Int): (Seq[Row], Seq[Row]) = {
    val orders = (0 until nOrders).map { o =>
      Row(o.toLong, rnd.nextInt(nCust).toLong,
        Seq("F", "O", "P")(rnd.nextInt(3)),
        math.rint(rnd.nextDouble() * 4e7) / 100,
        new Timestamp(Epoch + rnd.nextInt(2400).toLong * 86400000L),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")(rnd.nextInt(5)))
    }
    val lines = orders.flatMap { o =>
      val ok = o.getLong(0)
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        Row(ok, rnd.nextInt(nPart).toLong, rnd.nextInt(10).toLong, ln,
          (1 + rnd.nextInt(50)).toDouble,
          math.rint(rnd.nextDouble() * 1e7) / 100,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rnd.nextInt(3)),
          Seq("F", "O")(rnd.nextInt(2)),
          new Timestamp(o.getTimestamp(4).getTime +
            rnd.nextInt(120).toLong * 86400000L))
      }
    }
    (orders, lines)
  }

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
            path: String, files: Int = 1): DataFrame = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The fixed corpus the ladder queries read, laid out like the sf
    * test data `graft.Tables` loads (one `<dir>/<name>.parquet` file per
    * table, so the DuckDB oracle reads it too). Its size is fixed, so the
    * expected output fingerprints are too.
    */
  def ladderCorpus(spark: SparkSession, dir: String): Unit = {
    val rnd = new Random(42)
    def table(rows: Seq[Row], schema: StructType, name: String): Unit = {
      val tmp = s"$dir/$name.tmp"
      write(spark, rows, schema, tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    table(documents(rnd, 0, 500), documentsSchema, "documents")
    table(embeddings(rnd, 0, 500), embeddingsSchema, "embeddings")
    val (o, l) = ordersAndLineitem(rnd, 1500, 150, 200)
    table(o, ordersSchema, "orders")
    table(l, lineitemSchema, "lineitem")
  }

  /** One order-shaped source row, as the reference's source database
    * holds it (scripts/setup_source_db.py).
    */
  final case class Order(orderId: String, ts: Long, customerId: Long,
                         productId: Long, category: String, region: String,
                         price: Double, quantity: Int, total: Double,
                         status: String) {
    def cleaned: Boolean = quantity > 0 && status.nonEmpty
    def cleanTotal: Double = math.abs(price) * quantity
  }

  val Categories = Seq("Books", "Toys", "Games", "Garden", "Audio",
    "Kitchen", "Sports", "Office")
  val Regions = Seq("North", "South", "East", "West", "Central")
  val Statuses = Seq("completed", "processing", "pending", "cancelled")

  /** The reference's source traffic, as BASELINE.md records it from
    * scripts/setup_source_db.py: 500 customers, 100 products, about
    * 150 orders a day ±30%.
    */
  val Customers = 500
  val Products = 100
  val OrdersPerDay = 150

  /** One day's orders, 150 ±30% of them at seeded times within the
    * day, with the reference's injected defects: 2% negative price, 1%
    * zero quantity, 1% empty status, and 3% of totals off by ×0.8–1.2
    * (Silver recomputes them).
    */
  def dayOrders(rnd: Random, idFrom: Long, dayStartMs: Long, spanMs: Long): Seq[Order] = {
    val n = math.round(OrdersPerDay * (0.7 + 0.6 * rnd.nextDouble())).toInt
    (0 until n).map { i =>
      val pid = rnd.nextInt(Products).toLong
      val qty = 1 + rnd.nextInt(5)
      val price = math.rint((5 + rnd.nextDouble() * 495) * 100) / 100
      val d = rnd.nextDouble()
      val (p, q, st) =
        if (d < 0.02) (-price, qty, Statuses(rnd.nextInt(4)))
        else if (d < 0.03) (price, 0, Statuses(rnd.nextInt(4)))
        else if (d < 0.04) (price, qty, "")
        else (price, qty, Statuses(rnd.nextInt(4)))
      val total = if (rnd.nextDouble() < 0.03) p * q * (0.8 + 0.4 * rnd.nextDouble())
                  else p * q
      Order(s"O${idFrom + i}", dayStartMs + (rnd.nextDouble() * spanMs).toLong,
        rnd.nextInt(Customers).toLong, pid, Categories((pid % 8).toInt),
        Regions(rnd.nextInt(Regions.size)), p, q, total, st)
    }
  }

  val orderSchema: StructType = StructType(Seq(
    StructField("order_id", StringType), StructField("order_date", TimestampType),
    StructField("customer_id", StringType), StructField("product_id", LongType),
    StructField("product_name", StringType), StructField("category", StringType),
    StructField("region", StringType), StructField("price", DoubleType),
    StructField("quantity", IntegerType), StructField("total", DoubleType),
    StructField("status", StringType)))

  def orderRow(o: Order): Row =
    Row(o.orderId, new Timestamp(o.ts), o.customerId.toString, o.productId,
      s"P${o.productId}", o.category, o.region, o.price, o.quantity, o.total,
      o.status)
}
