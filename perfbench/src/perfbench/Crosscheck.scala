package perfbench

import org.apache.spark.sql.SparkSession

/** Support for `crosscheck.py`, which ties the expected ladder
  * fingerprints to outputs the DuckDB oracle has accepted:
  *
  *   perfbench.Crosscheck corpus <dir>              write the ladder corpus
  *   perfbench.Crosscheck fingerprint <out> <q>...  fingerprint graft.Verify's
  *                                                  parquet output per query
  */
object Crosscheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.toList match {
      case "corpus" :: dir :: Nil => Data.ladderCorpus(spark, dir)
      case "fingerprint" :: out :: qs =>
        println(Json.obj(qs.map(q =>
          q -> Json.str(Fingerprint.noop(spark.read.parquet(s"$out/$q")))).sortBy(_._1)))
      case _ =>
        System.err.println("usage: corpus <dir> | fingerprint <out> <query>...")
        sys.exit(2)
    }
    spark.stop()
  }
}
