package perfbench

import org.apache.spark.sql.SparkSession

/** Row count and checksum (the suite's [[Suite.force]]) of parquet result
  * directories, such as the ones `graft.Verify` writes, so the suite's
  * fingerprints can be compared with results the DuckDB oracle confirmed.
  *
  * {{{
  * Checksum <dir>...   # prints `PB sum <dir name> <rows> <checksum>` per dir
  * }}}
  */
object Checksum {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { dir =>
      val (rows, sum) = Suite.force(spark.read.parquet(dir))
      println(s"PB sum ${new java.io.File(dir).getName} $rows $sum")
    }
    spark.stop()
  }
}
