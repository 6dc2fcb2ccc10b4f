package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of each named query
  * (or all) so pushdown/broadcast/codegen can be inspected —
  * `runMain graft.Explain <sfDir> [query...]`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Catalog.all.map(_.name)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      // harness: a gate that fails to plan is reported, the rest explain
      try Catalog.byName(n).run(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
