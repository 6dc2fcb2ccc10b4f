package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: restrict to named queries (local pre-flight)
    val only = args.drop(2).toSet
    // GRAFT_VERIFY_EXCLUDE: comma-separated gate names to SKIP — the
    // sf1 validation tier excludes d6_simhash_pairs, whose 209M-row
    // pair dump exists purely to satisfy a row-level oracle that
    // d6b_simhash_pairs_agg replaces aggregate-exactly (the driver
    // never sets this; its sf0.01 tier dumps everything). Excluded
    // gates are also dropped from oracle_sql.json so the comparators
    // skip them instead of failing on a missing dump.
    val excluded = sys.env.get("GRAFT_VERIFY_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same status-store caps as Bench: the 176-query loop otherwise
      // accumulates thousands of retained executions' plan graphs
      .config("spark.ui.retainedJobs", "64")
      .config("spark.ui.retainedStages", "128")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "16")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // allowlisted-tiny global windows only (PlanSpec-gated) — silence
    // WindowExec's "No Partition Defined" noise
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        (only.isEmpty || only(name)) && !excluded(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // coalesce(1) keeps the driver-facing output a single tidy file,
        // but it also collapses the FINAL stage to one task — at the
        // local sf1 validation tier some outputs are 100M+ rows, so
        // GRAFT_VERIFY_PARALLEL=1 writes them multi-file instead (the
        // comparators sort, so file layout is irrelevant to them)
        val out = fn(spark, sfDir)
        val shaped =
          if (sys.env.get("GRAFT_VERIFY_PARALLEL")
                .exists(v => v == "1" || v.equalsIgnoreCase("true"))) out
          else out.coalesce(1)
        shaped.write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        // harness: a failed query is reported by name and the run goes
        // on, so oracle_sql.json still lists every query
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => !excluded(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
