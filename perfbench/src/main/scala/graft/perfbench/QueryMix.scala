package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.ManagedParquetTable
import graft.similarity.{IncrementalIvfPqIndex, VectorFunctions}
import graft.text.{IncrementalInvertedIndex, InvertedIndex}

/** query_mix: read-only operations against tables and indexes built in
  * setup, one client, closed loop.
  *
  * A cycle runs `analytic` operations: catalog gates (TPC-H, gold
  * enrichment, an as-of join, sessionization) evaluated over the generated
  * tables, and scans of a managed orders table with deletion vectors
  * (stats-pruned range, Bloom-pruned point lookup, time travel) whose key
  * ranges, keys and versions come from the seed. The first and the fifth
  * analytic operation are followed by one `probe` operation: a BM25 top-k from the
  * persisted inverted index and an IVF-PQ top-k from the persisted vector
  * index, with a seeded phrase and seeded query vectors. The timed phase runs
  * whole cycles until the run's seconds are up; the traced phase runs one
  * cycle. Nothing is committed in the timed phase. */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx.{inputs, span, spark}

  private val M = 4
  private val Ksub = 16
  private val Dim = 64

  /** An analytic operation: `kind` names what it runs (a gate or a scan
    * shape), `key` also its seeded parameters. */
  private case class Analytic(kind: String, key: String, layer: String,
      build: () => DataFrame, oracle: Option[String])

  /** The catalog gates of a cycle and the layer each belongs to: at least
    * one operation of every read-side layer, sized so a cycle fits a run.
    * Every cycle runs the same gates and scans; only the seeded scan
    * parameters, phrase and query vectors change, so a run that completes
    * more cycles still times the same mix. */
  private val gates = Seq("q1_agg" -> "queries", "e1_gold_enrich_shape" -> "etl.gold",
    "j6_asof_join" -> "operators.join", "w6_sessionize" -> "operators.window")

  private var root: Path = _
  private var orders: ManagedParquetTable = _
  private var docs: ManagedParquetTable = _
  private var emb: ManagedParquetTable = _
  private var ivf: IncrementalIvfPqIndex = _
  private var queryVecs: IndexedSeq[DataFrame] = _
  private var opsDone = 0L
  private var round = 0
  private var liveRows = 0L
  private val reference = mutable.LinkedHashMap.empty[String, (Array[Row], StructType, Option[String])]
  private val probeRef = mutable.LinkedHashMap.empty[String, Array[Row]]
  private val counterValues = mutable.Map.empty[String, Double]

  private def read(rel: String*): DataFrame = spark.read.parquet(inputs.path(rel: _*))
  private def param(i: Int) = inputs.probes(i % inputs.probes.size)

  def setup(dir: Path): Unit = {
    root = dir
    val p = (n: String) => dir.resolve(n).toString
    val base = read("sf", "orders.parquet").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), graft.queries.Exact.cents(col("o_totalprice")).as("price_cents"),
      col("o_orderpriority"))
    // versions 0..2 append the orders in thirds, version 3 DV-deletes a
    // tenth: the time-travel and DV reads resolve against these
    orders = new ManagedParquetTable(spark, p("orders"))
    ctx.setupStep("orders") {
      orders.overwriteClustered(base.filter(col("o_orderkey") % 3 === 0),
        Seq("o_custkey", "o_orderkey"), numFiles = 8)
      orders.append(base.filter(col("o_orderkey") % 3 === 1))
      orders.append(base.filter(col("o_orderkey") % 3 === 2))
      orders.deleteWhereDV(col("o_orderkey") % 10 === 0)
    }
    ctx.setupStep("orders_bloom")(orders.buildBloomIndex(Seq("o_orderkey")))
    docs = new ManagedParquetTable(spark, p("docs"))
    ctx.setupStep("docs_index") {
      docs.append(read("sf", "documents.parquet").select(col("doc_id"), col("text")))
      new IncrementalInvertedIndex(spark, p("docs"), p("docs_index")).refresh()
    }
    emb = new ManagedParquetTable(spark, p("emb"))
    val e = read("sf", "embeddings.parquet").select(col("vec_id"), col("embedding"))
    ctx.setupStep("emb_index") {
      emb.append(e)
      ivf = new IncrementalIvfPqIndex(spark, p("emb"), p("emb_index"),
        m = M, ksub = Ksub, dim = Dim)
      ivf.train(e.filter(col("vec_id") < 16),
        VectorFunctions.pqTrain(e, m = M, ksub = Ksub, iters = 0, dim = Dim))
      ivf.refresh()
    }
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    queryVecs = inputs.probes.toIndexedSeq.map { pr =>
      val rows = inputs.longs(pr, "query_vec_ids").map(id => Row(id, vecs(id)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("vec_id", LongType), StructField("embedding",
          ArrayType(FloatType)))))
    }
  }

  /** The analytic operations of cycle `r` (its seeded scan parameters). */
  private def analytics(r: Int): Seq[Analytic] = {
    val sf = inputs.sf
    val gate = (name: String, layer: String) => Analytic(name, name, layer,
      () => graft.Catalog.byName(name).run(spark, sf), graft.SparkEntry.oracleSql.get(name))
    val pr = param(r)
    val Seq(lo, hi) = inputs.longs(pr, "cust_range")
    val key = inputs.long(pr, "point_key")
    val asOf = inputs.long(pr, "as_of")
    val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    val cols = s"o_orderkey, o_custkey, o_orderstatus, $cents AS price_cents, o_orderpriority"
    val asOfPred = Map(0L -> "o_orderkey % 3 = 0", 1L -> "o_orderkey % 3 IN (0, 1)",
      2L -> "TRUE", 3L -> "o_orderkey % 10 <> 0")(asOf)
    val scans = Seq(
      Analytic("scan_pruned", s"scan_pruned_${lo}_$hi", "io.read",
        () => orders.readWhere(col("o_custkey") >= lo && col("o_custkey") <= hi),
        Some(s"SELECT $cols FROM orders WHERE o_custkey BETWEEN $lo AND $hi " +
          "AND o_orderkey % 10 <> 0")),
      Analytic("scan_point", s"scan_point_$key", "io.read",
        () => orders.readWhere(col("o_orderkey") === key),
        Some(s"SELECT $cols FROM orders WHERE o_orderkey = $key AND o_orderkey % 10 <> 0")),
      Analytic("scan_as_of", s"scan_as_of_$asOf", "io.read",
        () => orders.readAt(asOf).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"), sum("price_cents").as("sum_cents")),
        Some(s"SELECT o_orderpriority, count(*) AS cnt, CAST(sum($cents) AS BIGINT) " +
          s"AS sum_cents FROM orders WHERE $asOfPred GROUP BY o_orderpriority")))
    // interleave so no layer runs twice in a row
    gates.map { case (g, layer) => gate(g, layer) }.zipAll(scans, null, null)
      .flatMap { case (g, sc) => Seq(g, sc) }.filter(_ != null)
  }

  private def runAnalytic(a: Analytic): Unit = {
    var rows: Array[Row] = null
    var schema: StructType = null
    ctx.op("large", a.kind) {
      if (a.layer == "queries") {
        val df = span("queries.plan") { val d = a.build(); d.queryExecution.executedPlan; d }
        rows = span("queries.exec")(df.collect())
        schema = df.schema
      } else span(a.layer) {
        val df = a.build()
        rows = df.collect()
        schema = df.schema
      }
    }
    opsDone += 1
    if (rows != null) reference.get(a.key) match {
      case None => reference(a.key) = (rows, schema, a.oracle)
      case Some((ref, _, _)) => ctx.check(s"${a.key} repeats")(
        if (Rows.same(ref, rows)) None else Some("differs from its first result"))
    }
  }

  private def textProbe(q: String): Array[Row] = span("text.probe") {
    InvertedIndex.bm25TopKIndexed(spark, root.resolve("docs_index").toString, q, k = 10)
      .collect()
  }

  private def vectorProbe(q: Int): Array[Row] =
    span("similarity.topk")(ivf.topK(queryVecs(q), k = 10, nprobe = 2).collect())

  /** A probe operation is a BM25 top-k and an IVF-PQ top-k, so every
    * probe sample times the same work. A cycle uses one seeded phrase and
    * one seeded query set: each is probed several times, every result is
    * compared with the first, and the first with a rebuild. */
  private def runProbe(): Unit = {
    val slot = round % inputs.probes.size
    val phrase = inputs.str(param(slot), "phrase")
    var text, vec: Array[Row] = null
    ctx.op("small", "probe") { text = textProbe(phrase); vec = vectorProbe(slot) }
    opsDone += 1
    Seq(s"text:$phrase" -> text, s"vec:$slot" -> vec).foreach {
      case (key, rows) if rows != null => probeRef.get(key) match {
        case None => probeRef(key) = rows
        case Some(ref) => ctx.check(s"$key repeats")(
          if (Rows.same(ref, rows)) None else Some("differs from its first result"))
      }
      case _ =>
    }
  }

  /** One cycle: the analytic operations, with a probe after the first
    * and the fifth. */
  private def runCycle(): Unit = {
    analytics(round).zipWithIndex.foreach { case (a, i) =>
      runAnalytic(a)
      if (i % 4 == 0) runProbe()
    }
    round += 1
  }

  def runTimed(deadline: Long): Unit =
    while (System.nanoTime() < deadline) runCycle()

  def runTraced(): Unit = {
    runCycle()
    val pruned = inputs.probes.take(2).flatMap { pr =>
      val Seq(lo, hi) = inputs.longs(pr, "cust_range")
      Seq(orders.pruneFiles(col("o_custkey") >= lo && col("o_custkey") <= hi),
        orders.pruneFiles(col("o_orderkey") === inputs.long(pr, "point_key")))
    }
    counterValues("io.prune.files_ratio") = ratio(pruned.map(p => (p._1.size, p._2)))
    counterValues("text.probe.files_ratio") = ratio(inputs.probes.take(2).map { pr =>
      val (files, total) = InvertedIndex.probeFilePlan(spark,
        root.resolve("docs_index").resolve("postings").toString,
        InvertedIndex.queryTokens(inputs.str(pr, "phrase")).distinct)
      (files.size, total)
    })
    counterValues("similarity.probe.files_ratio") =
      ratio(queryVecs.take(2).map(q => ivf.probeFilePlan(q, nprobe = 2)))
  }

  private def ratio(xs: Seq[(Int, Int)]): Double =
    xs.map(_._1).sum.toDouble / math.max(1, xs.map(_._2).sum)

  def checks(): Unit = {
    val liveDocs = docs.read()
    probeRef.foreach {
      case (k, served) if k.startsWith("text:") =>
        ctx.check(s"bm25 probe equals rebuild: $k") {
          val q = k.stripPrefix("text:")
          val rebuilt = InvertedIndex.bm25TopK(liveDocs, "text", "doc_id", q, k = 10)
          if (served.isEmpty) Some("empty probe result")
          else {
            val r = rebuilt.select(served.head.schema.fieldNames.map(col): _*).collect()
            if (Rows.same(served, r)) None else Some("served != rebuilt")
          }
        }
      case (k, served) =>
        ctx.check(s"ivf-pq probe equals rebuild: $k") {
          val q = queryVecs(k.stripPrefix("vec:").toInt)
          if (served.isEmpty) Some("empty probe result")
          else {
            val r = VectorFunctions.ivfPqTopK(emb.read(), q, ivf.centroids, ivf.codebooks,
              M, Ksub, Dim, k = 10, nprobe = 2)
              .select(served.head.schema.fieldNames.map(col): _*).collect()
            if (Rows.same(served, r)) None else Some("served != rebuilt")
          }
        }
    }
    // the DuckDB side of each analytic result is checked by run.py from
    // these files (parquet, as graft.Verify writes them for
    // tools/check.py); a missing oracle is itself a failed check there
    val out = Files.createDirectories(ctx.work.resolve("results"))
    reference.foreach { case (k, (rows, schema, _)) =>
      org.apache.spark.sql.graft.DirectParquetIo.writeSingleFile(
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), out.resolve(k))
    }
    Files.write(out.resolve("oracle_sql.json"), Json(ListMap(reference.toSeq.map {
      case (k, (_, _, oracle)) => k -> oracle }: _*)).getBytes("UTF-8"))
    liveRows = orders.read().count() + liveDocs.count() + emb.read().count()
  }

  def classes: Map[String, String] = Map(
    "small" -> "probe operations (a BM25 top-k and an IVF-PQ top-k)",
    "large" -> "analytic operations (catalog gates and scans)")
  def items: Double = opsDone.toDouble
  def storedBytesPerRow: Double = Fs.bytes(root).toDouble / liveRows
  def counters: Map[String, Double] = counterValues.toMap
  def detail: Json.Obj = Json.obj(
    "cycles" -> round,
    "analytic_keys" -> reference.keys.toSeq,
    "probe_keys" -> probeRef.keys.toSeq)
}
