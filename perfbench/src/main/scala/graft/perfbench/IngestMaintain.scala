package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{IncrementalAggView, ManagedParquetTable}
import graft.io.IncrementalAggView.AggSpec
import graft.similarity.{IncrementalIvfPqIndex, VectorFunctions}
import graft.text.{IncrementalInvertedIndex, InvertedIndex}

/** ingest_maintain: seeded change windows, each followed by a refresh of
  * every derived structure, one client, closed loop.
  *
  * A window changes one source:
  *  - orders: a Debezium-shaped CDC batch (`BronzeIngest.upsertCdcBatchDV`);
  *    derived: an `IncrementalAggView` per order priority;
  *  - docs: an append, and in a small window DV deletes and a rewriting
  *    delete, through `ManagedParquetTable` (a large window is a bulk
  *    append); derived: an `IncrementalInvertedIndex`;
  *  - emb: the same over an embedding table; derived: an
  *    `IncrementalIvfPqIndex`;
  *  - corpus: a document batch through the curation chain ([[Curation]]);
  *    derived: the batch's curated JSONL training shards.
  * After the change, the view and both indexes are refreshed (a
  * refresh whose source did not change resolves as a noop). A window's
  * freshness is the wall from handing it to graft until every derived
  * structure serves it. Windows come in cycles (gen.py's CYCLE) that
  * alternate small and large windows; docs and emb windows come in both
  * sizes, so graft's observed-row cutovers are crossed both ways. After
  * each window, outside the timed region, the benchmark records which
  * side of each cutover graft took, read from the files the window's
  * maintenance wrote ([[Writes]]). The timed phase runs whole cycles until
  * the run's seconds are up; the traced phase runs one cycle. */
final class IngestMaintain(ctx: Ctx) extends Workload {
  import ctx.{inputs, span, spark}

  private val M = 4
  private val Ksub = 16
  private val Dim = 64
  private val CycleLength = 6

  private val curation = new Curation(ctx)
  private var root: Path = _
  private var orders, docs, emb, corpus: ManagedParquetTable = _
  private var view: IncrementalAggView = _
  private var textIdx: IncrementalInvertedIndex = _
  private var ivf: IncrementalIvfPqIndex = _
  private var nextWindow = 0
  private var changedRows = 0L
  private var liveRows = 0L
  private val windowLog = ArrayBuffer.empty[Json.Obj]
  private val refreshes = ArrayBuffer.empty[String]
  private val sides = mutable.LinkedHashMap.empty[String, mutable.SortedSet[String]]
  private var state: Json.Obj = Json.obj()
  private var bytesWritten = 0.0
  private var filesLive = 0.0
  private var verifiedPairs, candidatePairs = 0L

  private def read(rel: String*): DataFrame = spark.read.parquet(inputs.path(rel: _*))

  /** The maintenance writes whose driver-direct vs distributed choice
    * graft makes from an observed row count: (report name, directory
    * under the state root, what the count is checked against). */
  private val cutovers = Seq(
    ("text.postings", "docs_index/postings/",
      "postings rows of the window <= spark.graft.postingsDirectMaxRows (200000)"),
    ("text.doclen", "docs_index/doclen/", "fresh documents of the window <= 10000"),
    ("similarity.lists", "emb_index/lists/seg-",
      "inserted vectors of the window <= spark.graft.smallCommitMaxRows (10000)"),
    ("io.view.state", "orders_view/state-",
      "partial rows of the view <= spark.graft.smallCommitMaxRows (10000)"))

  def setup(dir: Path): Unit = {
    root = dir
    val p = (n: String) => dir.resolve(n).toString
    orders = new ManagedParquetTable(spark, p("orders"))
    view = new IncrementalAggView(spark, p("orders"), p("orders_view"),
      Seq("o_orderpriority"),
      Seq(AggSpec("count", "", "cnt"), AggSpec("sum", "price_cents", "sum_cents"),
        AggSpec("min", "price_cents", "min_cents"),
        AggSpec("max", "price_cents", "max_cents")))
    ctx.setupStep("orders_view") {
      orders.append(read("sf", "orders.parquet").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        graft.queries.Exact.cents(col("o_totalprice")).as("price_cents"),
        col("o_orderdate"), col("o_orderpriority")))
      view.refresh()
    }
    docs = new ManagedParquetTable(spark, p("docs"))
    textIdx = new IncrementalInvertedIndex(spark, p("docs"), p("docs_index"))
    ctx.setupStep("docs_index") {
      docs.append(read("sf", "documents.parquet").select(col("doc_id"), col("text")))
      textIdx.refresh()
    }
    emb = new ManagedParquetTable(spark, p("emb"))
    ivf = new IncrementalIvfPqIndex(spark, p("emb"), p("emb_index"),
      m = M, ksub = Ksub, dim = Dim)
    ctx.setupStep("emb_index") {
      val e = read("sf", "embeddings.parquet").select(col("vec_id"), col("embedding"))
      emb.append(e)
      ivf.train(e.filter(col("vec_id") < 16),
        VectorFunctions.pqTrain(e, m = M, ksub = Ksub, iters = 0, dim = Dim))
      ivf.refresh()
    }
    corpus = new ManagedParquetTable(spark, p("corpus"))
  }

  private def applyWindow(): Unit = {
    val i = nextWindow
    nextWindow += 1
    val w = inputs.windows(i)
    val wd = (f: String) => read("windows", i.toString, f)
    val source = inputs.str(w, "source")
    val size = inputs.str(w, "size")
    var curated: Option[Curation.Batch] = None
    val before = Writes.listing(root)
    val ok = ctx.op(size, source) {
      source match {
        case "orders" => span("streaming.upsert_dv") {
          graft.streaming.BronzeIngest.upsertCdcBatchDV(orders,
            wd("orders_cdc.parquet"), Seq("o_orderkey"), "seq", "op")
        }
        case "docs" | "emb" =>
          val (t, id, payload) =
            if (source == "docs") (docs, "doc_id", "text") else (emb, "vec_id", "embedding")
          span("io.append")(t.append(wd(s"${source}_add.parquet").select(id, payload)))
          if (size == "small") {
            span("io.delete_dv")(t.deleteMatchingDV(wd(s"${source}_dv.parquet"), Seq(id)))
            val Seq(lo, hi) = inputs.longs(w, "rewrite_range")
            span("io.delete_rewrite")(t.deleteWhere(col(id) >= lo && col(id) < hi))
          }
        case "corpus" =>
          val Seq(lo, hi) = inputs.longs(w, "id_range")
          curated = Some(curation.run(corpus,
            wd("corpus.parquet").select("doc_id", "text"), i.toLong, lo, hi,
            root.resolve("shards").resolve(i.toString)))
      }
      span("io.view.refresh")(view.refresh())
      span("text.index.refresh")(textIdx.refresh())
      span("similarity.index.refresh")(ivf.refresh())
    }
    val resolved = Seq(view.lastRefresh, textIdx.lastRefresh, ivf.lastRefresh)
    refreshes += view.lastRefresh
    // the side of each cutover this window's maintenance took, from the
    // files it wrote (outside the timed region)
    val added = Writes.added(root, before)
    val taken = cutovers.flatMap { case (name, dir, _) =>
      Writes.first(added, dir).map { wr =>
        sides.getOrElseUpdate(name, mutable.SortedSet.empty[String]) += wr.side
        name -> Json.obj("side" -> wr.side, "rows" -> wr.rows, "files" -> wr.files)
      }
    }
    if (ok) changedRows += inputs.long(w, "rows")
    curated.foreach { c =>
      if (c.exported != c.onDisk)
        ctx.check(s"window $i export")(Some(
          s"write pass saw ${c.exported} rows, shards hold ${c.onDisk}"))
      if (ctx.tracer.enabled) {
        val (v, n) = curation.candidatePairs(c.exact)
        verifiedPairs += v
        candidatePairs += n
      }
      c.release()
    }
    windowLog += Json.obj("window" -> i, "source" -> source, "size" -> size,
      "ok" -> ok, "ms" -> ctx.samples.get((size, source)).filter(_ => ok).map(_.last),
      "rows" -> inputs.long(w, "rows"), "refresh" -> resolved,
      "cutovers" -> Json.obj(taken: _*), "exported_rows" -> curated.map(_.exported))
  }

  private def runCycle(): Unit = (0 until CycleLength).foreach(_ => applyWindow())

  def runTimed(deadline: Long): Unit =
    while (System.nanoTime() < deadline &&
        nextWindow + CycleLength <= inputs.windows.size) runCycle()

  def runTraced(): Unit = {
    val before = Fs.files(root).map(_.toString).toSet
    runCycle()
    bytesWritten = Fs.files(root).filterNot(f => before.contains(f.toString))
      .map(f => Files.size(f)).sum.toDouble
    filesLive = Seq(orders, docs, emb, corpus, ivf.table)
      .map(_.deltaSnapshotFiles().size).sum.toDouble
  }

  def checks(): Unit = {
    val live = orders.read()
    ctx.check("view equals rebuild") {
      val maintained = view.read().select("o_orderpriority", "cnt", "sum_cents",
        "min_cents", "max_cents").collect()
      val rebuilt = live.groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"),
        sum("price_cents").as("sum_cents"), min("price_cents").as("min_cents"),
        max("price_cents").as("max_cents")).collect()
      if (Rows.same(maintained, rebuilt)) None
      else Some(s"view ${Rows.digest(maintained)} != rebuild ${Rows.digest(rebuilt)}")
    }
    val liveDocs = docs.read()
    val phrase = inputs.str(inputs.probes.head, "phrase")
    ctx.check("inverted index equals rebuild") {
      val served = InvertedIndex.bm25TopKIndexed(spark,
        root.resolve("docs_index").toString, phrase, k = 10)
      val rebuilt = InvertedIndex.bm25TopK(liveDocs, "text", "doc_id", phrase, k = 10)
        .select(served.columns.map(col): _*).collect()
      val s = served.collect()
      if (s.nonEmpty && Rows.same(s, rebuilt)) None
      else Some(s"served ${Rows.digest(s)} (${s.length} rows) != rebuilt ${Rows.digest(rebuilt)}")
    }
    val liveEmb = emb.read()
    ctx.check("ivf-pq index equals rebuild") {
      // the inverted lists a full rebuild would write: every live vector
      // encoded under the index's frozen centroids and codebooks
      val rebuilt = VectorFunctions.ivfPqEncode(liveEmb, ivf.centroids, ivf.codebooks,
        M, Ksub, Dim)
      val maintained = ivf.read().select(rebuilt.columns.map(col): _*)
      val fingerprint = (df: DataFrame) =>
        df.agg(count(lit(1)),
          sum(pmod(xxhash64(df.columns.map(col): _*), lit(Int.MaxValue.toLong)))).head()
      val (a, b) = (fingerprint(maintained), fingerprint(rebuilt))
      if (a == b) None else Some(s"lists (rows, hash sum) $a != rebuild $b")
    }
    val o = live.agg(count(lit(1)), sum("price_cents"), sum("o_orderkey")).head()
    val d = liveDocs.agg(count(lit(1)), sum("doc_id")).head()
    val v = liveEmb.agg(count(lit(1)), sum("vec_id")).head()
    val c = if (corpus.exists) corpus.read().count() else 0L
    liveRows = o.getLong(0) + d.getLong(0) + v.getLong(0) + c
    state = Json.obj(
      "orders" -> Seq(o.getLong(0), o.getLong(1), o.getLong(2)),
      "docs" -> Seq(d.getLong(0), d.getLong(1)),
      "emb" -> Seq(v.getLong(0), v.getLong(1)),
      "corpus" -> c)
  }

  def classes: Map[String, String] = Map(
    "small" -> "freshness of small windows (docs, emb, corpus)",
    "large" -> "freshness of large windows (orders, docs, emb)")
  def items: Double = changedRows.toDouble
  def storedBytesPerRow: Double = Fs.bytes(root).toDouble / liveRows

  def counters: Map[String, Double] = Map(
    "io.bytes_written" -> bytesWritten,
    "io.files_live" -> filesLive,
    "io.view.incremental_ratio" ->
      refreshes.count(_ == "incremental").toDouble /
        math.max(1, refreshes.count(r => r == "incremental" || r == "full")),
    "dedup.candidate_precision" -> verifiedPairs.toDouble / math.max(1L, candidatePairs))

  def detail: Json.Obj = Json.obj(
    "windows_applied" -> nextWindow,
    "windows_available" -> inputs.windows.size,
    "windows" -> windowLog.toSeq,
    // every side of each cutover the run's windows took, as observed
    "cutovers" -> Json.obj(cutovers.map { case (name, _, gate) =>
      name -> Json.obj("gate" -> gate, "sides" -> sides.get(name).map(_.toSeq).getOrElse(Nil))
    }: _*),
    "state" -> state,
    "curation_oracle" -> graft.SparkEntry.oracleSql.get("e4_curated_pipeline"))
}
