package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.io.ManagedParquetTable
import graft.similarity.{IncrementalIvfPqIndex, VectorFunctions}
import graft.text.InvertedIndex

/** Both sides of the index-probe cutover ([[graft.io.Cutovers.ProbeLocalBytes]]):
  * a BM25 probe of a persisted inverted index and an IVF-PQ probe of a
  * persisted index, each run with the gate at the bytes of the files the
  * probe keeps (scored on the driver) and one byte under (the distributed
  * plan), return the same schema and the same rows, and both equal the
  * per-run derivation over the live rows. A local probe of LocalRelation
  * queries runs no Spark job. */
class ProbeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String = Files.createTempDirectory(s"graft_$tag").toString

  private def isLocal(df: DataFrame): Boolean = df.queryExecution.logical.isInstanceOf[LocalRelation]

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id", $"text")

  /** Run one BM25 probe on both sides and against [[InvertedIndex.bm25TopK]]
    * over `live`; returns the rows. */
  private def bm25BothSides(dir: String, q: String, k: Int,
      live: DataFrame): Seq[Row] = {
    val post = s"$dir/postings"
    val (kept, _) = InvertedIndex.probeFilePlan(spark, post,
      InvertedIndex.queryTokens(q).distinct)
    val bytes = kept.map(f => Files.size(Paths.get(post, f))).sum
    assert(bytes > 0, s"probe '$q' keeps no postings file")
    val local = InvertedIndex.bm25TopKIndexedAt(spark, dir, q, k, bytes)
    val dist = InvertedIndex.bm25TopKIndexedAt(spark, dir, q, k, bytes - 1)
    assert(isLocal(local) && !isLocal(dist))
    // the distributed side keeps its audited shape: one global window,
    // ranking the frame its top-k limit already cut to k rows
    val windows = dist.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(windows.size == 1 && windows.head.child.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      dist.queryExecution.sparkPlan.treeString)
    assert(local.schema === dist.schema)
    val rows = local.collect().toSeq
    assert(rows === dist.orderBy("rank").collect().toSeq)
    assert(rows.map(_.getLong(0)) === (1L to rows.size.toLong))
    val rebuilt = InvertedIndex.bm25TopK(live, "text", "doc_id", q, k)
      .orderBy("rank").collect().toSeq
    assert(rows === rebuilt)
    rows
  }

  test("bm25 probe: both sides equal over a fresh index, with repeated query " +
      "tokens, k above the matches and a query matching no term") {
    val dir = tmp("probe_fresh")
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir)
    assert(bm25BothSides(dir, "hash join table", 20, docs).size == 20)
    assert(bm25BothSides(dir, "hash hash join", 20, docs) ===
      bm25BothSides(dir, "hash join", 20, docs))
    val all = bm25BothSides(dir, "hash", 100000, docs)
    assert(all.nonEmpty && all.size < 500)
    // an unseen token that a kept file's token range still covers
    val unseen = Seq("hashq", "joinq", "mmmq", "tableq").find { t =>
      InvertedIndex.probeFilePlan(spark, s"$dir/postings", Seq(t))._1.nonEmpty
    }.getOrElse(fail("every unseen token's files were skipped"))
    assert(bm25BothSides(dir, unseen, 10, docs).isEmpty)
  }

  test("bm25 probe: both sides equal after appends and tombstones, over a " +
      "torn generation's files, at a non-default bucket count") {
    val dir = tmp("probe_maint")
    InvertedIndex.buildIndex(docs.where($"doc_id" % 3 =!= 2), "text", "doc_id", dir,
      nBuckets = 8)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 6 === 2), "text", "doc_id", dir)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 7), "doc_id", dir)
    val live = docs.where($"doc_id" % 3 =!= 2 || $"doc_id" % 6 === 2)
      .where($"doc_id" % 10 =!= 7)
    val q = "hash join table"
    val before = bm25BothSides(dir, q, 20, live)
    // a torn generation: the next append's files stay, its commit row goes
    val corpus = Paths.get(dir, "corpus")
    def corpusFiles() = graft.io.GraftFs.list(corpus)
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    val committed = corpusFiles()
    InvertedIndex.appendDocs(docs.where($"doc_id" % 6 === 5), "text", "doc_id", dir)
    (corpusFiles() -- committed).foreach(graft.io.GraftFs.delete)
    assert(bm25BothSides(dir, q, 20, live) === before)
  }

  test("bm25 probe: both sides equal over decimal and string doc ids and " +
      "score ties") {
    // every text appears twice under two ids: equal scores, ranked by id
    val twin = docs.where($"doc_id" < 100)
      .union(docs.where($"doc_id" < 100).select(($"doc_id" + 1000).as("doc_id"), $"text"))
    Seq(twin.select($"doc_id".cast("decimal(12,2)").as("doc_id"), $"text"),
        twin.select(concat(lit("d"), $"doc_id").as("doc_id"), $"text")).foreach { d =>
      val dir = tmp("probe_types")
      InvertedIndex.buildIndex(d, "text", "doc_id", dir, nBuckets = 16)
      val rows = bm25BothSides(dir, "hash join table", 30, d)
      assert(rows.map(_.getLong(2)).sliding(2).exists(p => p.head == p.last),
        "no score tie in the probe")
    }
  }

  private val Dim = 64
  private val M = 4
  private val Ksub = 16
  private lazy val e = Tables.embeddings(spark, sf)

  /** An IVF-PQ index over `e` plus twins of its first 50 vectors (equal
    * sims), with a DV'd delete folded in by refresh. */
  private lazy val ivf: (ManagedParquetTable, IncrementalIvfPqIndex) = {
    val root = tmp("probe_ivf")
    val src = new ManagedParquetTable(spark, s"$root/t")
    val idx = new IncrementalIvfPqIndex(spark, s"$root/t", s"$root/idx",
      m = M, ksub = Ksub, dim = Dim)
    idx.train(e.filter($"vec_id" < 16), VectorFunctions.pqTrain(e, m = M, ksub = Ksub,
      iters = 0, dim = Dim))
    src.append(e.select($"vec_id", $"embedding")
      .union(e.filter($"vec_id" < 50).select(($"vec_id" + 10000).as("vec_id"), $"embedding")))
    idx.refresh()
    src.deleteWhereDV($"vec_id" % 11 === 0)
    idx.refresh()
    (src, idx)
  }

  /** Run one IVF-PQ probe on both sides and against
    * [[VectorFunctions.ivfPqTopK]] over the live rows; returns the rows. */
  private def ivfBothSides(qs: DataFrame, k: Int, nprobe: Int): Seq[Row] = {
    val (src, idx) = ivf
    val probes = VectorFunctions.ivfPqProbesLocal(qs, idx.centroids, idx.codebooks,
      M, Ksub, Dim, nprobe, "vec_id", "embedding")
    val reference = VectorFunctions.ivfPqProbes(qs, idx.centroids, idx.codebooks,
      M, Ksub, Dim, nprobe)
    assert(probes.frame.schema === reference.schema)
    def sorted(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(sorted(probes.frame) === sorted(reference))
    val (kept, _) = idx.table.pruneFiles(col("centroid_id").isin(probes.centroidIds: _*))
    val bytes = kept.map(f => Files.size(Paths.get(idx.table.path, f))).sum
    assert(bytes > 0)
    val local = idx.topKAt(qs, k, nprobe, 64, bytes)
    val dist = idx.topKAt(qs, k, nprobe, 64, bytes - 1)
    assert(isLocal(local) && !isLocal(dist))
    assert(local.schema === dist.schema)
    def rows(df: DataFrame) = df.select("query_id", "rank", "neighbor_id", "sim")
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(1)))
    val got = rows(local)
    assert(got === rows(dist))
    assert(got === rows(VectorFunctions.ivfPqTopK(src.read(), qs, idx.centroids,
      idx.codebooks, M, Ksub, Dim, k, nprobe)))
    got
  }

  test("ivf-pq probe: both sides equal over DV'd lists, sim ties, queries " +
      "present in the lists, nprobe at and above nlist, k above the candidates") {
    val (src, idx) = ivf
    val segs = idx.table.deltaSnapshotFiles().map(_.split("/")(0)).distinct
    assert(idx.table.liveDvEntries(segs).nonEmpty, "the lists carry no live deletion vector")
    val live = src.read()
    // ids 1..11 are in the lists (a query never returns itself); 10001..
    // are twins of 1.. with the same codes
    val qs = live.filter($"vec_id" < 12 || ($"vec_id" > 10000 && $"vec_id" < 10004))
    val got = ivfBothSides(qs, 10, 2)
    assert(got.nonEmpty && got.forall(r => r.get(0) != r.get(2)))
    assert(got.sliding(2).exists(p => p.head.getLong(0) == p.last.getLong(0) &&
      p.head.getDouble(3) == p.last.getDouble(3)), "no sim tie in the probe")
    assert(ivfBothSides(qs, 10, 16) === ivfBothSides(qs, 10, 40))
    val wide = ivfBothSides(live.filter($"vec_id" < 3), 100000, 1)
    assert(wide.nonEmpty && wide.size < 1000)
  }

  test("a local probe of LocalRelation queries runs no Spark job") {
    val dir = tmp("probe_jobs")
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir)
    val (_, idx) = ivf
    val vecs = e.filter($"vec_id" < 4).select($"vec_id", $"embedding").collect()
    val qs = spark.createDataFrame(java.util.Arrays.asList(vecs: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
    assert(isLocal(qs))
    var text, vec: Array[Row] = null
    assert(jobsDuring {
      text = InvertedIndex.bm25TopKIndexed(spark, dir, "hash join table", k = 10).collect()
      vec = idx.topK(qs, k = 10, nprobe = 2).collect()
    } == 0)
    assert(text.nonEmpty && vec.nonEmpty)
  }
}
