package graft

import org.apache.spark.sql.functions.{lit, pmod, xxhash64}

import graft.io.ManagedParquetTable
import graft.text.{IncrementalInvertedIndex, InvertedIndex}

/** Basis-tracked retrieval-index maintenance: the per-micro-batch
  * `refresh()` a streaming ingest calls after each table commit.
  * Maintained ≡ rebuild across windows, replayed windows are no-ops,
  * and a crash INSIDE a window's index maintenance heals through the
  * automatic repair + replay path. */
class IncrementalInvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Q = "hash join table"
  private val NB = 8

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select($"doc_id", $"text")

  private def probe(path: String) =
    InvertedIndex.bm25TopKIndexed(spark, path, Q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq

  private def freshRef(src: ManagedParquetTable): Seq[(Long, Long, Long, Long)] = {
    val ref = java.nio.file.Files
      .createTempDirectory("graft_incidx_ref").toString
    InvertedIndex.buildIndex(src.read().select($"doc_id", $"text"),
      "text", "doc_id", ref, nBuckets = NB)
    probe(ref)
  }

  test("refresh() tracks the table across append/dv-delete/rewriting-" +
      "delete windows; maintained probe == fresh rebuild; replayed " +
      "windows (basis rollback) are exact no-ops") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_incidx").toString
    val src = new ManagedParquetTable(spark, s"$root/t")
    val idx = new IncrementalInvertedIndex(spark, s"$root/t",
      s"$root/idx", nBuckets = NB)
    src.append(docs.where($"doc_id" % 3 =!= 2))
    idx.refresh()
    assert(idx.lastRefresh == "full")
    assert(probe(s"$root/idx") === freshRef(src))
    // window 2: append the rest — the streaming norm
    src.append(docs.where($"doc_id" % 3 === 2))
    idx.refresh()
    assert(idx.lastRefresh == "incremental")
    idx.refresh()
    assert(idx.lastRefresh == "noop")
    assert(probe(s"$root/idx") === freshRef(src))
    // window 3: dv delete + rewriting delete (survivors re-presented
    // as delete+insert pairs round-trip through the generation-scoped
    // tombstones)
    val basis = java.nio.file.Paths.get(s"$root/idx/_graft_index_basis")
    val preWindow = java.nio.file.Files.readString(basis)
    src.deleteWhereDV($"doc_id" % 5 === 0)
    src.deleteWhere($"doc_id" % 7 === 1)
    idx.refresh()
    assert(idx.lastRefresh == "incremental")
    val committed = probe(s"$root/idx")
    assert(committed === freshRef(src))
    // crash between applyChanges and publishBasis: the whole window
    // replays — deleteDocs victims are no longer live and appendDocs'
    // replay guard anti-joins the re-presented survivors away
    java.nio.file.Files.writeString(basis, preWindow)
    idx.refresh()
    assert(idx.lastRefresh == "incremental")
    assert(probe(s"$root/idx") === committed,
      "replaying an already-applied window must be an exact no-op")
  }

  test("a RECREATED source table (basis ahead of head) fails loudly " +
      "instead of silently regressing the basis onto dead history") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_incidx_regress").toString
    val src = new ManagedParquetTable(spark, s"$root/t")
    val idx = new IncrementalInvertedIndex(spark, s"$root/t",
      s"$root/idx", nBuckets = NB)
    // two commits so the published basis (head = version-1 = 1) is
    // ABOVE the recreated table's first head (0)
    src.append(docs.where($"doc_id" % 2 === 0).limit(40))
    src.append(docs.where($"doc_id" % 2 === 1).limit(40))
    idx.refresh()
    assert(idx.lastRefresh == "full")
    // delete and recreate the source under the SAME path — and let the
    // NEW lineage catch up to the recorded version (two commits, head
    // 1 == basis 1): the version-only guard is blind to this, only the
    // recorded LINEAGE id catches it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
    val src2 = new ManagedParquetTable(spark, s"$root/t")
    src2.append(docs.limit(10))
    src2.append(docs.limit(20))
    val err = intercept[IllegalStateException] { idx.refresh() }
    assert(err.getMessage.contains("recreated") &&
      err.getMessage.contains("rebuild"),
      s"guard must name the failure and the remedy: ${err.getMessage}")
    // the stale index was left untouched — basis not rewound, no
    // partial fold of the new lineage's rows
    assert(java.nio.file.Files.readString(java.nio.file.Paths
      .get(s"$root/idx/_graft_index_basis"))
      .split("\n").head.trim.toLong == 1L,
      "a failed refresh must not move the basis")
  }

  test("a pre-lineage basis file upgrades on the first refresh — even " +
      "a noop — so the recreation guard arms without a data window") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_incidx_legacy").toString
    val src = new ManagedParquetTable(spark, s"$root/t")
    val idx = new IncrementalInvertedIndex(spark, s"$root/t",
      s"$root/idx", nBuckets = NB)
    src.append(docs.limit(30))
    idx.refresh()
    val basis = java.nio.file.Paths.get(s"$root/idx/_graft_index_basis")
    // forge the legacy format: version line only
    val v = java.nio.file.Files.readString(basis).split("\n").head
    java.nio.file.Files.writeString(basis, v)
    idx.refresh() // noop window — must STILL record the lineage
    assert(idx.lastRefresh == "noop")
    assert(java.nio.file.Files.readString(basis).split("\n").length == 2,
      "an idle-but-current legacy index must record its lineage")
    // with the lineage armed, recreation at the same version is caught
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
    val src2 = new ManagedParquetTable(spark, s"$root/t")
    src2.append(docs.limit(10))
    intercept[IllegalStateException] { idx.refresh() }
  }

  test("a crash INSIDE a window's maintenance (torn generation, writer " +
      "gate down) heals on the next refresh: auto-repair, then replay") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_incidx_crash").toString
    val src = new ManagedParquetTable(spark, s"$root/t")
    val idx = new IncrementalInvertedIndex(spark, s"$root/t",
      s"$root/idx", nBuckets = NB)
    src.append(docs.where($"doc_id" % 2 === 0))
    idx.refresh()
    val basis = java.nio.file.Paths.get(s"$root/idx/_graft_index_basis")
    val preWindow = java.nio.file.Files.readString(basis)
    val gen = InvertedIndex.generation(spark, s"$root/idx")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def corpusFiles() = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/idx/corpus")).toSeq
      .map(_.getPath).filter(p => !p.getName.startsWith("_"))
    val beforeCommit = corpusFiles().map(_.getName).toSet
    // run the window, then forge the crash: un-commit the append
    // (delete its corpus record — postings/doclen files of the torn
    // generation remain), restore the in-flight marker, rewind basis
    src.append(docs.where($"doc_id" % 2 === 1))
    idx.refresh()
    val commitRecord = corpusFiles().filterNot(p => beforeCommit(p.getName))
    assert(commitRecord.size == 1)
    fs.delete(commitRecord.head, false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/idx/_graft_inflight"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/idx/_graft_inflight/gen-$gen"), true).close()
    java.nio.file.Files.writeString(basis, preWindow)
    assert(InvertedIndex.needsRepair(spark, s"$root/idx"))
    // a torn index still refreshes: repair drops the torn files, the
    // window replays in full, and the result is indistinguishable from
    // a history where the crash never happened
    idx.refresh()
    assert(idx.lastRefresh == "incremental")
    assert(!InvertedIndex.needsRepair(spark, s"$root/idx"))
    assert(probe(s"$root/idx") === freshRef(src))
  }

  test("torn batch that OPENED new partition dirs: repair drops the " +
      "emptied dirs, so the replayed window's membership read survives") {
    // tiny initial build (one doc) → the crashed append is the FIRST
    // writer of most dbucket=/bucket= dirs; repair deletes its files,
    // and a left-behind zero-file dir would crash the replay's
    // liveDocLens read with a schema-inference error
    val root = java.nio.file.Files
      .createTempDirectory("graft_incidx_dirs").toString
    val src = new ManagedParquetTable(spark, s"$root/t")
    val idx = new IncrementalInvertedIndex(spark, s"$root/t",
      s"$root/idx", nBuckets = NB)
    // initial corpus and crashed batch must be DBUCKET-DISJOINT: the
    // replay's membership probe then reads only the dirs the dead call
    // created — the worst case the repair must leave readable
    val dbuckets = docs.select($"doc_id",
        pmod(xxhash64($"doc_id"), lit(NB.toLong)).as("__b"))
      .as[(Long, Long)].collect().toMap
    val b0 = dbuckets(dbuckets.keys.min)
    val initIds = dbuckets.collect { case (id, b) if b == b0 => id }.toSeq
    src.append(docs.where($"doc_id".isin(initIds: _*)))
    idx.refresh()
    val basis = java.nio.file.Paths.get(s"$root/idx/_graft_index_basis")
    val preWindow = java.nio.file.Files.readString(basis)
    val gen = InvertedIndex.generation(spark, s"$root/idx")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def corpusFiles() = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/idx/corpus")).toSeq
      .map(_.getPath).filter(p => !p.getName.startsWith("_"))
    val beforeCommit = corpusFiles().map(_.getName).toSet
    src.append(docs.where(!$"doc_id".isin(initIds: _*)))
    idx.refresh()
    val commitRecord = corpusFiles().filterNot(p => beforeCommit(p.getName))
    assert(commitRecord.size == 1)
    fs.delete(commitRecord.head, false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/idx/_graft_inflight"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/idx/_graft_inflight/gen-$gen"), true).close()
    java.nio.file.Files.writeString(basis, preWindow)
    // the forged crash left dbucket dirs whose ONLY file is torn
    val dlDirs = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/idx/doclen")).toSeq
      .filter(_.isDirectory)
    assert(dlDirs.size > 1, "fixture must have spread across dbuckets")
    idx.refresh() // auto-repair + replay — must not throw
    assert(idx.lastRefresh == "incremental")
    // emptied partition dirs are gone, survivors all carry files
    val after = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/idx/doclen")).toSeq
      .filter(_.isDirectory)
    after.foreach(d => assert(fs.listStatus(d.getPath).nonEmpty,
      s"empty partition dir survived repair: ${d.getPath}"))
    assert(probe(s"$root/idx") === freshRef(src))
  }
}
