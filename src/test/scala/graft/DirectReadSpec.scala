package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.DirectParquetIo

import graft.io.{Cutovers, FileStats, ManagedParquetTable}
import graft.similarity.IncrementalIvfPqIndex
import graft.similarity.VectorFunctions.pqTrain
import graft.text.InvertedIndex

/** Both sides of the driver-local read cutover
  * ([[DirectParquetIo.read]]) return the same rows for every sidecar the
  * engine reads through it — deletion vectors, index tombstones, file
  * statistics and the frozen IVF-PQ artifacts — and the local side runs
  * no Spark job. File statistics round-trip through the driver-direct
  * write, and no file under `src/main/scala/graft` keeps a hand-rolled
  * parquet reader or writer. */
class DirectReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): Path = Files.createTempDirectory(s"graft_$tag")

  private def parquetBytes(dirs: Seq[Path]): Long = dirs.flatMap { d =>
    Files.list(d).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
  }.map(Files.size(_)).sum

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Read `dirs` once with the gate at their bytes (driver-local) and
    * once with it one byte under (None: the caller's distributed scan);
    * both sides give the same schema and rows. Returns the local frame. */
  private def bothSides(dirs: Seq[Path]): DataFrame = {
    val bytes = parquetBytes(dirs)
    assert(bytes > 0, s"no parquet file under $dirs")
    assert(DirectParquetIo.read(spark, dirs, bytes - 1).isEmpty)
    val local = DirectParquetIo.read(spark, dirs, bytes)
      .getOrElse(fail(s"$dirs did not read driver-local at its own size"))
    val dist = spark.read.parquet(dirs.map(_.toString): _*)
    assert(local.schema === dist.schema)
    assert(sorted(local) === sorted(dist))
    local
  }

  private def subdirs(d: Path): Seq[Path] =
    Files.list(d).iterator().asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.toString)

  test("deletion vectors: both sides return the same (file, row) pairs; " +
      "the table read applies them") {
    val dir = tmp("dr_dv").resolve("tbl")
    val t = new ManagedParquetTable(spark, dir.toString)
    t.append((0 until 300).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(2))
    t.deleteWhereDV(col("id") % 7 === 0)
    t.deleteWhereDV(col("id") > 280)
    val dvs = subdirs(dir.resolve("_graft_dv"))
    assert(dvs.size == 2)
    val pairs = bothSides(dvs)
    assert(pairs.columns.toSeq === Seq("__graft_f", "__graft_r"))
    // 43 multiples of 7, then the 17 ids over 280 that are not
    assert(pairs.count() == 60)
    assert(t.read().count() == 240)
  }

  test("index tombstones: both sides return the same rows; the probe " +
      "reads them once and drops the deleted docs") {
    val dir = tmp("dr_tomb").toString
    val docs = (0 until 40).map(i => (i.toLong, s"w${i % 5} common w${i % 3}"))
      .toDF("doc_id", "text")
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir, nBuckets = 4)
    InvertedIndex.deleteDocs(Seq(3L, 8L).toDF("doc_id"), "doc_id", dir, nBuckets = 4)
    InvertedIndex.deleteDocs(Seq(11L).toDF("doc_id"), "doc_id", dir, nBuckets = 4)
    val ts = bothSides(Seq(Paths.get(dir, "tombstones")))
    assert(ts.select("doc_id").as[Long].collect().sorted.toSeq === Seq(3L, 8L, 11L))
    val got = InvertedIndex.bm25TopKIndexed(spark, dir, "common", k = 100, nBuckets = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(got === (0L until 40L).toSet -- Set(3L, 8L, 11L))
  }

  test("file statistics: both sides return the same rows for table and " +
      "postings sidecars") {
    val dir = tmp("dr_stats").resolve("tbl")
    val t = new ManagedParquetTable(spark, dir.toString)
    t.append((0 until 100).map(i => (i.toLong, s"a$i", i * 0.5)).toDF("id", "v", "d"))
    t.append((100 until 200).map(i => (i.toLong, s"b$i", i * 0.5)).toDF("id", "v", "d"))
    val stats = bothSides(subdirs(dir.resolve("_graft_stats")))
    assert(stats.schema.fieldNames.toSeq === FileStats.schema.fieldNames.toSeq)
    assert(stats.collect().map(FileStats.fromRow).exists(s => s.col == "v" && s.minS.isDefined))
    val (kept, total) = t.pruneFiles(col("id") === 150L)
    assert(total == 2 && kept.size == 1)

    val idx = tmp("dr_pstats").toString
    val mk = (ids: Range, p: String) =>
      ids.map(i => (i.toLong, s"${p}_a ${p}_b$i")).toDF("doc_id", "text")
    InvertedIndex.buildIndex(mk(0 until 30, "alpha"), "text", "doc_id", idx, nBuckets = 2)
    InvertedIndex.appendDocs(mk(100 until 130, "zulu"), "text", "doc_id", idx, nBuckets = 2)
    bothSides(Seq(Paths.get(idx, "postings_stats")))
  }

  test("frozen IVF-PQ artifacts: both sides return the same list-column rows") {
    val root = tmp("dr_ivf").toString
    val e = Tables.embeddings(spark, sf)
    val idx = new IncrementalIvfPqIndex(spark, s"$root/t", s"$root/idx",
      m = 4, ksub = 16, dim = 64)
    idx.train(e.filter($"vec_id" < 16), pqTrain(e, m = 4, ksub = 16, iters = 0, dim = 64))
    val cents = bothSides(Seq(Paths.get(root, "idx", "centroids")))
    val cbs = bothSides(Seq(Paths.get(root, "idx", "codebooks")))
    assert(cents.count() == 16 && cbs.count() == 4 * 16)
    assert(cents.schema.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(sorted(idx.centroids) === sorted(cents))
  }

  test("decimal, date and timestamp doc ids: tombstones read driver-local " +
      "and the probe equals a scan over the live documents") {
    for (t <- Seq("decimal(12,2)", "date", "timestamp")) {
      val dir = tmp("dr_typed").toString
      val docs = (0 until 24).map(i => (i.toLong, s"w${i % 4} shared w${i % 5}"))
        .toDF("doc_id", "text")
        .withColumn("doc_id", (if (t == "decimal(12,2)") col("doc_id")
          else if (t == "date") org.apache.spark.sql.functions.date_add(
            org.apache.spark.sql.functions.lit("2020-01-01").cast("date"), col("doc_id").cast("int"))
          else col("doc_id").cast("timestamp")).cast(t))
      InvertedIndex.buildIndex(docs, "text", "doc_id", dir, nBuckets = 4)
      val victims = docs.where(col("text").startsWith("w1 "))
      InvertedIndex.deleteDocs(victims.select("doc_id"), "doc_id", dir, nBuckets = 4)
      val tombDir = Paths.get(dir, "tombstones")
      assert(DirectParquetIo.read(spark, Seq(tombDir), Cutovers.SidecarLocalBytes).isDefined, t)
      bothSides(Seq(tombDir))
      val live = docs.join(victims.select("doc_id"), Seq("doc_id"), "left_anti")
      val probed = InvertedIndex.bm25TopKIndexed(spark, dir, "shared w2", k = 50, nBuckets = 4)
      val scanned = InvertedIndex.bm25TopK(live, "text", "doc_id", "shared w2", k = 50)
      assert(sorted(probed) === sorted(scanned), t)
      assert(probed.schema("doc_id").dataType.simpleString == t)
      // the stored dtype resolves from the footer: a batch with no
      // lossless widening into it is refused by name
      val err = intercept[IllegalArgumentException] {
        InvertedIndex.appendDocs(Seq(("x", "y")).toDF("doc_id", "text"), "text", "doc_id", dir,
          nBuckets = 4)
      }
      assert(err.getMessage.contains(s"stores doc_id as ${docs.schema("doc_id").dataType}"), t)
    }
  }

  test("a driver-local read runs no Spark job, collect included") {
    val dir = tmp("dr_jobs").resolve("tbl")
    val t = new ManagedParquetTable(spark, dir.toString)
    t.append((0 until 200).map(i => (i.toLong, i % 3)).toDF("id", "g"))
    t.deleteWhereDV(col("g") === 1)
    val dirs = subdirs(dir.resolve("_graft_dv")) ++ subdirs(dir.resolve("_graft_stats"))
    var rows = 0
    val jobs = jobsDuring {
      rows = dirs.map(d => DirectParquetIo.read(spark, Seq(d), Cutovers.DvLocalBytes)
        .get.collect().length).sum
    }
    assert(jobs == 0, s"$jobs Spark jobs for a driver-local read")
    assert(rows > 67)
  }

  test("FileStats rows round-trip through the driver-direct sidecar " +
      "write, all-None bounds included; append adds a file, overwrite " +
      "replaces the dir") {
    val full = FileStats.ColStats("seg/a.parquet", 10L, "id", "long",
      Some(-3L), Some(7L), Some(-1.5), Some(2.25), Some("a"), Some("zz"), Some(2L))
    val empty = FileStats.ColStats("seg/b.parquet", 0L, "v", "null",
      None, None, None, None, None, None, None)
    val dir = tmp("dr_fs").resolve("stats")
    val jobs = jobsDuring(FileStats.writeSidecar(spark, Seq(full, empty), dir.toString, "overwrite"))
    assert(jobs == 0)
    def files = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq
    assert(files.size == 1 && files.head.matches("""part-00000-\d+\..*parquet"""))
    val back = bothSides(Seq(dir)).collect().map(FileStats.fromRow).toSeq
    assert(back.sortBy(_.file) === Seq(full, empty))
    assert(spark.read.schema(FileStats.schema).parquet(dir.toString)
      .collect().map(FileStats.fromRow).toSeq.sortBy(_.file) === Seq(full, empty))

    FileStats.writeSidecar(spark, Seq(full.copy(file = "seg/c.parquet")), dir.toString, "append")
    FileStats.writeSidecar(spark, Nil, dir.toString, "append")
    assert(files.size == 2)
    FileStats.writeSidecar(spark, Seq(empty), dir.toString, "overwrite")
    assert(files.size == 1)
    assert(bothSides(Seq(dir)).collect().map(FileStats.fromRow).toSeq === Seq(empty))
  }

  test("a failed stats sidecar write rethrows and leaves no part file") {
    val root = tmp("dr_fsfail")
    // the sidecar root is a regular file, so the write cannot place its dir
    Files.writeString(root.resolve("_graft_stats"), "not a dir")
    val stats = Seq(FileStats.ColStats("s/f", 1L, "id", "long",
      Some(1L), Some(1L), None, None, None, None, Some(0L)))
    intercept[java.io.IOException] {
      FileStats.writeSidecar(spark, stats, root.resolve("_graft_stats/seg-1").toString, "overwrite")
    }
    val left = Files.walk(root).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!left.exists(n => n.startsWith("part-") || n.contains(".inprogress")), left)
  }

  test("no file under src/main/scala/graft carries its own parquet " +
      "example-API reader or writer (the replay tool excepted)") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val banned = Seq("org.apache.parquet.example", "ExampleParquetWriter", "GroupReadSupport")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("tools", "DeltaLogReplay.scala")))
      .flatMap { p =>
        val src = Files.readString(p)
        banned.filter(src.contains).map(b => s"$p: $b")
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
