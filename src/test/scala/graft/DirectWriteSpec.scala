package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, element_at, lit, typedLit, when}
import org.apache.spark.sql.graft.DirectParquetIo
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{Cutovers, FileStats}
import graft.text.InvertedIndex

/** Both sides of the driver-direct write cutover
  * ([[DirectParquetIo.write]]) leave the same data: the same frame
  * written once with its observed row count at the gate (driver-direct)
  * and once over it (distributed) gives the same partition dirs, the
  * same rows in each, and the same footer min/max — for each write
  * shape the engine uses. A successful write leaves no in-flight name
  * and no orphaned checksum twin; a failed direct write removes what it
  * placed and rethrows. */
class DirectWriteSpec extends SparkSpec {
  import spark.implicits._

  private val DirectName = """part-00000-\d+\..*""".r

  private def tmp(tag: String): Path = Files.createTempDirectory(s"graft_$tag")

  /** Parquet data files under `root`, relative to it, sorted. */
  private def dataFiles(root: Path): Seq[String] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString)
      .filter(r => Paths.get(r).getFileName.toString.startsWith("part-"))
      .toSeq.sorted

  private def dirOf(rel: String): String =
    Option(Paths.get(rel).getParent).map(_.toString).getOrElse("")

  /** A successful write leaves no in-flight name under `root`, and
    * every Hadoop checksum twin (`.<name>.crc`) sits beside its file. */
  private def assertClean(root: Path): Unit = {
    val w = Files.walk(root)
    val all = try w.iterator().asScala.toList finally w.close()
    assert(!all.exists(_.getFileName.toString.contains(".inprogress")), all)
    val orphans = all.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc") &&
        !Files.exists(p.resolveSibling(n.drop(1).dropRight(4)))
    }
    assert(orphans.isEmpty, s"orphaned checksum twins: $orphans")
  }

  /** Which side wrote the files under `root`: every file named by the
    * direct writer, or none. */
  private def side(root: Path): String = {
    assertClean(root)
    val names = dataFiles(root).map(r => Paths.get(r).getFileName.toString)
    assert(names.nonEmpty, s"no data files under $root")
    if (names.forall(DirectName.matches)) "direct"
    else if (names.forall(!DirectName.matches(_))) "distributed"
    else "mixed"
  }

  /** Spark's (and parquet's) string order: UTF-8 bytes, unsigned. */
  private val utf8: Ordering[String] = (a, b) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Per dir under `root`: its rows (as a sorted multiset) and, per
    * column, the footer min/max/null count folded across its files. */
  private def content(root: Path): Map[String, (Seq[String], Map[String, Any])] =
    dataFiles(root).groupBy(dirOf).map { case (d, files) =>
      val rows = spark.read.parquet(root.resolve(d).toString).collect()
        .map(_.toString).toSeq.sorted
      val stats = files.flatMap(f =>
          FileStats.footerStats(spark, root.resolve(f).toString, f))
        .groupBy(_.col).map { case (c, ss) =>
          c -> (ss.flatMap(_.minL).minOption, ss.flatMap(_.maxL).maxOption,
            ss.flatMap(_.minS).minOption(utf8), ss.flatMap(_.maxS).maxOption(utf8),
            ss.flatMap(_.nulls).sum)
        }
      d -> (rows, stats)
    }

  /** A frame that is NOT a LocalRelation (so the observed count alone
    * picks the side), with strings across the UTF-8/UTF-16 order split,
    * null sort keys and a null partition value. */
  private def frame(n: Int): DataFrame = {
    val words = typedLit(Seq("a", "Ａ", "😀", "bＡ",
      "😀x", "z"))
    spark.range(0, n).select(
      when(col("id") % 13 === 0, lit(null))
        .otherwise(element_at(words, (col("id") % 6 + 1).cast("int")))
        .as("token"),
      (col("id") % 97).as("doc_id"),
      (col("id") % 7).as("pos"),
      when(col("id") % 29 === 0, lit(null)).otherwise(col("id") % 5)
        .as("bucket"))
  }

  /** Write `df` with the same arguments once at the gate and once over
    * it; return the two roots after checking each side was taken. */
  private def bothSides(tag: String, prepare: Path => Unit)(
      write: (String, Long) => Unit): (Path, Path) = {
    val direct = tmp(s"${tag}_direct")
    val dist = tmp(s"${tag}_dist")
    prepare(direct); prepare(dist)
    val before = (dataFiles(direct), dataFiles(dist))
    write(direct.toString, Cutovers.SmallWriteRows)
    write(dist.toString, Cutovers.SmallWriteRows + 1)
    def added(root: Path, old: Seq[String]): Seq[String] =
      dataFiles(root).filterNot(old.contains).map(r => Paths.get(r).getFileName.toString)
    assert(added(direct, before._1).forall(DirectName.matches))
    assert(added(dist, before._2).forall(!DirectName.matches(_)))
    assertClean(direct); assertClean(dist)
    (direct, dist)
  }

  test("partitioned + sorted append: same dirs, rows and footer " +
      "min/max on both sides; direct files ordered as Spark sorts") {
    val df = frame(3000)
    val (direct, dist) = bothSides("psa", _ => ()) { (dest, rows) =>
      DirectParquetIo.write(df, dest, rows, "append",
        partitionBy = Seq("bucket"), sortBy = Seq("token", "doc_id", "pos"))
    }
    val a = content(direct)
    assert(a.keySet === content(dist).keySet)
    assert(a.keySet.contains("bucket=__HIVE_DEFAULT_PARTITION__"))
    assert(a === content(dist))
    // every direct file's row order is Spark's own sort of its rows
    dataFiles(direct).foreach { f =>
      val rows = spark.read.parquet(direct.resolve(f).toString)
      assert(rows.collect().toSeq ===
        rows.sortWithinPartitions("token", "doc_id", "pos").collect().toSeq, f)
    }
  }

  test("unpartitioned overwrite: the old content is replaced; same rows " +
      "and footer min/max on both sides") {
    val df = frame(2000).drop("bucket")
    val old = Seq(("old", 1L, 1L)).toDF("token", "doc_id", "pos")
    val (direct, dist) = bothSides("uo",
        d => old.write.mode("overwrite").parquet(d.toString)) { (dest, rows) =>
      DirectParquetIo.write(df, dest, rows, "overwrite")
    }
    assert(content(direct) === content(dist))
    assert(!content(direct)("")._1.exists(_.contains("old")))
    assert(dataFiles(direct).size == 1)
  }

  test("single-file append: one new file beside the old ones; same " +
      "rows and footer min/max on both sides") {
    val df = frame(2500).drop("bucket")
    val old = Seq(("old", 1L, 1L)).toDF("token", "doc_id", "pos")
    val (direct, dist) = bothSides("sfa",
        d => old.coalesce(1).write.mode("overwrite").parquet(d.toString)) {
      (dest, rows) =>
        DirectParquetIo.write(df, dest, rows, "append", singleFile = true)
    }
    assert(content(direct) === content(dist))
    assert(dataFiles(direct).size == 2 && dataFiles(dist).size == 2)
    assert(content(direct)("")._1.count(_.contains("old")) == 1)
  }

  test("writeBuckets: both sides leave equal postings and equal _stats " +
      "sidecars; direct order is Spark's UTF-8 order (U+FF21 < U+1F600)") {
    val postings = frame(4000).na.drop(Seq("token"))
      .select(col("token"), col("doc_id"), col("pos"),
        lit(3L).as("dl"), lit(0L).as("gen"))
    val direct = tmp("wb_direct").resolve("postings").toString
    val dist = tmp("wb_dist").resolve("postings").toString
    InvertedIndex.writeBuckets(postings, direct, nBuckets = 4, mode = "append",
      rowsHint = Cutovers.PostingsWriteRows)
    InvertedIndex.writeBuckets(postings, dist, nBuckets = 4, mode = "append",
      rowsHint = Cutovers.PostingsWriteRows + 1)
    assert(side(Paths.get(direct)) == "direct")
    assert(side(Paths.get(dist)) == "distributed")
    assert(content(Paths.get(direct)) === content(Paths.get(dist)))
    def sidecar(p: String): Seq[Row] =
      spark.read.schema(FileStats.schema).parquet(p + "_stats")
        .withColumn("file", org.apache.spark.sql.functions
          .regexp_extract(col("file"), "^(.*)/[^/]*$", 1))
        .collect().toSeq.sortBy(_.toString)
    assert(sidecar(direct).nonEmpty)
    assert(sidecar(direct) === sidecar(dist))
    assertClean(Paths.get(direct + "_stats"))

    // one bucket, so one file holds every token: its rows must come out
    // in Spark's byte-wise UTF-8 order, where U+FF21 sorts before U+1F600
    // (UTF-16 code units order them the other way round)
    val uni = Seq("😀", "Ａ", "a", "😀a", "Ａb")
      .zipWithIndex.flatMap { case (t, i) =>
        Seq((t, i.toLong, 1L), (t, i.toLong, 0L), (t, 9L - i, 0L)) }
      .toDF("token", "doc_id", "pos")
      .select(col("token"), col("doc_id"), col("pos"), lit(2L).as("dl"),
        lit(0L).as("gen"))
    val one = tmp("wb_one").resolve("postings").toString
    InvertedIndex.writeBuckets(uni, one, nBuckets = 1, mode = "append",
      rowsHint = uni.count())
    val files = dataFiles(Paths.get(one))
    assert(files.size == 1 && side(Paths.get(one)) == "direct")
    val written = spark.read.parquet(s"$one/${files.head}")
      .select("token", "doc_id", "pos").collect().toSeq
    assert(written === uni.sort("token", "doc_id", "pos")
      .select("token", "doc_id", "pos").collect().toSeq)
    assert(written.map(_.getString(0)).indexOf("Ａ") <
      written.map(_.getString(0)).indexOf("😀"))
  }

  test("a direct partitioned write that fails mid-way rethrows and " +
      "leaves no file of the buckets it had already placed") {
    val df = spark.range(0, 500).select(col("id").as("doc_id"),
      (col("id") % 5).as("bucket"))
    val root = tmp("fault")
    // the last bucket the direct side writes is a regular file: the
    // write places buckets 0..3, then cannot create bucket=4
    Files.writeString(root.resolve("bucket=4"), "not a dir")
    intercept[java.nio.file.FileAlreadyExistsException] {
      DirectParquetIo.write(df, root.toString, 500L, "append",
        partitionBy = Seq("bucket"))
    }
    assert(dataFiles(root).isEmpty, dataFiles(root))
    assert(Files.list(root).iterator().asScala.map(_.getFileName.toString)
      .toSeq === Seq("bucket=4"), "the placed bucket dirs are removed too")
  }
}
