package org.apache.spark.sql.graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Cast, InterpretedOrdering, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}

import _root_.graft.io.GraftFs

/** The driver-side parquet primitives behind every small commit and
  * every planning-sidecar read: one write, one read, and the footer row
  * count that small-write gates take.
  *
  * [[write]] runs a parquet write on the driver when the frame is known
  * to be small, and as an ordinary distributed Spark write otherwise.
  * [[read]] loads a small dir set into a LocalRelation, and leaves a
  * larger one to the caller's distributed scan. Both go through Spark's
  * OWN parquet support (ParquetOutputWriter on the write side,
  * ParquetReadSupport on the read side) minus the job scheduling: a
  * distributed write or scan of a tiny, driver-known frame costs a full
  * plan/schedule round trip (~150–300 ms on a 4-core host). The bytes
  * written are what one Spark write task would produce — same
  * WriteSupport, same schema footer property, same logical-type mapping,
  * same session codec — and the rows read are what a Spark scan of the
  * same files returns, for every type Spark writes. At 100 TB a real data
  * write or scan must fan out; the driver side is for the metadata-sized
  * work (maintenance windows, frozen quantizer artifacts, corpus scalars,
  * deletion vectors, tombstones, file statistics) that dominates
  * lifecycle latency. Each caller passes its gate from
  * [[_root_.graft.io.Cutovers]]. */
object DirectParquetIo {

  /** Write `df` under `dest` in `mode` ("append" | "overwrite"),
    * hive-partitioned by `partitionBy`, rows ordered within each file by
    * `sortBy`.
    *
    * Driver-direct when `observedRows` — an OBSERVED bound on the
    * frame's rows, negative when none was observed — is at or under
    * `maxRows`, or when the optimized plan is a LocalRelation (its rows
    * are already on the driver). The frame is evaluated by one
    * `executeCollect` (no job for a LocalRelation), sorted by
    * `partitionBy ++ sortBy` with Spark's own `SortOrder` ordering, and
    * written as one `part-00000-<nanotime>` file per partition dir,
    * each written hidden and published by [[GraftFs.move]] (its
    * checksum twin moves along): a death mid-write leaves no torn
    * visible file. An overwrite first deletes `dest`;
    * an append of zero rows places nothing.
    *
    * Otherwise the distributed write: repartitioned on `partitionBy`
    * (coalesced to one task when `singleFile`), sorted within
    * partitions by `sortBy`.
    *
    * A direct write that fails deletes every file and dir it placed and
    * rethrows — it never retries as a distributed write. */
  def write(df: DataFrame, dest: String, observedRows: Long, mode: String,
      partitionBy: Seq[String] = Nil, sortBy: Seq[String] = Nil,
      maxRows: Long = _root_.graft.io.Cutovers.SmallWriteRows,
      singleFile: Boolean = false): Unit = {
    require(mode == "append" || mode == "overwrite", s"unsupported mode '$mode'")
    if ((observedRows >= 0L && observedRows <= maxRows) ||
        df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      writeDirect(df, dest, mode, partitionBy, sortBy)
    else {
      val spread =
        if (partitionBy.nonEmpty) df.repartition(partitionBy.map(col): _*)
        else if (singleFile) df.coalesce(1)
        else df
      val sorted =
        if (sortBy.isEmpty) spread else spread.sortWithinPartitions(sortBy.map(col): _*)
      val w = sorted.write.mode(mode)
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(dest)
    }
  }

  /** Replace `destDir` with one driver-direct file holding `df`,
    * whatever its size — for callers outside the engine, which writes
    * through [[write]]. */
  def writeSingleFile(df: DataFrame, destDir: Path): Unit =
    writeDirect(df, destDir.toString, "overwrite", Nil, Nil)

  private def writeDirect(df: DataFrame, dest: String, mode: String,
      partitionBy: Seq[String], sortBy: Seq[String]): Unit = {
    val sessionState =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState
    val conf = sessionState.conf
    val schema = df.schema
    def ordering(cols: Seq[Int]) = new InterpretedOrdering(cols.map(i =>
      SortOrder(BoundReference(i, schema(i).dataType, schema(i).nullable), Ascending)))
    val partIdx = partitionBy.map(schema.fieldIndex)
    val dataIdx = schema.indices.filterNot(partIdx.contains)
    val dataSchema = StructType(dataIdx.map(schema(_)))

    val rows: Array[InternalRow] = df.queryExecution.executedPlan.executeCollect()
    val keys = partIdx ++ sortBy.map(schema.fieldIndex)
    if (keys.nonEmpty) java.util.Arrays.sort(rows, ordering(keys))

    val job = Job.getInstance(sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(conf, job, dataSchema,
      new ParquetOptions(Map.empty[String, String], conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft-direct", 0),
        TaskType.MAP, 0), 0))
    // a view of each row without its partition columns (no copy, no codegen)
    val data = ProjectingInternalRow(dataSchema, dataIdx)
    val root = Paths.get(dest)
    // the partition dir of a row, named as Spark's dynamic-partition
    // writer names it (session-zone string cast, escaped, null → default)
    def dirOf(r: InternalRow): Path = partIdx.foldLeft(root) { (d, i) =>
      val v = Cast(Literal(r.get(i, schema(i).dataType), schema(i).dataType),
        StringType, Some(conf.sessionLocalTimeZone)).eval()
      d.resolve(ExternalCatalogUtils.getPartitionPathString(schema(i).name,
        if (v == null) null else v.toString))
    }

    // every file and dir this call creates, in creation order
    val placed = ArrayBuffer.empty[Path]
    def ensureDir(d: Path): Unit = {
      val missing = Iterator.iterate(d)(_.getParent)
        .takeWhile(p => p != null && !Files.exists(p)).toList
      Files.createDirectories(d)
      placed ++= missing.reverse
    }
    def writeFile(dir: Path, from: Int, until: Int): Unit = {
      ensureDir(dir)
      val name = s"part-00000-${System.nanoTime()}" + factory.getFileExtension(ctx)
      // dot-prefixed while in flight: invisible to parquet dir scans
      // and footer sweeps until the rename publishes it
      val tmp = dir.resolve(s".$name.inprogress")
      placed += tmp
      val writer = factory.newInstance(tmp.toString, dataSchema, ctx)
      try (from until until).foreach { i => data.project(rows(i)); writer.write(data) }
      finally writer.close()
      GraftFs.move(tmp, dir.resolve(name))
      placed += dir.resolve(name)
    }

    try {
      if (mode == "overwrite") {
        GraftFs.delete(root)
        ensureDir(root)
      }
      if (partIdx.isEmpty) {
        if (rows.nonEmpty || mode == "overwrite") writeFile(root, 0, rows.length)
      } else {
        val samePart = ordering(partIdx)
        var from = 0
        while (from < rows.length) {
          var until = from + 1
          while (until < rows.length && samePart.compare(rows(from), rows(until)) == 0)
            until += 1
          writeFile(dirOf(rows(from)), from, until)
          from = until
        }
      }
    } catch {
      case e: Throwable =>
        // any failure removes what this write placed, then rethrows
        // unchanged; each file goes with its checksum twin (in flight or
        // published)
        placed.reverseIterator.foreach { p =>
          try GraftFs.delete(p)
          catch { case c: java.io.IOException => e.addSuppressed(c) }
        }
        throw e
    }
  }

  /** The dir set `dirs` as a LocalRelation, read on the driver, when the
    * total bytes of its parquet files are at or under `maxBytes`; None
    * otherwise, and the caller keeps its distributed scan. The byte gate
    * is the only thing that picks the side.
    *
    * The schema is the files' footer schemas (each footer's serialized
    * Spark schema, else its parquet schema under the session's converter)
    * merged as Spark's `mergeSchema` merges them, all nullable as a Spark
    * file scan reports them; a file missing a column reads it as null.
    * Rows are decoded by Spark's own row-based reader, so every type
    * Spark writes (decimals, dates, timestamps, nested lists) reads as
    * the distributed scan reads it. No Spark job runs, and none runs to
    * collect the returned frame. A dir set holding no parquet file has
    * no schema: the read fails, as Spark's inference does. */
  def read(spark: SparkSession, dirs: Seq[Path], maxBytes: Long): Option[DataFrame] = {
    val files = parquetFiles(dirs)
    if (files.map(Files.size(_)).sum > maxBytes) return None
    require(files.nonEmpty, s"no parquet file under ${dirs.mkString(", ")}")
    val local = new LocalFiles(spark, files)
    Some(localFrame(spark, local.schema,
      files.indices.flatMap(local.rows(_, (_, _) => true))))
  }

  /** Parquet `files` opened for a driver-side decode: each footer read
    * once, their schema merged as [[read]] documents, and a per-file
    * decode under that schema by Spark's own row-based reader — the one
    * parquet decode of the engine. Requires at least one file. */
  final class LocalFiles(spark: SparkSession, files: Seq[Path]) {
    require(files.nonEmpty, "no parquet file to decode")
    private val conf = spark.sessionState.conf
    private val hadoopConf = spark.sessionState.newHadoopConf()
    private val footers = files.map(f => footerOf(new HadoopPath(f.toString), hadoopConf))
    val schema: StructType = mergedSchema(spark, footers).asNullable
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    // the reader's schema converter takes these from the Hadoop conf,
    // where a Spark scan sets them from the session
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
        SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .foreach(e => hadoopConf.set(e.key, conf.getConfString(e.key)))
    private val options = new ParquetOptions(Map.empty[String, String], conf)

    /** Copies of the rows of file `i`, in file order, that `keep` accepts;
      * `keep` sees each row's position in its file (what a Spark scan
      * reports as `_metadata.row_index`) and the reader's reused row. */
    def rows(i: Int, keep: (Long, InternalRow) => Boolean): Vector[InternalRow] = {
      val footer = footers(i)
      val meta = footer.getParquetMetadata.getFileMetaData.getKeyValueMetaData
      val support = new ParquetReadSupport(None, enableVectorizedReader = false,
        DataSourceUtils.datetimeRebaseSpec(meta.get, options.datetimeRebaseModeInRead),
        DataSourceUtils.int96RebaseSpec(meta.get, options.int96RebaseModeInRead))
      val reader = ParquetReader.builder(support, footer.getFile).withConf(hadoopConf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).zipWithIndex
        .collect { case (row, pos) if keep(pos.toLong, row) => row.copy() }.toVector
      finally reader.close()
    }
  }

  /** `rows` (internal rows of `schema`) as a LocalRelation frame: its
    * collect runs no Spark job. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Sum of the footer row counts of the parquet files at `paths` (see
    * [[parquetFiles]]): a driver metadata read, no Spark job — the
    * observed row count small-write gates take. */
  def parquetRowCount(spark: SparkSession, paths: Seq[Path]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(paths).map(f => footerOf(new HadoopPath(f.toString), conf)
      .getParquetMetadata.getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** The Spark schema of parquet `files`, merged from their footers on
    * the driver (no Spark job) — see [[mergedSchema]]. */
  def footerSchema(spark: SparkSession, files: Seq[Path]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    mergedSchema(spark, files.map(f => footerOf(new HadoopPath(f.toString), conf)))
  }

  private def footerOf(file: HadoopPath, conf: Configuration): Footer =
    new Footer(file, ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.NO_FILTER))

  /** Each footer's schema as Spark's inference reads it — the serialized
    * Spark schema its writer stored, else its parquet schema under the
    * session's converter — folded by the merge `mergeSchema` uses. */
  private def mergedSchema(spark: SparkSession, footers: Seq[Footer]): StructType = {
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter)).distinct
      .reduceLeft(SchemaBridge.merge(spark, _, _))
  }

  /** The parquet files at `paths`: a dir contributes the `.parquet`
    * files directly under it that a Spark scan sees (not `_`- or
    * `.`-prefixed), any other path is taken as a file. */
  def parquetFiles(paths: Seq[Path]): Seq[Path] = paths.flatMap { p =>
    if (!Files.isDirectory(p)) Seq(p)
    else GraftFs.list(p).filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
  }
}
