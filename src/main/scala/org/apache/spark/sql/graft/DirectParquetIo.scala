package org.apache.spark.sql.graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Cast, InterpretedOrdering, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

/** The one write primitive behind every small commit: a parquet write
  * that runs on the driver when the frame is known to be small, and as
  * an ordinary distributed Spark write otherwise.
  *
  * The direct side goes through Spark's OWN write path
  * (ParquetUtils.prepareWrite → ParquetOutputWriter) minus the job
  * scheduling and the output-committer protocol. A distributed write of
  * a tiny, driver-known frame costs a full plan/schedule/commit round
  * trip (~150–300 ms on a 4-core host); the bytes written here are what
  * one Spark write task would produce — same WriteSupport, same schema
  * footer property, same logical-type mapping, same session codec — so
  * every reader sees an ordinary Spark parquet file. At 100 TB a real
  * data write must fan out; this side is for the metadata-sized commits
  * (maintenance windows, frozen quantizer artifacts, corpus scalars)
  * that dominate lifecycle latency. Its gates live in
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
    * each written hidden and renamed into place: a death mid-write
    * leaves no torn visible file. An overwrite first deletes `dest`;
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
      placed += dir.resolve(s"..$name.inprogress.crc") // Hadoop's checksum
      placed += tmp
      val writer = factory.newInstance(tmp.toString, dataSchema, ctx)
      try (from until until).foreach { i => data.project(rows(i)); writer.write(data) }
      finally writer.close()
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      placed += dir.resolve(name)
    }

    try {
      if (mode == "overwrite") {
        val hp = new org.apache.hadoop.fs.Path(dest)
        hp.getFileSystem(sessionState.newHadoopConf()).delete(hp, true)
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
        placed.reverseIterator.foreach { p =>
          try Files.deleteIfExists(p)
          catch { case c: java.io.IOException => e.addSuppressed(c) }
        }
        throw e
    }
  }
}
