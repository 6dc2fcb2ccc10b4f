package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Independent delta-log reader: snapshot reconstruction by pure JSON
  * commit replay, sharing NO code or state with the writer.
  *
  * [[graft.io.ManagedParquetTable]] writes every commit as a
  * Delta-protocol transaction log (`_delta_log/NNN.json` + periodic
  * checkpoint parquet). The runtime image carries no external Delta
  * reader to prove the log is consumable, so this object closes the
  * interop gap as far as an offline image allows: it resolves the live
  * file set the way the PROTOCOL says — replay add/remove actions in
  * version order — while deliberately ignoring everything the writer's
  * own resolvers lean on (the `_graft_manifest`, `_last_checkpoint`,
  * checkpoint parquet). Row counts come from parquet FOOTERS only, so
  * the check needs no SparkSession either. IoSpec diffs both readers
  * version-by-version on a multi-commit table; structural conformance
  * of the log itself is asserted separately (IoSpec delta-log specs).
  *
  * Reference behavior anchor: the reference trusts an external Delta
  * reader for exactly this resolution (`gold/bronzeToGold.py:69-74`,
  * `bronze/test7.py:76-80`).
  */
object DeltaLogReplay {

  private val CommitName = """(\d{20})\.json""".r
  private val AddPath = """"add"\s*:\s*\{\s*"path"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  private val RemovePath = """"remove"\s*:\s*\{\s*"path"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  // a reader-v1 log cannot carry protocol deletion-vector file
  // actions; the writer instead names the tombstone sidecar in
  // commitInfo.userMetadata (informational per the protocol — real
  // Delta readers ignore commitInfo, so conformance is unharmed).
  // A graft-aware replay applies them and agrees with the writer's
  // ROW counts, not just its file sets.
  private val DvMarker = """"userMetadata"\s*:\s*"graft-dv:([^"\\]+)"""".r

  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => sb += other; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** All commit files as (version, path), version-ordered. */
  private def commits(tablePath: String): Seq[(Long, java.nio.file.Path)] = {
    val dir = Paths.get(tablePath, "_delta_log")
    require(Files.isDirectory(dir), s"no _delta_log at $tablePath")
    graft.io.GraftFs.list(dir).flatMap { p =>
      p.getFileName.toString match {
        case CommitName(v) => Some((v.toLong, p))
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** Live relative data-file paths at `asOfVersion` (latest when None),
    * by replaying ONLY the JSON commits. Fails loudly on a version gap
    * or an out-of-range target — silent under-resolution is how interop
    * bugs hide. */
  def liveFiles(tablePath: String,
      asOfVersion: Option[Long] = None): Seq[String] = {
    val cs = commits(tablePath)
    require(cs.nonEmpty, s"empty _delta_log at $tablePath")
    cs.map(_._1).zipWithIndex.foreach { case (v, i) =>
      require(v == i, s"commit gap: expected version $i, found $v")
    }
    asOfVersion.foreach(v => require(v >= 0 && v < cs.size,
      s"version $v out of range [0, ${cs.size - 1}]"))
    val upto = asOfVersion.map(_.toInt + 1).getOrElse(cs.size)
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    cs.take(upto).foreach { case (_, p) =>
      Files.readAllLines(p).asScala.foreach { line =>
        AddPath.findFirstMatchIn(line)
          .foreach(m => live += unescape(m.group(1)))
        RemovePath.findFirstMatchIn(line)
          .foreach(m => live -= unescape(m.group(1)))
      }
    }
    live.toSeq.sorted
  }

  /** Row count of the replayed snapshot: parquet footers of the live
    * files, MINUS the deletion-vector tombstones the commit log's
    * graft-dv markers name that still target a live file (a tombstone
    * of a file later rewritten/purged died with it — the rewrite
    * physically dropped the row and the log recorded the remove+add).
    * No SparkSession; the dv sidecars are read with parquet-mr's
    * example API. */
  def rowCount(tablePath: String,
      asOfVersion: Option[Long] = None): Long = {
    val live = liveFiles(tablePath, asOfVersion).toSet
    val footer = live.toSeq.map(rel => footerRows(s"$tablePath/$rel")).sum
    val cs = commits(tablePath)
    val upto = asOfVersion.map(_.toInt + 1).getOrElse(cs.size)
    val dvDirs = cs.take(upto).flatMap { case (_, p) =>
      Files.readAllLines(p).asScala.flatMap(l =>
        DvMarker.findFirstMatchIn(l).map(m => unescape(m.group(1))))
    }
    // pairs are disjoint across commits by construction (a dv delete
    // scans through prior tombstones), but a Set keeps the subtraction
    // honest even against a buggy writer
    val dead = scala.collection.mutable.HashSet.empty[(String, Long)]
    dvDirs.foreach { d =>
      readDvPairs(Paths.get(tablePath, "_graft_dv", d)).foreach {
        case (f, r) => if (live(f)) dead += ((f, r))
      }
    }
    footer - dead.size
  }

  private def footerRows(abs: String): Long = {
    import org.apache.hadoop.fs.{Path => HadoopPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HadoopPath(abs), conf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  /** (file, row) tombstone pairs of one dv sidecar dir, read with the
    * parquet-mr example API (no Spark). */
  private def readDvPairs(dir: java.nio.file.Path): Seq[(String, Long)] = {
    import org.apache.hadoop.fs.{Path => HadoopPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    if (!Files.isDirectory(dir)) return Seq.empty
    val parts = graft.io.GraftFs.list(dir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val conf = new org.apache.hadoop.conf.Configuration()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    parts.foreach { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HadoopPath(p.toString), conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val fIdx = schema.getFieldIndex("__graft_f")
        val rIdx = schema.getFieldIndex("__graft_r")
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val rr = new ColumnIOFactory().getColumnIO(schema)
            .getRecordReader(pages, new GroupRecordConverter(schema))
          var i = 0L
          val n = pages.getRowCount
          while (i < n) {
            val g = rr.read()
            out += ((g.getString(fIdx, 0), g.getLong(rIdx, 0)))
            i += 1
          }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    out.toSeq
  }
}
