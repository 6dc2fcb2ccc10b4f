package graft.io

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Driver-direct parquet IO for the table-metadata SIDECARS (file-stats
  * rows, dv tombstone sets). These artifacts are planning state — tiny
  * by contract (O(files × cols) stats rows; size-gated dv sets) — and
  * routing them through a Spark job costs a full plan/codegen/schedule
  * round-trip (~100–300 ms each) that dominates commit latency on every
  * managed-table write. Guide §1.2: fix the per-task work only after
  * the job shape is right — here the right shape is NO job at all.
  * Writes produce a single standard parquet file that `spark.read
  * .parquet` (and the distributed pruning scans) read unchanged. */
object SidecarIo {

  private val statsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required binary file (UTF8);
      |  required int64 rows;
      |  required binary col (UTF8);
      |  required binary kind (UTF8);
      |  optional int64 minL;
      |  optional int64 maxL;
      |  optional double minD;
      |  optional double maxD;
      |  optional binary minS (UTF8);
      |  optional binary maxS (UTF8);
      |  optional int64 nulls;
      |}""".stripMargin)

  /** Write one segment's ColStats rows as `<dir>/part-00000.parquet`
    * without a Spark job. Replaces any existing dir content (the
    * overwrite semantics the Spark write had). */
  def writeStats(dir: Path, stats: Seq[FileStats.ColStats]): Unit = {
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      try s.forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
    Files.createDirectories(dir)
    writeStatsFile(dir.resolve("part-00000.parquet"), stats)
  }

  /** Append-mode sibling of [[writeStats]]: add one fresh uniquely
    * named parquet part to `dir` (keeping whatever is there — the
    * incremental postings-stats contract), again without a Spark job. */
  def appendStats(dir: Path, stats: Seq[FileStats.ColStats]): Unit = {
    Files.createDirectories(dir)
    writeStatsFile(dir.resolve(s"part-${System.nanoTime()}.parquet"), stats)
  }

  private def writeStatsFile(dest: Path,
      stats: Seq[FileStats.ColStats]): Unit = {
    val conf = new Configuration(false)
    GroupWriteSupport.setSchema(statsSchema, conf)
    val factory = new SimpleGroupFactory(statsSchema)
    val w = ExampleParquetWriter
      .builder(new HadoopPath(dest.toString))
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try stats.foreach { s =>
      val g = factory.newGroup()
      g.append("file", s.file)
      g.append("rows", s.rows)
      g.append("col", s.col)
      g.append("kind", s.kind)
      s.minL.foreach(v => g.append("minL", v))
      s.maxL.foreach(v => g.append("maxL", v))
      s.minD.foreach(v => g.append("minD", v))
      s.maxD.foreach(v => g.append("maxD", v))
      s.minS.foreach(v => g.append("minS", v))
      s.maxS.foreach(v => g.append("maxS", v))
      s.nulls.foreach(v => g.append("nulls", v))
      w.write(g)
    } finally w.close()
  }

  /** Total bytes of the .parquet files directly under `dirs` — the
    * size gate for the driver-local dv read. */
  def parquetBytes(dirs: Seq[Path]): Long =
    dirs.map { d =>
      if (!Files.isDirectory(d)) 0L
      else {
        val s = Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(Files.size(_)).sum
        } finally s.close()
      }
    }.sum

  /** Sum of footer row counts of the .parquet files directly under
    * `dirs` — a driver metadata read (no Spark job), the honest
    * "observed row count" for small-write gates over dirs this engine
    * itself produced. */
  def parquetRowCount(dirs: Seq[Path], conf: Configuration): Long = {
    import scala.jdk.CollectionConverters._
    var total = 0L
    for (d <- dirs if Files.isDirectory(d)) {
      val parts = {
        val s = Files.list(d)
        try s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally s.close()
      }
      for (p <- parts) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new HadoopPath(p.toString), conf))
        try total += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }
    }
    total
  }

  /** Generic driver-local read of a SMALL parquet dir set into Spark
    * Rows — the LocalRelation feeder for sidecar consumers (index
    * tombstones, stats-prune probes, frozen quantizer artifacts) whose
    * per-read Spark job was pure overhead. Supported fields: flat
    * primitives (int32/int64/float/double/boolean/binary-utf8) and
    * LIST-of-primitive columns in the standard 3-level layout Spark
    * writes (the frozen centroid/codebook schemas). Returns None
    * (caller falls back to the distributed read) when: total size
    * exceeds `maxBytes`, the part schemas disagree, or any field is
    * outside that set. */
  def readLocalRows(dirs: Seq[Path], conf: Configuration,
      maxBytes: Long = Cutovers.SidecarLocalBytes):
      Option[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.Type.Repetition
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    if (parquetBytes(dirs) > maxBytes) return None
    val parts = dirs.filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    if (parts.isEmpty) return None
    def schemaOf(p: Path): MessageType = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new HadoopPath(p.toString), conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val msg = schemaOf(parts.head)
    if (parts.tail.exists(p => schemaOf(p) != msg)) return None
    val fields = msg.getFields.asScala.toSeq
    def primType(pt: PrimitiveType): Option[DataType] =
      (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
        case (INT32, null) => Some(IntegerType)
        case (INT64, null) => Some(LongType)
        case (INT32, a: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if a.getBitWidth == 32 && a.isSigned => Some(IntegerType)
        case (INT64, a: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if a.getBitWidth == 64 && a.isSigned => Some(LongType)
        case (FLOAT, null) => Some(FloatType)
        case (DOUBLE, null) => Some(DoubleType)
        case (BOOLEAN, null) => Some(BooleanType)
        case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
          Some(StringType)
        case _ => None
      }
    def readPrim(dt: DataType, g: Group, i: Int): Any = dt match {
      case IntegerType => g.getInteger(i, 0)
      case LongType => g.getLong(i, 0)
      case FloatType => g.getFloat(i, 0)
      case DoubleType => g.getDouble(i, 0)
      case BooleanType => g.getBoolean(i, 0)
      case StringType => g.getString(i, 0)
      case other => sys.error(s"unreachable: $other")
    }
    // per-field (schema, extractor); extractor is called only when the
    // field's repetition count in the row group is > 0
    val built: Seq[(StructField, (Group, Int) => Any)] = fields.map { f =>
      if (f.isRepetition(Repetition.REPEATED)) return None
      val nullable = !f.isRepetition(Repetition.REQUIRED)
      if (f.isPrimitive) {
        primType(f.asPrimitiveType()) match {
          case Some(dt) =>
            (StructField(f.getName, dt, nullable),
              (g: Group, i: Int) => readPrim(dt, g, i))
          case None => return None
        }
      } else {
        // LIST-of-primitive, 3-level standard layout only:
        //   optional group f (LIST) { repeated group list {
        //     optional/required <prim> element } }
        val gt = f.asGroupType()
        val isList = gt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation]
        if (!isList || gt.getFieldCount != 1) return None
        val rep = gt.getType(0)
        if (rep.isPrimitive || !rep.isRepetition(Repetition.REPEATED))
          return None
        val repG = rep.asGroupType()
        if (repG.getFieldCount != 1 || !repG.getType(0).isPrimitive)
          return None
        val ept = repG.getType(0).asPrimitiveType()
        primType(ept) match {
          case Some(edt) =>
            val containsNull = !ept.isRepetition(Repetition.REQUIRED)
            (StructField(f.getName, ArrayType(edt, containsNull), nullable),
              (g: Group, i: Int) => {
                val outer = g.getGroup(i, 0)
                val n = outer.getFieldRepetitionCount(0)
                (0 until n).map { j =>
                  val e = outer.getGroup(0, j)
                  if (e.getFieldRepetitionCount(0) == 0) null
                  else readPrim(edt, e, 0)
                }
              })
          case None => return None
        }
      }
    }
    val sparkFields = built.map(_._1)
    val out = Seq.newBuilder[Row]
    for (p <- parts) {
      val r: ParquetReader[Group] = ParquetReader
        .builder(new GroupReadSupport(), new HadoopPath(p.toString))
        .withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) {
          val vals = built.indices.map { i =>
            if (g.getFieldRepetitionCount(i) == 0) null
            else built(i)._2(g, i)
          }
          out += Row.fromSeq(vals)
          g = r.read()
        }
      } finally r.close()
    }
    Some((org.apache.spark.sql.types.StructType(sparkFields), out.result()))
  }

  /** Read (file, row) tombstone pairs from dv sidecar dirs on the
    * driver — no Spark job. Caller gates on [[parquetBytes]]; the
    * distributed scan remains the path for large tombstone sets. */
  def readDvPairs(dirs: Seq[Path], conf: Configuration): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val out = Seq.newBuilder[(String, Long)]
    for (dir <- dirs if Files.isDirectory(dir)) {
      val parts = {
        val s = Files.list(dir)
        try s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally s.close()
      }
      for (p <- parts) {
        val r: ParquetReader[Group] = ParquetReader
          .builder(new GroupReadSupport(), new HadoopPath(p.toString))
          .withConf(conf).build()
        try {
          var g = r.read()
          while (g != null) {
            out += ((g.getString(0, 0), g.getLong(1, 0)))
            g = r.read()
          }
        } finally r.close()
      }
    }
    out.result()
  }
}
