package graft.io

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DirectParquetIo
import org.apache.spark.sql.types._

/** Data-layout services for [[ManagedParquetTable]]: per-file min/max
  * statistics (the lakehouse file-skipping index — what the Delta/
  * Iceberg `add.stats` field carries) and multi-dimensional z-order
  * clustering so those statistics are TIGHT on every clustered column.
  *
  * Scale rationale: at 100 TB a table is O(100k–1M) files. Parquet
  * row-group pruning only helps after a task has opened the file;
  * file-level pruning happens at PLANNING time from footer statistics
  * collected once at write — a point lookup or narrow range on a
  * clustered column plans to a handful of files instead of the whole
  * scan. Statistics come straight from the parquet footers the writer
  * already produced (footer-only reads — the data pages are never
  * touched when collecting).
  */
object FileStats {

  /** One (file, column) statistics row. Numeric/date/timestamp bounds
    * live in (minL,maxL) or (minD,maxD); strings in (minS,maxS).
    * `kind` records which representation is authoritative. */
  final case class ColStats(file: String, rows: Long, col: String,
      kind: String, minL: Option[Long], maxL: Option[Long],
      minD: Option[Double], maxD: Option[Double],
      minS: Option[String], maxS: Option[String], nulls: Option[Long])

  /** Sidecar dataset schema (stable column order for parquet). */
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("col", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("minL", LongType, nullable = true),
    StructField("maxL", LongType, nullable = true),
    StructField("minD", DoubleType, nullable = true),
    StructField("maxD", DoubleType, nullable = true),
    StructField("minS", StringType, nullable = true),
    StructField("maxS", StringType, nullable = true),
    StructField("nulls", LongType, nullable = true)))

  /** Footer-only statistics scan of one parquet file: per top-level
    * column, min/max/nullCount folded across the file's row groups.
    * Columns whose writer recorded no usable statistics are omitted —
    * absence of stats means "never skip", never a wrong skip. */
  def footerStats(spark: SparkSession, absFile: String,
      relFile: String): Seq[ColStats] = {
    import org.apache.hadoop.fs.{Path => HadoopPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._

    val conf = spark.sessionState.newHadoopConf()
    val reader =
      try ParquetFileReader.open(HadoopInputFile.fromPath(new HadoopPath(absFile), conf))
      catch {
        // parquet reports a file that is not parquet (bad magic, short
        // footer) as a bare RuntimeException: surface it as the
        // unreadable file it is, so GraftFs.Unreadable classifies it
        case e: RuntimeException =>
          throw new java.io.IOException(s"$absFile is not a readable parquet file", e)
      }
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // (kind, minL, maxL, minD, maxD, minS, maxS, nulls, statsValid)
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, ColStats]
      // a column one of whose row groups lacks stats can never publish
      // bounds for the file (they would not cover that group's rows)
      val poisoned = scala.collection.mutable.Set.empty[String]
      // null counts fold independently of bounds: an all-null row group
      // contributes nulls but no min/max
      val nullCounts = scala.collection.mutable.Map.empty[String, Long]
      val nullsUnknown = scala.collection.mutable.Set.empty[String]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        if (!name.contains('.') && !poisoned(name)) { // top-level columns only
          val st = c.getStatistics
          val logical = c.getPrimitiveType.getLogicalTypeAnnotation
          if (st == null || st.isEmpty) {
            acc.remove(name)
            poisoned += name
          } else {
            if (st.isNumNullsSet)
              nullCounts(name) = nullCounts.getOrElse(name, 0L) + st.getNumNulls
            else nullsUnknown += name
            if (st.hasNonNullValue) {
              // INT32/INT64-backed DECIMAL(p,s) footers carry UNSCALED
              // integers (10.50 at scale 2 is stored as 1050); record the
              // scale in the kind so mayMatch can rescale before comparing
              // against the (scaled) literal — comparing raw would prune
              // live files.
              val decScale: Option[Int] = logical match {
                case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                  Some(d.getScale)
                case _ => None
              }
              val parsed: Option[(String, Any, Any)] = st match {
                case s: IntStatistics
                    if logical.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
                  Some(("date", s.getMin.toLong, s.getMax.toLong))
                case s: IntStatistics if decScale.isDefined =>
                  Some((s"dec:${decScale.get}", s.getMin.toLong, s.getMax.toLong))
                case s: IntStatistics =>
                  Some(("long", s.getMin.toLong, s.getMax.toLong))
                case s: LongStatistics
                    if logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
                  Some(("ts", s.getMin, s.getMax))
                case s: LongStatistics if decScale.isDefined =>
                  Some((s"dec:${decScale.get}", s.getMin, s.getMax))
                case s: LongStatistics => Some(("long", s.getMin, s.getMax))
                case s: FloatStatistics =>
                  Some(("double", s.getMin.toDouble, s.getMax.toDouble))
                case s: DoubleStatistics => Some(("double", s.getMin, s.getMax))
                case s: BinaryStatistics
                    if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                  Some(("string", s.genericGetMin.toStringUsingUTF8,
                    s.genericGetMax.toStringUsingUTF8))
                case _ => None
              }
              parsed.foreach { case (kind, mn, mx) =>
                acc.get(name) match {
                  case Some(prev) if prev.kind == kind =>
                    acc(name) = mergeBounds(prev, kind, mn, mx)
                  case Some(_) => // kind flip cannot happen in one file
                  case None => acc(name) = ColStats(relFile, rows, name, kind,
                    minL = kind match {
                      case "long" | "date" | "ts" => Some(mn.asInstanceOf[Long])
                      case k if k.startsWith("dec:") => Some(mn.asInstanceOf[Long])
                      case _ => None
                    },
                    maxL = kind match {
                      case "long" | "date" | "ts" => Some(mx.asInstanceOf[Long])
                      case k if k.startsWith("dec:") => Some(mx.asInstanceOf[Long])
                      case _ => None
                    },
                    minD = if (kind == "double") Some(mn.asInstanceOf[Double]) else None,
                    maxD = if (kind == "double") Some(mx.asInstanceOf[Double]) else None,
                    minS = if (kind == "string") Some(mn.asInstanceOf[String]) else None,
                    maxS = if (kind == "string") Some(mx.asInstanceOf[String]) else None,
                    nulls = None)
                }
              }
            }
          }
        }
      }
      // files that are ALL nulls for a column carry no bounds row, but
      // the all-null fact itself prunes comparisons: emit a bounds-less
      // row for such columns (kind "null")
      val allNull = nullCounts.collect {
        case (name, n) if n == rows && !acc.contains(name) &&
            !poisoned(name) && !nullsUnknown(name) =>
          ColStats(relFile, rows, name, "null",
            None, None, None, None, None, None, Some(n))
      }
      (acc.values.map { cs =>
        if (nullsUnknown(cs.col)) cs
        else cs.copy(nulls = nullCounts.get(cs.col))
      } ++ allNull).toSeq
    } finally reader.close()
  }

  private def mergeBounds(prev: ColStats, kind: String,
      mn: Any, mx: Any): ColStats =
    kind match {
      case k if k == "long" || k == "date" || k == "ts" || k.startsWith("dec:") =>
        prev.copy(
          minL = prev.minL.map(_ min mn.asInstanceOf[Long]),
          maxL = prev.maxL.map(_ max mx.asInstanceOf[Long]))
      case "double" =>
        prev.copy(
          minD = prev.minD.map(_ min mn.asInstanceOf[Double]),
          maxD = prev.maxD.map(_ max mx.asInstanceOf[Double]))
      case "string" =>
        val lo = prev.minS.map(s => if (s.compareTo(mn.asInstanceOf[String]) <= 0) s else mn.asInstanceOf[String])
        val hi = prev.maxS.map(s => if (s.compareTo(mx.asInstanceOf[String]) >= 0) s else mx.asInstanceOf[String])
        prev.copy(minS = lo, maxS = hi)
    }

  def toRows(stats: Seq[ColStats]): Seq[Row] = stats.map { s =>
    Row(s.file, s.rows, s.col, s.kind,
      s.minL.map(Long.box).orNull, s.maxL.map(Long.box).orNull,
      s.minD.map(Double.box).orNull, s.maxD.map(Double.box).orNull,
      s.minS.orNull, s.maxS.orNull, s.nulls.map(Long.box).orNull)
  }

  /** Write `stats` as a sidecar file under `dir` ("overwrite" replaces
    * the dir, "append" adds one file; an append of no rows places
    * nothing). The rows are planning state already on the driver, so
    * they go driver-direct as a LocalRelation — no Spark job per commit
    * — and publish by temp-then-rename. */
  def writeSidecar(spark: SparkSession, stats: Seq[ColStats], dir: String,
      mode: String): Unit = {
    import scala.jdk.CollectionConverters._
    DirectParquetIo.write(spark.createDataFrame(toRows(stats).asJava, schema), dir,
      stats.size.toLong, mode)
  }

  def fromRow(r: Row): ColStats = {
    def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    def optD(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
    def optS(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
    ColStats(r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
      optL(4), optL(5), optD(6), optD(7), optS(8), optS(9), optL(10))
  }

  // ---- predicate-vs-statistics pruning -----------------------------------

  /** One prunable conjunct: column name, comparison op, literal. */
  final case class Conjunct(colName: String, op: String, value: Any,
      dataType: DataType)

  /** Extract the prunable conjuncts of a predicate: top-level
    * AND-chains of {=, <, <=, >, >=} between a bare column and a
    * literal (either side), IS NOT NULL, and `col IN (literals…)`
    * (both the `In` and post-OptimizeIn `InSet` forms — the shape a
    * probe-pruned index read pushes down: `centroid_id IN (probed
    * lists)`). Null literals inside an IN-list are dropped from the
    * conjunct: `x IN (v, NULL)` can only be TRUE via a non-null match,
    * so pruning on the non-null subset never removes a live file. The
    * predicate is
    * resolved through the OPTIMIZED logical plan of `df.filter(pred)`
    * (a Spark-4 `Column` holds a lazy node tree, not catalyst
    * expressions; analysis also resolves names, folds `cast(lit)` and
    * drops always-true branches). Anything unrecognized contributes no
    * conjunct — the file simply isn't skipped on its account; the full
    * predicate is ALWAYS re-applied to the scanned rows, so pruning
    * can only ever remove provably-dead files, never change the
    * result. */
  def prunableConjuncts(df: DataFrame, pred: Column): Seq[Conjunct] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}

    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="
      case ">" => "<"; case ">=" => "<="; case other => other
    }
    def comparisonOp(b: BinaryComparison): Option[String] = b match {
      case _: EqualTo => Some("=")
      case _: LessThan => Some("<")
      case _: LessThanOrEqual => Some("<=")
      case _: GreaterThan => Some(">")
      case _: GreaterThanOrEqual => Some(">=")
      case _ => None
    }
    def conj(e: Expression): Seq[Conjunct] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case IsNotNull(a) if attrName(a).isDefined =>
        Seq(Conjunct(attrName(a).get, "notnull", null, NullType))
      case In(a, vs) if attrName(a).isDefined &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val lits = vs.collect { case Literal(v, dt) if v != null => (v, dt) }
        if (lits.isEmpty) Seq.empty
        else Seq(Conjunct(attrName(a).get, "in", lits, lits.head._2))
      case InSet(a: AttributeReference, hset) =>
        val lits = hset.toSeq.filter(_ != null).map(v => (v, a.dataType))
        if (lits.isEmpty) Seq.empty
        else Seq(Conjunct(a.name, "in", lits, a.dataType))
      case b: BinaryComparison =>
        comparisonOp(b).toSeq.flatMap { op =>
          (b.left, b.right) match {
            case (a, Literal(v, dt)) if attrName(a).isDefined && v != null =>
              Seq(Conjunct(attrName(a).get, op, v, dt))
            case (Literal(v, dt), a) if attrName(a).isDefined && v != null =>
              Seq(Conjunct(attrName(a).get, flip(op), v, dt))
            case _ => Seq.empty
          }
        }
      case _ => Seq.empty
    }
    df.filter(pred).queryExecution.optimizedPlan
      .collect { case f: LFilter => f.condition }
      .flatMap(conj)
  }

  /** Could a row of a file with `stats` satisfy `c`? (conservative:
    * unknown → true). Comparisons are null-rejecting in SQL, so value
    * bounds alone decide — null rows never satisfy the conjunct. */
  def mayMatch(stats: Map[String, ColStats], c: Conjunct): Boolean = {
    // IN-list: may match iff ANY member equality may — each member
    // recurses through the full per-kind bound logic below
    if (c.op == "in")
      return c.value.asInstanceOf[Seq[(Any, DataType)]]
        .exists { case (v, dt) => mayMatch(stats, Conjunct(c.colName, "=", v, dt)) }
    val s = stats.collectFirst {
      case (n, cs) if n.equalsIgnoreCase(c.colName) => cs
    }.getOrElse(return true)
    // bounds cover only non-null values; a file that is ALL nulls for
    // the column can never satisfy a comparison
    if (s.nulls.contains(s.rows)) return false
    (s.kind, litRange(c)) match {
      case ("null", _) => false // all-null column: no comparison matches
      case ("string", _) => c.value match {
        case u: org.apache.spark.unsafe.types.UTF8String =>
          val v = u.toString
          inRange(s.minS.get.compareTo(v), s.maxS.get.compareTo(v), c.op)
        case _ => true
      }
      case (_, Some(v)) =>
        val (lo, hi) = s.kind match {
          case "double" => (BigDecimal(s.minD.get), BigDecimal(s.maxD.get))
          case k if k.startsWith("dec:") =>
            // footer bounds are UNSCALED decimals; rescale exactly so they
            // compare in the same units as the (scaled) literal
            val scale = k.drop(4).toInt
            (BigDecimal(BigInt(s.minL.get), scale),
              BigDecimal(BigInt(s.maxL.get), scale))
          case _ => (BigDecimal(s.minL.get), BigDecimal(s.maxL.get))
        }
        // date/ts literals only compare against matching stats kinds;
        // a DECIMAL predicate must only prune against "dec:<scale>"
        // stats — sidecars written before the dec-kind existed recorded
        // such columns as kind "long" with UNSCALED bounds, and pruning
        // against those would silently drop live files (bounds [1000,
        // 1100] vs literal 10.50). Stale sidecars thus degrade to
        // never-prune for decimal conjuncts instead of mis-pruning.
        val kindsAgree = (s.kind, c.dataType) match {
          case ("date", DateType) | ("ts", TimestampType) => true
          case ("date", _) | ("ts", _) => false
          case (_, DateType) | (_, TimestampType) => false
          case (k, _: DecimalType) if !k.startsWith("dec:") => false
          case _ => true
        }
        if (!kindsAgree) true
        else inRange(lo.compare(v), hi.compare(v), c.op)
      case _ => true
    }
  }

  /** Distributed file-pruning pass: evaluate the conjuncts over the
    * stats sidecar rows on the EXECUTORS and ship only the names of
    * files PROVEN dead — O(dead files) driver state instead of
    * O(files × cols) (the bloom probe's shape, applied to the range
    * tier; at 10⁶ files × several columns a full sidecar collect is
    * hundreds of MB of planning state per query). Files with no stats
    * rows never appear and are therefore never skipped. */
  def deadFiles(spark: SparkSession, statsDirs: Seq[String],
      conjuncts: Seq[Conjunct]): Set[String] = {
    import org.apache.spark.sql.Encoders
    // size-gated driver-local probe: stats sidecars are O(files × cols)
    // planning rows, tiny for all but massive tables — evaluating the
    // prune driver-side skips a full groupByKey job per readWhere call.
    // Oversized sidecars keep the distributed path (which stays the
    // 100 TB shape: prune work scales out, names of dead files are all
    // that reaches the driver).
    DirectParquetIo.read(spark, statsDirs.map(java.nio.file.Paths.get(_)),
        Cutovers.SidecarLocalBytes) match {
      case Some(local) =>
        local.select(schema.fieldNames.map(col): _*).collect()
          .map(fromRow).groupBy(_.file).collect {
            case (f, cs) if !conjuncts.forall(
              mayMatch(cs.map(c => c.col -> c).toMap, _)) => f
          }.toSet
      case None =>
        val cs = spark.sparkContext.broadcast(conjuncts)
        spark.read.schema(schema).parquet(statsDirs: _*)
          .groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
          .mapGroups { (f: String, it: Iterator[Row]) =>
            val cols = it.map(fromRow).map(c => c.col -> c).toMap
            if (cs.value.forall(mayMatch(cols, _))) "" else f
          }(Encoders.STRING)
          .filter((f: String) => f.nonEmpty)
          .collect().toSet
    }
  }

  /** Driver-side xxhash64 of a conjunct's literal — the IDENTICAL hash
    * the bloom index build applied to the column values (XxHash64 over
    * the same data type, default seed), so a driver probe agrees with
    * the distributed sketch. */
  def hashLiteral(c: Conjunct): Long = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // Literal's primary constructor takes the INTERNAL value verbatim
    // (c.value already is one — e.g. UTF8String for strings)
    new XxHash64(Seq(Literal(c.value, c.dataType)))
      .eval(InternalRow.empty).asInstanceOf[Long]
  }

  /** Spark literal value → exact numeric, when the literal is numeric. */
  private def litRange(c: Conjunct): Option[BigDecimal] = c.value match {
    case v: java.lang.Integer => Some(BigDecimal(v.intValue))
    case v: java.lang.Long => Some(BigDecimal(v.longValue))
    case v: java.lang.Short => Some(BigDecimal(v.intValue))
    case v: java.lang.Byte => Some(BigDecimal(v.intValue))
    case v: java.lang.Double =>
      // NaN/Infinity have no decimal representation (BigDecimal throws);
      // no prunable range → every file is conservatively kept
      if (v.isNaN || v.isInfinite) None else Some(BigDecimal(v.doubleValue))
    case v: java.lang.Float =>
      if (v.isNaN || v.isInfinite) None
      else Some(BigDecimal(v.floatValue.toDouble))
    case v: Decimal => Some(v.toBigDecimal)
    case _ => None
  }

  /** Given sign(min - v) and sign(max - v), can op hold for some row? */
  private def inRange(cmpLo: Int, cmpHi: Int, op: String): Boolean =
    op match {
      case "=" => cmpLo <= 0 && cmpHi >= 0
      case "<" => cmpLo < 0
      case "<=" => cmpLo <= 0
      case ">" => cmpHi > 0
      case ">=" => cmpHi >= 0
      case _ => true
    }
}

/** Morton/z-order clustering: interleave the bits of uniform-bucketed
  * column codes so range-partitioning on ONE value co-locates rows
  * that are close in EVERY clustered dimension — the standard layout
  * for multi-column file skipping (Delta OPTIMIZE ZORDER BY's shape).
  * One pass computes global min/max per column (a scalar aggregate);
  * the z-value itself is pure codegen'd column arithmetic. */
object ZOrder {

  /** Interleaved z-value over numeric columns. `bits` per dimension;
    * bits * cols.length must stay under 63. Nulls sort first (code 0). */
  def zvalue(df: DataFrame, cols: Seq[String], bits: Int = 12): Column = {
    val k = cols.length
    require(k >= 1, "zvalue needs at least one column")
    require(bits * k <= 62, s"bits($bits) * cols($k) must be <= 62")
    val maxCode = (1L << bits) - 1
    val bounds = df.agg(
      min(col(cols.head)).cast("double"),
      (cols.tail.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))) :+
        max(col(cols.head)).cast("double")): _*).head()
    // bounds row layout: min(c0), [min(c1), max(c1), ...], max(c0)
    def bound(i: Int): (Double, Double) =
      if (i == 0) (d(bounds, 0), d(bounds, bounds.length - 1))
      else (d(bounds, 2 * i - 1), d(bounds, 2 * i))
    val codes = cols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = bound(i)
      val span = mx - mn
      if (span <= 0 || span.isNaN) lit(0L)
      else when(col(c).isNull, 0L).otherwise(
        least(lit(maxCode), greatest(lit(0L),
          floor((col(c).cast("double") - lit(mn)) / lit(span) * maxCode)
            .cast("long"))))
    }
    var z: Column = lit(0L)
    for (b <- 0 until bits; i <- 0 until k) {
      z = z + shiftright(codes(i), b).bitwiseAND(lit(1L)) *
        lit(1L << (b * k + i))
    }
    z
  }

  private def d(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
}
