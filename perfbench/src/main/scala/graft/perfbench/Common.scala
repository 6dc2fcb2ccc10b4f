package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import scala.collection.immutable.ListMap

import org.apache.spark.sql.Row
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

/** The run report is built from ordered maps, sequences, options and
  * plain values, and rendered with json4s. */
object Json {
  type Obj = ListMap[String, Any]
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def apply(v: Any): String =
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(v)(DefaultFormats)))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean; NaN for an empty sample. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p50/p75/p90/p95/p99/p99.9 that has at least ten
    * samples beyond it, as (percentile, value); None when the sample is
    * too small for even the median to qualify. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100)))
}

/** Order-insensitive result comparison with a relative float tolerance,
  * the tolerance tools/check.py uses (1e-9 relative). */
object Rows {
  private def sortKey(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => "%.6e".format(d)
    case f: Float => "%.6e".format(f.toDouble)
    case r: Row => r.toSeq.map(sortKey).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(sortKey).mkString("[", ",", "]")
    case other => other.toString
  }

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(1.0,
        math.max(math.abs(x), math.abs(y)))
    case (x: Float, y: Float) => sameValue(x.toDouble, y.toDouble)
    case (x: Row, y: Row) => sameSeq(x.toSeq, y.toSeq)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      sameSeq(x.toSeq, y.toSeq)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  private def sameSeq(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => sameValue(x, y) }

  def same(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && {
      val sa = a.sortBy(r => sortKey(r))
      val sb = b.sortBy(r => sortKey(r))
      sa.zip(sb).forall { case (x, y) => sameValue(x, y) }
    }

  /** A short, order-insensitive digest of a result (for the report). */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => sortKey(r)).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

object Fs {
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).map(p => Files.size(p)).sum

  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(p => Files.delete(p))
      finally s.close()
    }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** Which side of an observed-row cutover a maintenance write took, read
  * from the files it left: graft's driver-direct writer names a file
  * `part-00000-<nanotime>.<ext>`, a distributed Spark write
  * `part-<task>-<uuid>-c000.<ext>`. Rows are the files' footer counts. */
object Writes {
  final case class Write(side: String, rows: Long, files: Int)

  private val Direct = """part-\d{5}-\d+\..*""".r
  private val Distributed = """part-\d{5}-[0-9a-f]{8}-[0-9a-f]{4}-.*""".r

  /** Data files under `root`, relative to it. */
  def listing(root: Path): Set[String] =
    Fs.files(root).map(p => root.relativize(p).toString)
      .filter { r =>
        val n = r.substring(r.lastIndexOf('/') + 1)
        n.startsWith("part-") && n.endsWith(".parquet")
      }.toSet

  /** Data files written under `root` since `before`, with their rows. */
  def added(root: Path, before: Set[String]): Seq[(String, Long)] =
    (listing(root) -- before).toSeq.sorted.map(r => r -> footerRows(root.resolve(r)))

  /** The first write among `added` under `prefix`: the files of the
    * earliest `<prefix>...` directory when the prefix names a family of
    * directories (`seg-`, `state-`), or every file under a `dir/` prefix. */
  def first(added: Seq[(String, Long)], prefix: String): Option[Write] = {
    val under = added.filter(_._1.startsWith(prefix))
    val group = (r: String) =>
      if (prefix.endsWith("/")) prefix else r.substring(0, r.indexOf('/', prefix.length))
    under.groupBy(f => group(f._1)).toSeq.sortBy(_._1).headOption.map { case (_, fs) =>
      val names = fs.map(f => f._1.substring(f._1.lastIndexOf('/') + 1))
      val side =
        if (names.forall(Direct.matches)) "driver-direct"
        else if (names.forall(Distributed.matches)) "distributed"
        else "mixed"
      Write(side, fs.map(_._2).sum, fs.size)
    }
  }

  private def footerRows(p: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }
}
