package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.DirectParquetIo
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source/sink surface (SURVEY.md §2.1).
  *
  * The runtime image carries no Delta/Kafka/POI jars (verified against
  * /opt/spark/jars), so:
  *  - Delta tables → [[ManagedParquetTable]]: parquet + a versioned
  *    commit log giving append/overwrite atomicity and a health check
  *    (S5-S11 semantics); every commit IS a Delta-protocol
  *    `_delta_log` entry, so real Delta readers resolve the same
  *    snapshots.
  *  - Kafka → the streaming module's source abstraction (raw value
  *    column; file-backed here, format("kafka") where available).
  *  - XLSX → [[XlsxSource]]: JDK-only zip+StAX reader, no POI (S16).
  */
object CsvSources {

  /** S14: dialect-sniffing CSV read — the reference's fallback ladder
    * (comma → semicolon → sniff → latin-1; gold/2test1.py:66-113) as a
    * bounded driver-side probe of the first lines, then ONE distributed
    * read with the winning dialect. */
  def readSniffed(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val probe = sniffDialect(spark, path)
    val r = spark.read
      .option("header", "true")
      .option("delimiter", probe.delimiter)
      .option("encoding", probe.encoding)
    schema.fold(r.option("inferSchema", "true"))(r.schema)
      .csv(path)
  }

  final case class Dialect(delimiter: String, encoding: String)

  /** Header-line heuristic: pick the delimiter that splits the first
    * line into the most fields; fall back to latin-1 when the bytes are
    * not valid UTF-8 (the reference's UnicodeDecodeError path). */
  def sniffDialect(spark: SparkSession, path: String): Dialect = {
    val firstLine = spark.read.textFile(path).limit(1).collect().headOption
    val utf8Ok = firstLine.isDefined
    val line = firstLine.getOrElse("")
    val delim = Seq(",", ";", "\t", "|")
      .maxBy(d => line.split(java.util.regex.Pattern.quote(d), -1).length)
    Dialect(delim, if (utf8Ok) "UTF-8" else "ISO-8859-1")
  }

  /** S15: utf-8-sig (BOM) and tab-with-empty-null dialects. */
  def readTsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("delimiter", "\t")
      .option("nullValue", "").option("inferSchema", "true").csv(path)

  /** S12/S13: CSV sinks — append batches vs single-file full dump. */
  def appendCsv(df: DataFrame, path: String): Unit =
    df.write.mode("append").option("header", "true").csv(path)
  def dumpCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}

/** The loud single-writer violation: another writer claimed the
  * version this commit was derived from (or raced it to the CAS).
  * Extends IllegalStateException so pre-existing handlers keep
  * working; typed so the ONE sanctioned reaction — [[ManagedParquetTable.append]]'s
  * blind-append auto-rebase — can retry exactly this failure and
  * nothing else (an IO error must never be "retried" into a double
  * publish). Read-modify-write commits (overwrite / delete / merge /
  * compact / dv) surface it to the caller: their staged result was
  * derived FROM the snapshot that just changed, so only the caller
  * can re-derive. */
final class ConcurrentWriteException(msg: String)
  extends IllegalStateException(msg)

/** Delta-semantics table on plain parquet: a delta-log-lite commit
  * protocol (S5-S10 semantics, reference gold/bronzeToGold.py:17-42).
  *
  * Layout: immutable parquet segment dirs (`seg-<nano>/`), one
  * `_delta_log/NNN.json` entry per commit (published put-if-absent —
  * the entry IS the commit, see [[commit]]) and a `_graft_manifest`
  * pointer caching the newest snapshot. Every write lands in a FRESH
  * segment, then its entry is published — so a concurrent reader
  * resolves either the old or the new snapshot, never a partial one
  * (old segments are never mutated and only reclaimed by an explicit
  * [[vacuum]], the Delta VACUUM analogue).
  *
  * Scale note: the manifest is O(commits), data files are plain parquet —
  * readers prune partitions/columns exactly as any parquet scan; at real
  * deployment Delta/Iceberg replace this class behind the same calls
  * (object stores swap the rename for a putIfAbsent/conditional-put). */
final class ManagedParquetTable(spark: SparkSession, val path: String) {
  import java.nio.file.{Files, Paths}
  import ManagedParquetTable.Snapshot

  private def manifest = Paths.get(path, "_graft_manifest")

  // ---- numbered log names ------------------------------------------------

  private val Json = ".json"
  private val Checkpoint = ".checkpoint.parquet"

  /** `NNN<suffix>` (twenty digits) in `dir`: a log entry or checkpoint
    * under `_delta_log`. */
  private def logFile(dir: java.nio.file.Path, v: Long, suffix: String = Json) =
    dir.resolve(f"$v%020d$suffix")

  /** The version a numbered log name carries — the one parser of the
    * names [[logFile]] builds. */
  private def logVersion(name: String, suffix: String = Json): Option[Long] =
    if (name.length == 20 + suffix.length && name.endsWith(suffix) &&
        name.take(20).forall(_.isDigit)) Some(name.take(20).toLong)
    else None

  /** (version, file) of every numbered `suffix` entry of `dir`,
    * unordered; a missing dir has none. */
  private def logEntries(dir: java.nio.file.Path,
      suffix: String = Json): Seq[(Long, java.nio.file.Path)] =
    GraftFs.list(dir).flatMap(p =>
      logVersion(p.getFileName.toString, suffix).map(_ -> p))

  /** The `"version"` field of the manifest pointer. */
  private def versionOf(json: String): Option[Long] =
    """"version":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)

  def exists: Boolean =
    Files.exists(manifest) || resolvedManifest().isDefined

  /** The committed manifest JSON and its version, resolved log-first:
    * `_graft_manifest` is a POINTER CACHE of the newest `_delta_log`
    * entry, whose commitInfo carries the same graft fields (entry n
    * commits manifest version n + 1). A writer that died between its
    * entry publish and the pointer rewrite leaves the pointer
    * one-or-more versions behind; the entries are authoritative, so
    * resolution walks forward from the pointer while the next entry
    * exists (one `Files.exists` in the common up-to-date case) and the
    * next successful commit heals the pointer. With no pointer (the
    * very first commit died before writing it) the newest entry is the
    * head. At EQUAL versions the pointer wins — a retention pass
    * ([[applyRetention]]) rewrites it in place at the same version
    * with reduced dv bookkeeping, which the entry does not see. */
  private def resolvedManifest(): Option[(Long, String)] = {
    var cur: Option[(Long, String)] =
      if (Files.exists(manifest)) {
        val s = Files.readString(manifest)
        Some((versionOf(s).getOrElse(0L), s))
      } else logEntries(deltaLogDir).map(_._1).maxOption.map(n => (n + 1, graftFields(n)))
    while (cur.exists { case (v, _) => Files.exists(logFile(deltaLogDir, v)) }) {
      val v = cur.get._1
      cur = Some((v + 1, graftFields(v)))
    }
    cur
  }

  /** The commitInfo line of log entry `n`, which holds the manifest
    * fields [[commit]] wrote into it (every field parser here is
    * field-extracting, so the line reads like a pointer). An entry
    * without them was not written by [[commit]] and fails loudly. */
  private def graftFields(n: Long): String = {
    val entry = Files.readString(logFile(deltaLogDir, n))
    entry.linesIterator.find(l => l.startsWith("""{"commitInfo":""") &&
        l.contains(""","graft":{"version":"""))
      .getOrElse(throw new IllegalStateException(
        s"log entry $n of $path carries no graft snapshot fields"))
  }

  /** Committed snapshot version (0 when the table does not exist yet).
    * Each append/overwrite/delete commit increments it by exactly one,
    * which lets writers detect whether an in-flight commit landed
    * before a crash (see BufferedFlushSink's recovery protocol).
    * ONE documented exception: a retention pass ([[vacuum]] with
    * `retainVersions`) rewrites the manifest IN PLACE at the same
    * version (mode "vacuum") — it changes only dv BOOKKEEPING
    * (dropping entries provably inert for every retained version),
    * never segments, schema, or any row a retained version can see,
    * so version-keyed caches of table CONTENT stay valid; only the
    * byte identity of the manifest is not version-stable. */
  def version: Long = snapshot().version

  private def snapshot(): Snapshot = resolvedManifest()
    .map { case (ver, s) => Snapshot(ver, arrayField(s, "segments")) }
    .getOrElse(Snapshot(0L, Seq.empty))

  /** A string-array field of the manifest JSON (empty if absent) — the
    * ONE parser of "segments" and of the dv arrays. */
  private def arrayField(s: String, name: String): Seq[String] =
    (s""""$name":\\[([^\\]]*)\\]""").r.findFirstMatchIn(s)
      .map(_.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** Deletion-vector entries ("logVer:dvDir:seg1;seg2" — the third
    * field records the segment dirs the entry's tombstones touch;
    * entries written before that upgrade lack it). Entries accumulate
    * across the table's life (bounded only by [[vacuum]]'s retention
    * horizon): an entry whose rows' files have since been rewritten or
    * dropped is inert (its (file, row) keys can never match a live
    * scan — segment names are nanotime-unique), and keeping it is what
    * lets [[readAt]] apply the tombstones that were active at ANY
    * retained historical version. The HOT read path never pays for
    * history: see [[liveDvEntries]]. The COMMIT path doesn't either:
    * entries live in `_graft_dvlog/` files the manifest only NAMES
    * (consolidated every [[DvlogConsolidateAt]] dv commits), so a
    * non-dv commit rewrites no dv history and a dv commit appends one
    * tiny file — manifest size tracks live segments, not CDC history. */
  private[graft] def dvEntries: Seq[String] = {
    val (inline, files) = dvState
    inline ++ files.flatMap(readDvlogFile)
  }

  /** Committed dv bookkeeping: (legacy inline entries, dvlog file
    * names). Inline entries exist only on manifests written before the
    * dvlog upgrade; the first dv commit or retention pass migrates
    * them into a consolidated dvlog file. */
  private def dvState: (Seq[String], Seq[String]) =
    resolvedManifest() match {
      case None => (Seq.empty, Seq.empty)
      case Some((_, s)) => (arrayField(s, "dvs"), arrayField(s, "dvfiles"))
    }

  private def dvlogDir = Paths.get(path, "_graft_dvlog")

  /** Consolidation cadence: a dv commit folding the named files into
    * one when their count reaches this keeps manifest-referenced dvlog
    * files O(1) — same shape as the delta log's checkpoint-10. */
  private val DvlogConsolidateAt = 10

  /** Entry lines of one committed dvlog file. A referenced-but-missing
    * file is corruption and fails loudly. */
  private def readDvlogFile(name: String): Seq[String] =
    Files.readString(dvlogDir.resolve(name)).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq

  /** Write entries to a fresh dvlog file; returns its name. Invisible
    * to readers until a manifest commit names it (a crash before that
    * leaves unreferenced garbage that [[vacuum]] reclaims). */
  private def writeDvlogFile(entries: Seq[String]): String = {
    Files.createDirectories(dvlogDir)
    val name = s"dv-${System.nanoTime()}.log"
    Files.writeString(dvlogDir.resolve(name), entries.mkString("\n"))
    name
  }

  /** Mark dvlog files just superseded by a consolidation/retention
    * rewrite: mtime = unreference time, so [[vacuum]]'s unreferenced-
    * dvlog sweep grants a reader holding the previous manifest the
    * full graceMs window — the same contract dropped segments get
    * (see [[commit]]'s segment touch). Never deleted on the commit
    * path: a reader that resolved the pre-consolidation manifest must
    * keep resolving these files. */
  private def touchDvlogFiles(names: Seq[String]): Unit =
    names.foreach(f => GraftFs.touch(dvlogDir.resolve(f)))

  /** Parsed dv entry. `touched` is None for legacy entries (unknown
    * touch set → conservatively treated as always-live). */
  private[io] final case class DvEntry(ver: Long, dir: String,
      touched: Option[Set[String]])

  private[io] def parseDv(e: String): DvEntry = {
    val parts = e.split(":", 3)
    DvEntry(parts(0).toLong, parts(1),
      if (parts.length < 3) None
      else Some(parts(2).split(";").filter(_.nonEmpty).toSet))
  }

  /** The dv entries that can still affect a scan of `segs`: an entry
    * whose recorded touch set no longer intersects them is INERT (its
    * (file, row) keys cannot match any scanned row — segment names are
    * nanotime-unique) and its sidecar is never opened. This is what
    * bounds scan cost by LIVE tombstones on a CDC-heavy table whose
    * manifest holds years of dv commits: rewrites (delete / merge /
    * compact / [[compactDeletes]]) retire entries from the hot path
    * automatically, while [[readAt]] alone consults the full
    * historical list. */
  private[graft] def liveDvEntries(segs: Seq[String]): Seq[String] =
    touchingDv(dvEntries, segs.toSet)

  /** [[liveDvEntries]] narrowed further to the segments of the given
    * table-relative files — for callers scanning a file subset. */
  private[io] def liveDvEntriesFor(relFiles: Seq[String]): Seq[String] =
    touchingDv(dvEntries, relFiles.map(_.split("/")(0)).toSet)

  /** Of `entries`, those whose touch set intersects `segs` (legacy
    * entries with no recorded touch set are conservatively kept). */
  private def touchingDv(entries: Seq[String],
      segs: Set[String]): Seq[String] =
    entries.filter(e => parseDv(e).touched.forall(_.exists(segs.contains)))

  /** Atomically publish a new snapshot and return its committed
    * version. `dv` replaces the dv bookkeeping (inline entries, dvlog
    * file names) when given; by default both carry forward VERBATIM —
    * no dv commit, no dv rewrite, so commit cost is O(live segments +
    * referenced dvlog names), never O(table history).
    *
    * The commit IS the Delta-protocol log entry `_delta_log/{base}.json`
    * ([[logEntry]]): its file actions, the tag as
    * commitInfo.userMetadata, and the manifest fields (version, mode,
    * segments, dvs, dvfiles, tag) inside commitInfo, which the protocol
    * leaves free-form.
    *
    * SELF-ENFORCING single-writer contract: `base` is the snapshot
    * the caller derived `segments` from (version 0 for a new table).
    * The entry is published put-if-absent on number `base`
    * ([[GraftFs.publish]] with `replace = false`; an object-store
    * deployment swaps in a conditional put) — that publish is the
    * compare-and-swap. Of two writers racing the same number exactly
    * one wins and the loser throws [[ConcurrentWriteException]] LOUDLY
    * with nothing published — which for a BLIND APPEND the engine
    * itself absorbs by rebasing onto the new head (see
    * [[commitBlindAppend]]); read-modify-write commits surface it to
    * the caller. Threading the caller's `base` (rather than re-reading
    * the head here) also catches the wider read-modify-write race where
    * another commit landed while this one was staging its segments.
    *
    * After the entry: the `_graft_manifest` pointer is rewritten as a
    * read cache, segments just dropped are touched, and every tenth
    * entry gets a checkpoint. A crash anywhere after the entry leaves a
    * committed version with a complete log entry; [[resolvedManifest]]
    * walks past a stale pointer. */
  private def commit(base: Snapshot, segments: Seq[String], mode: String,
      dv: Option[(Seq[String], Seq[String])] = None,
      tag: String = ""): Long = {
    Files.createDirectories(Paths.get(path))
    val cur = snapshot().version
    if (cur != base.version) throw new ConcurrentWriteException(
      s"concurrent writer detected at $path: this commit was derived " +
        s"from version ${base.version} but the table is now at $cur — " +
        "the single-writer contract is violated; nothing was published " +
        "(the table still serves the other writer's commit)")
    val ver = base.version + 1
    val (inline, dvFiles) = dv.getOrElse(dvState)
    val json = manifestJson(ver, mode, segments, inline, dvFiles, tag)
    // stable table id + last-emitted schema live in a sidecar.
    // Fallback for logs predating the sidecar: recover both from the
    // newest metaData action already in the log (keeps the table id
    // stable — Delta requires one id for the log's lifetime).
    val fromSidecar = readMetaSidecar()
    val (tableId, lastSchema) = fromSidecar.getOrElse(
      recoverMetaFromLog().getOrElse(
        (java.util.UUID.randomUUID().toString, "")))
    val schema = servedSchema(segments).json
    val emitMeta = base.version == 0 || schema != lastSchema
    val now = System.currentTimeMillis()
    val entry = logEntry(base.version, mode, base.segments, segments, tag,
      json, Option.when(emitMeta)((tableId, schema)), now)
    try GraftFs.publish(logFile(deltaLogDir, base.version), entry, replace = false)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentWriteException(
          s"concurrent writer detected at $path: version $ver was " +
            "claimed by another writer while this commit was being " +
            "prepared — the single-writer contract is violated; this " +
            "commit was NOT published (the table stays consistent)")
    }
    GraftFs.publish(manifest, json)
    // touch segments that just became unreferenced: vacuum's grace
    // window must run from the moment a reader could last have resolved
    // them (now), not from their creation time — else a long-lived
    // segment dies the instant it is dropped
    (base.segments.toSet -- segments.toSet).foreach(s => GraftFs.touch(Paths.get(path, s)))
    // periodic checkpoint: real Delta readers (and the reference's own
    // health probe, gold/bronzeToGold.py:17-42) expect _last_checkpoint
    // beyond ~10 commits so recovery is O(commits since checkpoint),
    // not O(log). Written AFTER the entry: a crash in between costs
    // only a missed checkpoint, never a dangling pointer.
    if (base.version > 0 && base.version % CheckpointInterval == 0)
      writeCheckpoint(base.version, tableId, schema, now, segments)
    // sidecar update AFTER the entry lands, and atomically: a crash in
    // between only re-emits a harmless duplicate metaData on the next
    // commit (a stale sidecar can never SUPPRESS one). Also (re)write
    // it when it was absent — a legacy table would otherwise re-scan
    // the whole log on EVERY commit
    if (emitMeta || fromSidecar.isEmpty)
      GraftFs.publish(metaSidecar, s"$tableId\n$schema")
    ver
  }

  private def manifestJson(ver: Long, mode: String, segments: Seq[String],
      inlineDvs: Seq[String], dvFiles: Seq[String],
      tag: String = ""): String =
    s"""{"version":$ver,"mode":"$mode","segments":[""" +
      segments.map("\"" + _ + "\"").mkString(",") +
      s"""],"dvs":[""" + inlineDvs.map("\"" + _ + "\"").mkString(",") +
      s"""],"dvfiles":[""" + dvFiles.map("\"" + _ + "\"").mkString(",") +
      // field emitted only when tagged: untagged commits keep the
      // pre-tag byte format (every parser here is field-extracting)
      (if (tag.isEmpty) "]}"
       else s"""],"tag":"${jsonEsc(tag)}"}""")

  /** Write df into a fresh immutable segment dir; return its name.
    * `rowsHint` is an OBSERVED row count when the caller has one (an
    * index maintainer's change-window size): at or under the small-write
    * gate the segment writes driver-direct (see
    * [[org.apache.spark.sql.graft.DirectParquetIo.write]]); every real
    * (unbounded) segment keeps the distributed write. */
  private def writeSegment(df: DataFrame, rowsHint: Long = -1L): String = {
    val seg = s"seg-${System.nanoTime()}"
    DirectParquetIo.write(df, s"$path/$seg", rowsHint, "overwrite")
    writeStatsSidecar(seg)
    seg
  }

  // ---- per-file statistics (file-skipping index) -------------------------

  private def statsDir = Paths.get(path, "_graft_stats")

  /** Footer-only statistics sweep of a freshly written segment, stored
    * as a tiny parquet sidecar (`_graft_stats/<seg>`): per (file,
    * column) min/max/nullCount — the same information real Delta puts
    * in `add.stats`. Collected from the parquet footers the writer
    * just produced, so no data page is ever read, and written on the
    * driver ([[FileStats.writeSidecar]]). */
  private def writeStatsSidecar(seg: String): Seq[FileStats.ColStats] = {
    val stats = segmentFiles(seg).flatMap { case (rel, _) =>
      FileStats.footerStats(spark, s"$path/$rel", rel)
    }
    FileStats.writeSidecar(spark, stats, statsDir.resolve(seg).toString, "overwrite")
    stats
  }

  /** S22: statistics-pruned read. Plans the scan over ONLY the files
    * whose footer min/max could satisfy `pred` (simple comparison
    * conjuncts; see [[FileStats.prunableConjuncts]]), then re-applies
    * the full predicate to the scanned rows — pruning can only drop
    * provably-dead files, never change the result. Returns the frame;
    * [[pruneFiles]] exposes the planning decision for tests/metrics. */
  def readWhere(pred: org.apache.spark.sql.Column): DataFrame = {
    val (kept, total) = pruneFiles(pred)
    readKept(pred, kept, total)
  }

  /** [[readWhere]] over the plan [[pruneFiles]] already made for `pred`. */
  private[graft] def readKept(pred: org.apache.spark.sql.Column,
      kept: Seq[String], total: Int): DataFrame =
    if (kept.isEmpty && total > 0) read().filter(pred).filter(lit(false))
    else if (kept.size == total) read().filter(pred)
    else scanPaths(kept.map(f => s"$path/$f"), liveDvEntriesFor(kept),
      keepPos = false).filter(pred)

  /** The live rows of the table-relative parquet `files` (as
    * [[pruneFiles]] names them) decoded on the driver
    * ([[DirectParquetIo.LocalFiles]]): their merged schema and each
    * file's rows in file order, minus the row positions its live
    * deletion vectors name — the rows [[scanPaths]] returns for them.
    * None when those deletion vectors do not pass
    * [[Cutovers.DvLocalBytes]]: the caller keeps its distributed scan.
    * Requires at least one file. */
  private[graft] def readLocal(files: Seq[String]):
      Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    val dvs = liveDvEntriesFor(files)
    val dead: Option[Set[(String, Long)]] =
      if (dvs.isEmpty) Some(Set.empty) else dvTombstones(dvDirs(dvs))._2.map(_.toSet)
    dead.map { d =>
      val local = new DirectParquetIo.LocalFiles(spark, files.map(Paths.get(path, _)))
      (local.schema, files.indices.flatMap(i =>
        local.rows(i, (pos, _) => !d((files(i), pos)))))
    }
  }

  /** (files kept after stats pruning, total live files). Both pruning
    * tiers evaluate DISTRIBUTEDLY over their sidecars and ship only
    * proven-dead file names to the driver — planning state is O(dead
    * files), never O(files × cols), at any table size. A file with no
    * stats rows (segment predating the sidecar, or a lost sidecar) is
    * simply never skipped; the bloom tier likewise only ever proves
    * absence (negative membership on an equality conjunct — blooms
    * have no false negatives). */
  def pruneFiles(pred: org.apache.spark.sql.Column): (Seq[String], Int) = {
    val segs = snapshot().segments
    require(segs.nonEmpty, s"no committed snapshot at $path")
    val files = segs.flatMap(segmentFiles).map(_._1)
    val conjuncts = FileStats.prunableConjuncts(read(), pred)
    if (conjuncts.isEmpty) return (files, files.size)
    val statsDirs = segs.map(s => statsDir.resolve(s))
      .filter(Files.isDirectory(_)).map(_.toString)
    val statsDead: Set[String] =
      if (statsDirs.isEmpty) Set.empty
      else FileStats.deadFiles(spark, statsDirs, conjuncts)
    val bloomDead = bloomDeadFiles(conjuncts)
    val kept = files.filter(f => !statsDead(f) && !bloomDead(f))
    (kept, files.size)
  }

  // leaf dir deliberately NOT underscore-prefixed (the parent hides it
  // from recursive root scans; an underscore LEAF would make Spark log
  // a spurious "All paths were ignored" on every sidecar read)
  private def bloomDir = Paths.get(path, "_graft_blooms", "idx")

  /** Bloom sidecar to probe: `idx/` when present, else the pre-idx
    * layout that wrote part files directly under `_graft_blooms` — a
    * table indexed by the older code keeps its skipping (instead of it
    * silently turning off) until [[buildBloomIndex]] re-runs. */
  private def bloomProbeDir: Option[java.nio.file.Path] = {
    if (Files.isDirectory(bloomDir)) return Some(bloomDir)
    val legacy = Paths.get(path, "_graft_blooms")
    if (Files.isDirectory(legacy) &&
        GraftFs.list(legacy).exists(_.getFileName.toString.endsWith(".parquet")))
      Some(legacy)
    else None
  }

  /** Per-(file, column) BLOOM file-skipping tier — the equality
    * complement of the min/max sidecar: after an overlapping ingest or
    * without clustering, every file's [min,max] can span the whole key
    * domain and range pruning keeps everything; a per-file Bloom of the
    * column's values still proves `col = v` dead for files that never
    * saw v (no false negatives — a negative probe is a proof). This is
    * Delta's bloom-filter index / parquet bloom in sidecar form.
    *
    * Opt-in and rebuilt by ONE table scan per call regardless of how
    * many columns are indexed (unlike the footer stats, values must
    * actually be read): a single distributed pass aggregates every
    * column's BloomFilterAggregate over xxhash64 per file, and the
    * (file, column, sketch) sidecar rows are shaped and written on the
    * executors — no sketch byte ever reaches the driver. Call after
    * (re)writes; files written later simply have no bloom and are
    * never skipped. */
  def buildBloomIndex(cols: Seq[String],
      expectedItemsPerFile: Long = 1L << 20, fpp: Double = 0.01): Unit = {
    require(cols.nonEmpty, "buildBloomIndex requires at least one column")
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{XxHash64, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val segs = snapshot().segments
    require(segs.nonEmpty, s"no committed snapshot at $path")
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItemsPerFile, fpp)
    val aggs = cols.map { c =>
      val agg = new BloomFilterAggregate(
        expression(column(new XxHash64(Seq(expression(col(c)))))),
        CatLit(expectedItemsPerFile), CatLit(numBits))
      column(agg.toAggregateExpression()).as(s"_bf_$c")
    }
    // group on the provenance column (input_file_name is undefined
    // through the dv anti-join); sketches then cover only LIVE rows,
    // so a fully-tombstoned value proves dead — correct skipping
    val perFile = scanSegments(segs, liveDvEntries(segs), keepPos = true)
      .groupBy(col("__graft_f").as("_rel"))
      .agg(aggs.head, aggs.tail: _*)
    val lcCols = cols.map(_.toLowerCase)
    val sidecarRows = perFile.rdd.flatMap { r =>
      val rel = r.getString(0)
      lcCols.indices.flatMap { i =>
        Option(r.getAs[Array[Byte]](i + 1)).map(sk => Row(rel, lcCols(i), sk))
      }
    }
    spark.createDataFrame(sidecarRows, bloomSchema)
      .coalesce(8).write.mode("overwrite").parquet(bloomDir.toString)
    // a rebuild retires any pre-idx-layout sidecar files lingering at
    // the legacy root (idx/ shadows them on probe, but leaving them
    // invites a stale fallback if idx/ is ever lost)
    GraftFs.list(Paths.get(path, "_graft_blooms"))
      .filterNot(Files.isDirectory(_))
      .foreach(Files.deleteIfExists(_))
  }

  private val bloomSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("col",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("sketch",
      org.apache.spark.sql.types.BinaryType, nullable = false)))

  /** Distributed bloom probe: the set of live files PROVEN dead for the
    * given conjuncts. Sketches are deserialized and probed on the
    * executors; only the (short) list of dead file names is collected —
    * the driver never materializes the sidecar, so probe memory is
    * O(dead files), not O(files × cols × numBits). A missing sidecar
    * skips nothing; an unreadable one throws, naming
    * [[buildBloomIndex]]. */
  private def bloomDeadFiles(
      conjuncts: Seq[FileStats.Conjunct]): String => Boolean = {
    val probes = conjuncts.filter(_.op == "=")
      .map(c => c.colName.toLowerCase -> FileStats.hashLiteral(c))
    val probeDir = bloomProbeDir
    if (probes.isEmpty || probeDir.isEmpty)
      return (_: String) => false
    val byCol = probes.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val byColBc = spark.sparkContext.broadcast(byCol)
    val dead: Set[String] =
      try spark.read.parquet(probeDir.get.toString)
        .filter(org.apache.spark.sql.functions.col("col")
          .isin(byCol.keys.toSeq: _*))
        .select("file", "col", "sketch")
        .rdd.flatMap { r =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
          val hashes = byColBc.value.getOrElse(r.getString(1), Nil)
          // negative membership on ANY equality conjunct proves absence
          if (hashes.exists(h => !bf.mightContainLong(h))) Some(r.getString(0))
          else None
        }.distinct().collect().toSet
      catch {
        case e: org.apache.spark.SparkException =>
          throw new IllegalStateException(s"bloom sidecar ${probeDir.get} is " +
            "unreadable; rebuild it with buildBloomIndex", e)
      }
    dead
  }

  /** Z-order layout shaping shared by clustered overwrite/compact. */
  private def clusterShape(df: DataFrame, zCols: Seq[String],
      numFiles: Int, bits: Int): DataFrame = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val zName = s"_graft_z_${System.nanoTime()}"
    df.withColumn(zName, ZOrder.zvalue(df, zCols, bits))
      .repartitionByRange(numFiles, col(zName))
      .sortWithinPartitions(zName)
      .select(df.columns.map(col): _*)
  }

  /** Z-order-clustered overwrite: range-partition on the interleaved
    * [[ZOrder.zvalue]] of `zCols` and sort within partitions, so each
    * of the ~`numFiles` output files covers a tight range in EVERY
    * clustered dimension — which is what makes the per-file min/max
    * index selective for [[readWhere]] on any of those columns. */
  def overwriteClustered(df: DataFrame, zCols: Seq[String],
      numFiles: Int, bits: Int = 12): Unit =
    overwrite(clusterShape(df, zCols, numFiles, bits))

  /** OPTIMIZE-style compaction: rewrite the CURRENT snapshot into
    * ~`targetFiles` files (z-ordered when `zCols` given) as one
    * commit. Readers of the pre-compaction snapshot keep their
    * immutable segments until vacuum; the log entry records the
    * rewrite with `dataChange: false` (per the Delta protocol, so
    * streaming readers of the log know no rows changed). The
    * small-file problem this solves is a first-order 100 TB concern:
    * a long-lived ingest writer produces one file per micro-batch, and
    * scan/listing cost degrades linearly with file count until
    * compacted. */
  def compact(targetFiles: Int = 1, zCols: Seq[String] = Nil,
      bits: Int = 12): Unit = {
    val snap = snapshot()
    require(snap.segments.nonEmpty, s"no committed snapshot at $path")
    val cur = read()
    val shaped =
      if (zCols.nonEmpty) clusterShape(cur, zCols, targetFiles, bits)
      else cur.repartition(targetFiles)
    commit(snap, Seq(writeSegment(shaped)), "compact")
  }

  /** S7: append tolerating evolving schemas (mergeSchema on read).
    * `tag` is the caller's idempotence mark (real Delta's
    * txn/appId device) so a crashed writer can later tell whether
    * THIS append committed — version arithmetic alone cannot
    * distinguish it from an unrelated commit (compact, merge) that
    * raced into the crash window. The tag lands in the commit's log
    * entry as commitInfo.userMetadata, so commit and tag are one
    * atomic publish. Returns the committed manifest version (1-based;
    * the commit's log entry number is this minus one) so a caller's
    * idempotence bookkeeping can name ITS OWN commit instead of re-reading
    * `version` after the fact — a re-read races any other commit
    * landing in between. */
  def append(df: DataFrame, tag: Option[String] = None,
      rowsHint: Long = -1L): Long = {
    commitBlindAppend(writeSegment(df, rowsHint), tag.getOrElse(""))
  }

  /** Optimistic-concurrency rebase for BLIND appends (Delta/Iceberg
    * OCC, the append-only special case): an append reads nothing from
    * the snapshot it lands on — its segment is staged before any head
    * is consulted — so when the CAS loses to a concurrent commit the
    * append is ALWAYS safe to re-derive as "new head's segments + my
    * segment" and re-CAS, whatever the interleaver was (another
    * append, an overwrite, a compaction: serializing this append
    * after it is a correct history in every case). The loop re-reads
    * the head fresh each attempt and retries ONLY the typed
    * [[ConcurrentWriteException]]; exactly-once holds because a lost
    * CAS by definition published nothing. Read-modify-write commits
    * get no such loop — their staged segments were derived FROM a
    * snapshot that is now stale, so they keep failing loudly.
    * Jittered backoff breaks symmetric races; the attempt bound turns
    * pathological contention (or a log-dir permission wall
    * masquerading as contention) into the loud failure rather than a
    * livelock. */
  private def commitBlindAppend(seg: String, tag: String): Long = {
    val MaxRebases = 64
    var attempt = 0
    while (true) {
      val snap = snapshot()
      try return commit(snap, snap.segments :+ seg, "append", tag = tag)
      catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt >= MaxRebases) throw new ConcurrentWriteException(
            s"blind-append rebase at $path gave up after $MaxRebases " +
              s"lost races — contention is pathological or the commit " +
              s"log dir is failing CAS for a non-race reason; last: " +
              e.getMessage)
          // full jitter, capped: desynchronizes herds without making
          // a quiet two-writer race pay a long sleep
          Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(1L + math.min(attempt.toLong * 4L, 64L)))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** See [[append]] for the tag and return-value contract. */
  def overwrite(df: DataFrame, tag: Option[String] = None,
      rowsHint: Long = -1L): Long = {
    val snap = snapshot()
    commit(snap, Seq(writeSegment(df, rowsHint)), "overwrite",
      tag = tag.getOrElse(""))
  }

  /** True iff some commit made at-or-after manifest version
    * `sinceVersion` carries `tag` (see [[append]]) in its log entry's
    * commitInfo.userMetadata, the tag's one home. Entry numbers are
    * 0-based while manifest versions are 1-based, so the first commit
    * AFTER manifest version V is entry V — the floor is an optimization
    * only (tags are unique); if log retention pruned the entry the
    * answer degrades to false and the caller re-does its work
    * (at-least-once), never loses it. An entry that vanishes between
    * the listing and its read counts as pruned; any other IO failure
    * throws. */
  def hasCommitTagged(tag: String, sinceVersion: Long): Boolean = {
    val needle = s""""userMetadata":"${jsonEsc(tag)}""""
    logEntries(deltaLogDir).exists { case (v, p) => v >= sinceVersion &&
      (try Files.readString(p).contains(needle)
       catch { case _: java.nio.file.NoSuchFileException => false }) }
  }

  def read(): DataFrame = {
    val segs = snapshot().segments
    require(segs.nonEmpty, s"no committed snapshot at $path")
    scanSegments(segs, liveDvEntries(segs), keepPos = false)
  }

  // ---- deletion vectors --------------------------------------------------

  private def dvRoot = Paths.get(path, "_graft_dv")

  /** Hidden per-row provenance columns used to apply deletion vectors:
    * table-relative file path + row position within the file. Both
    * sides of the tombstone join derive them with the SAME expressions,
    * so equality is representation-stable. */
  private def posCols: Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val abs = Paths.get(path).toAbsolutePath.toString
    Seq(
      "__graft_f" -> regexp_replace(col("_metadata.file_path"),
        "^(file:(//)?)?" + java.util.regex.Pattern.quote(abs) + "/", ""),
      "__graft_r" -> col("_metadata.row_index"))
  }

  /** Distinct table-relative files named by the given dv entries —
    * the files whose visibility a tombstone commit changed. Driver-
    * bounded by live file count, like every file list here. */
  private[io] def dvTouchedFiles(entries: Seq[String]): Seq[String] =
    touchedFiles(dvTombstones(dvDirs(entries)))

  private def dvDirs(entries: Seq[String]): Seq[java.nio.file.Path] =
    entries.map(e => dvRoot.resolve(parseDv(e).dir))

  /** Tombstone sidecar dirs as (__graft_f, __graft_r), read once: the
    * frame, and its (file, row) pairs when it was read driver-side.
    * Sidecars passing the [[Cutovers.DvLocalBytes]] gate (the common
    * case — dv commits are O(matched rows) and compactDeletes folds
    * them) load as a LocalRelation, so an anti-join broadcasts them
    * WITHOUT the broadcast-build Spark job a parquet-scan child needs;
    * larger sets keep the distributed scan. */
  private def dvTombstones(dirs: Seq[java.nio.file.Path]):
      (DataFrame, Option[Seq[(String, Long)]]) =
    DirectParquetIo.read(spark, dirs, Cutovers.DvLocalBytes) match {
      case Some(local) =>
        val frame = local.toDF("__graft_f", "__graft_r")
        (frame, Some(frame.collect().map(r => (r.getString(0), r.getLong(1))).toSeq))
      case None =>
        (spark.read.parquet(dirs.map(_.toString): _*).toDF("__graft_f", "__graft_r"), None)
    }

  /** Distinct files of a tombstone set: from its pairs when it was read
    * driver-side (no Spark job), else a distributed distinct. */
  private def touchedFiles(dv: (DataFrame, Option[Seq[(String, Long)]])): Seq[String] =
    dv._2.map(_.map(_._1).distinct).getOrElse(dv._1.select("__graft_f").distinct()
      .collect().map(_.getString(0)).toSeq).sorted

  /** Scan segment dirs with deletion vectors applied (anti-join on the
    * (file, row) tombstone set — AQE broadcasts it when small). With
    * `keepPos` the provenance columns stay in the output. */
  private[io] def scanSegments(segs: Seq[String], dvs: Seq[String],
      keepPos: Boolean): DataFrame =
    scanPaths(segs.map(s => s"$path/$s"), dvs, keepPos)

  /** As [[scanSegments]] for explicit file/dir paths under the table. */
  private[io] def scanPaths(paths: Seq[String], dvs: Seq[String],
      keepPos: Boolean): DataFrame = {
    val base = spark.read
      .schema(ManagedParquetTable.footerMergedSchema(spark, paths))
      .parquet(paths: _*)
    if (dvs.isEmpty && !keepPos) return base
    val withPos = posCols.foldLeft(base) { case (df, (n, c)) =>
      df.withColumn(n, c)
    }
    val filtered =
      if (dvs.isEmpty) withPos
      else dvTombstones(dvDirs(dvs)) match {
        case (_, Some(pairs))
            if pairs.size <= Cutovers.LiteralPredicateMaxEntries =>
          // a TINY tombstone set applies as a row-local literal
          // predicate — no join node, no broadcast build (even a
          // LocalTableScan broadcast child submits a collect job), no
          // exchange for AQE to materialize. Strictly equivalent to
          // the anti-join: drop a row iff its (file, row) pair is
          // tombstoned (try_element_at → null on an untouched file →
          // coalesce keeps the row). The entry gate bounds the
          // per-row probe cost (GetMapValue is a linear scan): above
          // it the hash-building anti-join below stays the plan.
          import org.apache.spark.sql.functions.{array_contains, coalesce, not, try_element_at}
          import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StringType}
          val byFile = pairs.groupBy(_._1).view
            .mapValues(_.map(_._2)).toMap
          val mLit = org.apache.spark.sql.graft.ColumnBridge.column(
            org.apache.spark.sql.catalyst.expressions.Literal.create(
              byFile, MapType(StringType,
                ArrayType(LongType, containsNull = false),
                valueContainsNull = false)))
          withPos.filter(not(coalesce(
            array_contains(try_element_at(mLit, col("__graft_f")),
              col("__graft_r")),
            lit(false))))
        case (dvFrame, _) =>
          withPos.join(dvFrame, Seq("__graft_f", "__graft_r"), "left_anti")
      }
    if (keepPos) filtered else filtered.drop("__graft_f", "__graft_r")
  }

  /** DELETE as row tombstones — the deletion-vector form: ONE scan
    * finds the doomed (file, row) positions, which persist as a tiny
    * sidecar the read path anti-joins; NO segment is rewritten, ever.
    * This is the scattered-delete answer [[deleteWhere]] cannot give
    * (a predicate touching every file forces it to rewrite the whole
    * table — exactly real Delta without deletion vectors): cost is
    * O(matched rows), not O(table). Reads, time travel, the change
    * feed and downstream rewrites all honor the tombstones; a
    * rewriting commit (delete/merge/compact/overwrite) reads through
    * them, so its output has the tombstoned rows physically removed
    * and the then-inert entries are kept only for time travel. A
    * delete matching nothing commits nothing. NULL predicates follow
    * SQL DELETE (only IS TRUE deletes). */
  def deleteWhereDV(condition: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    deleteDVCore(_.filter(coalesce(condition, lit(false))))
  }

  /** Key-set DV delete: tombstone every row whose key appears in
    * `keys` — [[deleteMatching]]'s semantics at [[deleteWhereDV]]'s
    * cost, the shape a STREAMING CDC delete needs (a micro-batch of
    * scattered tombstones must not rewrite the table it trickles
    * into). Semi-join, never collected; O(matched rows) like every
    * dv commit. */
  def deleteMatchingDV(keys: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "deleteMatchingDV requires at least one key column")
    import org.apache.spark.sql.functions.col
    val k = keys.select(keyCols.map(col): _*)
    deleteDVCore(_.join(k, keyCols, "left_semi"))
  }

  /** Shared dv-delete core; `doomed` must be a pure row filter. */
  private def deleteDVCore(doomed: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot()
    val segs = snap.segments
    require(segs.nonEmpty, s"no committed snapshot at $path")
    val doomedRows = doomed(scanSegments(segs, liveDvEntries(segs),
        keepPos = true))
      .select(col("__graft_f"), col("__graft_r"))
    // ONE evaluation of the doomed subtree: write it, then answer the
    // match-nothing probe from the written sidecar's FOOTERS (driver
    // metadata read, no job) — the previous isEmpty pre-probe ran the
    // whole scan+filter/semi-join subtree a second time per dv commit.
    // A crash between this write and the commit below leaves an
    // unreferenced dv dir — the same garbage class the pre-probe
    // ordering already produced (the dir was always written before the
    // commit referenced it); vacuum's unreferenced sweep owns it.
    Files.createDirectories(dvRoot)
    val dir = s"dv-${System.nanoTime()}"
    val dvDirPath = Paths.get(path, "_graft_dv", dir)
    doomedRows.write.mode("overwrite").parquet(s"$path/_graft_dv/$dir")
    // the touched segments are recorded in the entry so later reads
    // can prove it inert once every one of them is rewritten/dropped;
    // the same size-gated read as every tombstone consumer (no job per
    // dv commit in the common small-tombstone case)
    val doomedSet = dvTombstones(Seq(dvDirPath))
    if (doomedSet._2.exists(_.isEmpty)) {
      // delete matched nothing: commit nothing (the contract), drop
      // the empty sidecar dir
      GraftFs.delete(dvDirPath)
      return
    }
    val touched = touchedFiles(doomedSet).map(_.split("/")(0)).distinct
    // the entry records the LOG entry number this commit creates (log
    // entries are 0-based and count manifest commits), so readAt can
    // scope tombstones to any historical version
    val logVer = snap.version // = this commit's log entry no.
    val entry = s"$logVer:$dir:${touched.mkString(";")}"
    // the entry rides a fresh dvlog file the commit NAMES — never the
    // manifest body, so a CDC-heavy table's commit never rewrites its
    // dv history. At the consolidation cadence (or on the first dv
    // commit after a legacy inline-dvs manifest) all named files fold
    // into one, keeping the referenced-file list O(1); the superseded
    // files are NOT deleted here — a concurrent reader holding the
    // pre-consolidation manifest still resolves them — they are only
    // mtime-touched (unreference time, mirroring commit's segment
    // touch) and left for vacuum's unreferenced-dvlog sweep, which
    // applies the same graceMs contract segments get.
    val (inline, dvFiles) = dvState
    // the commit tag (graft-dv:<dir>) is the log entry's
    // userMetadata: the entry has no file actions (see
    // [[logEntry]]), so it is how a graft-aware replay
    // (tools/DeltaLogReplay) finds the tombstones to apply
    val consolidate = inline.nonEmpty || dvFiles.size >= DvlogConsolidateAt
    val named =
      if (consolidate) Seq(writeDvlogFile(inline ++ dvFiles.flatMap(readDvlogFile) :+ entry))
      else dvFiles :+ writeDvlogFile(Seq(entry))
    commit(snap, segs, "delete-dv", Some((Seq.empty, named)), tag = s"graft-dv:$dir")
    if (consolidate) touchDvlogFiles(dvFiles)
  }

  /** REORG-style tombstone purge: rewrite every live segment whose
    * tombstoned-row fraction reaches `threshold`, folding its deletion
    * vectors into a physical rewrite (one commit). The rewritten
    * segments' dv entries drop out of [[liveDvEntries]] automatically
    * — after a purge the hot read path anti-joins ONLY tombstones of
    * still-live segments, so scan cost tracks live deletes, not table
    * history ([[readAt]] keeps the full list). The log entry carries
    * the remove+add actions with dataChange=false (the logical content
    * is unchanged), which is also where a footer-based external replay
    * re-converges with reality for rows it could not see leave
    * (a reader-v1 log carries no dv file actions).
    * Returns the number of segments rewritten. */
  def compactDeletes(threshold: Double = 0.3): Int = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    import org.apache.spark.sql.functions.{col, count, lit, split}
    val snap = snapshot()
    val segs = snap.segments
    if (segs.isEmpty) return 0
    val live = liveDvEntries(segs)
    if (live.isEmpty) return 0
    // tombstones per segment (sidecars are tiny; one distributed pass)
    val tombs = dvTombstones(dvDirs(live))._1
      .groupBy(split(col("__graft_f"), "/").getItem(0).as("seg"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // physical rows per candidate segment from parquet FOOTERS only
    val affected = segs.filter { s =>
      val tn = tombs.getOrElse(s, 0L)
      tn > 0 && {
        val rows = footerRows(segmentFiles(s).map(_._1))
        rows > 0 && tn.toDouble / rows >= threshold
      }
    }
    if (affected.isEmpty) return 0
    val survivors = scanSegments(affected, live, keepPos = false)
    val kept = segs.filterNot(affected.contains)
    // a fully-tombstoned segment set still commits one (possibly
    // empty) segment when nothing else remains, keeping the schema
    val seg = Option.when(!survivors.isEmpty || kept.isEmpty)(writeSegment(survivors))
    commit(snap, kept ++ seg, "reorg")
    affected.size
  }

  /** Footer-observed UPPER BOUND on this table's live row count: the
    * committed snapshot's file row counts summed (dv tombstones only
    * shrink the true count). Driver metadata read, no job; None when
    * there is no snapshot. An unreadable footer throws. */
  def liveRowBound: Option[Long] = Some(snapshot()).filter(_.version > 0)
    .map(s => footerRows(s.segments.flatMap(segmentFiles).map(_._1)))

  /** Footer-only row count of table-relative parquet files or dirs. */
  private def footerRows(rels: Seq[String]): Long =
    DirectParquetIo.parquetRowCount(spark, rels.map(Paths.get(path, _)))

  /** S10: healthy = manifest present, readable, non-empty. Only the
    * corruption [[repair]] moves aside reads as unhealthy — a segment
    * dir the manifest names is gone, or a data file is missing or does
    * not read; any other failure (a cancelled job, a transient fault)
    * propagates, so a healthy table is never moved aside. */
  def isHealthy: Boolean =
    try exists && read().limit(1).count() > 0
    catch { case e: Exception if unreadable(e) => false }

  /** Whether `e` is a missing or unreadable file: Spark's missing path
    * or failed file read, or an IO failure anywhere in its causes. */
  private def unreadable(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.IOException => true
      case s: org.apache.spark.SparkThrowable => Option(s.getCondition).exists(c =>
        c == "PATH_NOT_FOUND" || c.startsWith("FAILED_READ_FILE") ||
          c == "CANNOT_READ_FILE_FOOTER")
      case _ => false
    }

  /** S10 repair: corrupted table moved aside, fresh state. */
  def repair(): Unit = if (!isHealthy && Files.exists(Paths.get(path))) {
    GraftFs.move(Paths.get(path),
      Paths.get(path + s".corrupted.${System.currentTimeMillis()}"))
  }

  /** Telemetry-driven maintenance recommendations for THIS table — the
    * busiest artifact finally gets the same policy surface its derived
    * indexes got (`InvertedIndex.maintenancePlan`,
    * `IncrementalIvfPqIndex.maintenancePlan`): one
    * [[MaintenanceAction]] per threshold crossed, empty when the table
    * needs nothing, so compact / compactDeletes / vacuum cadence is a
    * measured decision instead of the operator's guesswork. Every
    * signal is metadata-only — manifest resolution, directory listings,
    * and parquet FOOTER row counts (the same cost class
    * [[compactDeletes]]' own planning pays; no data page is ever read),
    * and the footer sweeps only run when a cheaper listing says they
    * could matter (a delete-free table pays pure listings). An
    * unreadable table (manifest naming segment dirs that are gone)
    * preempts as the only row: sizing signals over a table in doubt
    * are garbage. */
  def maintenancePlan(
      policy: TableMaintenancePolicy = TableMaintenancePolicy()):
      Seq[MaintenanceAction] = {
    val Snapshot(ver, segs) = snapshot()
    if (ver == 0) return Seq.empty // nothing committed: no upkeep
    // corruption preempts as the only row (metadata-only check: a
    // manifest naming a segment dir that is gone means the snapshot
    // cannot read — no sizing signal over it is trustworthy)
    val missingSegs = segs.count(s => !Files.isDirectory(Paths.get(path, s)))
    if (missingSegs > 0)
      return Seq(MaintenanceAction("repair", "missing_segments",
        missingSegs.toLong, 0L, 0L,
        s"$missingSegs live segment dir(s) named by the manifest are " +
          "gone; repair() moves the table aside"))
    val out = Seq.newBuilder[MaintenanceAction]
    // live-file pressure: count + small-file histogram from the
    // segment listings (sizes come with the listing; no file opened)
    val files = segs.flatMap(segmentFiles)
    val nFiles = files.size
    val small = files.count(_._2 < policy.smallFileBytes)
    val smallPerm = if (nFiles == 0) 0L else 1000L * small / nFiles
    if (nFiles >= policy.maxLiveFiles ||
        (nFiles > 1 && smallPerm >= policy.maxSmallFilePermille)) {
      val totalBytes = files.map(_._2).sum
      val target = math.max(1L,
        (totalBytes + policy.targetFileBytes - 1) / policy.targetFileBytes)
      if (target < nFiles)
        out += MaintenanceAction("compact", "live_files", nFiles.toLong,
          if (nFiles >= policy.maxLiveFiles) policy.maxLiveFiles.toLong
          else policy.maxSmallFilePermille, target,
          s"$nFiles live files ($smallPerm‰ under " +
            s"${policy.smallFileBytes} B); every scan plan, stats " +
            s"prune, and footer sweep pays per file — compact to " +
            s"~$target files of ~${policy.targetFileBytes} B")
    }
    // tombstone pressure: entry count from the manifest alone; the
    // footer sweep (dv rows / live rows) runs only when entries exist
    val liveDv = liveDvEntries(segs)
    if (liveDv.nonEmpty) {
      val dvRows = footerRows(liveDv.map(parseDv).map(_.dir).distinct
        .map(d => s"_graft_dv/$d"))
      val liveRows = footerRows(files.map(_._1))
      val perm = if (liveRows == 0) 1000L else 1000L * dvRows / liveRows
      if (liveDv.size >= policy.maxLiveDvEntries ||
          perm >= policy.maxTombstonePermille)
        out += MaintenanceAction("compactDeletes",
          if (liveDv.size >= policy.maxLiveDvEntries) "live_dv_entries"
          else "tombstone_permille",
          if (liveDv.size >= policy.maxLiveDvEntries) liveDv.size.toLong
          else perm,
          if (liveDv.size >= policy.maxLiveDvEntries)
            policy.maxLiveDvEntries.toLong
          else policy.maxTombstonePermille, 0L,
          s"${liveDv.size} live dv entries / $dvRows tombstoned rows " +
            s"($perm‰ of $liveRows physical): every scan opens each " +
            "entry's sidecar and reads-then-drops the dead rows")
    }
    // reclaimable dead weight: everything vacuum() would delete today
    // (grace elided — the plan reports pressure, vacuum enforces age)
    val liveSet = segs.toSet
    val staleSegs = GraftFs.list(Paths.get(path))
      .map(_.getFileName.toString)
      .count(n => n.startsWith("seg-") && !liveSet(n))
    val (_, refFiles) = dvState
    val refSet = refFiles.toSet
    val staleDvlog = GraftFs.list(dvlogDir)
      .count(p => !refSet(p.getFileName.toString))
    val refDvDirs = dvEntries.map(parseDv(_).dir).toSet
    val staleDvDirs = GraftFs.list(dvRoot)
      .count(p => !refDvDirs(p.getFileName.toString))
    val stale = staleSegs + staleDvlog + staleDvDirs
    if (stale >= policy.maxStaleObjects)
      out += MaintenanceAction("vacuum", "stale_objects", stale.toLong,
        policy.maxStaleObjects.toLong, 0L,
        s"$staleSegs dead segment dirs + ${staleDvlog + staleDvDirs} " +
          "orphaned dv artifacts: unreferenced weight every listing " +
          "walks past")
    out.result()
  }

  /** W1's DELETE shape, narrowed to the segments that actually contain
    * matching rows (real Delta's file-granular copy-on-write): one scan
    * finds the hit files, only THEIR segments are rewritten, and a
    * segment whose rows all match is dropped from the snapshot with no
    * rewrite at all. Untouched segments stay live under their original
    * identity — what keeps downstream file-diff consumers (change feed
    * s27, incremental MV refresh) O(delta). A scattered predicate still
    * rewrites everything, exactly as real Delta without deletion
    * vectors; an aligned/ranged one touches only what it must. A delete
    * matching nothing commits nothing. Rows where the predicate is
    * NULL survive (SQL DELETE semantics: only condition IS TRUE
    * deletes). The scan reads the old snapshot's immutable segments
    * while writing the new one, so concurrent readers stay consistent
    * throughout. */
  def deleteWhere(condition: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val doomed = coalesce(condition, lit(false))
    deleteCore(_.filter(doomed), _.filter(not(doomed)))
  }

  /** Shared narrow-delete core. `doomed` selects the rows to delete,
    * `survivors` their complement; both must be pure row filters. */
  private def deleteCore(doomed: DataFrame => DataFrame,
      survivors: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot()
    val prev = snap.segments
    require(prev.nonEmpty, s"no committed snapshot at $path")
    val dvs = liveDvEntries(prev)
    // one scan, bounded output: at most one rel path per live data file
    // (position columns, not input_file_name: the latter is undefined
    // through the deletion-vector anti-join)
    val hitFiles = doomed(scanSegments(prev, dvs, keepPos = true))
      .select(col("__graft_f")).distinct()
      .collect().map(_.getString(0)).toSet
    val affected = prev.filter(seg => hitFiles.exists(_.startsWith(s"$seg/")))
    if (affected.isEmpty) return // nothing matched: no commit, no rewrite
    // rewrite reads THROUGH the tombstones: a dv-deleted row of an
    // affected segment must never be resurrected by the survivor copy
    val affectedRead = scanSegments(affected, dvs, keepPos = false)
    val surv = survivors(affectedRead)
    // a fully-matched segment set with no survivors still commits one
    // empty segment so the table keeps a readable schema
    val seg = Option.when(!surv.isEmpty || affected == prev)(writeSegment(surv))
    commit(snap, prev.filterNot(affected.contains) ++ seg, "delete")
  }

  /** Delta-style MERGE (upsert): rows of `updates` REPLACE current rows
    * sharing their key; update rows with no current match INSERT. The
    * whole statement is one atomic commit — readers see the old
    * snapshot until the new one swaps in, exactly like overwrite.
    * Column contract: `updates` has the table's schema (whenMatched
    * update-all + whenNotMatched insert-all semantics, the common Delta
    * MERGE form). NARROWED like [[deleteWhere]] (real Delta's
    * file-granular copy-on-write): one scan finds the files holding
    * matched keys, only THEIR segments rewrite — survivors (read
    * through any tombstones) land in the same fresh segment as the
    * updates, untouched segments keep their identity. A micro-batch
    * upsert into a 100 TB table therefore costs O(matched files +
    * batch), not O(table) — and downstream file-diff consumers (change
    * feed, incremental MV refresh) stay O(delta). */
  def merge(updates: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    import org.apache.spark.sql.functions.col
    val snap = snapshot()
    val prev = snap.segments
    require(prev.nonEmpty, s"no committed snapshot at $path")
    val dvs = liveDvEntries(prev)
    val k = updates.select(keyCols.map(col): _*)
    // one scan, bounded output: at most one rel path per live file
    val hitFiles = scanSegments(prev, dvs, keepPos = true)
      .join(k, keyCols, "left_semi")
      .select(col("__graft_f")).distinct()
      .collect().map(_.getString(0)).toSet
    val affected = prev.filter(seg => hitFiles.exists(_.startsWith(s"$seg/")))
    val kept = prev.filterNot(affected.contains)
    val merged =
      if (affected.isEmpty) updates
      else scanSegments(affected, dvs, keepPos = false)
        .join(k, keyCols, "left_anti")
        // allowMissingColumns: the affected segments may predate a
        // schema evolution (S7) — survivors null-fill columns only the
        // updates carry, and vice versa, instead of failing the merge
        .unionByName(updates, allowMissingColumns = true)
    commit(snap, kept :+ writeSegment(merged), "merge")
  }

  /** Key-set delete: remove every row whose key appears in `keys` —
    * the DELETE half of a CDC apply. Semi/anti-join, not isin: the key
    * set is a DataFrame of any size, never collected to the driver.
    * Narrowed like [[deleteWhere]]: only segments holding matched keys
    * rewrite; one atomic commit. */
  def deleteMatching(keys: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "deleteMatching requires at least one key column")
    import org.apache.spark.sql.functions.col
    val k = keys.select(keyCols.map(col): _*)
    deleteCore(_.join(k, keyCols, "left_semi"),
      _.join(k, keyCols, "left_anti"))
  }

  // ---- Delta-protocol commit log -----------------------------------------

  /** Every commit is a Delta-protocol transaction-log entry under
    * `_delta_log/` (ECMA-404 JSON actions per the public Delta
    * protocol: protocol + metaData at version 0, add/remove per commit,
    * relative data-file paths) — so a real Delta reader pointed at the
    * table root resolves the same snapshots this class serves. The
    * runtime image carries no delta jar (verified), so conformance is
    * asserted structurally in IoSpec rather than via a reader round-trip:
    * contiguous versions, every live file added exactly once, overwrites
    * remove the full prior snapshot. */
  private def deltaLogDir = Paths.get(path, "_delta_log")

  /** (relative path, size bytes) of a segment's parquet data files. */
  private def segmentFiles(seg: String): Seq[(String, Long)] = {
    val segDir = Paths.get(path, seg)
    GraftFs.list(segDir)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => (s"$seg/${p.getFileName}", Files.size(p)))
      .sortBy(_._1)
  }

  private def jsonEsc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def metaSidecar = deltaLogDir.resolve(".graft_table_meta")

  /** (table id, last-emitted schema) from the log's meta sidecar. */
  private def readMetaSidecar(): Option[(String, String)] =
    if (!Files.exists(metaSidecar)) None
    else {
      val ls = Files.readString(metaSidecar).split("\n", 2)
      Some((ls(0), if (ls.length > 1) ls(1) else ""))
    }

  /** Inverse of [[jsonEsc]] (handles every escape it emits). */
  private def jsonUnesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'
          case '\\' => sb += '\\'
          case 'n' => sb += '\n'
          case 'r' => sb += '\r'
          case 't' => sb += '\t'
          case 'u' =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 4
          case o => sb += o
        }
        i += 2
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** The schema [[read]] serves over `segs`: their footer-merged schema
    * (the per-path cache [[scanPaths]] plans with), relaxed to nullable
    * as a Spark file scan reports it. */
  private def servedSchema(segs: Seq[String]): StructType =
    org.apache.spark.sql.graft.SchemaBridge.asNullable(
      ManagedParquetTable.footerMergedSchema(spark, segs.map(s => s"$path/$s")))

  /** Log entry `n`: the commit of mode `mode` and tag `tag` that took
    * the table from segments `prev` to `segs` (manifest version n + 1;
    * manifest versions are 1-based, entry numbers 0-based). The ONE
    * builder of log entries, called by [[commit]] with the number it is
    * about to claim. The entry holds:
    *  - remove/add actions from the segment diff;
    *  - the tag as commitInfo.userMetadata (the append's idempotence
    *    mark; a dv delete's `graft-dv:<dir>` sidecar pointer);
    *  - the manifest JSON `graft` as commitInfo.graft, which
    *    [[resolvedManifest]] reads back;
    *  - a dv delete (`delete-dv`) as op DELETE with no file actions: the
    *    protocol's DV form needs reader-version-3 features and this
    *    log stays at reader v1, so external FILE-level replays see
    *    an unchanged file set, while the userMetadata lets a graft-aware
    *    replay (tools/DeltaLogReplay) apply the tombstones;
    *  - `dataChange=false` for the physical rewrites (compact, reorg);
    *  - a metaData action with `meta` (table id, schema) when given:
    *    entry 0, and every commit whose [[servedSchema]] differs from
    *    the last-emitted one, so a Delta reader resolving the LATEST
    *    metaData sees every evolved column. */
  private def logEntry(n: Long, mode: String, prev: Seq[String],
      segs: Seq[String], tag: String, graft: String,
      meta: Option[(String, String)], now: Long): String = {
    val added = segs.filterNot(prev.contains).flatMap(segmentFiles)
    val removed = prev.filterNot(segs.contains).flatMap(segmentFiles).map(_._1)
    val dataChange = mode != "compact" && mode != "reorg"
    val op = if (mode == "delete-dv") "delete" else mode
    val sb = new StringBuilder
    if (n == 0)
      sb ++= s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}\n"""
    meta.foreach { case (tableId, schema) =>
      sb ++= s"""{"metaData":{"id":"$tableId",""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${jsonEsc(schema)}",""" +
        s""""partitionColumns":[],"configuration":{},""" +
        s""""createdTime":$now}}\n"""
    }
    val um = if (tag.isEmpty) "" else s""","userMetadata":"${jsonEsc(tag)}""""
    sb ++= s"""{"commitInfo":{"timestamp":$now,"operation":"${op.toUpperCase}"$um,""" +
      s""""graft":$graft}}\n"""
    removed.foreach { f =>
      sb ++= s"""{"remove":{"path":"${jsonEsc(f)}","deletionTimestamp":$now,""" +
        s""""dataChange":$dataChange}}\n"""
    }
    added.foreach { case (f, size) =>
      sb ++= s"""{"add":{"path":"${jsonEsc(f)}","partitionValues":{},""" +
        s""""size":$size,"modificationTime":$now,"dataChange":$dataChange}}\n"""
    }
    sb.toString
  }

  /** Checkpoint cadence in commits (Delta's own default is 10). */
  private val CheckpointInterval = 10

  /** Delta-protocol checkpoint: ONE parquet file holding the full
    * reconstructed state at `version` (protocol + metaData + one add
    * per live data file), plus the `_last_checkpoint` pointer. Live
    * state is the segment set `segs` the commit just published, so no
    * log replay is needed to produce it. */
  private def writeCheckpoint(version: Long, tableId: String,
      schemaJson: String, now: Long, segs: Seq[String]): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val ckptSchema = StructType(Seq(
      StructField("protocol", protoType),
      StructField("metaData", metaType),
      StructField("add", addType)))
    val live = segs.flatMap(segmentFiles)
    val empty = Map.empty[String, String]
    val rows: Seq[Row] =
      Row(Row(1, 2), null, null) +:
      Row(null, Row(tableId, Row("parquet", empty), schemaJson,
        Seq.empty[String], empty, now), null) +:
      live.map { case (p, sz) =>
        Row(null, null, Row(p, empty, sz, now, true)) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), ckptSchema)
    // Delta expects ONE file named NNN.checkpoint.parquet: write via a
    // temp dir, then move the single part file into place atomically
    val tmpDir = deltaLogDir.resolve(s".ckpt.tmp.${System.nanoTime()}")
    df.write.mode("overwrite").parquet(tmpDir.toString)
    val part = GraftFs.list(tmpDir)
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("checkpoint write produced no parquet"))
    GraftFs.move(part, logFile(deltaLogDir, version, Checkpoint), replace = true)
    GraftFs.delete(tmpDir)
    GraftFs.publish(deltaLogDir.resolve("_last_checkpoint"),
      s"""{"version":$version,"size":${rows.size}}""")
  }

  /** Live data-file paths resolved exactly the way a real Delta reader
    * would: `_last_checkpoint` → checkpoint parquet state, then replay
    * ONLY the JSON commits after the checkpoint version. The hot read
    * path stays on the manifest; this exists to prove (IoSpec deletes
    * every pre-checkpoint commit file and resolution still succeeds)
    * that recovery cost is bounded by the checkpoint cadence, not the
    * log length. */
  def deltaSnapshotFiles(): Seq[String] = deltaSnapshotFiles(None)

  /** As above, bounded at `asOfVersion` (inclusive) when given — the
    * TIME-TRAVEL resolver: the state is reconstructed from the newest
    * checkpoint at or before the target plus the commits up to it.
    * Fails loudly (rather than silently under-resolving) when the
    * needed commit files are gone — time travel is bounded by log and
    * segment retention, exactly as in real Delta. */
  def deltaSnapshotFiles(asOfVersion: Option[Long]): Seq[String] = {
    // newest checkpoint at or before the target, by LISTING checkpoint
    // files (what real Delta does) rather than trusting only the
    // `_last_checkpoint` pointer: after log retention the commits
    // before some historical checkpoint are gone, and a time travel
    // below the newest checkpoint must seed from an intermediate one
    // instead of replaying from version 0
    val ckptVer: Option[Long] = logEntries(deltaLogDir, Checkpoint).map(_._1)
      .filter(v => asOfVersion.forall(v <= _))
      .maxOption
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    ckptVer.foreach { v =>
      spark.read
        .parquet(logFile(deltaLogDir, v, Checkpoint).toString)
        .select("add.path").na.drop("all")
        .collect().foreach(r => live += r.getString(0))
    }
    val addRe = """"add":\{"path":"((?:[^"\\]|\\.)*)"""".r
    val rmRe = """"remove":\{"path":"((?:[^"\\]|\\.)*)"""".r
    val commits = logEntries(deltaLogDir)
      .filter { case (v, _) =>
        ckptVer.forall(v > _) && asOfVersion.forall(v <= _)
      }
      .sortBy(_._1)
    // contiguity: replay must cover (checkpoint, target] with no gaps,
    // else the reconstruction would silently miss adds/removes
    asOfVersion.foreach { target =>
      val expected = (ckptVer.getOrElse(-1L) + 1) to target
      val got = commits.map(_._1)
      require(got == expected,
        s"cannot reconstruct version $target: have commits " +
          s"${got.mkString(",")} after checkpoint $ckptVer " +
          s"(log retention window exceeded?)")
    }
    commits.foreach { case (_, p) =>
      Files.readString(p).linesIterator.foreach { line =>
        rmRe.findFirstMatchIn(line).foreach(m => live -= jsonUnesc(m.group(1)))
        addRe.findFirstMatchIn(line).foreach(m => live += jsonUnesc(m.group(1)))
      }
    }
    live.toSeq.sorted
  }

  /** File-granularity change feed between delta-log `version`
    * (exclusive) and the current snapshot: rows in files added since
    * are tagged `_change_type` 'insert', rows in files removed since
    * 'delete'. A rewriting commit (delete-where / merge / compact)
    * reports at file granularity — unchanged rows of a rewritten file
    * appear as a delete+insert pair — the same contract as Delta's
    * version diff without the change-data feed enabled. Downstream
    * consumers that need net-row changes anti-join the two sides;
    * consumers of append-only tables (the ingest norm) get exact row
    * inserts with no rewrite noise. */
  def changesSince(version: Long): DataFrame =
    changesSinceCore(version, None)

  /** [[changesSince]] bounded at log version `upTo` (inclusive) —
    * the window (version, upTo] exactly. The maintainer protocol:
    * fold `changesSince(basis, head)` with `head = version - 1`, the
    * committed head, read BEFORE the data the fold covers, so the fold
    * and the basis it publishes name the SAME state even while other
    * writers commit (a stale head merely replays next time). */
  def changesSince(version: Long, upTo: Long): DataFrame =
    changesSinceCore(version, Some(upTo))

  private def changesSinceCore(version: Long,
      upTo: Option[Long]): DataFrame = {
    val before = deltaSnapshotFiles(Some(version)).toSet
    val now = upTo match {
      case Some(h) => deltaSnapshotFiles(Some(h)).toSet
      case None => deltaSnapshotFiles().toSet
    }
    // tombstone visibility matches the bound: "current" means ≤ upTo
    // when bounded, so a dv commit landing above the bound stays in
    // its own later window
    val dvAll = dvEntries
    val dvs = upTo match {
      case Some(h) => dvAll.filter(_.split(":", 2)(0).toLong <= h)
      case None => dvAll
    }
    val dvAtV = dvs.filter(_.split(":", 2)(0).toLong <= version)
    val dvNew = dvs.filter(_.split(":", 2)(0).toLong > version)
    // inserts: rows of files added since, as visible NOW (all current
    // tombstones applied — a row added then dv-deleted inside the
    // window nets to nothing). deletes from removed files: rows as
    // visible at `version` (tombstones at-or-before it applied).
    // each scan covers a known file subset, so only the dv entries
    // whose touch set intersects it are opened (bounded like read())
    def segsOf(files: Iterable[String]) = files.map(_.split("/")(0)).toSet
    val addedF = (now -- before).toSeq.sorted
    val removedF = (before -- now).toSeq.sorted
    val inserts =
      if (addedF.isEmpty) None
      else Some(scanPaths(addedF.map(f => s"$path/$f"),
        touchingDv(dvs, segsOf(addedF)), keepPos = false)
        .withColumn("_change_type", lit("insert")))
    val fileDeletes =
      if (removedF.isEmpty) None
      else Some(scanPaths(removedF.map(f => s"$path/$f"),
        touchingDv(dvAtV, segsOf(removedF)), keepPos = false)
        .withColumn("_change_type", lit("delete")))
    // row-level deletes: tombstones committed inside the window on
    // files live at BOTH ends — the rows still exist physically, so
    // the feed can state them exactly (real Delta needs CDF for this)
    val common = (before & now).toSeq.sorted
    val dvNewTouching =
      if (common.isEmpty) Seq.empty else touchingDv(dvNew, segsOf(common))
    val dvDeletes =
      if (dvNewTouching.isEmpty || common.isEmpty) None
      else Some(scanPaths(common.map(f => s"$path/$f"),
          touchingDv(dvAtV, segsOf(common)), keepPos = true)
        .join(dvTombstones(dvDirs(dvNewTouching))._1, Seq("__graft_f", "__graft_r"),
          "left_semi")
        .drop("__graft_f", "__graft_r")
        .withColumn("_change_type", lit("delete")))
    alignToSnapshotSchema(Seq(inserts, fileDeletes, dvDeletes).flatten
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(read().withColumn("_change_type", lit("insert")).limit(0)))
  }

  /** Present a change-feed window in the TABLE's current merged schema
    * — exactly as [[read]] shows the same rows. A window's own files
    * see only their slice of an EVOLVED schema: a batch written before
    * a widening lacks the new column (a maintainer folding the raw
    * subset would throw on it, or worse, silently aggregate a frame
    * shaped differently from the table it mirrors), and a removed
    * file can carry a column no live file has. Null-fill the missing
    * ones (what mergeSchema does table-wide), project away the
    * obsolete ones, keep `_change_type`. No-op (and free) when the
    * window's schema already matches. An empty snapshot (nothing to
    * align to) passes through. */
  private def alignToSnapshotSchema(df: DataFrame): DataFrame = {
    if (snapshot().segments.isEmpty) return df
    val tbl = read().schema
    if (tbl.fields.map(_.name).toSeq == df.columns.toSeq.filter(_ != "_change_type"))
      return df
    val have = df.columns.toSet
    val filled = tbl.fields.foldLeft(df)((d, f) =>
      if (have(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType)))
    filled.select(tbl.fields.map(f => col(f.name)).toSeq :+
      col("_change_type"): _*)
  }

  /** Time travel: the table as of delta-log `version` (0-based — the
    * n-th commit). Data files must still exist (vacuum's grace window
    * bounds how far back travel reaches, as in real Delta). */
  def readAt(version: Long): DataFrame = {
    val files = deltaSnapshotFiles(Some(version))
    require(files.nonEmpty,
      s"version $version of $path resolves to no data files")
    // tombstones are version-scoped: apply exactly the dv commits at or
    // before the target (entries for files dead at that version are
    // inert — their keys match nothing in the scan)
    val dvs = dvEntries.filter(_.split(":", 2)(0).toLong <= version)
    scanPaths(files.map(f => s"$path/$f"), dvs, keepPos = false)
  }

  /** The table's STABLE delta-log id (Delta requires one id for the
    * log's lifetime) — and therefore this table's LINEAGE identity: a
    * deleted-and-recreated table under the same path mints a fresh id.
    * The incremental index maintainers record it next to their basis so
    * a recreated source fails loudly even when the new lineage's head
    * has caught up past the recorded version (a version-only guard
    * cannot see that). None before the first commit. */
  def tableId: Option[String] = readMetaSidecar() match {
    case Some((id, _)) => Some(id.trim).filter(_.nonEmpty)
    case None => recoverMetaFromLog().map(_._1)
  }

  /** Newest (table id, schemaString) already in the log, if any. */
  private def recoverMetaFromLog(): Option[(String, String)] = {
    val metaRe =
      """"metaData":\{"id":"([^"]+)".*"schemaString":"((?:[^"\\]|\\.)*)"""".r
    // LAZY newest-first scan: stops at the first (newest) commit that
    // carries a metaData action — version 0 always does, so this is
    // bounded by the distance to the last schema change, not log size
    logEntries(deltaLogDir).sortBy(_._1).reverseIterator
      .flatMap(e => Files.readString(e._2).linesIterator
        .flatMap(metaRe.findFirstMatchIn(_))
        .map(m => (m.group(1), jsonUnesc(m.group(2)))))
      .nextOption()
  }

  /** Reclaim storage the committed snapshot no longer needs.
    *
    * Always (bounded by the `graceMs` window — commit touches a
    * segment's mtime when dropping it, so grace runs from the moment a
    * reader could last have resolved it; readers holding a
    * pre-overwrite snapshot within the window keep their files):
    *   - segment dirs no snapshot references (+ their stats sidecars);
    *   - `_graft_dvlog` files and `_graft_dv` sidecar dirs no committed
    *     dv entry references (crash garbage, and — after a retention
    *     pass — retired history).
    *
    * With `retainVersions = Some(r)`, ALSO retire table history beyond
    * a retention horizon — Delta's own VACUUM contract: [[readAt]] /
    * [[changesSince]] stay exact for (at least) the `r` newest log
    * versions and error CLEANLY below the horizon; dv entries provably
    * inert for every retained version leave the manifest (their
    * sidecars become unreferenced and are reclaimed by the same pass),
    * and log entries + checkpoints below the horizon are deleted.
    * The horizon snaps DOWN to the newest delta-log checkpoint at or
    * before `head - r + 1` so every retained version still resolves
    * from a checkpoint + contiguous tail (no checkpoint that old yet →
    * retention is a no-op). This is what bounds a CDC-heavy table's
    * manifest, dvlog and sidecar footprint by the retention window
    * instead of its lifetime. External FULL-log replays
    * (tools/DeltaLogReplay) need the pruned commits and are forfeited
    * beyond the horizon, exactly like readAt. */
  def vacuum(graceMs: Long = 15 * 60 * 1000L,
      retainVersions: Option[Long] = None): Unit = {
    retainVersions.foreach(applyRetention)
    val live = snapshot().segments.toSet
    // WALL-CLOCK file mtimes, not the nanoTime stamp in the segment
    // name: nanoTime origins are arbitrary per JVM, so a name-stamp
    // comparison across a writer restart could delete a seconds-old
    // segment (or never reclaim old ones)
    val cutoff = System.currentTimeMillis() - graceMs
    GraftFs.sweep(Paths.get(path), cutoff)(n => n.startsWith("seg-") && !live(n))
      // the segment's stats sidecar dies with it
      .foreach(p => GraftFs.delete(statsDir.resolve(p.getFileName.toString)))
    // unreferenced dv bookkeeping: dvlog files the manifest doesn't
    // name and tombstone sidecar dirs no committed entry names
    val refSet = dvState._2.toSet
    GraftFs.sweep(dvlogDir, cutoff)(n => !refSet(n))
    val refDvDirs = dvEntries.map(parseDv(_).dir).toSet
    GraftFs.sweep(dvRoot, cutoff)(n => !refDvDirs(n))
  }

  /** Retention core (see [[vacuum]]): compute the horizon checkpoint,
    * drop dv entries inert for every retained version, and prune the
    * log below the horizon. Rewrites the manifest IN PLACE
    * (same version — only dv bookkeeping changes; single-writer
    * contract, atomic rename). This is the one documented exception
    * to the version-increments-per-commit invariant — see [[version]]:
    * no retained version's visible rows change, so content caches
    * keyed by version stay valid. */
  private def applyRetention(retain: Long): Unit = {
    require(retain >= 1, s"retainVersions must be >= 1, got $retain")
    val Snapshot(ver, segs) = snapshot()
    if (ver == 0) return
    val head = ver - 1 // newest log version
    val requested = head - retain + 1 // oldest version asked to keep
    if (requested <= 0) return
    // snap the horizon DOWN to a checkpoint so every retained version
    // reconstructs from checkpoint + contiguous tail
    val cut = logEntries(deltaLogDir, Checkpoint).map(_._1)
      .filter(_ <= requested).maxOption.getOrElse(return)
    if (cut <= 0) return
    // dv entries needed by some retained version v >= cut: entries at
    // or after the cut, plus older entries whose touched segments are
    // live AT the cut (segment liveness is a contiguous interval, so a
    // file live at any v >= cut that an old entry touches is live at
    // the cut too). Legacy entries with no recorded touch set are
    // conservatively kept.
    val segsAtCut = deltaSnapshotFiles(Some(cut)).map(_.split("/")(0)).toSet
    val all = dvEntries
    val kept = all.filter { e =>
      val d = parseDv(e)
      d.ver >= cut || d.touched.forall(_.exists(segsAtCut.contains))
    }
    val (inline, dvFiles) = dvState
    if (kept.size != all.size || inline.nonEmpty || dvFiles.size > 1) {
      val consolidated =
        if (kept.isEmpty) Seq.empty[String]
        else Seq(writeDvlogFile(kept))
      GraftFs.publish(manifest,
        manifestJson(ver, "vacuum", segs, Seq.empty, consolidated))
      // superseded dvlog files stay on disk for readers holding the
      // previous manifest; touched so vacuum's sweep (which runs right
      // after this, in the same call) grants them the full graceMs
      // window from unreference time
      touchDvlogFiles(dvFiles)
    }
    // prune the log below the horizon checkpoint; readAt below
    // it now fails the contiguity check with a clean retention error
    (logEntries(deltaLogDir) ++ logEntries(deltaLogDir, Checkpoint))
      .foreach { case (v, p) => if (v < cut) GraftFs.delete(p) }
  }
}

object ManagedParquetTable {
  /** A committed snapshot: its manifest version and live segment dir
    * names. Version 0 with no segments when nothing is committed. */
  private final case class Snapshot(version: Long, segments: Seq[String])

  /** Per-path read-schema cache: the dirs read here (segments, MV
    * partials) are nanotime-unique and never mutate, so a key can never
    * alias different content. Metadata only; no data is cached. */
  private val pathSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Merged read schema of parquet dirs/files: each path's schema once
    * per process, folded by Spark's own `StructType.merge`. Spark's
    * `mergeSchema` inference submits a Spark job per read, even for a
    * two-file set; every managed read and MV refresh was paying one.
    * A path of at most [[Cutovers.DriverSchemaMaxFiles]] files merges
    * its footers on the driver with Spark's fidelity
    * ([[DirectParquetIo.footerSchema]]). A
    * larger path, or one holding no parquet file, keeps Spark's
    * inference, which also raises Spark's own error for a missing path. */
  private[graft] def footerMergedSchema(spark: SparkSession,
      paths: Seq[String]): StructType = {
    if (pathSchemas.size > 4096) pathSchemas.clear()
    paths.map(p => pathSchemas.computeIfAbsent(p, _ => pathSchema(spark, p)))
      .distinct
      .reduceLeft(org.apache.spark.sql.graft.SchemaBridge.merge(spark, _, _))
  }

  private def pathSchema(spark: SparkSession, path: String): StructType = {
    val p = java.nio.file.Paths.get(path)
    val files =
      if (java.nio.file.Files.exists(p)) DirectParquetIo.parquetFiles(Seq(p))
      else Nil
    if (files.isEmpty || files.size > Cutovers.DriverSchemaMaxFiles)
      spark.read.option("mergeSchema", "true").parquet(path).schema
    else DirectParquetIo.footerSchema(spark, files)
  }
}

/** S16 XLSX source (reference: gold/bronzeToGold.py:88-113 reads the HR
  * workbook with pandas/openpyxl). XLSX is a zip of XML parts, so the
  * reader below needs only the JDK: java.util.zip + StAX. Scope matches
  * the reference's usage — sheet 1, header row, shared/inline strings,
  * numbers, booleans; no formula evaluation (cached formula values are
  * read). Dimension tables like HR are small by nature, so the workbook
  * is parsed driver-side and parallelized; a 100 TB fact feed would
  * never arrive as .xlsx. */
object XlsxSource {
  def readConverted(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** Read sheet 1 with a header row; every column is string-typed (the
    * cast belongs to the schema-owning caller — see the overload). */
  def readXlsx(spark: SparkSession, path: String): DataFrame = {
    val rows = parseSheet(path)
    require(rows.nonEmpty, s"empty worksheet in $path")
    val header = rows.head.map(h => Option(h).getOrElse("").trim)
    val width = header.length
    val data = rows.tail.map { r =>
      org.apache.spark.sql.Row.fromSeq(r.padTo(width, null).take(width).toSeq)
    }
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq), schema)
  }

  /** Read + cast to the given schema by column name (HR contract). */
  def readXlsx(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    val raw = readXlsx(spark, path)
    raw.select(schema.fields.toSeq.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
  }

  /** Hardened StAX factory for untrusted workbook XML: DTDs and external
    * entities off → no XXE (local-file read / SSRF) and no entity-
    * expansion bombs at ingest. */
  private def secureFactory(): javax.xml.stream.XMLInputFactory = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(
      javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** All cells of sheet 1 as text, row-major, sparse cells = null. */
  private def parseSheet(path: String): Array[Array[String]] = {
    val zip = new java.util.zip.ZipFile(path)
    try {
      val shared = Option(zip.getEntry("xl/sharedStrings.xml"))
        .map(e => parseSharedStrings(zip.getInputStream(e)))
        .getOrElse(Array.empty[String])
      val dateStyles = Option(zip.getEntry("xl/styles.xml"))
        .map(e => parseStyles(zip.getInputStream(e)))
        .getOrElse(Array.empty[Boolean])
      val sheetEntry = Option(zip.getEntry("xl/worksheets/sheet1.xml"))
        .orElse {
          import scala.jdk.CollectionConverters._
          zip.entries().asScala.find(e =>
            e.getName.startsWith("xl/worksheets/") && e.getName.endsWith(".xml"))
        }
        .getOrElse(throw new IllegalArgumentException(s"no worksheet in $path"))
      parseSheetXml(zip.getInputStream(sheetEntry), shared, dateStyles)
    } finally zip.close()
  }

  /** sharedStrings.xml: one entry per <si>, rich-text runs concatenated. */
  private def parseSharedStrings(in: java.io.InputStream): Array[String] = {
    val r = secureFactory().createXMLStreamReader(in)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => sb.clear()
            case "t"  => inT = true
            case _    =>
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS if inT =>
          sb.append(r.getText)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t"  => inT = false
            case "si" => out += sb.toString
            case _    =>
          }
        case _ =>
      }
    }
    r.close()
    out.toArray
  }

  /** xl/styles.xml → per-cellXf "is a date/time format" flags, indexed by
    * the cell's s= attribute. Builtin date numFmtIds (ECMA-376 §18.8.30)
    * plus custom formatCodes matched by a date-token heuristic. */
  private def parseStyles(in: java.io.InputStream): Array[Boolean] = {
    val builtinDate = ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet
    val r = secureFactory().createXMLStreamReader(in)
    val customDate = scala.collection.mutable.Set.empty[Int]
    val xfs = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    var inCellXfs = false
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "numFmt" =>
              val id = Option(r.getAttributeValue(null, "numFmtId"))
                .map(_.toInt).getOrElse(-1)
              val code = Option(r.getAttributeValue(null, "formatCode"))
                .getOrElse("")
              if (isDateFormatCode(code)) customDate += id
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              val id = Option(r.getAttributeValue(null, "numFmtId"))
                .map(_.toInt).getOrElse(0)
              xfs += (builtinDate(id) || customDate(id))
            case _ =>
          }
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          if (r.getLocalName == "cellXfs") inCellXfs = false
        case _ =>
      }
    }
    r.close()
    xfs.toArray
  }

  /** Date-token heuristic on a custom format code: strip quoted literals
    * and [..] blocks (colors, locale, elapsed markers), then any y/m/d/h
    * token marks a date/time format. Number formats (0.00, #,##0 $, 0%,
    * 0.00E+00, General) contain none of these. */
  private def isDateFormatCode(code: String): Boolean =
    code.replaceAll("\"[^\"]*\"", "").replaceAll("\\[[^\\]]*\\]", "")
      .exists(c => c == 'y' || c == 'm' || c == 'd' || c == 'h' ||
        c == 'Y' || c == 'M' || c == 'D' || c == 'H')

  /** Excel serial-number date/time → ISO-8601 string (what the typed
    * schema overload's DateType/TimestampType casts expect). 1900 date
    * system, base 1899-12-30 (openpyxl's convention; the phantom
    * 1900-02-29 affects only serials < 61, prehistoric for real data).
    * Whole serials → yyyy-MM-dd; fractional → yyyy-MM-dd HH:mm:ss. */
  private def serialToIso(raw: String): String = {
    val d = raw.trim.toDouble
    val days = math.floor(d).toLong
    val secs = math.round((d - days) * 86400.0)
    val date = java.time.LocalDate.of(1899, 12, 30).plusDays(days)
    if (secs == 0L) date.toString
    else if (secs >= 86400L) date.plusDays(1).toString
    else date.atStartOfDay.plusSeconds(secs)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  /** sheetData: rows of <c r="A1" s="3" t="s|str|inlineStr|b|n"><v>…</v></c>.
    * Numeric cells whose style is a date format are converted from Excel
    * serials to ISO strings; inline rich-text runs are concatenated
    * across <r><t>…</t></r> and emitted once per cell at </is>. */
  private def parseSheetXml(in: java.io.InputStream, shared: Array[String],
      dateStyles: Array[Boolean]): Array[Array[String]] = {
    val r = secureFactory().createXMLStreamReader(in)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    var row: scala.collection.mutable.ArrayBuffer[String] = null
    var cellCol = 0
    var cellType = ""
    var cellDate = false
    var inV = false
    val v = new StringBuilder
    def put(text: String): Unit = {
      while (row.length <= cellCol) row += null
      row(cellCol) = text
    }
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              row = scala.collection.mutable.ArrayBuffer.empty[String]
              cellCol = -1
            case "c" =>
              // column from the letters prefix of r="BC12"; absent ref →
              // next column (the spec allows omitting it)
              val ref = Option(r.getAttributeValue(null, "r"))
              cellCol = ref.map(colIndex).getOrElse(cellCol + 1)
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              cellDate = Option(r.getAttributeValue(null, "s"))
                .map(_.toInt).exists(i =>
                  i >= 0 && i < dateStyles.length && dateStyles(i))
              v.clear() // one accumulator per cell (multi-run inlineStr)
            case "v" | "t" => inV = true
            case _ =>
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS if inV =>
          v.append(r.getText)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" =>
              inV = false
              put(cellType match {
                case "s" => shared(v.toString.trim.toInt)
                case "b" => if (v.toString.trim == "1") "true" else "false"
                case _ if cellDate && cellType == "n" =>
                  try serialToIso(v.toString)
                  catch { case _: NumberFormatException => v.toString }
                case _ => v.toString
              })
            case "t" =>
              inV = false // accumulate; inlineStr cells emit at </is>
            case "is" =>
              if (cellType == "inlineStr") put(v.toString)
            case "row" => rows += row.toArray
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    rows.toArray
  }

  /** "BC12" → 0-based column index of "BC". */
  private def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }
}

/** S17/S18 JDBC source/sink wrappers (connection options injected).
  * Exercised end-to-end in IoSpec against the embedded Derby engine that
  * ships with Spark — the same code path binds to Postgres/MySQL when
  * the driver jar is present (reference:
  * spark_consumer/spark_consumer.py:25-32). */
object Jdbc {
  def read(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** Partitioned parallel read — the 100 TB path: one connection per
    * partition, the predicate range split on a numeric column so the
    * warehouse does the filtering. A single-connection read of a large
    * table is a driver-side bottleneck by construction. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound).option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** Bulk insert with batching (the reference's method='multi'). */
  def append(df: DataFrame, url: String, table: String,
      batchSize: Int = 1000, props: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("jdbc").mode("append")
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize)
    props.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save()
  }
}
