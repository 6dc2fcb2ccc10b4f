package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DirectParquetIo

/** Incremental aggregate materialized view over a [[ManagedParquetTable]].
  *
  * A warehouse-scale table cannot re-aggregate 100 TB on every ingest
  * batch. `refresh()` therefore diffs the table's delta-log file
  * snapshot against the file set the stored state was computed from
  * (its *basis*) and processes only the difference:
  *
  *  - **Appended files** are partial-aggregated alone and merged into
  *    the state — O(new data), never O(table).
  *  - **Removed files** (narrowed delete, compaction, merge) are
  *    handled from the *per-file partials store* kept alongside the
  *    state: every refresh also persists one partial-aggregate row per
  *    (source file, group). A removal then SUBTRACTS the removed
  *    files' count/sum partials from the state — reading only those
  *    partials — and for the groups whose min/max could have been
  *    attained by a removed row (removed-partial min ≤ state min, or
  *    max ≥ state max) or that carry a sketch (HLL registers cannot
  *    subtract), re-merges JUST those groups from the surviving
  *    files' partials. The table data itself is never rescanned:
  *    worst case is O(partials) = O(files × groups-per-file), which at
  *    100 TB is orders of magnitude below a rescan.
  *
  * Only decomposable aggregates are offered — count / sum / min / max
  * (avg is sum÷count at read time), plus `hll` distinct-count SKETCH
  * state (exact distinct is not decomposable; its HLL sketch is) —
  * because exactly these merge by re-aggregating partials. The merge
  * is the same `groupBy` the engine runs everywhere else: union the
  * state with the delta partials and fold (sum of sums, sum of counts,
  * min of mins, max of maxes); Catalyst plans it as one
  * map-side-combined shuffle of |groups| rows, not |rows|.
  *
  * Subtraction exactness: counts and integral/decimal sums subtract
  * exactly; a hidden per-sum non-null count restores NULL when a
  * removal eliminates a group's last non-null value. Floating-point
  * sums may accumulate the usual rounding drift any incremental
  * maintenance scheme has; use decimals where exactness matters.
  *
  * Crash safety mirrors the table itself (reference behavior:
  * `bronze/redPandaToDeltaLake.py` relies on Delta's atomic commit):
  * state parquet, partials dirs, and the basis publish together
  * through one write-temp-then-rename manifest flip, so an interrupted
  * refresh leaves the previous consistent (state, basis, partials)
  * triple and re-running refresh re-derives the same delta —
  * idempotent, never double-counted. Superseded state/partials dirs
  * are swept on later refreshes after a grace window (vacuum
  * semantics: a concurrent reader that resolved the old manifest can
  * still finish).
  *
  * The view *definition* (group keys + agg specs) lives with the
  * caller, as in code-defined-view systems: the manifest records only
  * state location, basis files, and partials dirs.
  */
final class IncrementalAggView(
    spark: SparkSession,
    tablePath: String,
    viewPath: String,
    groupCols: Seq[String],
    aggs: Seq[IncrementalAggView.AggSpec]) extends IndexMaintainer {
  import IncrementalAggView._

  require(groupCols.nonEmpty, "at least one group column")
  require(aggs.nonEmpty, "at least one aggregate")
  require(aggs.map(_.outName).distinct.size == aggs.size,
    "aggregate output names must be unique")

  private def table = new ManagedParquetTable(spark, tablePath)
  private def manifest = Paths.get(viewPath, "_graft_view_manifest")

  /** The MV is a maintained index like any other ([[IndexMaintainer]]):
    * the shared [[BasisTracker]] dispatches full/incremental/noop on
    * the source's delta-log version and guards against a
    * deleted-and-recreated source (lineage + regression checks) —
    * exactly as the retrieval and ANN maintainers do — so one
    * streaming sink (`BronzeIngest.indexedIngestBatch`) maintains MVs
    * and indexes through the one protocol. The MAINTENANCE GRAIN
    * stays file-diff-based (this class's original basis): the view
    * manifest records the exact file set + dv entries the state was
    * computed from, which is strictly finer than a version window —
    * the tracker adds the version-level noop short-circuit, the
    * recreation guard, and the sink-visible [[basis]]. The tracker
    * basis publishes AFTER the view's own manifest flip (refreshTo's
    * fold-then-publish order): a crash between them replays the
    * window, and the file-diff finds nothing left to fold. */
  private val tracker = new BasisTracker(viewPath, tablePath)

  def basis: Option[Long] = tracker.basis

  /** How the last refresh() on this instance resolved:
    * "full" | "incremental" | "noop" | "" (never ran). */
  @volatile var lastRefresh: String = ""

  // hidden bookkeeping columns, persisted in state AND partials but
  // never surfaced by read(): group row count (drop-group detection +
  // count-subtract), one non-null count per sum (NULL restoration)
  private val RowN = "__graft_n"
  private def nnOf(out: String) = s"__graft_nn_$out"
  private val SrcCol = "__graft_src" // partials only: relative source file
  private val hiddenCols: Seq[String] =
    RowN +: aggs.collect { case AggSpec("sum", _, out) => nnOf(out) }
  private val stateCols: Seq[String] =
    groupCols ++ aggs.map(_.outName) ++ hiddenCols

  /** Current materialized state: groupCols ++ one column per AggSpec.
    * `hll` columns are raw binary sketches here — see [[readFinal]].
    * Fails if the view has never been refreshed. */
  def read(): DataFrame = {
    val m = loadManifest().getOrElse(
      sys.error(s"view at $viewPath has never been refreshed"))
    spark.read.parquet(s"$viewPath/${m.state}")
      .select((groupCols ++ aggs.map(_.outName)).map(col): _*)
  }

  /** [[read]] with sketch states finalized: `hll` columns become their
    * distinct-count estimates (long); all other columns pass through. */
  def readFinal(): DataFrame = {
    val cols = groupCols.map(col) ++ aggs.map {
      case AggSpec("hll", _, out) =>
        expr(s"hll_sketch_estimate(`$out`)").as(out)
      case a => col(a.outName)
    }
    read().select(cols: _*)
  }

  /** Bring the state up to the table's current snapshot. A
    * deletion-vector commit changes row visibility WITHOUT changing
    * the file set, so dv-touched basis files are refreshed as a
    * remove + re-add: their STORED partials subtract (count/sum; the
    * usual min/max/sketch groups re-merge from surviving partials)
    * and ONE scan of just those files rebuilds their partials
    * DV-applied — O(touched files), never O(table). */
  def refresh(): Unit = {
    // committed head + lineage BEFORE the file snapshot (the order
    // every maintainer uses; see ManagedParquetTable.changesSince): the
    // bounded file snapshot below names the state the published basis
    // claims.
    val headV = table.version - 1
    if (headV < 0) { lastRefresh = "noop"; return }
    val lineage = table.tableId
    val nowFiles = table.deltaSnapshotFiles(Some(headV)).toSet
    require(nowFiles.nonEmpty, s"table at $tablePath has no data files")
    val how = tracker.refreshTo(headV, lineage) {
      // no recorded basis ≠ no state: a PRE-BASIS legacy view still
      // has a valid file-diff manifest, and refreshCore serves it
      // incrementally (falling back to fullRebuild itself for every
      // unservable-manifest case) — only a never-refreshed view pays
      // the O(table) build
      if (loadManifest().isDefined) refreshCore(nowFiles)
      else fullRebuild(nowFiles)
    } { _ => refreshCore(nowFiles) }
    // version-level noop never runs the fold; otherwise the fold
    // recorded how it actually resolved ("full" when a guard forced a
    // rebuild mid-window) — keep the honest value
    if (how == "noop") lastRefresh = "noop"
  }

  /** The file-diff fold — see [[refresh]]. */
  private def refreshCore(nowFiles: Set[String]): Unit = {
    loadManifest() match {
      case Some(m) =>
        val curDvs = table.dvEntries
        val newDvs = curDvs.filterNot(m.tableDvs.contains)
        if (!m.tableDvs.forall(curDvs.contains)) {
          // tombstones vanished (manifest rolled back / legacy store):
          // the stored partials are unattributable — rebuild once.
          // (A legacy manifest with NEW dvs needs no clause here: the
          // unconditional partials-empty rebuild below covers it.)
          fullRebuild(nowFiles); return
        }
        // files whose visibility the new tombstones changed, still in
        // both the basis and the live set, re-aggregate in place
        val dvTouched: Set[String] =
          if (newDvs.isEmpty) Set.empty
          else table.dvTouchedFiles(newDvs).toSet & nowFiles & m.basis
        val added = ((nowFiles -- m.basis) ++ dvTouched).toSeq.sorted
        val removed = ((m.basis -- nowFiles) ++ dvTouched).toSeq.sorted
        if (added.isEmpty && removed.isEmpty && newDvs.isEmpty) {
          lastRefresh = "noop"; return
        }
        if (m.partials.isEmpty) {
          // legacy manifest without a partials store: ANY maintenance
          // (append included — mergeStates selects the hidden
          // bookkeeping columns, which a legacy state parquet lacks)
          // takes the one-time full rebuild that re-establishes them
          fullRebuild(nowFiles); return
        }
        var st = spark.read.parquet(s"$viewPath/${m.state}")
        var dirs = m.partials
        if (removed.nonEmpty)
          st = applyRemovals(st, dirs, m.basis, removed.toSet)
        val newPd = if (added.isEmpty) None else Some(writePartials(added))
        newPd.foreach { pd =>
          st = mergeStates(st,
            collapse(spark.read.parquet(s"$viewPath/$pd")))
        }
        if (dvTouched.nonEmpty) {
          // partials-store hygiene: a dv-touched file keeps its NAME,
          // so its stale pre-tombstone partial rows must be dropped
          // explicitly (the basis filter cannot tell them apart) —
          // consolidate to one dir of trusted rows
          val keep = (m.basis & nowFiles) -- dvTouched
          val cd = s"pfile-${System.nanoTime()}"
          val trusted = srcFilter(readPartials(dirs),
            keep.toSeq.sorted, keep = true)
          DirectParquetIo.write(
            newPd.map(pd => trusted.unionByName(
                spark.read.parquet(s"$viewPath/$pd")))
              .getOrElse(trusted),
            s"$viewPath/$cd", footerRows(dirs ++ newPd), "overwrite")
          dirs = Seq(cd)
        } else dirs = dirs ++ newPd
        publish(st, nowFiles, dirs, m)
        lastRefresh = "incremental"
      case None => fullRebuild(nowFiles)
    }
  }

  // ---- internals ---------------------------------------------------------

  private def fullRebuild(nowFiles: Set[String]): Unit = {
    val pd = writePartials(nowFiles.toSeq.sorted)
    publish(collapse(spark.read.parquet(s"$viewPath/$pd")),
      nowFiles, Seq(pd), loadManifest().orNull)
    lastRefresh = "full"
  }

  /** DV-aware scan of table files: deletion-vector tombstones applied,
    * rows tagged with their table-relative source file in [[SrcCol]]. */
  private def readFiles(rel: Seq[String]): DataFrame =
    table.scanPaths(rel.map(f => s"$tablePath/$f"),
      table.liveDvEntriesFor(rel), keepPos = true)
      .withColumnRenamed("__graft_f", SrcCol).drop("__graft_r")

  /** ONE scan of `rel`: per-(file, group) partials → new pfile dir. */
  private def writePartials(rel: Seq[String]): String = {
    val exprs = aggs.flatMap {
      case AggSpec("count", _, out) => Seq(count(lit(1)).as(out))
      case AggSpec("sum", in, out) =>
        Seq(sum(col(in)).as(out), count(col(in)).as(nnOf(out)))
      case AggSpec("min", in, out) => Seq(min(col(in)).as(out))
      case AggSpec("max", in, out) => Seq(max(col(in)).as(out))
      // distinct counts are NOT decomposable exactly, but their HLL
      // sketches are: register-wise max union makes per-file partials
      // mergeable, which is how a 100 TB table keeps daily-unique
      // metrics without ever rescanning history
      case AggSpec("hll", in, out) =>
        Seq(expr(s"hll_sketch_agg(`$in`)").as(out))
      case AggSpec(kind, _, _) =>
        sys.error(s"unsupported aggregate kind '$kind' " +
          "(decomposable kinds: count, sum, min, max, hll)")
    } :+ count(lit(1)).as(RowN)
    val pd = s"pfile-${System.nanoTime()}"
    // schema evolution: a window's files see only their slice of the
    // table's merged schema — a batch written before a widening lacks
    // the new column, and grouping/aggregating the raw subset would
    // throw (or shape the partials differently from a rebuild over
    // read(), which null-fills table-wide). Null-fill exactly the
    // columns this view consumes, typed from the table's own schema;
    // sum/min/max skip nulls and count(col) ignores them, so the
    // maintained state stays ≡ the one-shot aggregate. A column the
    // TABLE itself has never seen still fails loudly.
    val src = readFiles(rel)
    val have = src.columns.toSet
    val needed = (groupCols ++ aggs.map(_.inputCol).filter(_.nonEmpty))
      .distinct.filterNot(have)
    // one manifest resolution + footer-merge schema inference for the
    // whole fold, not one per missing column
    lazy val tblSchema = table.read().schema
    val aligned = needed.foldLeft(src) { (d, n) =>
      val f = tblSchema.fields.find(_.name == n).getOrElse(
        sys.error(s"view at $viewPath aggregates column '$n' that " +
          s"no file of table $tablePath carries"))
      d.withColumn(n, lit(null).cast(f.dataType))
    }
    aligned
      .groupBy((SrcCol +: groupCols).map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
      .write.mode("overwrite").parquet(s"$viewPath/$pd")
    pd
  }

  /** Fold expressions over partial/state rows (same names in → out). */
  private def mergeExprs: Seq[Column] = aggs.flatMap {
    case AggSpec("count", _, out) => Seq(sum(col(out)).as(out))
    case AggSpec("sum", _, out) =>
      Seq(sum(col(out)).as(out), sum(col(nnOf(out))).as(nnOf(out)))
    case AggSpec("min", _, out) => Seq(min(col(out)).as(out))
    case AggSpec("max", _, out) => Seq(max(col(out)).as(out))
    case AggSpec("hll", _, out) =>
      Seq(expr(s"hll_union_agg(`$out`)").as(out))
    case AggSpec(kind, _, _) => sys.error(s"unsupported kind '$kind'")
  } :+ sum(col(RowN)).as(RowN)

  /** Collapse partials (or a union of states) to one row per group. */
  private def collapse(p: DataFrame): DataFrame = {
    val es = mergeExprs
    p.groupBy(groupCols.map(col): _*).agg(es.head, es.tail: _*)
      .select(stateCols.map(col): _*)
  }

  private def mergeStates(a: DataFrame, b: DataFrame): DataFrame =
    collapse(a.select(stateCols.map(col): _*)
      .unionByName(b.select(stateCols.map(col): _*)))

  private def readPartials(dirs: Seq[String]): DataFrame = {
    val paths = dirs.map(d => s"$viewPath/$d")
    spark.read.schema(ManagedParquetTable.footerMergedSchema(spark, paths))
      .parquet(paths: _*)
  }

  /** Footer-observed row-count bound over view-relative parquet dirs
    * (driver metadata read, no job). */
  private def footerRows(relDirs: Seq[String]): Long =
    DirectParquetIo.parquetRowCount(spark, relDirs.map(d => Paths.get(viewPath, d)))

  private def filesDf(names: Seq[String]): DataFrame = {
    import spark.implicits._
    names.toDF(SrcCol)
  }

  /** Keep (or drop) partial rows whose [[SrcCol]] is in `names` — a
    * DRIVER-known file-name set. As a literal `isInCollection`
    * predicate (Catalyst compiles it to an O(1)-per-row InSet) there
    * is no join node and no broadcast build: even a LocalTableScan
    * broadcast child submits a collect job, and the MV fold paid one
    * per semi/anti-join per refresh. Very large sets fall back to the
    * broadcast join so the plan never embeds an unbounded literal
    * (SrcCol is metadata-derived and never null, so semi ≡ IN and
    * anti ≡ NOT IN exactly). */
  private def srcFilter(p: DataFrame, names: Seq[String],
      keep: Boolean): DataFrame =
    if (names.size <= Cutovers.MaxInSetFiles) {
      val pred = col(SrcCol).isInCollection(names)
      p.where(if (keep) pred else !pred)
    } else p.join(broadcast(filesDf(names)), Seq(SrcCol),
      if (keep) "left_semi" else "left_anti")

  /** Removal maintenance without touching the table: subtract the
    * removed files' partials; re-merge from surviving partials only
    * the groups whose min/max/sketch a removed row could have set. */
  private def applyRemovals(st: DataFrame, dirs: Seq[String],
      basis: Set[String], removed: Set[String]): DataFrame = {
    // partials dirs can hold rows for files superseded long ago —
    // always restrict to the basis being maintained
    val p = readPartials(dirs)
    val inBasis = srcFilter(p, basis.toSeq.sorted, keep = true)
    val removedP = srcFilter(inBasis, removed.toSeq.sorted, keep = true)
    val survivingP = srcFilter(inBasis, removed.toSeq.sorted, keep = false)
    // collapse removed partials to one row per group, prefixed
    val rPrefixed = collapse(removedP).select(
      stateCols.map(c => col(c).as(s"__r_$c")): _*)
    val joined = st.join(rPrefixed,
      groupCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _),
      "left")
    val touched = col(s"__r_$RowN").isNotNull
    // a removed row can only have set the group min/max if the removed
    // partial's min/max reaches the state's (ties must recompute: the
    // same value may or may not survive elsewhere); sketches always
    // recompute (HLL registers are max-folded, not invertible)
    val needsRemerge = aggs.collect {
      case AggSpec("min", _, out) =>
        coalesce(col(s"__r_$out") <= col(out), lit(false))
      case AggSpec("max", _, out) =>
        coalesce(col(s"__r_$out") >= col(out), lit(false))
      case AggSpec("hll", _, _) => lit(true)
    }.foldLeft(lit(false))(_ || _)
    val expensive = touched && needsRemerge
    // cheap path: untouched groups pass through (coalesce makes the
    // subtraction a no-op); touched-but-safe groups subtract
    val adjusted = aggs.flatMap {
      case AggSpec("count", _, out) =>
        Seq((col(out) - coalesce(col(s"__r_$out"), lit(0))).as(out))
      case AggSpec("sum", _, out) =>
        val nn = col(nnOf(out)) - coalesce(col(s"__r_${nnOf(out)}"), lit(0))
        Seq(when(nn === 0, lit(null))
            .otherwise(col(out) - coalesce(col(s"__r_$out"), lit(0))).as(out),
          nn.as(nnOf(out)))
      case a => Seq(col(a.outName))
    }
    val newN = (col(RowN) - coalesce(col(s"__r_$RowN"), lit(0))).as(RowN)
    val keep = joined.filter(!expensive)
      .select(groupCols.map(col) ++ adjusted :+ newN: _*)
      .filter(col(RowN) > 0)
    val keys = joined.filter(expensive).select(groupCols.map(col): _*)
    val remerged = collapse(survivingP.join(keys,
      groupCols.map(c => survivingP(c) <=> keys(c)).reduce(_ && _),
      "left_semi"))
    keep.select(stateCols.map(col): _*)
      .unionByName(remerged.select(stateCols.map(col): _*))
  }

  /** Atomically flip (state, basis, partials); consolidate the
    * partials store when it fragments; sweep superseded dirs. */
  private def publish(df: DataFrame, basis: Set[String],
      pdirs: Seq[String], prev: Manifest): Unit = {
    Files.createDirectories(Paths.get(viewPath))
    val stateDir = s"state-${System.nanoTime()}"
    // state groups ≤ total partial rows (every group appears in at
    // least one per-file partial row) — an OBSERVED footer bound, no
    // job, never an estimate: a small state (|groups| ≪ |rows|, the
    // common MV shape) publishes driver-direct instead of paying a
    // write job + committer round trip per refresh; a big state keeps
    // the distributed write
    val pBound = footerRows(pdirs)
    DirectParquetIo.write(df.select(stateCols.map(col): _*),
      s"$viewPath/$stateDir", pBound, "overwrite")
    // many small pfile dirs degrade listing and read fan-out exactly
    // like the table's own small-file problem → compact periodically
    val dirs = if (pdirs.size < 16) pdirs else {
      val cd = s"pfile-${System.nanoTime()}"
      DirectParquetIo.write(
        srcFilter(readPartials(pdirs), basis.toSeq.sorted, keep = true),
        s"$viewPath/$cd", pBound, "overwrite")
      Seq(cd)
    }
    val json = s"""{"state":"$stateDir","basis":[""" +
      basis.toSeq.sorted.map("\"" + _ + "\"").mkString(",") +
      s"""],"partials":[""" +
      dirs.map("\"" + _ + "\"").mkString(",") +
      s"""],"tdvs":[""" +
      table.dvEntries.map("\"" + _ + "\"").mkString(",") + "]}"
    GraftFs.publish(manifest, json)
    // grace window runs from the moment a dir became unreferenced, not
    // from its creation — touch the newly superseded ones
    val keepDirs = dirs.toSet + stateDir
    val superseded = Option(prev).toSeq.flatMap(m => m.state +: m.partials)
      .filterNot(keepDirs.contains)
    superseded.foreach(d => GraftFs.touch(Paths.get(viewPath, d)))
    IncrementalAggView.sweep(viewPath)(n =>
      (n.startsWith("state-") || n.startsWith("pfile-")) && !keepDirs(n))
  }

  /** Identity of the committed state publish (the state dir name) —
    * changes on every successful refresh that wrote new state. Lets a
    * DERIVED consumer (the join view) detect "the inner state moved
    * but my own finalize never ran" after a crash between the two
    * commits. */
  def stateId: Option[String] = loadManifest().map(_.state)

  /** Committed manifest: state dir, basis file set, partials dirs. */
  private def loadManifest(): Option[Manifest] =
    if (!Files.exists(manifest)) None
    else {
      val s = Files.readString(manifest)
      val state = """"state":"([^"]+)"""".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse(return None)
      def strList(key: String): Seq[String] =
        (s""""$key":\\[([^\\]]*)\\]""").r.findFirstMatchIn(s)
          .map(_.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"")
            .stripSuffix("\"")).filter(_.nonEmpty))
          .getOrElse(Seq.empty)
      Some(Manifest(state, strList("basis").toSet, strList("partials"),
        strList("tdvs")))
    }
}

object IncrementalAggView {
  /** One decomposable aggregate: kind ∈ {count, sum, min, max, hll};
    * inputCol is ignored for count. `hll` stores a mergeable binary
    * sketch, finalized to an estimate by [[IncrementalAggView.readFinal]]. */
  final case class AggSpec(kind: String, inputCol: String, outName: String)

  private final case class Manifest(
    state: String, basis: Set[String], partials: Seq[String],
    tableDvs: Seq[String])

  /** Delete the superseded state/partial/final dirs of `viewPath`
    * that `dead` names once they are 15 minutes past supersession. */
  private[io] def sweep(viewPath: String)(dead: String => Boolean): Unit =
    GraftFs.sweep(Paths.get(viewPath), System.currentTimeMillis() - 15 * 60 * 1000L)(dead)
}

/** JOIN-aware incremental materialized view: fact ⟕ broadcast dims →
  * aggregate — the reference's gold shape (gold/bronzeToGold.py:132-163
  * + FormulaePowerBI.txt:1-19: activity fact joined to the HR and sport
  * dimension tables, then grouped measures) and the MV every real
  * warehouse maintains.
  *
  * The decomposition that makes BOTH change axes cheap: an inner
  * [[IncrementalAggView]] aggregates the FACT ALONE, keyed by its
  * dim-join FK columns (aggregate-below-join pushdown — valid because
  * every dim attribute is functionally determined by the FK, so
  * fact rows sharing FKs land in the same final group). The dims join
  * INTO that state at finalize time, over O(|distinct FKs|) rows:
  *
  *  - a FACT append/delete maintains the inner view from per-file
  *    partials — O(delta), the fact is never rescanned;
  *  - a DIM change needs NO fact-side maintenance at all: the
  *    finalize re-joins current dims against the (bounded) inner
  *    state and re-folds — the "bounded re-merge", O(state + dims).
  *
  * The finalized result (finalGroupCols + one column per agg) is
  * itself materialized under `viewPath` with the dim versions in the
  * manifest, so an unchanged world is a noop. Aggregates re-fold from
  * fact-grain partials (sum of sums / counts, min of mins, max of
  * maxes, HLL register union) — exactly the decomposable set the
  * inner view supports. SQL NULL semantics carry through: a final
  * group whose inner sums are all NULL folds to NULL (sum ignores
  * NULLs), counts never null. */
final class IncrementalJoinAggView(
    spark: SparkSession,
    factPath: String,
    viewPath: String,
    factKeyCols: Seq[String],
    dims: Seq[IncrementalJoinAggView.Dim],
    finalGroupCols: Seq[String],
    aggs: Seq[IncrementalAggView.AggSpec]) extends IndexMaintainer {
  import IncrementalAggView.AggSpec
  import IncrementalJoinAggView.JManifest

  require(finalGroupCols.nonEmpty, "at least one final group column")

  /** Fact-grain state, keyed by the FK columns; partials per fact
    * file — the machinery that keeps fact maintenance O(delta). */
  private val inner = new IncrementalAggView(spark, factPath,
    s"$viewPath/fact_state", factKeyCols, aggs)

  /** The FACT table version the view is current to (the inner view's
    * tracker basis): a streaming ingest of the fact maintains this
    * view like any other index. Dim changes never advance it — they
    * are finalize-only (the dim versions live in this view's own
    * manifest and trigger the bounded re-merge). */
  def basis: Option[Long] = inner.basis

  private def manifest = Paths.get(viewPath, "_graft_jview_manifest")

  /** "full" | "incremental" (fact delta) | "dim-remerge" (dims only) |
    * "noop" | "" (never ran). */
  @volatile var lastRefresh: String = ""

  private def dimTables = dims.map(d => new ManagedParquetTable(spark, d.path))

  def read(): DataFrame = {
    val m = loadJManifest().getOrElse(
      sys.error(s"join view at $viewPath has never been refreshed"))
    spark.read.parquet(s"$viewPath/${m.state}")
  }

  def refresh(): Unit = {
    inner.refresh()
    val innerHow = inner.lastRefresh
    val dvs = dimTables.map(_.version)
    val prev = loadJManifest()
    val innerId = inner.stateId.getOrElse("")
    // noop ONLY when the published final state was derived from the
    // inner state THAT EXISTS NOW: a crash between the inner commit
    // and this manifest's publish otherwise leaves the view serving
    // stale results while every later refresh reports noop. Legacy
    // manifests (no innerstate recorded) conservatively re-finalize
    // once.
    if (innerHow == "noop" && prev.exists(m =>
        m.dimVers == dvs && m.innerState == innerId)) {
      lastRefresh = "noop"; return
    }
    // finalize over the INNER STATE (O(|distinct FKs|) rows), never
    // the fact: dims broadcast into it, then one re-fold
    val joined = dims.zip(dimTables).foldLeft(inner.read()) {
      case (df, (d, t)) =>
        df.join(broadcast(t.read()
          .select((d.joinCols ++ d.attrCols).map(col): _*)),
          d.joinCols, "left")
    }
    val exprs = aggs.map {
      case AggSpec("count", _, out) => sum(col(out)).as(out)
      case AggSpec("sum", _, out) => sum(col(out)).as(out)
      case AggSpec("min", _, out) => min(col(out)).as(out)
      case AggSpec("max", _, out) => max(col(out)).as(out)
      case AggSpec("hll", _, out) => expr(s"hll_union_agg(`$out`)").as(out)
      case AggSpec(kind, _, _) => sys.error(s"unsupported kind '$kind'")
    }
    val fin = joined.groupBy(finalGroupCols.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
    val stateDir = s"final-${System.nanoTime()}"
    Files.createDirectories(Paths.get(viewPath))
    // |final groups| is bounded by the dims that OWN the group columns
    // (every dim attribute is functionally determined by its join FK,
    // so distinct values ≤ dim live rows, +1 for the left join's null
    // group) — all footer-OBSERVED, no job. The O(|groups|) final
    // state then publishes driver-direct; a group column not owned by
    // any dim keeps the distributed write.
    val bound: Option[Long] =
      if (finalGroupCols.nonEmpty &&
          finalGroupCols.forall(c => dims.exists(_.attrCols.contains(c)))) {
        val tables = dimTables
        val per = finalGroupCols.map { c =>
          tables(dims.indexWhere(_.attrCols.contains(c))).liveRowBound
        }
        if (per.forall(_.isDefined)) {
          val prod = per.flatten.map(n => BigInt(n) + 1).product
          if (prod.isValidLong) Some(prod.toLong) else None
        } else None
      } else None
    DirectParquetIo.write(fin, s"$viewPath/$stateDir", bound.getOrElse(-1L),
      "overwrite")
    val json = s"""{"state":"$stateDir","innerstate":"$innerId"""" +
      s""","dimvers":[""" + dvs.mkString(",") + "]}"
    GraftFs.publish(manifest, json)
    prev.map(_.state).filter(_ != stateDir)
      .foreach(d => GraftFs.touch(Paths.get(viewPath, d)))
    IncrementalAggView.sweep(viewPath)(n => n.startsWith("final-") && n != stateDir)
    lastRefresh = if (innerHow == "noop") "dim-remerge" else innerHow
  }

  private def loadJManifest(): Option[JManifest] =
    if (!Files.exists(manifest)) None
    else {
      val s = Files.readString(manifest)
      val state = """"state":"([^"]+)"""".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse(return None)
      val vers = """"dimvers":\[([^\]]*)\]""".r.findFirstMatchIn(s)
        .map(_.group(1).split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty).map(_.toLong))
        .getOrElse(Seq.empty)
      val innerState = """"innerstate":"([^"]+)"""".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("") // legacy: unknown → re-finalize
      Some(JManifest(state, vers, innerState))
    }
}

object IncrementalJoinAggView {
  /** One broadcast dimension: a [[ManagedParquetTable]] at `path`
    * whose `joinCols` (named as they appear on the FACT side — rename
    * at dim-table build time) equi-join the inner state; `attrCols`
    * are the attributes carried into the final grouping. */
  final case class Dim(path: String, joinCols: Seq[String],
      attrCols: Seq[String])

  private final case class JManifest(state: String, dimVers: Seq[Long],
      innerState: String)
}
