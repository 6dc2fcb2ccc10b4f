package graft.io

import java.nio.file.{Files, Paths}

/** The surface a streaming ingest drives per micro-batch: bring a
  * derived index up to its source table's committed version. Every
  * incremental maintainer (retrieval postings, flat quantized ANN,
  * IVF-PQ, and the materialized views) implements it over the one
  * [[BasisTracker]] protocol, so a sink like
  * `BronzeIngest.indexedIngestBatch` maintains ANY mix of indexes and
  * MVs over one source table without knowing their internals — and
  * inherits each maintainer's crash contract: refresh() is idempotent
  * under whole-window replay, and the basis publishes only after the
  * fold commits. */
trait IndexMaintainer {
  def refresh(): Unit

  /** How the last refresh() on this instance resolved:
    * "full" | "incremental" | "noop" | "" (never ran); a maintainer
    * may add values for resolutions only it has (the join view's
    * "dim-remerge"). */
  def lastRefresh: String

  /** The SOURCE table version the index is current to (None before the
    * first refresh) — the floor a sink's idempotence bookkeeping can
    * scan from (BronzeIngest.indexedIngestBatch: a replayed batch's
    * commit tag cannot predate the basis its own refresh published). */
  def basis: Option[Long]

  /** Telemetry-driven maintenance recommendations for the maintained
    * artifact — each maintainer surfaces its own `maintenancePlan`
    * through the one trait so a sink can poll ANY mix of indexes
    * without knowing their internals (the closing of the policy loop:
    * `BronzeIngest.indexedIngestBatch(maintenanceEvery = N)` executes
    * these at production cadence). Empty = nothing to do — the default
    * for maintainers with no reorg surface (the MVs fold their own
    * partials per refresh). Recovery rows (action starting with
    * "recover", or "repairIndex") follow the plan contract: they
    * arrive as the ONLY row and must run before anything else. */
  def maintenancePlan(): Seq[MaintenanceAction] = Seq.empty

  /** Execute one recommended row of [[maintenancePlan]]. A maintainer
    * that returns a row must know how to run it; anything else fails
    * loudly rather than silently dropping scheduled maintenance. */
  def runMaintenance(a: MaintenanceAction): Unit =
    sys.error(s"maintainer has no maintenance action '${a.action}'")

  /** Cheap recovery probe (marker-file existence, O(1)): true when a
    * torn layout gates the next mutating call and [[maintenancePlan]]
    * would return a recovery row. The sink's policy loop checks this
    * EVERY batch — recovery cannot wait for the maintenance cadence,
    * because refresh() over a torn layout fails loudly — while the
    * full (listing-priced) plan only runs every N batches. */
  def needsRecovery(): Boolean = false
}

/** The basis protocol every incremental index maintainer shares
  * (IncrementalIvfPqIndex, IncrementalInvertedIndex): a
  * `_graft_index_basis` file under the index root records the SOURCE
  * table's delta-log version the index is current to, and a refresh
  * resolves three ways — no basis → full (re)build, basis == head →
  * noop, basis < head → fold exactly the missing `changesSince`
  * window.
  *
  * The crash-safety invariant lives HERE, once: [[refreshTo]] publishes
  * the new basis only AFTER the caller's build/fold returns, so a crash
  * between them replays the whole window on the next refresh — each
  * maintainer's fold must therefore be idempotent under whole-window
  * replay (both are: the retrieval index by its membership guards, the
  * IVF-PQ index by drop-then-re-encode convergence). A basis fix
  * (validation, fsync, version arithmetic) lands in one place instead
  * of silently diverging the maintainers' crash behavior.
  *
  * Driver-local file IO by design: the basis is maintainer bookkeeping
  * under the single-writer contract, the same class as the table
  * layer's manifest pointer — nothing executor-side reads it. */
final class BasisTracker(indexPath: String, sourceDesc: String = "") {

  private def basisFile = Paths.get(indexPath, "_graft_index_basis")

  // basis file: line 1 = source version, line 2 (optional) = source
  // LINEAGE id (the table's stable delta-log id). Pre-lineage files
  // hold one line and stay readable; the next publish upgrades them.
  private def readLines(): Option[Array[String]] =
    if (!Files.exists(basisFile)) None
    else Some(Files.readString(basisFile).split("\n").map(_.trim))

  def basis: Option[Long] = readLines().map(_.head.toLong)

  /** The recorded source lineage id (None for a pre-lineage basis). */
  def basisLineage: Option[String] =
    readLines().flatMap(_.drop(1).headOption).filter(_.nonEmpty)

  /** Atomic publish (temp + rename): readers of the basis never see a
    * torn write, and a crash mid-publish leaves the OLD basis — the
    * window simply replays. The lineage record is MONOTONE: a publish
    * without one keeps whatever lineage is already recorded (a
    * lineage-less caller must never silently downgrade the recreation
    * guard back to version-only). */
  def publish(v: Long, lineage: Option[String] = None): Unit = {
    val keep = lineage.orElse(basisLineage)
    GraftFs.publish(basisFile, v.toString + keep.map("\n" + _).getOrElse(""))
  }

  /** Run the refresh dispatch against source head version `headV`
    * (must be ≥ 0 — i.e. the source has at least one commit) and
    * return how it resolved: "full" | "incremental" | "noop".
    * `incremental` receives the recorded basis; the missing window is
    * `changesSince(basis)`.
    *
    * `lineage` is the source table's stable delta-log id
    * ([[ManagedParquetTable.tableId]]). Two guards catch a source
    * deleted-and-recreated (or rolled back) under the same path —
    * where `changesSince` would resolve garbage and the index would
    * silently strand dead-history docs:
    *   - lineage mismatch: catches recreation even when the NEW
    *     lineage's head has already caught up past the recorded
    *     version (a version-only check cannot see that);
    *   - basis > head: catches recreation/rollback on pre-lineage
    *     basis files (and a lineage-less caller). */
  def refreshTo(headV: Long, lineage: Option[String] = None)(
      full: => Unit)(incremental: Long => Unit): String = {
    // name the table: a pipeline driving several maintainers needs the
    // failing refresh to identify itself
    def src = if (sourceDesc.nonEmpty) s" at $sourceDesc" else ""
    require(headV >= 0,
      s"source table$src has no commits (index at $indexPath)")
    for (rec <- basisLineage; cur <- lineage; if rec != cur)
      throw new IllegalStateException(
        s"index at $indexPath was built against source$src lineage " +
          s"$rec but the table now has lineage $cur — the source was " +
          "deleted and recreated; delete the index and rebuild it " +
          "against the new table")
    basis match {
      case Some(b) if b == headV =>
        // upgrade a pre-lineage basis file even when there is nothing
        // to fold: an idle-but-current legacy index would otherwise
        // never record its lineage and the recreation guard would stay
        // version-only indefinitely ("the next publish" must not wait
        // for the next data window)
        if (basisLineage.isEmpty && lineage.isDefined)
          publish(headV, lineage)
        "noop"
      case Some(b) if b > headV =>
        throw new IllegalStateException(
          s"index at $indexPath records basis $b but source table$src " +
          s"head is $headV — the source regressed (recreated or rolled " +
          "back); delete the index and rebuild it against the new table")
      case Some(b) =>
        incremental(b)
        publish(headV, lineage)
        "incremental"
      case None =>
        full
        publish(headV, lineage)
        "full"
    }
  }
}
