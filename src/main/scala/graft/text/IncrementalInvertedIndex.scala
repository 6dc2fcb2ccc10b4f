package graft.text

import org.apache.spark.sql.SparkSession

import graft.io.{BasisTracker, ManagedParquetTable}

/** Basis-tracked maintenance of the persisted retrieval index from a
  * managed document table — the text-index analogue of
  * [[graft.similarity.IncrementalIvfPqIndex]], sharing its basis
  * protocol ([[graft.io.BasisTracker]]): the index records the SOURCE
  * table's delta-log version it is current to, and `refresh()` folds
  * exactly the missing window through [[InvertedIndex.applyChanges]]
  * (deletes tombstone, inserts append — O(changed docs), no bucket
  * rewritten). This is what a streaming ingest pipeline calls per
  * micro-batch: commit the batch to the document table (any of the
  * BronzeIngest sinks), then `refresh()` — the index trails the table
  * by at most one call and the stream never re-derives anything
  * corpus-sized.
  *
  * Crash safety, end to end:
  *   - the basis publishes only AFTER applyChanges returns
  *     (BasisTracker's contract), so a crash between them replays the
  *     whole window — and the window is idempotent by the index's own
  *     guards (appendDocs anti-joins live membership; deleteDocs
  *     tombstones only live victims; a delete+re-insert pair
  *     re-presented converges to the same live postings);
  *   - a crash INSIDE applyChanges leaves a torn generation behind the
  *     index's in-flight writer gate. A standalone caller must decide
  *     whether to repair; THIS maintainer knows the answer by
  *     construction — the un-published basis proves the torn window
  *     will replay in full — so `refresh()` runs
  *     [[InvertedIndex.repairIndex]] automatically when the gate is
  *     down (O(torn files); unclassifiable states still abort loudly
  *     rather than guess).
  *
  * Single-writer contract (the table layer's): one maintainer instance
  * owns the index path; concurrent probes are safe throughout (they
  * read committed generations only).
  */
final class IncrementalInvertedIndex(spark: SparkSession,
    sourcePath: String, indexPath: String,
    textCol: String = "text", idCol: String = "doc_id",
    nBuckets: Int = InvertedIndex.DefaultBuckets,
    policy: InvertedIndex.IndexMaintenancePolicy =
      InvertedIndex.IndexMaintenancePolicy())
    extends graft.io.IndexMaintainer {

  private def source = new ManagedParquetTable(spark, sourcePath)

  private val tracker = new BasisTracker(indexPath, sourcePath)

  /** How the last refresh() on this instance resolved:
    * "full" | "incremental" | "noop" | "" (never ran). */
  @volatile var lastRefresh: String = ""

  def basis: Option[Long] = tracker.basis

  /** Bring the index up to the source table's committed head
    * (`version - 1`, read before the data the fold covers). */
  def refresh(): Unit = {
    val head = source.version - 1
    if (head < 0) { lastRefresh = "noop"; return }
    lastRefresh = tracker.refreshTo(head, source.tableId) {
      // buildIndex overwrites wholesale and clears any stale gate.
      // read() serves the manifest state, possibly AHEAD of `head` —
      // the overshoot merely replays idempotently next window
      // (appendDocs anti-joins live membership)
      InvertedIndex.buildIndex(source.read(), textCol, idCol,
        indexPath, nBuckets)
    } { b =>
      // a dead prior refresh's torn generation replays inside THIS
      // window (basis still = b) — repair is the documented
      // precondition for the next mutating call, and here it is
      // provably safe to run unprompted
      if (InvertedIndex.needsRepair(spark, indexPath))
        InvertedIndex.repairIndex(spark, indexPath)
      InvertedIndex.applyChanges(source.changesSince(b, head), textCol,
        idCol, indexPath, nBuckets)
    }
  }

  /** [[InvertedIndex.maintenancePlan]] through the maintainer trait,
    * against THIS instance's policy — what lets a sink poll a mixed
    * fleet of maintainers without knowing index internals. Empty
    * before the first refresh builds the index (there is nothing to
    * size yet). */
  override def maintenancePlan(): Seq[graft.io.MaintenanceAction] =
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(indexPath))) Seq.empty
    else InvertedIndex.maintenancePlan(spark, indexPath, nBuckets, policy)

  override def runMaintenance(a: graft.io.MaintenanceAction): Unit =
    a.action match {
      case "recoverSwap" => InvertedIndex.recoverSwap(spark, indexPath)
      case "repairIndex" => InvertedIndex.repairIndex(spark, indexPath)
      case "compactIndex" =>
        InvertedIndex.compactIndex(spark, indexPath, nBuckets)
      case "rebucket" =>
        InvertedIndex.rebucket(spark, indexPath, a.suggestion.toInt)
      case other => super.runMaintenance(a)
    }

  /** O(1) marker probe: a torn swap gates applyChanges loudly, so the
    * sink must learn about it before every refresh, not on the
    * maintenance cadence. (Torn GENERATIONS need no probe here —
    * refresh() already repairs them in-window.) */
  override def needsRecovery(): Boolean =
    java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(indexPath)) &&
      InvertedIndex.needsSwapRecovery(spark, indexPath)
}
