package graft.similarity

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DirectParquetIo

import graft.io.{Cutovers, GraftFs, ManagedParquetTable}

/** Persisted, incrementally-maintained IVF-PQ index — the
  * billion-vector ANN architecture ([[VectorFunctions.ivfPqTopK]],
  * FAISS IVFPQ / Jégou et al. TPAMI 2011) as a STORED artifact instead
  * of a per-run derivation. At 100 TB the encode pass (assign every
  * vector to its inverted list + PQ-encode it) is the dominant cost of
  * an IVF-PQ query; re-deriving it per search is O(corpus) where
  * O(delta) maintenance is available. This is the same lifecycle
  * template [[IncrementalVectorIndex]] applies to the flat quantized
  * index, applied to the engine's flagship ANN form. (Reference
  * behavior anchor: the reference re-derives gold outputs per run —
  * gold/bronzeToGold.py — viable at notebook scale only.)
  *
  * Three stored pieces under `indexPath`:
  *   - the inverted lists: a [[ManagedParquetTable]] of
  *     [[VectorFunctions.ivfPqEncode]] rows `(id, centroid_id, codes)`
  *     — m bytes of code per vector instead of 4·dim floats. Bulk
  *     writes range-cluster by `centroid_id` so each file covers a
  *     tight centroid range and the per-file min/max statistics
  *     sidecar (io/Layout.FileStats, the s21/s22 machinery) makes a
  *     probe plan OPEN only the files whose range intersects the
  *     probed lists — file-level inverted-list access, not a full
  *     index scan;
  *   - the frozen training artifacts: coarse centroids (nlist × dim)
  *     and PQ codebooks (m × ksub × dim/m) as immutable parquet dirs,
  *     published by atomic rename. Freezing them is what makes
  *     incremental maintenance EXACTLY rebuild-equivalent: given fixed
  *     centroids + codebooks, assignment and encoding are row-local,
  *     so encode(delta) ∪ stored ≡ encode(full) row-for-row (the
  *     standard IVF-PQ operating contract — FAISS trains once and
  *     add()s forever; retraining is an explicit offline rebuild);
  *   - a basis file recording the SOURCE table's delta-log version the
  *     index is current to ([[graft.io.BasisTracker]] — the one
  *     protocol all three incremental index maintainers share).
  *
  * `refresh()` follows the v16 template: inserts from
  * [[ManagedParquetTable.changesSince]] encode-and-append, deletes
  * drop as deletion-vector key tombstones (O(batch), never an index
  * rewrite), rewritten source files net to replace, and
  * `compactDeletes` keeps the index's tombstone list bounded. Crash
  * safety: the basis publishes only AFTER the index commits; a
  * replayed window drops-then-re-encodes the same keys — idempotent.
  *
  * `topK()` serves probes from the stored lists: the probed
  * centroid-id set (≤ nlist ids — coarse-quantizer planning state,
  * same driver-size class as the centroids themselves) pushes down as
  * `centroid_id IN (…)` through [[ManagedParquetTable.readWhere]], so
  * unprobed lists' files are never opened; scoring is the identical
  * ADC fold [[VectorFunctions.ivfPqTopK]] computes, so stored search
  * ≡ per-run search on the same live rows (IvfPqIndexSpec proves
  * both equivalences).
  */
final class IncrementalIvfPqIndex(spark: SparkSession,
    sourcePath: String, indexPath: String, m: Int, ksub: Int, dim: Int,
    idCol: String = "vec_id", vecCol: String = "embedding",
    rowsPerFile: Long = 100000L,
    maintenancePolicy: IvfPqMaintenancePolicy = IvfPqMaintenancePolicy())
    extends graft.io.IndexMaintainer {

  private def source = new ManagedParquetTable(spark, sourcePath)

  /** The inverted lists as a managed table. */
  val table = new ManagedParquetTable(spark, indexPath + "/lists")

  // no underscore prefix: Spark's hidden-path glob filter warns on
  // explicit roots that look hidden (the read still works, but the
  // noise is per-probe); nothing ever globs indexPath itself
  private def centroidsDir = Paths.get(indexPath, "centroids")
  private def codebooksDir = Paths.get(indexPath, "codebooks")

  private val tracker = new graft.io.BasisTracker(indexPath, sourcePath)

  /** How the last refresh() on this instance resolved:
    * "full" | "incremental" | "noop" | "" (never ran). */
  @volatile var lastRefresh: String = ""

  def basis: Option[Long] = tracker.basis

  def read(): DataFrame = { requireNoReorg(); table.read() }

  def isTrained: Boolean =
    Files.exists(centroidsDir) && Files.exists(codebooksDir)

  /** Persist the frozen training artifacts (once, before the first
    * refresh). `centroids`: (idCol, vecCol) rows, e.g. kmeansFit
    * output re-labeled or sampled corpus vectors; `codebooks`:
    * pqTrain's (sub, code, centroid). Callers choose the training
    * sample; at 100 TB training runs on a sample while encode runs on
    * everything — which is precisely why the artifacts freeze. */
  def train(centroids: DataFrame, codebooks: DataFrame): Unit = {
    require(!isTrained, s"index at $indexPath is already trained; " +
      "retraining requires an explicit rebuild (new index path)")
    writeFrozen(centroids.select(col(idCol), col(vecCol)), centroidsDir)
    writeFrozen(codebooks.select(col("sub"), col("code"), col("centroid")),
      codebooksDir)
  }

  def centroids: DataFrame = {
    // guarded like every other entry point: between reorg's lists
    // overwrite and its artifact swap these dirs hold the OLD
    // artifacts while the lists hold NEW codes — a caller composing
    // them directly (ivfPqEncode/ivfPqProbes) must refuse too
    requireNoReorg()
    require(isTrained, s"index at $indexPath is not trained")
    frozenFrame(centroidsDir)
  }

  def codebooks: DataFrame = {
    requireNoReorg()
    require(isTrained, s"index at $indexPath is not trained")
    frozenFrame(codebooksDir)
  }

  /** The frozen artifacts are quantizer DRIVER state by design — every
    * consumer either collects them into a literal (codebooks →
    * collectCodebook) or broadcasts them (centroids into the assign
    * cross-join) — yet a `spark.read.parquet` here made each refresh/
    * probe pay a scan job per read plus a broadcast-build job per
    * consuming join. Size-gated driver-local load into a LocalRelation
    * (same device as the dv/tombstone sidecars): the collect becomes
    * job-free and a BroadcastExchange over LocalTableScan builds
    * driver-side with no job. Above [[graft.io.Cutovers.FrozenLocalBytes]]
    * the read stays distributed. Values are bit-identical: same parquet
    * bytes, same IEEE floats, row order immaterial to every consumer
    * (codebooks key by (sub, code); centroid joins are argmax-by-id). */
  private def frozenFrame(dir: Path): DataFrame =
    DirectParquetIo.read(spark, Seq(dir), graft.io.Cutovers.FrozenLocalBytes)
      .getOrElse(spark.read.parquet(dir.toString))

  /** Immutable-publish: write to a temp dir, atomic-rename into place.
    * A crash mid-write leaves only the temp dir (never a half-visible
    * artifact); train() is not concurrent with itself by contract.
    * The artifacts are quantizer DRIVER state by contract, so they
    * always write driver-direct: zero Spark jobs when the frame is a
    * LocalRelation (pqTrain(iters=0) codebooks, kmeansFit output), one
    * collect job otherwise — instead of a write job PLUS the
    * output-committer round trip per artifact. */
  private def writeFrozen(df: DataFrame, dest: Path): Unit = {
    val tmp = Paths.get(s"$dest.tmp.${System.nanoTime()}")
    DirectParquetIo.write(df, tmp.toString,
      graft.io.Cutovers.DriverState, "overwrite", singleFile = true)
    GraftFs.move(tmp, dest)
  }

  private def listsDir = Paths.get(indexPath, "lists")
  private def stageOf(p: Path) = Paths.get(s"$p.reorg")

  /** The reorg's swap: each piece asides to its `.old` twin and its
    * `.reorg` staging moves in, behind `_graft_reorg_inflight`. */
  private val reorgSwap = new GraftFs.AtomicSwap(Paths.get(indexPath),
    "_graft_reorg_inflight", ".old", Seq("lists", "centroids", "codebooks"),
    Seq("lists", "centroids", "codebooks").map(p => p -> s"$p.reorg"))

  /** Forged-crash test seam: when ≥ 0, the reorg throws before its
    * swap rename number `crashBeforeMove` (0-based, counted per reorg
    * call) — how the spec kills a reorg inside the swap window. */
  private[graft] def crashBeforeMove: Int =
    GraftFs.AtomicSwap.crashBeforeMove(reorgSwap.root)
  private[graft] def crashBeforeMove_=(n: Int): Unit =
    GraftFs.AtomicSwap.crashBeforeMove(reorgSwap.root, n)

  /** Every read/maintenance entry point refuses while a reorg marker
    * is up: inside the swap window, codes and codebooks can disagree —
    * serving ADC scores from that state would be silently WRONG, not
    * merely stale. The window is the six renames only (staging runs
    * before the marker goes up), and a death inside it is recovered by
    * [[recoverReorg]] — discard staging, restore the committed
    * pre-reorg index — never a rebuild. */
  private def requireNoReorg(): Unit =
    require(!reorgSwap.inflight,
      s"index at $indexPath has an interrupted reorg (marker " +
        s"${reorgSwap.marker}) — call recoverReorg() (or re-run reorg()) to " +
        "roll back to the committed pre-reorg index; no rebuild needed")

  /** REORG the index against the live source distribution: retrain
    * the coarse centroids (same nlist) and the PQ codebooks from the
    * CURRENT live rows (or `trainOn`, e.g. a sample — at 100 TB
    * training always runs on a sample while the re-encode pass runs
    * on everything), re-encode the whole live table, and swap the
    * frozen artifacts — the sanctioned retrain path that [[train]]
    * deliberately refuses. Appends encode against frozen artifacts
    * (what makes incremental maintenance rebuild-exact), so as the
    * live distribution drifts from the training sample, assignments
    * go lopsided and quantization error grows — recall decays
    * (IvfPqIndexSpec measures the decay and the recovery). reorg()
    * restores recall at one full-encode cost: the FAISS
    * retrain-offline operating model, in place.
    *
    * Crash contract — CRASH-RECOVERABLE, never a rebuild: training,
    * codebook staging AND the full re-encode all run BEFORE the marker
    * goes up, into staging paths the live index never reads — probes
    * serve the committed pre-reorg state through the whole expensive
    * phase. The re-encoded lists stage as their OWN managed table
    * (`lists.reorg`), mirroring how the artifacts already staged. The
    * `_graft_reorg_inflight` marker then brackets only the six renames
    * of the swap; a death inside that window is rolled back by
    * [[recoverReorg]] (staging discarded, any piece already swapped
    * restored from its `.old` twin — the reverse of the swap order),
    * after which the index serves the pre-reorg state exactly as
    * committed and `reorg()` can simply re-run. The basis publishes
    * AFTER the marker clears: a death between them leaves the new
    * index with the old basis, and the next refresh re-folds windows
    * the re-encode already covered — drop-then-re-encode converges
    * (a stale basis merely replays; publishing a too-new basis before
    * a possible rollback would silently skip windows forever). The
    * re-encode covers the source HEAD snapshot read BEFORE the data
    * (the same order refresh() relies on), so windows committed
    * DURING a long reorg replay instead of being skipped. */
  def reorg(iters: Int = 5, trainOn: Option[DataFrame] = None): Unit = {
    // a leftover marker from a mid-swap death rolls back FIRST:
    // staging is discarded, the committed pre-reorg index returns to
    // service, and this run re-stages from scratch
    if (reorgSwap.inflight) recoverReorg()
    require(isTrained, s"index at $indexPath is not trained")
    // committed head, read before the data: read() below may serve a
    // few rows past it — they replay idempotently on the next refresh
    val headV = source.version - 1
    val lineage = source.tableId
    val live = source.read()
    val sample = trainOn.getOrElse(live)
    val nlist = centroids.count().toInt
    val newCents = VectorFunctions.kmeansFit(sample, nlist, iters,
      idCol, vecCol)
      .select(col("centroid_id").as(idCol), col("centroid").as(vecCol))
    val newCbs = VectorFunctions.pqTrain(sample, m, ksub, iters, dim,
      idCol, vecCol)
    // stage both artifacts fully before anything visible changes, then
    // encode from the STAGED parquet (never the in-memory frames) so
    // the swapped-in artifacts are bit-identical to what encoded the
    // lists; a pre-marker death leaves only stale staging dirs, which
    // the next run clears here
    val stageC = stageOf(centroidsDir)
    val stageB = stageOf(codebooksDir)
    Seq(stageC, stageB, stageOf(listsDir)).foreach(GraftFs.delete)
    writeFrozen(newCents, stageC)
    writeFrozen(newCbs.select(col("sub"), col("code"), col("centroid")),
      stageB)
    val cents2 = frozenFrame(stageC)
    val cbs2 = frozenFrame(stageB)
    val nFull = live.select(col(idCol)).count()
    // the expensive pass: re-encode the whole live table into the
    // STAGED lists table — the live lists keep serving probes
    val staged = new ManagedParquetTable(spark,
      stageOf(listsDir).toString)
    staged.overwrite(clustered(VectorFunctions.ivfPqEncode(
      live, cents2, cbs2, m, ksub, dim, idCol, vecCol), nFull))
    // marker brackets ONLY the swap renames; a failure LEAVES it so
    // entry points refuse the mixed state until recoverReorg rolls it
    // back. Stale .old twins of a completed reorg whose tail cleanup
    // died go before the marker (the swap drops them): a rollback
    // restoring a mix of fresh and stale twins would pair codes and
    // codebooks from different trainings — silently wrong ADC scores
    reorgSwap.run(())
    // marker down = the swap committed; basis AFTER (see contract)
    tracker.publish(headV, lineage)
  }

  /** Roll BACK an interrupted reorg ("discard staging"): every piece
    * whose `.old` twin exists is restored from it (covering a death
    * after any rename of the swap), staging dirs
    * are removed, the marker clears. The index then serves the
    * committed pre-reorg state exactly as it was — lists, artifacts
    * AND basis (the basis only publishes after a completed swap), so
    * refresh()/topK() resume immediately and `reorg()` can re-run. */
  def recoverReorg(): Unit = reorgSwap.rollback()

  /** Range-cluster an encode batch by centroid_id so each parquet file
    * covers a tight centroid range — what makes the stats sidecar
    * prune probe scans to the probed lists' files. File count scales
    * with batch size (≈ one file per `rowsPerFile` rows), so a trickle
    * append stays one small file while a bulk build fans out.
    * `rows` is counted by the CALLER on the cheap pre-encode frame (an
    * id-only scan) — counting `enc` here would run the whole
    * assign+encode job twice, once for the count and once for the
    * write. File count scales with the batch (capped at 10k files per
    * commit — an operational ceiling against listing/task-overhead
    * blowups, far above any per-batch fan-out pruning needs). */
  private def clustered(enc: DataFrame, rows: Long): DataFrame = {
    val n = math.min(10000L, math.max(1L, rows / rowsPerFile + 1)).toInt
    enc.repartitionByRange(n, col("centroid_id"), col(idCol))
      .sortWithinPartitions("centroid_id", idCol)
  }

  /** Bring the index up to the source table's committed head
    * (`version - 1`, read before the data the fold covers). */
  def refresh(): Unit = {
    requireNoReorg()
    require(isTrained, s"index at $indexPath must be trained before refresh")
    val (cents, cbs) = (centroids, codebooks)
    val head = source.version - 1
    if (head < 0) { lastRefresh = "noop"; return }
    lastRefresh = tracker.refreshTo(head, source.tableId) {
      val full = source.read()
      val nFull = full.select(col(idCol)).count()
      table.overwrite(clustered(VectorFunctions.ivfPqEncode(
        full, cents, cbs, m, ksub, dim, idCol, vecCol), nFull))
    } { b =>
      IncrementalVectorIndex.foldWindow(table, source.changesSince(b, head),
        idCol)((ins, nIns) => clustered(VectorFunctions.ivfPqEncode(
          ins, cents, cbs, m, ksub, dim, idCol, vecCol), nIns))
    }
  }

  /** Probe-pruned ADC top-k from the STORED lists — identical scoring
    * to [[VectorFunctions.ivfPqTopK]], but stage 1 reads only the
    * index files whose centroid_id range intersects the probed lists
    * (stats-sidecar file skipping; the probed-id set is ≤ nlist values
    * — planning state, not data). A probe whose kept lists files pass
    * [[Cutovers.ProbeLocalBytes]] is scored on the driver and, for a
    * LocalRelation `queries`, runs no Spark job. */
  def topK(queries: DataFrame, k: Int, nprobe: Int,
      shards: Int = 64): DataFrame =
    topKAt(queries, k, nprobe, shards, Cutovers.ProbeLocalBytes)

  /** [[topK]] with its probe gate as a parameter, so one index can be
    * probed on both sides. The probe set is derived once, on the driver,
    * and serves the file plan, the gate, and either side: the local
    * scorer ([[VectorFunctions.storedIvfPqTopKLocal]]) when the kept
    * files are non-empty, total at most `localBytes`, their deletion
    * vectors read driver-side and their id and centroid types are the
    * probe set's; else the broadcast side of
    * [[VectorFunctions.storedIvfPqTopK]]. */
  private[graft] def topKAt(queries: DataFrame, k: Int, nprobe: Int,
      shards: Int, localBytes: Long): DataFrame = {
    requireNoReorg()
    val probes = probeSet(queries, nprobe)
    val pred = col("centroid_id").isin(probes.centroidIds: _*)
    val (kept, total) = table.pruneFiles(pred)
    val probeT = probes.frame.schema
    val local =
      if (kept.isEmpty ||
          kept.map(f => Files.size(Paths.get(table.path, f))).sum > localBytes) None
      else table.readLocal(kept).filter { case (schema, _) =>
        schema(idCol).dataType == probeT("query_id").dataType &&
          schema("centroid_id").dataType == probeT("centroid_id").dataType
      }
    local match {
      case Some((schema, rows)) =>
        VectorFunctions.storedIvfPqTopKLocal(probes, schema, rows, m, ksub, k, idCol)
      case None => VectorFunctions.storedIvfPqTopK(table.readKept(pred, kept, total),
        probes.frame, m, ksub, k, idCol, shards)
    }
  }

  /** The probe set of `queries` at `nprobe`, evaluated on the driver. */
  private def probeSet(queries: DataFrame, nprobe: Int) =
    VectorFunctions.ivfPqProbesLocal(queries, centroids, codebooks, m, ksub,
      dim, nprobe, idCol, vecCol)

  /** Telemetry-driven maintenance recommendations — one
    * [[graft.io.MaintenanceAction]] per policy threshold crossed,
    * empty when the index needs nothing; the IVF-PQ sibling of
    * [[graft.text.InvertedIndex.maintenancePlan]]. Signals come from
    * the lists table's own manifest (segment count — per-window
    * appends accumulate dirs whose listing/stats overhead every probe
    * plan pays) and dv bookkeeping (live tombstone entries — each
    * one's sidecar is opened per scan); a torn reorg preempts as the
    * only row. No code scan, pollable per ingest window. */
  def maintenancePlan(
      policy: IvfPqMaintenancePolicy = IvfPqMaintenancePolicy()):
      Seq[graft.io.MaintenanceAction] = {
    import graft.io.MaintenanceAction
    if (reorgSwap.inflight)
      return Seq(MaintenanceAction("recoverReorg", "reorg_marker", 1L,
        0L, 0L, "interrupted reorg: roll back to the committed " +
          "pre-reorg index (re-running reorg() also recovers on entry)"))
    val out = Seq.newBuilder[MaintenanceAction]
    if (table.exists) {
      val segs = table.deltaSnapshotFiles()
        .map(_.split("/")(0)).distinct
      if (segs.size >= policy.maxListSegments)
        out += MaintenanceAction("compactLists", "list_segments",
          segs.size.toLong, policy.maxListSegments.toLong, 0L,
          "per-window appends accumulated segment dirs; " +
            "table.compact() folds them in one dataChange=false commit")
      val dvn = table.liveDvEntries(segs).size
      if (dvn >= policy.maxLiveDvEntries)
        out += MaintenanceAction("compactDeletes", "live_dv_entries",
          dvn.toLong, policy.maxLiveDvEntries.toLong, 0L,
          "every live tombstone entry's sidecar is opened per probe " +
            "scan; compactDeletes folds over-threshold segments")
    }
    out.result()
  }

  /** The trait-surfaced form against this instance's
    * `maintenancePolicy` — what a sink's policy loop polls
    * (`BronzeIngest.indexedIngestBatch(maintenanceEvery = N)`). */
  override def maintenancePlan(): Seq[graft.io.MaintenanceAction] =
    maintenancePlan(maintenancePolicy)

  override def runMaintenance(a: graft.io.MaintenanceAction): Unit =
    a.action match {
      case "recoverReorg" => recoverReorg()
      case "compactLists" =>
        // fold segments but KEEP the lists centroid-clustered: a flat
        // repartition would merge every centroid into every file and
        // quietly turn probe-time file skipping off
        val rows = table.read().count()
        table.compact(
          targetFiles = math.max(1L, (rows + rowsPerFile - 1)
            / rowsPerFile).toInt,
          zCols = Seq("centroid_id"))
      case "compactDeletes" => table.compactDeletes()
      case other => super.runMaintenance(a)
    }

  /** O(1) marker probe — see [[graft.io.IndexMaintainer.needsRecovery]]. */
  override def needsRecovery(): Boolean = reorgSwap.inflight

  /** The probe plan's file-skipping decision for `queries` at
    * `nprobe`: (files the scan opens, total live index files) —
    * exposed so tests/metrics can assert probes stay list-local. */
  def probeFilePlan(queries: DataFrame, nprobe: Int): (Int, Int) = {
    requireNoReorg()
    val (kept, total) = table.pruneFiles(
      col("centroid_id").isin(probeSet(queries, nprobe).centroidIds: _*))
    (kept.size, total)
  }
}

/** Thresholds for [[IncrementalIvfPqIndex.maintenancePlan]]. Defaults
  * size for a large deployment; tests pass tighter bounds.
  * `maxListSegments` bounds the lists table's segment-dir count (probe
  * planning lists every live segment's stats sidecar);
  * `maxLiveDvEntries` bounds the tombstone entries a scan must open
  * (refresh() already folds them at its own 0.3 threshold — the plan
  * surfaces a table whose refresh cadence has not kept up). */
final case class IvfPqMaintenancePolicy(
    maxListSegments: Int = 32,
    maxLiveDvEntries: Int = 16)
