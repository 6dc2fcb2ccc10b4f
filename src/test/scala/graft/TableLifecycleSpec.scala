package graft

import java.nio.file.Files

import graft.io.ManagedParquetTable
import graft.tools.DeltaLogReplay
import org.apache.spark.sql.functions._

/** Randomized lifecycle differential for the managed table — the class
  * of bug the oracle gates cannot see (round-10's review-fix pass found
  * four: crash windows, schema evolution, stale sidecars, all in
  * HISTORY interleavings no fixed fixture exercises).
  *
  * Seeded histories interleave every commit kind the table supports —
  * append, schema-evolving append, merge, narrowed delete, DV deletes
  * (predicate + key-set), compact, tombstone REORG, and (long
  * histories) vacuum with and without a retention horizon — and after
  * each history the FULL version axis is checked against an in-memory
  * row oracle: `readAt(v)` row-exact at every readable mirror version,
  * the independent parquet-mr delta-log replay (no Spark, no manifest)
  * agreeing on live files and row counts while the log is whole, and
  * the final `read()` row-exact. After retention prunes the log, the
  * contract flips shape and the suite checks THAT: versions below the
  * horizon raise the clean retention error (and form a PREFIX of the
  * version axis — never a hole), the head stays readable and exact,
  * and the full-log replay fails loudly with "commit gap" instead of
  * silently miscounting. The oracle applies plain filter/upsert
  * semantics, so any divergence — a resurrected tombstone, a survivor
  * lost in a narrowed rewrite, a schema-evolution null-fill gap, a dv
  * entry misapplied to a historical version, a retention pass eating a
  * retained version — fails with the seed in the message. */
class TableLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** One modeled row; `w` exists only after the history's schema
    * evolution (None = the column is absent/null for this row). */
  private case class MRow(id: Long, v: Long, w: Option[Long])

  private val Histories = 50
  private val OpsPerHistory = 8

  /** Long enough that the delta mirror writes checkpoints (cadence 10)
    * and a retention pass has a horizon to snap to. */
  private val LongHistories = 10
  private val LongOps = 22

  // reclaim-eligible but reader-safe: every segment in a test history
  // is seconds old, so an in-horizon version's files always survive
  // the sweep — the destructive-grace behavior is IoSpec's territory
  private val Grace = 60 * 60 * 1000L

  test(s"randomized differential: $Histories seeded histories, " +
      "readAt + replay + read vs in-memory oracle at every version") {
    val root = Files.createTempDirectory("graft_lifecycle").toString
    for (h <- 0 until Histories) {
      runHistory(h, s"$root/t$h", OpsPerHistory, withVacuum = false)
      ()
    }
  }

  test(s"randomized retention differential: $LongHistories long " +
      "histories with vacuum/retention interleaved — in-horizon exact, " +
      "out-of-horizon clean error, replay fails loudly on a pruned log") {
    val root = Files.createTempDirectory("graft_lifecycle_r").toString
    val pruned = (0 until LongHistories).map(h =>
      runHistory(1000 + h, s"$root/t$h", LongOps, withVacuum = true))
    // the retention branch must actually fire across the batch — a
    // suite where every history's horizon was a no-op proves nothing
    assert(pruned.count(identity) >= 3,
      s"retention engaged in only ${pruned.count(identity)} of " +
        s"$LongHistories long histories — lengthen them")
  }

  test("policy-driven maintenance: a 40-window ingest runs compact/" +
      "compactDeletes/vacuum FROM maintenancePlan; bounds hold and " +
      "read() stays oracle-exact throughout") {
    import graft.io.TableMaintenancePolicy
    val dir = Files.createTempDirectory("graft_mplan_lc").toString + "/t"
    val t = new ManagedParquetTable(spark, dir)
    val rnd = new scala.util.Random(7)
    // tight bounds so a 40-window fixture crosses every band the way a
    // year of production windows crosses the defaults
    val pol = TableMaintenancePolicy(
      maxLiveFiles = 6, smallFileBytes = 1L << 20,
      maxSmallFilePermille = 1001L, targetFileBytes = 1L << 30,
      maxLiveDvEntries = 3, maxTombstonePermille = 250L,
      maxStaleObjects = 12)
    val oracle = scala.collection.mutable.Map.empty[Long, Long]
    var nextId = 0L
    var nCompact, nCdel, nVac = 0
    var maxFilesAfter = 0
    // LIVE files (manifest-resolved): dead segs awaiting vacuum are
    // not scan cost, and the policy bound is about what a scan pays
    def liveFileCount(): Int = t.deltaSnapshotFiles().size
    def check(tag: String): Unit = {
      val got = t.read().select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      assert(got == oracle.toSeq.sortBy(_._1), s"diverged at $tag")
    }
    for (w <- 1 to 40) {
      val batch = (0 until (1 + rnd.nextInt(4))).map { _ =>
        val r = (nextId, rnd.nextInt(1000).toLong); nextId += 1; r
      }
      t.append(batch.toDF("id", "v").repartition(1))
      batch.foreach { case (i, v) => oracle(i) = v }
      if (rnd.nextInt(3) == 0 && oracle.nonEmpty) {
        val victims = rnd.shuffle(oracle.keys.toSeq)
          .take(1 + rnd.nextInt(3))
        t.deleteMatchingDV(victims.toDF("id"), Seq("id"))
        victims.foreach(oracle.remove)
      }
      // the loop runs exactly what the plan recommends — cadence is
      // the policy's, not a scripted schedule
      t.maintenancePlan(pol).foreach { a =>
        a.action match {
          case "compact" =>
            t.compact(targetFiles = a.suggestion.toInt); nCompact += 1
          case "compactDeletes" => t.compactDeletes(0.01); nCdel += 1
          case "vacuum" => t.vacuum(graceMs = 0L); nVac += 1
          case other => fail(s"window $w: unexpected recommendation $other")
        }
      }
      maxFilesAfter = math.max(maxFilesAfter, liveFileCount())
      if (w % 8 == 0) check(s"w$w")
    }
    check("final")
    info(s"policy fired: $nCompact compactions, $nCdel delete-reorgs, " +
      s"$nVac vacuums; max live files after maintenance $maxFilesAfter")
    // post-maintenance live files stay bounded by the policy knob —
    // never history length
    assert(maxFilesAfter <= pol.maxLiveFiles,
      s"live files after maintenance must stay ≤ ${pol.maxLiveFiles}, " +
        s"got $maxFilesAfter")
    // every leg must actually FIRE over 40 windows
    assert(nCompact >= 2, s"file pressure never compacted ($nCompact)")
    assert(nCdel >= 1, s"tombstone pressure never reorged ($nCdel)")
    assert(nVac >= 1, s"dead weight never vacuumed ($nVac)")
    // final sweeps CONVERGE: each action can create work for the next
    // (a compaction leaves dead segs for vacuum), but a bounded number
    // of rounds must end with nothing recommended
    var rounds = 0
    while (t.maintenancePlan(pol).nonEmpty && rounds < 4) {
      t.maintenancePlan(pol).foreach { a =>
        a.action match {
          case "compact" => t.compact(targetFiles = a.suggestion.toInt)
          case "compactDeletes" => t.compactDeletes(0.01)
          case "vacuum" => t.vacuum(graceMs = 0L)
          case other => fail(s"final sweep: unexpected $other")
        }
      }
      rounds += 1
    }
    assert(t.maintenancePlan(pol).isEmpty,
      s"plan must converge to empty (ran $rounds sweep rounds)")
    check("after final sweep")
  }

  /** Runs one seeded history and its full-version-axis differential;
    * returns whether retention actually pruned this history's log. */
  private def runHistory(seed: Int, dir: String, maxOps: Int,
      withVacuum: Boolean): Boolean = {
    val rnd = new scala.util.Random(seed)
    val t = new ManagedParquetTable(spark, dir)
    var oracle = Vector.empty[MRow]      // live rows, id-unique
    val states = scala.collection.mutable.ArrayBuffer.empty[Vector[MRow]]
    var nextId = 0L
    var evolved = false

    def freshRows(n: Int, withW: Boolean): Vector[MRow] = {
      val rows = (0 until n).map { _ =>
        val r = MRow(nextId, rnd.nextInt(1000).toLong,
          if (withW) Some(rnd.nextInt(1000).toLong) else None)
        nextId += 1
        r
      }
      rows.toVector
    }

    def toDf(rows: Seq[MRow], withW: Boolean) =
      if (withW) rows.map(r => (r.id, r.v,
          r.w.map(java.lang.Long.valueOf).orNull))
        .toDF("id", "v", "w")
      else rows.map(r => (r.id, r.v)).toDF("id", "v")

    def commitCheckpointed(op: () => Unit): Unit = {
      val before = t.version
      op()
      // ops that matched nothing / had nothing to do commit nothing —
      // the state vector only grows when the version does
      if (t.version > before) {
        assert(t.version == before + 1, s"seed=$seed: multi-commit op")
        states += oracle
      } else states.lastOption.foreach(last =>
        assert(last == oracle, s"seed=$seed: oracle moved without a commit"))
    }

    // first op is always an append so every later op has a table
    val ops = 1 + rnd.nextInt(maxOps)
    val nKinds = if (withVacuum) 10 else 8
    for (step <- 0 to ops) {
      val pick = if (step == 0) 0 else rnd.nextInt(nKinds)
      pick match {
        case 0 => // plain append (post-evolution it may or may not carry w)
          val withW = evolved && rnd.nextBoolean()
          val rows = freshRows(1 + rnd.nextInt(8), withW)
          commitCheckpointed { () =>
            t.append(toDf(rows, withW)); oracle ++= rows
          }
        case 1 => // schema-evolving append (at most once per history)
          if (!evolved) {
            val rows = freshRows(1 + rnd.nextInt(8), withW = true)
            commitCheckpointed { () =>
              t.append(toDf(rows, withW = true)); oracle ++= rows
            }
            evolved = true
          }
        case 2 => // merge: update a random id slice + insert fresh ids
          val k = 2 + rnd.nextInt(5)
          val r = rnd.nextInt(k)
          val updated = oracle.filter(_.id % k == r).map(row =>
            MRow(row.id, rnd.nextInt(1000).toLong,
              if (evolved) Some(rnd.nextInt(1000).toLong) else None))
          val inserted = freshRows(rnd.nextInt(4), evolved)
          val batch = updated ++ inserted
          if (batch.nonEmpty) commitCheckpointed { () =>
            t.merge(toDf(batch, evolved), Seq("id"))
            val byId = batch.map(x => x.id -> x).toMap
            oracle = oracle.map(x => byId.getOrElse(x.id, x)) ++ inserted
          }
        case 3 => // narrowed rewriting delete
          val k = 2 + rnd.nextInt(6); val r = rnd.nextInt(k)
          commitCheckpointed { () =>
            t.deleteWhere(col("id") % k === r)
            oracle = oracle.filterNot(_.id % k == r)
          }
        case 4 => // deletion-vector predicate delete
          val k = 2 + rnd.nextInt(6); val r = rnd.nextInt(k)
          commitCheckpointed { () =>
            t.deleteWhereDV(col("id") % k === r)
            oracle = oracle.filterNot(_.id % k == r)
          }
        case 5 => // deletion-vector key-set delete
          val victims = oracle.filter(_ => rnd.nextInt(4) == 0).map(_.id)
          if (victims.nonEmpty) commitCheckpointed { () =>
            t.deleteMatchingDV(victims.toDF("id"), Seq("id"))
            val dead = victims.toSet
            oracle = oracle.filterNot(r => dead(r.id))
          }
        case 6 => // OPTIMIZE compaction (logical no-op)
          if (oracle.nonEmpty) commitCheckpointed { () =>
            t.compact(targetFiles = 1 + rnd.nextInt(2))
          }
        case 7 => // tombstone REORG (logical no-op)
          commitCheckpointed { () => t.compactDeletes(0.05) }
        case 8 => // plain vacuum: reclaims garbage, commits nothing,
          // changes no readable version (grace shields every segment)
          commitCheckpointed { () => t.vacuum(graceMs = Grace) }
        case 9 => // retention vacuum: may retire history below a
          // checkpoint-snapped horizon; no version bump (the one
          // documented same-version manifest rewrite)
          commitCheckpointed { () =>
            t.vacuum(graceMs = Grace,
              retainVersions = Some(1L + rnd.nextInt(6)))
          }
      }
    }
    // long histories END on a retention pass so the horizon reliably
    // engages once the mirror has a checkpoint (cadence 10) behind it
    if (withVacuum)
      t.vacuum(graceMs = Grace, retainVersions = Some(1L + rnd.nextInt(4)))

    // ---- the differential: every mirror version, three independent views
    assert(states.nonEmpty, s"seed=$seed produced no commits")
    val logPruned = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir, "_delta_log")
      val s = Files.list(p)
      try {
        val minV = s.iterator().asScala
          .map(_.getFileName.toString)
          .flatMap(n => """^(\d{20})\.json$""".r
            .findFirstMatchIn(n).map(_.group(1).toLong))
          .foldLeft(Long.MaxValue)(_ min _)
        minV > 0
      } finally s.close()
    }
    val readable = states.indices.map { m =>
      val want = states(m).sortBy(_.id)
      val rows =
        try Some(collectRows(t.readAt(m.toLong)))
        catch {
          case e: Exception
              if e.getMessage != null &&
                e.getMessage.contains("cannot reconstruct version") =>
            assert(logPruned,
              s"seed=$seed: readAt($m) raised retention error on a whole log")
            None
        }
      rows.foreach { got =>
        assert(got == want,
          s"seed=$seed: readAt($m) diverges from the oracle")
      }
      if (!logPruned) {
        assert(DeltaLogReplay.rowCount(dir, Some(m.toLong)) == want.size,
          s"seed=$seed: replay row count diverges at v$m")
        assert(DeltaLogReplay.liveFiles(dir, Some(m.toLong)).toSet ==
          t.deltaSnapshotFiles(Some(m.toLong)).toSet,
          s"seed=$seed: replay live-file set diverges at v$m")
      }
      rows.isDefined
    }
    // retention never leaves a HOLE: unreadable versions are a prefix
    // of the axis, and the head is always readable and exact
    assert(readable.zip(readable.tail).forall {
      case (a, b) => a <= b },
      s"seed=$seed: readable versions are not a suffix: $readable")
    assert(readable.last, s"seed=$seed: head version became unreadable")
    if (!logPruned) assert(readable.forall(identity),
      s"seed=$seed: version unreadable though the log is whole")
    if (logPruned) {
      // a FULL-log external replay is forfeited beyond the horizon and
      // must say so — "commit gap", never a silently wrong count
      val e = intercept[Exception] { DeltaLogReplay.rowCount(dir) }
      assert(e.getMessage.contains("commit gap"),
        s"seed=$seed: pruned-log replay failed with '${e.getMessage}'")
    }
    assert(collectRows(t.read()) == oracle.sortBy(_.id),
      s"seed=$seed: final read() diverges from the oracle")
    if (!logPruned)
      assert(DeltaLogReplay.rowCount(dir) == oracle.size,
        s"seed=$seed: final replay row count diverges")
    logPruned
  }

  /** Collect as model rows; versions predating the evolution have no
    * `w` column at all — both shapes normalize to MRow. */
  private def collectRows(df: org.apache.spark.sql.DataFrame): Vector[MRow] = {
    val hasW = df.columns.contains("w")
    val cols = if (hasW) df.select("id", "v", "w") else df.select("id", "v")
    cols.collect().map { r =>
      MRow(r.getLong(0), r.getLong(1),
        if (hasW && !r.isNullAt(2)) Some(r.getLong(2)) else None)
    }.toVector.sortBy(_.id)
  }
}
