package graft.streaming

import graft.etl.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** CDC ingest as Structured Streaming (SURVEY.md §3.1 / §2.7):
  * envelope decode (S4) → insert-only filter (P11) → µs-epoch decode (F1)
  * → processing metadata (F5) → transactional parquet sink (S5/S8) with
  * checkpointing, plus a CSV mirror via foreachBatch (S12).
  *
  * Source abstraction: the runtime image carries no Kafka connector, so
  * the stream arrives as a raw `value: string` column from any source —
  * file stream here (tests drive it with JSON-lines drops), and the
  * identical pipeline binds to `readStream.format("kafka")` where that
  * connector exists (the reference's own prototype:
  * bronze/consume_data2.py:24-30).
  *
  * Semantics vs the reference (documented divergences, SURVEY.md §2.7):
  *  - ST1/ST2 count-based flush + 5s idle flush → ProcessingTime trigger
  *    (≤ trigger-interval latency subsumes the idle-flush requirement).
  *  - ST4 at-least-once + in-memory dedup set → checkpointed exactly-once
  *    (strictly stronger; dropDuplicates("ID") still applied in-batch).
  */
object BronzeIngest {

  /** Decode raw Debezium-envelope JSON values into activity rows. */
  def decode(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("value"), Schemas.debeziumEnvelope).as("env"))
      .filter(col("env.payload.op") === "c" &&
        col("env.payload.after").isNotNull)
      .select(col("env.payload.after.*"))
      .withColumn("Date_de_debut", timestamp_micros(col("Date_de_debut")))
      .withColumn("Date_de_fin", timestamp_micros(col("Date_de_fin")))
      .withColumn("processing_timestamp", current_timestamp())

  /** True when the spark-sql-kafka connector is on the classpath. The
    * offline runtime image carries no Kafka jar, so this gates both the
    * binding and its integration spec. */
  def kafkaAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  /** Kafka raw stream — the binding the reference's own prototype uses
    * (bronze/consume_data2.py:24-30): value bytes cast to the same
    * `value: string` column the decode path consumes, so the ENTIRE
    * bronze pipeline below is source-agnostic. Constructible only when
    * the connector jar is present (see [[kafkaAvailable]]); tests drive
    * the identical pipeline through [[fileSource]] otherwise. */
  def kafkaSource(spark: SparkSession, bootstrapServers: String,
      topic: String, startingOffsets: String = "earliest"): DataFrame = {
    require(kafkaAvailable,
      "spark-sql-kafka connector not on classpath; use fileSource instead")
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("value").cast("string").as("value"))
  }

  /** File-based raw stream: each dropped file = a batch of JSON lines. */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", 10) // bounded micro-batches (ST1 analog)
      .load(dir)

  /** Start the bronze ingest: parquet main sink + optional CSV mirror,
    * both written transactionally per micro-batch. */
  def start(raw: DataFrame, bronzePath: String, checkpoint: String,
      csvMirror: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val decoded = decode(raw)
    decoded.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val deduped = batch.dropDuplicates("ID")
        deduped.persist()
        deduped.write.mode("append").parquet(bronzePath)
        csvMirror.foreach { p =>
          deduped.write.mode("append").option("header", "true").csv(p)
        }
        deduped.unpersist()
        ()
      }
      .start()
  }

  /** Batch replay of a backlog directory (S2/S3: bounded read from
    * "earliest"), same decode path. */
  def batchReplay(spark: SparkSession, dir: String): DataFrame =
    decode(spark.read.format("text").load(dir))

  /** CDC APPLY — the compaction step a Debezium-style feed needs after
    * decode: fold a (key, seq, op, payload...) change stream to final
    * table state. Latest change per key wins (max `seqCol`; make it the
    * source LSN/offset so the order is total); a winning delete ('d')
    * removes the key entirely. Complements P11's insert-only filter:
    * that shape ignores u/d ops, this one applies them — together they
    * are the two halves of the reference's bronze contract. Scale
    * shape: one shuffle on key; the per-key window is bounded by that
    * key's change count in the batch (micro-batch or daily compaction),
    * never the table size. Compose with [[graft.io.ManagedParquetTable.merge]]
    * to upsert the folded state into the lakehouse table. */
  def applyCdc(changes: DataFrame, keyCols: Seq[String], seqCol: String,
      opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "applyCdc requires at least one key column")
    latestPerKey(changes, keyCols, seqCol)
      .filter(col(opCol) =!= "d").drop(opCol, seqCol)
  }

  /** The CDC fold every apply shares: each key's latest change (max
    * `seqCol`), one shuffle on key. */
  private def latestPerKey(changes: DataFrame, keyCols: Seq[String],
      seqCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc)
    changes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Fold `changes` to each key's latest change and apply it: winning
    * non-deletes `upsert`, winning deletes' keys `delete`; an empty side
    * is never called. One aggregate over the fold answers both emptiness
    * probes, so they cost one evaluation of the window, not two. */
  private def applyLatest(changes: DataFrame, keyCols: Seq[String],
      seqCol: String, opCol: String)(upsert: DataFrame => Unit,
      delete: DataFrame => Unit): Unit = {
    val latest = latestPerKey(changes, keyCols, seqCol)
    val isDel = col(opCol) === "d"
    val n = latest.agg(count(when(!isDel, lit(1))), count(when(isDel, lit(1))))
      .head()
    if (n.getLong(0) > 0) upsert(latest.filter(!isDel).drop(opCol, seqCol))
    if (n.getLong(1) > 0) delete(latest.filter(isDel).select(keyCols.map(col): _*))
  }

  /** ST11: the per-micro-batch half of a streaming CDC UPSERT sink —
    * fold the batch's changes ([[applyCdc]] semantics) and apply them
    * to a managed table: winning non-deletes MERGE (update-or-insert),
    * winning deletes remove their keys via anti-join (never an isin
    * collect). Call from foreachBatch; with the stream's checkpoint
    * this gives effectively-once table state (a replayed batch merges
    * idempotently — same keys, same payloads — and re-deletes absent
    * keys, a no-op). Two commits per batch (merge + delete), each
    * individually atomic; readers between them see the post-merge
    * pre-delete snapshot, the same visibility a two-statement Delta
    * transaction script would give. */
  def upsertCdcBatch(table: graft.io.ManagedParquetTable,
      changes: DataFrame, keyCols: Seq[String], seqCol: String,
      opCol: String): Unit =
    applyLatest(changes, keyCols, seqCol, opCol)(
      table.merge(_, keyCols), table.deleteMatching(_, keyCols))

  /** [[upsertCdcBatch]] with the delete half landing as DELETION
    * VECTORS: a micro-batch of scattered streaming tombstones writes
    * O(matched rows) — `deleteMatching`'s copy-on-write form rewrites
    * every segment holding a matched key, which at streaming cadence
    * against a 100 TB table is a continuous table rewrite. Upserts
    * still MERGE (narrowed); deletes tombstone via
    * [[graft.io.ManagedParquetTable.deleteMatchingDV]]; then
    * `compactDeletes(purgeThreshold)` folds any segment whose
    * tombstone fraction crossed the threshold into a physical rewrite,
    * so dv accumulation stays bounded across the stream's life
    * (without it, years of micro-batch deletes would pile sidecars
    * onto every scan). Effectively-once under checkpoint replay for
    * the same reason as the rewriting form: a replayed merge is
    * idempotent, and a replayed delete matches no live rows (they are
    * already tombstoned), committing nothing. */
  def upsertCdcBatchDV(table: graft.io.ManagedParquetTable,
      changes: DataFrame, keyCols: Seq[String], seqCol: String,
      opCol: String, purgeThreshold: Double = 0.5): Unit = {
    applyLatest(changes, keyCols, seqCol, opCol)(
      table.merge(_, keyCols), table.deleteMatchingDV(_, keyCols))
    table.compactDeletes(purgeThreshold)
  }

  /** ST14: the per-micro-batch half of a streaming SCD2 dimension sink —
    * fold the batch's observed states into a managed table holding the
    * versioned dimension (operators/Scd.scala schema). Per batch:
    * [[graft.operators.Scd.rebuildKeys]] rebuilds ONLY the keys the
    * batch mentions, and a single MERGE swaps them in (merge replaces
    * every stored row sharing a rebuilt key — exactly the SCD2 swap —
    * in ONE atomic commit, so there is no crash window where a key's
    * history has been deleted but its rebuilt rows not yet written).
    * Untouched keys are never read, rewritten or windowed, so per-batch
    * cost tracks the batch's key set, not the dimension's history — the
    * property that lets a 100 TB dimension absorb a trickle CDC stream.
    *
    * Effectively-once under checkpoint replay WITHOUT extra state: a
    * replayed batch's rows are re-presented to [[graft.operators.Scd.scd2]]
    * alongside the change points they already created; each duplicate
    * sorts adjacent to its original with equal attributes and collapses,
    * so the rebuilt history is identical (run-collapse is idempotent and
    * the merge commit is too). Inherits applyDelta's monotone-per-key
    * timestamp contract; note Scd.LatePolicy.Fail is deliberately NOT
    * wired here — a replayed duplicate of a non-head change point sits
    * below the key's newest valid_from and would trip it spuriously.
    * Feeds that deliver genuinely late rows opt into
    * [[scd2BatchFromRaw]], which uses the same detector as a ROUTER to
    * the raw-history rebuild instead of a gate. */
  def scd2Batch(table: graft.io.ManagedParquetTable, batch: DataFrame,
      keyCols: Seq[String], attrCols: Seq[String], tsCol: String,
      idCol: String): Unit = {
    if (batch.isEmpty) return
    if (table.exists)
      table.merge(graft.operators.Scd.rebuildKeys(
        table.read(), batch, keyCols, attrCols, tsCol, idCol), keyCols)
    else
      table.append(
        graft.operators.Scd.scd2(batch, keyCols, attrCols, tsCol, idCol))
  }

  /** ST14, late-tolerant variant (opt-in): [[scd2Batch]] for feeds that
    * can deliver genuinely late rows. Per batch it runs a late-row
    * detector as a ROUTER, not a gate: a batch with no late row folds
    * through the change-point fast path exactly as [[scd2Batch]]; a
    * batch with one rebuilds its touched keys from `raw` — the bronze
    * history table the stream also feeds — via
    * [[graft.operators.Scd.rebuildKeysFromRaw]], exact under ANY
    * delivery order. Either way ONE MERGE swaps the touched keys (same
    * atomicity and O(batch keys) cost as scd2Batch).
    *
    * The detector compares each batch row against its key's last
    * OBSERVED ts, aggregated from `raw` — NOT [[graft.operators.Scd
    * .lateRows]]'s dimension-only check. The fast path is exact iff
    * rows land at-or-after the last observed ts (Scd object doc), and
    * the dimension cannot witness that bound: a late row inside the
    * OPEN current run against COLLAPSED duplicates sits at-or-after
    * the newest change point yet still splits history — invisible to
    * lateRows, caught here because raw still holds the collapsed
    * observations. Detection cost: one column-pruned (key, ts)
    * aggregate over the touched keys' raw rows (semi-join-narrowed) —
    * far narrower than the rebuild's full-payload window, so the fast
    * path still saves real work on clean batches. Null-ts rows route
    * to the raw rebuild like any late row.
    *
    * Why routing works where LatePolicy.Fail could not (see
    * [[scd2Batch]]'s note): a checkpoint-replayed duplicate of a
    * non-head observation sits below its key's last observed ts and
    * trips the detector — but here that only routes the batch through
    * the raw rebuild, which collapses the duplicate and produces the
    * identical history; the false positive costs the raw path's read,
    * never correctness. `raw` must contain every observation of the
    * touched keys EXCEPT possibly the current batch (which is unioned
    * in) — the natural state when the same micro-batch loop appends
    * bronze before (or after) folding the dimension. */
  def scd2BatchFromRaw(table: graft.io.ManagedParquetTable,
      batch: DataFrame, raw: DataFrame, keyCols: Seq[String],
      attrCols: Seq[String], tsCol: String, idCol: String): Unit = {
    if (batch.isEmpty) return
    // pin the batch: the router, the touched-key set and the rebuild
    // must see the SAME rows (Scd.applyDelta pins its Fail gate for
    // the same reason). PlanBridge.pin, not Dataset.localCheckpoint:
    // this is a long-running per-micro-batch sink, and the hidden
    // checkpoint RDD of every batch would otherwise pile up until
    // driver GC — the pin is released in the finally, strictly after
    // the append/merge commit that consumes it.
    val (b, bRdd, _) = org.apache.spark.sql.graft.PlanBridge.pin(batch)
    try {
      if (!table.exists) {
        table.append(
          graft.operators.Scd.scd2(b, keyCols, attrCols, tsCol, idCol))
        return
      }
      val touched = b.select(keyCols.map(col): _*).distinct()
      val latest = raw.select((keyCols :+ tsCol).map(col): _*)
        .join(touched, keyCols, "left_semi")
        .groupBy(keyCols.map(col): _*)
        .agg(max(col(tsCol)).as("__latest_ts"))
      val hasLate = !b.join(latest, keyCols, "inner")
        .where(col(tsCol).isNull || col(tsCol) < col("__latest_ts"))
        .isEmpty
      val rebuilt =
        if (hasLate) graft.operators.Scd.rebuildKeysFromRaw(
          b, raw, keyCols, attrCols, tsCol, idCol)
        else graft.operators.Scd.rebuildKeys(
          table.read(), b, keyCols, attrCols, tsCol, idCol)
      table.merge(rebuilt, keyCols)
    } finally bRdd.unpersist()
  }

  /** ST15: the per-micro-batch half of a streaming INDEXED document
    * ingest — commit the batch to the managed document table, then
    * bring every derived index up to the new table version. This is
    * the claim the incremental maintainers exist for: a live stream
    * keeps corpus-scale indexes current at O(batch) cost per trigger,
    * and the probes served BETWEEN refreshes read committed
    * generations only, so search never sees a half-applied window.
    *
    * Effectively-once end to end, from two independent idempotence
    * layers (each proven separately, composed here):
    *   - the APPEND is tagged `appId:batchId` in the table commit's
    *     userMetadata (the Delta txnAppId/txnVersion idempotent-writer
    *     device); a checkpoint-replayed batch finds its tag already
    *     committed and skips the append instead of duplicating rows.
    *     A plain `append` inside foreachBatch is NOT replay-safe —
    *     this is the piece that makes it so.
    *   - each REFRESH is idempotent by its maintainer's own contract:
    *     the basis publishes only after the fold commits, and a
    *     replayed window converges (membership guards / drop-then-
    *     re-encode). A crash between append and refresh simply leaves
    *     the index one window behind; the restarted stream's replay
    *     skips the append and the refresh folds the missing window.
    *
    * Pass the stream's checkpoint-scoped identity as `appId` (stable
    * across restarts, unique per sink — e.g. the checkpoint path).
    * The tag scan starts at THIS SINK's own floor: a sidecar next to
    * the table records the log entry number AND the tag of the sink's
    * last landed append, written strictly AFTER that append commits.
    * The number is the append's OWN committed version (returned by
    * `ManagedParquetTable.append` — never a post-append re-read of
    * `table.version`, which would race any foreign commit landing in
    * between and over-advance the floor past the tag a replay must
    * find), so it is always ≤ the entry number of any append a
    * replay could be looking for (a crash between append and floor
    * write just leaves the previous floor — the scan starts one
    * append earlier, still sound). O(commits since the previous
    * batch) log reads per trigger instead of O(stream lifetime) —
    * and unlike a maintainer-basis floor, immune to OTHER commits (a
    * second sink, a compaction, a merge) landing between the append
    * and anything else: only this sink's own appends advance its
    * floor. The recorded TAG makes the replay of the sink's LAST
    * batch (the only batch a checkpointed stream can re-present)
    * recognizable even after log retention pruned its tagged
    * entry — without it, `hasCommitTagged` would degrade to
    * false and the "at-least-once re-work" would be a raw re-append,
    * i.e. duplicate rows. Re-presentation of an OLDER batch (only
    * possible outside the checkpointed-stream contract) still
    * requires log retention to exceed the sink's downtime. */
  def indexedIngestBatch(table: graft.io.ManagedParquetTable,
      batch: DataFrame, batchId: Long, appId: String,
      maintainers: Seq[graft.io.IndexMaintainer],
      maintenanceEvery: Int = 0): Unit = {
    import java.nio.file.{Files, Paths}
    val tag = s"graft-stream:$appId:$batchId"
    // filename: appId sanitized for readability PLUS a CONTENT hash
    // (SHA-256 prefix) of the verbatim appId — sanitization alone can
    // collide distinct appIds ("a/b" vs "a_b", likely for
    // checkpoint-path identities) onto one floor file, and two sinks
    // sharing a floor lets one sink's floor advance past the other's
    // append (missed tag → double-append). A 32-bit hashCode would
    // merely make that collision improbable; 128 bits of SHA-256 make
    // it impossible in practice.
    val san = appId.replaceAll("[^A-Za-z0-9._-]", "_")
    val appIdHash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(appId.getBytes("UTF-8"))
      .take(16).map("%02x".format(_)).mkString
    val floorFile = Paths.get(table.path,
      s"_graft_sink_floor_${san}_$appIdHash")
    // sidecar: line 1 = log entry number of the last landed append,
    // line 2 = its tag (legacy one-line files parse as tag-less).
    // A corrupt/unreadable file parses as None = untrusted, never a
    // thrown wedge: floor 0 is always SOUND (a full retained-log
    // scan), so degrading is strictly safer than downing the sink on
    // every trigger over a zero-byte artifact or a foreign file that
    // happens to match the name.
    def parseFloor(p: java.nio.file.Path): Option[(Long, Option[String])] =
      try {
        val ls = Files.readString(p).split("\n", 2)
        Some((ls(0).trim.toLong,
          if (ls.length > 1 && ls(1).trim.nonEmpty) Some(ls(1).trim)
          else None))
      } catch {
        case _: java.io.IOException | _: NumberFormatException => None
      }
    // floor files named by an EARLIER scheme (sanitized+hashCode,
    // sanitized-only) fall back on VERBATIM ownership proof, not the
    // name: the recorded tag embeds the verbatim appId, so a legacy
    // file is trusted exactly when its tag parses as
    // graft-stream:<THIS appId>:<digits> — a sanitization-colliding
    // OTHER sink's file cannot pass that check (its tag carries ITS
    // verbatim appId), so the fallback re-imports none of the
    // ambiguity the rename fixed. A tag-less legacy file proves
    // nothing and stays untrusted: floor 0 — a full retained-log
    // scan, sound when retention exceeds the sink's
    // downtime across the upgrade (the caveat any long-idle sink
    // already carries). The first new append rewrites the new-named
    // sidecar and the fallback never fires again.
    val (floor, floorTag) =
      (if (Files.exists(floorFile)) parseFloor(floorFile)
       else Seq(
           Paths.get(table.path,
             s"_graft_sink_floor_${san}_${appId.hashCode.toHexString}"),
           Paths.get(table.path, s"_graft_sink_floor_$san"))
         .filter(Files.exists(_)).flatMap(parseFloor(_))
         .find(_._2.exists { t =>
           val rest = t.stripPrefix(s"graft-stream:$appId:")
           rest != t && rest.nonEmpty && rest.forall(_.isDigit)
         }))
        .getOrElse((0L, None))
    val alreadyCommitted = floorTag.contains(tag) ||
      (table.exists && table.hasCommitTagged(tag, floor))
    if (!alreadyCommitted) {
      // pin the batch: the empty-gate and the tagged append must see
      // the SAME rows (the scd2BatchFromRaw invariant) — a
      // non-deterministic source evaluated twice could pass the gate
      // yet commit different rows under a tag that marks the batch
      // permanently done. Inside the replay guard on purpose: a
      // replayed already-committed batch must not pay a full
      // materialization it will discard.
      val (b, bRdd, n) = org.apache.spark.sql.graft.PlanBridge.pin(batch)
      try {
        if (n > 0) {
          val v = table.append(b, Some(tag))
          // floor AFTER the append it names, derived from the append's
          // OWN commit version (manifest versions are 1-based, log
          // numbers 0-based); atomic so a reader never sees a torn pair
          graft.io.GraftFs.publish(floorFile, s"${v - 1}\n$tag")
        }
      } finally bRdd.unpersist()
    }
    // refresh even when the append was skipped: the crash may have
    // landed BETWEEN append and refresh, leaving the index a window
    // behind the table (a noop resolves in one basis read otherwise).
    // Guarded on table existence: a stream whose first batches are
    // empty has no source version for the maintainers to track yet.
    if (table.exists) {
      maintainers.foreach { m =>
        // the POLICY LOOP (maintenanceEvery > 0 turns it on): recovery
        // first and on EVERY batch — a torn swap/reorg left by a
        // maintenance death gates refresh() loudly, so it cannot wait
        // for the cadence; the probe is O(1) marker existence, and the
        // recovery plan row it unlocks is computed via the plan's own
        // early return (no listings paid on healthy batches)
        if (maintenanceEvery > 0 && m.needsRecovery())
          m.maintenancePlan().foreach(m.runMaintenance)
        m.refresh()
        // routine maintenance at the configured cadence, AFTER the
        // refresh so the plan sizes the window just folded. Each
        // recommended action runs under the maintainer's own in-flight
        // gating; a death inside one leaves the marker the next
        // batch's recovery probe finds.
        if (maintenanceEvery > 0 && (batchId + 1) % maintenanceEvery == 0)
          m.maintenancePlan().foreach(m.runMaintenance)
      }
    }
  }

  /** ST4, stateful variant: cross-batch/cross-restart dedup by ID with
    * checkpointed watermark state — strictly stronger than the
    * reference's in-memory processed_ids set (lost on restart,
    * bronze/redPandaToDeltaLake.py:134). State is bounded by the
    * event-time watermark, so it cannot grow without bound at 100 TB
    * ingest rates. */
  def startDeduped(raw: DataFrame, bronzePath: String, checkpoint: String,
      watermark: String = "1 hour",
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    decode(raw)
      .withWatermark("Date_de_debut", watermark)
      .dropDuplicatesWithinWatermark("ID")
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .format("parquet")
      .option("path", bronzePath)
      .start()
}

/** ST12: the reference's size-OR-inactivity flush policy
  * (bronze/redPandaToDeltaLake.py buffers consumed records and writes
  * the Delta batch when the buffer reaches N records OR the topic has
  * been idle past a timeout) — no stock Structured Streaming trigger
  * expresses that compound condition, so it composes as a foreachBatch
  * STAGING table: micro-batches append into staging (cheap, frequent,
  * each commit atomic); the staged rows promote to the TARGET table in
  * one append when `staged >= maxRows` or the staging has been idle
  * `>= idleMs` at a batch boundary / explicit tick. Readers of the
  * target only ever see whole flushed batches — the reference's
  * batching semantics — while staging absorbs the record-rate jitter.
  * The clock is injected so the idle path is deterministic under test;
  * on restart the staged count re-derives from the staging table
  * itself (nothing volatile is load-bearing).
  *
  * Promotion is EXACTLY-ONCE across a crash: target.append and the
  * staging clear are two independent commits, so a write-ahead intent
  * marker (pre-append target version + a fresh flush id, written
  * atomically next to the staging table) brackets the pair, and the
  * append itself carries the flush id as commitInfo.userMetadata in
  * the target's log entry (real Delta's idempotent-writer device).
  * Recovery on construction looks for a commit TAGGED with the
  * recorded flush id — found means the promote landed, so staging is
  * cleared without re-appending; absent means it never landed, so
  * staging is kept for a later flush. A bare version comparison could
  * not tell the append apart from an unrelated commit (compact,
  * merge) racing into the crash window. If the log entries
  * were themselves cleaned, the check degrades to "not landed" —
  * at-least-once, never silent loss. Either way the marker is removed
  * and no row is promoted twice. */
final class BufferedFlushSink(spark: SparkSession, targetPath: String,
    stagingPath: String, maxRows: Long, idleMs: Long,
    clock: () => Long = () => System.currentTimeMillis()) {
  import java.nio.file.{Files, NoSuchFileException, Paths}
  import graft.io.GraftFs
  private val target = new graft.io.ManagedParquetTable(spark, targetPath)
  private val staging = new graft.io.ManagedParquetTable(spark, stagingPath)
  private def intentPath = Paths.get(stagingPath, "_graft_flush_intent")
  recoverInterruptedFlush()
  private var staged: Long =
    if (staging.exists) try staging.read().count()
      catch { case _: NoSuchFileException => 0L }
    else 0L
  private var lastAppend: Long = clock()

  private def recoverInterruptedFlush(): Unit = {
    // sweep intent tmp files stranded by a crash between write and the
    // atomic rename (they were never the live marker); older writers
    // named them without the hidden-dot prefix
    GraftFs.list(Paths.get(stagingPath))
      .filter(_.getFileName.toString.stripPrefix(".")
        .startsWith("_graft_flush_intent.tmp."))
      .foreach(GraftFs.delete)
    if (Files.exists(intentPath)) {
      // format: "<preVer>\n<flushId>"; a legacy one-line or malformed
      // intent → not landed. An IO fault reading the intent or the
      // target's log propagates: guessing "not landed" would re-append
      val landed = try {
        val ls = Files.readString(intentPath).trim.split("\n", 2)
        ls.length == 2 && target.hasCommitTagged(ls(1).trim, ls(0).trim.toLong)
      } catch { case _: NoSuchFileException | _: NumberFormatException => false }
      if (landed && staging.exists)
        staging.deleteWhere(lit(true)) // promote already committed
      Files.deleteIfExists(intentPath)
    }
  }

  /** foreachBatch binding. */
  def onBatch(df: DataFrame, batchId: Long): Unit = synchronized {
    val n = df.count()
    if (n > 0) {
      staging.append(df)
      staged += n
      lastAppend = clock()
    }
    maybeFlush(force = false)
  }

  /** Idle-timeout check between batches (the reference polls this). */
  def tick(): Unit = synchronized { maybeFlush(force = false) }

  /** Graceful-shutdown drain (ST5): promote whatever is staged. */
  def flush(): Unit = synchronized { maybeFlush(force = true) }

  def stagedRows: Long = synchronized(staged)

  private def maybeFlush(force: Boolean): Unit = {
    val idle = clock() - lastAppend >= idleMs
    if (staged > 0 && (force || staged >= maxRows || idle)) {
      val rows = staging.read()
      // write-ahead intent: pre-append version + flush id; the append
      // carries the id as commit userMetadata so a restart can tell
      // whether THIS promote landed (see class doc)
      val flushId = java.util.UUID.randomUUID().toString
      GraftFs.publish(intentPath, s"${target.version}\n$flushId")
      if (target.exists) target.append(rows, Some(flushId))
      else target.overwrite(rows, Some(flushId))
      staging.deleteWhere(lit(true))
      Files.deleteIfExists(intentPath)
      staged = 0
      lastAppend = clock()
    }
  }
}

/** Incremental bronze→gold propagation as a stream (ST7 "proper"
  * variant): stream new bronze files, enrich each micro-batch with the
  * broadcast dims, append to gold. */
object GoldStream {
  def start(spark: SparkSession, bronzePath: String, sportive: DataFrame,
      hr: DataFrame, goldPath: String, checkpoint: String): StreamingQuery = {
    val bronze = spark.readStream
      .schema(Schemas.activity.add("processing_timestamp",
        org.apache.spark.sql.types.TimestampType))
      .parquet(bronzePath)
    val sp = sportive.withColumnRenamed("ID salarié", "ID_salarie")
    val h = hr.withColumnRenamed("ID salarié", "ID_salarie")
    bronze
      .join(broadcast(sp), Seq("ID_salarie"), "left")
      .join(broadcast(h), Seq("ID_salarie"), "left")
      .withColumn("gold_processing_timestamp", current_timestamp())
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .format("parquet")
      .option("path", goldPath)
      .start()
  }
}

/** Event-time windowed aggregation with watermarking (ST8 — absent in
  * the reference, provided as the Spark-native capability a scaled
  * deployment needs): per event-type counts over tumbling windows,
  * late data bounded by the watermark. */
object WindowedStats {
  def eventTypeCounts(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** ST9: watermarked stream-stream interval join (beyond the
    * reference — the Spark-native capability for correlating two live
    * event feeds, e.g. impressions to conversions). Both sides are
    * watermarked and the join carries an event-time interval bound
    * (`right.ts` in [left.ts, left.ts + within]), which is exactly
    * what lets Spark BOUND the join state: rows older than
    * watermark + interval are evicted instead of buffered forever —
    * the difference between a stream-stream join that runs for months
    * and one that OOMs.
    *
    * Column contract: left has (key, ts, ...), right has (key, ts,
    * ...); output prefixes disambiguate. Inner join semantics. */
  /** ST10: event-time SESSION windows — the streaming counterpart of
    * the batch sessionizer (w6): events of one user within `gap` of
    * each other merge into one growing window; a quiet period > gap
    * closes it. The watermark is what makes this bounded: a session
    * window finalizes (and its state evicts) once the watermark passes
    * its end, so state is O(active sessions), not O(history) — the
    * property that lets per-user sessionization run indefinitely at
    * firehose scale. Append mode emits only finalized sessions. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))

  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      within: String = "10 minutes",
      watermark: String = "10 minutes", joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        struct(left.columns.map(col): _*).as("l"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        struct(right.columns.map(col): _*).as("r"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"),
      joinType)
  }

  /** ST9, LEFT OUTER form: every left row eventually emits — matched
    * rows as they pair, UNMATCHED rows with a null right side once the
    * watermark passes `l_ts + within` (Spark can only then prove no
    * match can still arrive; the interval bound is what makes the
    * promise finite). The funnel-breakage feed: impressions with no
    * conversion inside the window, emitted exactly once, state still
    * bounded by watermark + interval. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, key: String,
      within: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    intervalJoin(left, right, key, within, watermark, "left_outer")
}
