package graft

import java.nio.file.Files

import graft.streaming.{BronzeIngest, CurationStream, WindowedStats}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming ingest (§3.1/§2.7): CDC decode, insert-only
  * filter, exactly-once parquet sink, CSV mirror, batch replay, and the
  * windowed-agg capability. File source drives the stream synchronously. */
class StreamingSpec extends SparkSpec {

  private def envelope(id: Int, op: String = "c"): String = {
    val after =
      s"""{"ID":$id,"ID_salarie":${100 + id},"Date_de_debut":1724069978076346,
          "Sport_type":"V","Distance_m":${1000 * id},
          "Date_de_fin":1724073578076346,"Commentaire":null}"""
        .replaceAll("\n\\s*", "")
    s"""{"payload":{"op":"$op","before":null,"after":$after,"ts_ms":1724069978000}}"""
  }

  test("bronze ingest: decode → dedup → parquet + csv mirror, exactly once") {
    val dir = Files.createTempDirectory("graft_stream").toString
    val in = s"$dir/in"; val bronze = s"$dir/bronze"; val csv = s"$dir/csv"
    new java.io.File(in).mkdirs()
    // batch 1: 3 inserts, 1 delete (op=d, must be filtered), 1 dup ID
    Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
      (Seq(envelope(1), envelope(2), envelope(3), envelope(3),
        envelope(9, op = "d")).mkString("\n")).getBytes)
    val q = BronzeIngest.start(
      BronzeIngest.fileSource(spark, in), bronze, s"$dir/ckpt",
      csvMirror = Some(csv), trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)
    val got = spark.read.parquet(bronze)
    assert(got.count() == 3) // dup ID and delete dropped
    assert(got.columns.contains("processing_timestamp"))
    // µs-precision decode (F1)
    val ts = got.filter(col("ID") === 1)
      .select(col("Date_de_debut").cast("string")).head.getString(0)
    assert(ts == "2024-08-19 12:19:38.076346")
    // CSV mirror written too (S12)
    assert(spark.read.option("header", "true").csv(csv).count() == 3)

    // batch 2 dropped later: checkpoint resumes, no reprocessing of b1
    Files.write(java.nio.file.Paths.get(s"$in/b2.json"), envelope(4).getBytes)
    val q2 = BronzeIngest.start(
      BronzeIngest.fileSource(spark, in), bronze, s"$dir/ckpt",
      trigger = Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(spark.read.parquet(bronze).count() == 4)
  }

  test("ST4: watermarked dedup state survives query restarts") {
    val dir = Files.createTempDirectory("graft_st4").toString
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    // batch 1: IDs 1,2
    Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(envelope(1), envelope(2)).mkString("\n").getBytes)
    val q1 = BronzeIngest.startDeduped(
      BronzeIngest.fileSource(spark, in), s"$dir/out", s"$dir/ck",
      trigger = Trigger.AvailableNow())
    q1.awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/out").count() == 2)
    // batch 2 AFTER restart: duplicate ID 2 (same event time) + new ID 3
    // — the reference's in-memory set would have forgotten ID 2 here
    Files.write(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(envelope(2), envelope(3)).mkString("\n").getBytes)
    val q2 = BronzeIngest.startDeduped(
      BronzeIngest.fileSource(spark, in), s"$dir/out", s"$dir/ck",
      trigger = Trigger.AvailableNow())
    q2.awaitTermination(120000)
    val ids = spark.read.parquet(s"$dir/out")
      .select("ID").as[Int](org.apache.spark.sql.Encoders.scalaInt)
      .collect().sorted
    assert(ids.sameElements(Array(1, 2, 3))) // ID 2 not duplicated
  }

  test("ST4 via MemoryStream: restored dedup state drops cross-restart dups, watermark expires it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val T = 1724069978076346L // µs epoch; watermark delay is 1 hour
    def env(id: Int, eventMicros: Long): String = {
      val after = s"""{"ID":$id,"ID_salarie":${100 + id},""" +
        s""""Date_de_debut":$eventMicros,"Sport_type":"V","Distance_m":7,""" +
        s""""Date_de_fin":${eventMicros + 60000000L},"Commentaire":null}"""
      s"""{"payload":{"op":"c","before":null,"after":$after,"ts_ms":1724069978000}}"""
    }
    val dir = Files.createTempDirectory("graft_st4_mem").toString
    val input = MemoryStream[String]
    def run(): Unit = {
      val q = BronzeIngest.startDeduped(input.toDF(), s"$dir/out", s"$dir/ck",
        trigger = Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    def idCounts: Map[Int, Long] = spark.read.parquet(s"$dir/out")
      .groupBy(col("ID")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // run 1: ids 1,2 at T
    input.addData(env(1, T), env(2, T))
    run()
    assert(idCounts == Map(1 -> 1L, 2 -> 1L))
    // run 2 (new query, same checkpoint): duplicate ID 2 — even at a
    // DIFFERENT event time — must be dropped by the RESTORED state
    // (the reference's in-memory set forgets it on restart); ID 3 passes
    input.addData(env(2, T + 600000000L), env(3, T + 600000000L))
    run()
    assert(idCounts == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
    // run 3: an event far ahead advances the event-time watermark to
    // T+2h — beyond T + 1h delay, so ids 1/2/3's dedup state EXPIRES
    input.addData(env(4, T + 10800000000L)) // T+3h
    run()
    assert(idCounts(4) == 1L)
    // run 4: ID 2 re-arrives after its state expired (event time above
    // the advanced watermark) — accepted again: state is bounded by the
    // watermark, not grow-forever
    input.addData(env(2, T + 9000000000L)) // T+2h30
    run()
    assert(idCounts(2) == 2L, s"expected expired-state re-accept, got $idCounts")
  }

  test("curation stream: gate -> cross-batch dedup -> chunk, restart-safe") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_curate").toString
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","event_ts":"2026-01-01T00:0$id:00Z"}"""
    val body = (1 to 40).map(i => s"w$i").mkString(" ") // 40 toks → 2 chunks
    // batch 1: doc 1, a quality-gated short doc 2, and doc 3
    Files.write(java.nio.file.Paths.get(s"$in/b1.jsonl"), Seq(
      doc(1, body), doc(2, "too short"), doc(3, "three tokens here then more")
    ).mkString("\n").getBytes)
    val q1 = CurationStream.start(CurationStream.source(spark, in),
      s"$dir/out", s"$dir/ck", trigger = Trigger.AvailableNow())
    q1.awaitTermination(120000)
    val out1 = spark.read.parquet(s"$dir/out")
    // doc1: 40 toks @ (32,8) → 2 chunks; doc2 gated (2 toks); doc3: 1 chunk
    assert(out1.count() == 3)
    assert(out1.filter(col("doc_id") === 1).count() == 2)
    // batch 2 AFTER restart: doc 4 duplicates doc 1's text (same content,
    // different id/time) → dropped by checkpointed fp state; doc 5 is new
    Files.write(java.nio.file.Paths.get(s"$in/b2.jsonl"), Seq(
      doc(4, body), doc(5, "fresh content for the second batch")
    ).mkString("\n").getBytes)
    val q2 = CurationStream.start(CurationStream.source(spark, in),
      s"$dir/out", s"$dir/ck", trigger = Trigger.AvailableNow())
    q2.awaitTermination(120000)
    val out2 = spark.read.parquet(s"$dir/out")
    assert(out2.filter(col("doc_id") === 4).count() == 0) // cross-batch dup
    assert(out2.filter(col("doc_id") === 5).count() == 1)
    assert(out2.count() == 4)
    // rejects() audits exactly what the gate dropped (batch over backlog)
    Files.write(java.nio.file.Paths.get(s"$in/bad.jsonl"), Seq(
      """{"doc_id":9,"text":"no event time at all"}""",
      """not json at all""",
      doc(6, "perfectly valid row included six words")).mkString("\n").getBytes)
    val rej = CurationStream.rejects(
      spark.read.text(in)).as[String].collect()
    assert(rej.length == 2 && rej.exists(_.contains("no event time")))
    // chunk payload identical to the batch operator's output
    val streamed = out2.filter(col("doc_id") === 1)
      .select("chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Int, String, Int)](org.apache.spark.sql.Encoders.product)
      .collect().sortBy(_._1).toSeq
    val batch = graft.text.TextFunctions.chunkDocuments(
      Seq((1L, body)).toDF("doc_id", "text"), "text", 32, 8)
      .select("chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Int, String, Int)](org.apache.spark.sql.Encoders.product)
      .collect().sortBy(_._1).toSeq
    assert(streamed == batch)
  }

  test("batch replay decodes the same backlog (S2/S3 semantics)") {
    val dir = Files.createTempDirectory("graft_replay").toString
    Files.write(java.nio.file.Paths.get(s"$dir/all.json"),
      Seq(envelope(1), envelope(2), envelope(7, op = "u"))
        .mkString("\n").getBytes)
    val got = BronzeIngest.batchReplay(spark, dir)
    assert(got.count() == 2) // update filtered (insert-only, P11)
  }

  test("windowed event-time aggregation with watermark (ST8 capability)") {
    val events = Tables.events(spark, sf)
    val agg = WindowedStats.eventTypeCounts(events, "1 hour", "2 hours")
    // batch execution of the same plan: sanity of totals
    val total = agg.agg(sum("n")).head.getLong(0)
    assert(total == events.count())
  }

  test("S1: kafka binding is jar-gated (integration when present, clean skip when not)") {
    import graft.streaming.BronzeIngest
    if (BronzeIngest.kafkaAvailable) {
      // connector present: the source must construct as a streaming
      // frame with the pipeline's `value: string` contract (no broker
      // needed — construction is lazy)
      val src = BronzeIngest.kafkaSource(spark, "localhost:9092", "activity")
      assert(src.isStreaming)
      assert(src.schema.fieldNames.sameElements(Array("value")))
      assert(src.schema.head.dataType ==
        org.apache.spark.sql.types.StringType)
    } else {
      // offline image: the binding must refuse loudly, not fail deep in
      // Spark's source resolution
      val e = intercept[IllegalArgumentException] {
        BronzeIngest.kafkaSource(spark, "localhost:9092", "activity")
      }
      assert(e.getMessage.contains("kafka"))
    }
  }

  test("ST12: size-OR-idle flush policy — batches stage, thresholds promote") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.BufferedFlushSink
    import graft.io.ManagedParquetTable
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_bfs").toString
    var now = 1000L // injected clock: idle behavior is deterministic
    val sink = new BufferedFlushSink(spark, s"$dir/target", s"$dir/staging",
      maxRows = 5, idleMs = 60000L, clock = () => now)
    val target = new ManagedParquetTable(spark, s"$dir/target")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.onBatch(b, id)
      }.start()
    // 3 rows: below the size threshold → staged, target still absent
    in.addData((1L, "a"), (2L, "b"), (3L, "c"))
    q.processAllAvailable()
    assert(sink.stagedRows == 3 && !target.exists)
    // 3 more: 6 >= 5 → the whole staged batch promotes at once
    in.addData((4L, "d"), (5L, "e"), (6L, "f"))
    q.processAllAvailable()
    assert(sink.stagedRows == 0 && target.read().count() == 6)
    // 2 rows: under threshold again → staged only
    in.addData((7L, "g"), (8L, "h"))
    q.processAllAvailable()
    assert(sink.stagedRows == 2 && target.read().count() == 6)
    // idle timeout passes with no data: tick() promotes the remainder
    now += 61000L
    sink.tick()
    assert(sink.stagedRows == 0 && target.read().count() == 8)
    q.stop()
    // graceful-shutdown drain is a no-op when nothing is staged
    sink.flush()
    assert(target.read().count() == 8)
  }

  test("ST12: flush promotion is exactly-once across a crash (intent marker)") {
    import graft.streaming.BufferedFlushSink
    import graft.io.ManagedParquetTable
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bfs_crash").toString
    val target = new ManagedParquetTable(spark, s"$dir/target")
    val staging = new ManagedParquetTable(spark, s"$dir/staging")
    // Crash case A: append COMMITTED (tagged with the intent's flush
    // id), staging clear did not run. Reconstruct that exact on-disk
    // state by hand: staged batch present in BOTH tables, intent
    // marker recording pre-append version + flush id.
    staging.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/staging", "_graft_flush_intent"),
      s"${target.version}\nflush-A") // pre-append target version = 0
    target.overwrite(staging.read(), Some("flush-A")) // the landed promote
    val sink = new BufferedFlushSink(spark, s"$dir/target",
      s"$dir/staging", maxRows = 1, idleMs = 60000L, clock = () => 0L)
    // recovery must NOT re-promote: 2 rows, not 4
    sink.flush()
    assert(target.read().count() == 2, "batch promoted twice after crash")
    assert(sink.stagedRows == 0)
    // Crash case B: intent written but the append never landed.
    val dirB = Files.createTempDirectory("graft_bfs_crash_b").toString
    val stagingB = new ManagedParquetTable(spark, s"$dirB/staging")
    stagingB.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val targetB = new ManagedParquetTable(spark, s"$dirB/target")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dirB/staging", "_graft_flush_intent"),
      s"${targetB.version}\nflush-B")
    val sinkB = new BufferedFlushSink(spark, s"$dirB/target",
      s"$dirB/staging", maxRows = 1, idleMs = 60000L, clock = () => 0L)
    // staged rows survive recovery and promote exactly once
    assert(sinkB.stagedRows == 2)
    sinkB.flush()
    assert(targetB.read().count() == 2)
    // Crash case C: the append never landed but an UNRELATED commit
    // (maintenance compact, another writer) bumped the target version
    // inside the crash window. Version arithmetic alone would call
    // this "landed" and silently discard the staged batch; the flush
    // tag must keep it.
    val dirC = Files.createTempDirectory("graft_bfs_crash_c").toString
    val stagingC = new ManagedParquetTable(spark, s"$dirC/staging")
    stagingC.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val targetC = new ManagedParquetTable(spark, s"$dirC/target")
    targetC.overwrite(Seq((99L, "pre")).toDF("id", "v"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dirC/staging", "_graft_flush_intent"),
      s"${targetC.version}\nflush-C")
    targetC.compact() // the unrelated commit racing into the window
    val sinkC = new BufferedFlushSink(spark, s"$dirC/target",
      s"$dirC/staging", maxRows = 1, idleMs = 60000L, clock = () => 0L)
    assert(sinkC.stagedRows == 2, "staged batch lost to an unrelated commit")
    sinkC.flush()
    assert(targetC.read().filter($"id" < 99L).count() == 2)
    // markers are gone in every case
    for (d <- Seq(dir, dirB, dirC))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$d/staging", "_graft_flush_intent")))
  }

  test("ST11: streaming CDC upsert sink — foreachBatch fold + MERGE + key delete") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.ManagedParquetTable
    import graft.streaming.BronzeIngest
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cdcup").toString
    val t = new ManagedParquetTable(spark, s"$dir/tbl")
    t.overwrite(Seq((0L, 5L)).toDF("key", "val")) // pre-existing state
    val in = MemoryStream[(Long, Long, String, Long)]
    val q = in.toDF().toDF("key", "seq", "op", "val")
      .writeStream
      .option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        BronzeIngest.upsertCdcBatch(t, batch, Seq("key"), "seq", "op")
      }.start()
    in.addData((1L, 1L, "c", 10L), (2L, 2L, "c", 20L), (3L, 3L, "c", 30L))
    q.processAllAvailable()
    assert(t.read().as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      Seq((0L, 5L), (1L, 10L), (2L, 20L), (3L, 30L)))
    // batch 2: update key 1, delete key 2, create key 4; key 1 also has
    // an older stale change the fold must ignore
    in.addData((1L, 5L, "u", 11L), (1L, 4L, "u", 99L),
      (2L, 6L, "d", 0L), (4L, 7L, "c", 40L))
    q.processAllAvailable()
    q.stop()
    assert(t.read().as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      Seq((0L, 5L), (1L, 11L), (3L, 30L), (4L, 40L)))
  }

  test("ST13: streaming CDC deletes land as deletion vectors; replay is effectively-once; purge bounds accumulation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.ManagedParquetTable
    import graft.streaming.BronzeIngest
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cdcdv").toString
    val t = new ManagedParquetTable(spark, s"$dir/tbl")
    t.overwrite((0L until 10L).map(k => (k, k * 10)).toDF("key", "val"))
    val in = MemoryStream[(Long, Long, String, Long)]
    val q = in.toDF().toDF("key", "seq", "op", "val")
      .writeStream
      .option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // high threshold: no purge yet — the dv entries must be
        // visible to the assertions below
        BronzeIngest.upsertCdcBatchDV(t, batch, Seq("key"), "seq", "op",
          purgeThreshold = 0.95)
      }.start()
    in.addData((1L, 1L, "u", 11L), (10L, 2L, "c", 100L),
      (2L, 3L, "d", 0L), (3L, 4L, "d", 0L))
    q.processAllAvailable()
    q.stop()
    val want1 = Seq((0L, 0L), (1L, 11L)) ++
      (4L until 10L).map(k => (k, k * 10)) :+ (10L, 100L)
    assert(t.read().as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      want1.sortBy(_._1))
    // the deletes arrived as tombstones, not rewrites
    assert(t.dvEntries.size == 1, s"one dv commit expected: ${t.dvEntries}")
    // REPLAY the same batch (foreachBatch re-delivery after a crash
    // between sink commit and checkpoint commit): the merge re-applies
    // idempotently and the deletes match no LIVE rows — no new dv
    // commit, no content change
    val vBefore = t.version
    val replay = Seq((1L, 1L, "u", 11L), (10L, 2L, "c", 100L),
      (2L, 3L, "d", 0L), (3L, 4L, "d", 0L)).toDF("key", "seq", "op", "val")
    BronzeIngest.upsertCdcBatchDV(t, replay, Seq("key"), "seq", "op",
      purgeThreshold = 0.95)
    assert(t.dvEntries.size == 1, "replayed deletes must not re-tombstone")
    assert(t.version == vBefore + 1, // the idempotent merge commit only
      s"replay must add exactly the merge commit: $vBefore -> ${t.version}")
    assert(t.read().as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      want1.sortBy(_._1))
    // delete-dense batch at a working threshold: the purge folds the
    // tombstones into a rewrite and retires the entries from the hot
    // path — accumulation stays bounded across the stream's life
    val dense = (4L until 9L).zipWithIndex.map { case (k, i) =>
      (k, 100L + i, "d", 0L) }.toDF("key", "seq", "op", "val")
    BronzeIngest.upsertCdcBatchDV(t, dense, Seq("key"), "seq", "op",
      purgeThreshold = 0.3)
    assert(t.read().as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      Seq((0L, 0L), (1L, 11L), (9L, 90L), (10L, 100L)))
    val segsNow = t.deltaSnapshotFiles().map(_.split("/")(0)).distinct
    assert(t.liveDvEntries(segsNow).isEmpty,
      s"purge must retire folded tombstones: ${t.liveDvEntries(segsNow)}")
  }

  test("ST14: streaming SCD2 sink — per-batch rebuild touches only the batch's keys; replay idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.ManagedParquetTable
    import graft.streaming.BronzeIngest
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_scd2s").toString
    val t = new ManagedParquetTable(spark, s"$dir/dim")
    val in = MemoryStream[(Long, String, Long, Long)]
    val q = in.toDF().toDF("k", "attr", "ts", "id")
      .writeStream
      .option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        BronzeIngest.scd2Batch(t, batch, Seq("k"), Seq("attr"), "ts", "id")
      }.start()
    def state(): Seq[(Long, String, Long, Long, Option[Long], Boolean)] =
      t.read().collect().map { r =>
        (r.getAs[Long]("k"), r.getAs[String]("attr"),
          r.getAs[Long]("change_id"), r.getAs[Long]("valid_from"),
          Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("is_current"))
      }.toSeq.sortBy(x => (x._1, x._4, x._3))
    in.addData((1L, "A", 10L, 100L), (1L, "A", 20L, 101L), (2L, "X", 10L, 102L))
    q.processAllAvailable()
    assert(state() == Seq(
      (1L, "A", 100L, 10L, None, true), (2L, "X", 102L, 10L, None, true)))
    // batch 2 touches keys 1 and 3 only: key 2's row must survive the
    // swap untouched (the O(touched-keys) contract). The swap is ONE
    // atomic merge commit — no crash window between a delete and an
    // append can lose a key's history
    val vBefore = t.version
    in.addData((1L, "B", 30L, 103L), (3L, "Y", 5L, 104L))
    q.processAllAvailable()
    q.stop()
    assert(t.version == vBefore + 1,
      s"batch swap must be one commit: $vBefore -> ${t.version}")
    val want = Seq(
      (1L, "A", 100L, 10L, Some(30L), false),
      (1L, "B", 103L, 30L, None, true),
      (2L, "X", 102L, 10L, None, true),
      (3L, "Y", 104L, 5L, None, true))
    assert(state() == want)
    // sink state == batch build over the full feed
    val full = graft.operators.Scd.scd2(
      Seq((1L, "A", 10L, 100L), (1L, "A", 20L, 101L), (2L, "X", 10L, 102L),
        (1L, "B", 30L, 103L), (3L, "Y", 5L, 104L)).toDF("k", "attr", "ts", "id"),
      Seq("k"), Seq("attr"), "ts", "id")
    assert(t.read().except(full).isEmpty && full.except(t.read()).isEmpty)
    // REPLAY batch 2 (foreachBatch re-delivery): each replayed row sorts
    // adjacent to the change point it already created and collapses —
    // state must not change
    BronzeIngest.scd2Batch(t,
      Seq((1L, "B", 30L, 103L), (3L, "Y", 5L, 104L)).toDF("k", "attr", "ts", "id"),
      Seq("k"), Seq("attr"), "ts", "id")
    assert(state() == want)
  }

  test("ST14 raw route: randomized out-of-order feed through the sink " +
      "== scd2 over the full feed; in-order batches keep the fast path") {
    import graft.io.ManagedParquetTable
    import graft.streaming.BronzeIngest
    import spark.implicits._
    // the exact case the fast path is provably wrong on (ScdSpec): a
    // collapsed duplicate inside a run hides a split point only the
    // raw feed still witnesses — the sink must route through bronze
    for (seed <- Seq(7, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val feed = (0 until 60).map { i =>
        (rnd.nextInt(5).toLong,               // k: 5 keys
          s"v${rnd.nextInt(3)}",              // attr: collapses often
          (rnd.nextInt(20) * 10).toLong,      // ts: heavy duplicates
          (1000 + i).toLong)                  // id: unique, total order
      }
      val shuffled = rnd.shuffle(feed)        // ANY delivery order
      val batches = shuffled.grouped(12).toSeq
      val dir = Files.createTempDirectory(s"graft_scd2raw$seed").toString
      val bronze = new ManagedParquetTable(spark, s"$dir/bronze")
      val dim = new ManagedParquetTable(spark, s"$dir/dim")
      for (b <- batches) {
        val bdf = b.toDF("k", "attr", "ts", "id")
        bronze.append(bdf)
        BronzeIngest.scd2BatchFromRaw(dim, bdf, bronze.read(),
          Seq("k"), Seq("attr"), "ts", "id")
      }
      val want = graft.operators.Scd.scd2(
        feed.toDF("k", "attr", "ts", "id"),
        Seq("k"), Seq("attr"), "ts", "id")
      assert(dim.read().except(want).isEmpty &&
        want.except(dim.read()).isEmpty,
        s"seed $seed: sink state diverged from full-feed scd2")
      // replaying the LAST batch (foreachBatch re-delivery) converges:
      // the detector may route it through the raw rebuild, which
      // collapses the duplicates to the identical history
      BronzeIngest.scd2BatchFromRaw(dim,
        batches.last.toDF("k", "attr", "ts", "id"), bronze.read(),
        Seq("k"), Seq("attr"), "ts", "id")
      assert(dim.read().except(want).isEmpty &&
        want.except(dim.read()).isEmpty,
        s"seed $seed: replayed batch changed state")
    }
    // the exact class the dimension-only detector (Scd.lateRows) is
    // BLIND to: a late row inside the OPEN current run against
    // collapsed duplicates — at-or-after the newest change point, yet
    // it splits history only the raw feed still witnesses. The sink's
    // observed-ts detector must route it through the raw rebuild.
    val dir3 = Files.createTempDirectory("graft_scd2raw_cr").toString
    val bronze3 = new ManagedParquetTable(spark, s"$dir3/bronze")
    val dim3 = new ManagedParquetTable(spark, s"$dir3/dim")
    val b1 = Seq((1L, "A", 10L, 1L), (1L, "A", 30L, 2L))
      .toDF("k", "attr", "ts", "id")
    bronze3.append(b1)
    BronzeIngest.scd2BatchFromRaw(dim3, b1, bronze3.read(),
      Seq("k"), Seq("attr"), "ts", "id")
    val b2 = Seq((1L, "B", 20L, 3L)).toDF("k", "attr", "ts", "id")
    bronze3.append(b2)
    BronzeIngest.scd2BatchFromRaw(dim3, b2, bronze3.read(),
      Seq("k"), Seq("attr"), "ts", "id")
    val hist = dim3.read()
      .select($"attr", $"valid_from").as[(String, Long)]
      .collect().sortBy(_._2).toSeq
    assert(hist == Seq(("A", 10L), ("B", 20L), ("A", 30L)),
      s"collapsed-run late row must reopen the A run: $hist")
    // an IN-ORDER feed pays only the detector's (key, ts) read of raw,
    // never the attr payload: drive the sink with a raw frame whose
    // ATTR column would poison the result if the rebuild consulted it
    // (its ts is older than every batch row, so batches stay clean)
    val dir2 = Files.createTempDirectory("graft_scd2raw_fp").toString
    val dim2 = new ManagedParquetTable(spark, s"$dir2/dim")
    val poison = Seq((1L, "ZZZ", 5L, 99L)).toDF("k", "attr", "ts", "id")
    BronzeIngest.scd2BatchFromRaw(dim2,
      Seq((1L, "A", 10L, 100L)).toDF("k", "attr", "ts", "id"), poison,
      Seq("k"), Seq("attr"), "ts", "id")
    BronzeIngest.scd2BatchFromRaw(dim2,
      Seq((1L, "B", 20L, 101L)).toDF("k", "attr", "ts", "id"), poison,
      Seq("k"), Seq("attr"), "ts", "id")
    val got = dim2.read().select($"attr").as[String].collect().toSet
    assert(got == Set("A", "B"),
      s"clean batches must rebuild from change points only: $got")
  }

  test("ST10: streaming session windows merge within gap, split beyond, finalize on watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sw").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(plusMin: Int) =
      new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = WindowedStats.sessionCounts(
      in.toDF().toDF("user_id", "ts"), gap = "30 minutes",
      watermark = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("sw")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ck").start()
    // user 1: events at +0, +10 (one session), then +60 (new session —
    // 50 min > 30 min gap); user 99 at +500 pushes the watermark far
    // enough to finalize both of user 1's sessions
    in.addData((1L, ts(0)), (1L, ts(10)), (1L, ts(60)))
    q.processAllAvailable()
    in.addData((99L, ts(500)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sw")
      .select($"user_id", $"session_start", $"session_end", $"n")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().filter(_._1 == 1L).sortBy(_._2.getTime)
    assert(got.length == 2, s"expected 2 finalized sessions: ${got.toSeq}")
    // session 1 spans [+0, +10+gap), holds both events
    assert(got(0)._2 == ts(0) && got(0)._3 == ts(40) && got(0)._4 == 2L,
      s"session 1 wrong: ${got(0)}")
    // session 2 is the lone +60 event, window [+60, +90)
    assert(got(1)._2 == ts(60) && got(1)._3 == ts(90) && got(1)._4 == 1L,
      s"session 2 wrong: ${got(1)}")
    // user 99's session is still open (watermark has not passed it)
    assert(!spark.table("sw").as[(Long, java.sql.Timestamp,
      java.sql.Timestamp, Long)].collect().exists(_._1 == 99L))
  }

  test("ST9: stream-stream interval join matches in-window, drops out-of-window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ssj").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(plusMin: Int) =
      new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    val views = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = WindowedStats.intervalJoin(
      views.toDF().toDF("user_id", "ts", "view_id"),
      clicks.toDF().toDF("user_id", "ts", "click_id"),
      key = "user_id", within = "10 minutes", watermark = "10 minutes")
      .select(col("l.view_id"), col("r.click_id"))
    // view at t0 for users 1 and 2; clicks: u1 in-window (+5min),
    // u2 out-of-window (+30min), u3 no matching view
    views.addData((1L, ts(0), "v1"), (2L, ts(0), "v2"))
    clicks.addData((1L, ts(5), "c1"), (2L, ts(30), "c2"), (3L, ts(5), "c3"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj").as[(String, String)].collect().toSet
    assert(got == Set(("v1", "c1")),
      s"interval join mismatch: $got")
    // state boundedness is structural: the interval bound + watermark
    // give Spark a state eviction condition — assert the query planned
    // a stream-stream join with watermarks rather than buffering all
    val progress = q.lastProgress
    assert(progress == null || progress.stateOperators != null)
  }

  test("ST9 left outer: unmatched left rows emit nulls only after the " +
    "watermark proves no match can arrive") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ssjlo").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(plusMin: Int) =
      new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    val views = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = WindowedStats.intervalJoinLeftOuter(
      views.toDF().toDF("user_id", "ts", "view_id"),
      clicks.toDF().toDF("user_id", "ts", "click_id"),
      key = "user_id", within = "10 minutes", watermark = "10 minutes")
      .select(col("l.view_id"), col("r.click_id"))
    val q = joined.writeStream.format("memory").queryName("ssjlo")
      .option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.ProcessingTime("1 second")).start()
    // u1 converts in-window; u2 never converts — its null row may only
    // surface once the watermark passes t0 + within
    views.addData((1L, ts(0), "v1"), (2L, ts(0), "v2"))
    clicks.addData((1L, ts(5), "c1"))
    q.processAllAvailable()
    val early = spark.table("ssjlo")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(early == Set(("v1", Some("c1")))
      || early == Set.empty[(String, Option[String])],
      s"v2's null row must NOT emit before the watermark: $early")
    // advance BOTH watermarks far past t0 + within: v2 completes as
    // unmatched (u3's click finds no view and drops — left outer, not full)
    views.addData((9L, ts(60), "v9"))
    clicks.addData((3L, ts(60), "c3"))
    q.processAllAvailable()
    // one more batch so the outer-null emission (driven by the new
    // watermark) lands in the sink
    views.addData((9L, ts(61), "v9b"))
    clicks.addData((9L, ts(120), "c9"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjlo")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(got.contains(("v1", Some("c1")))) // matched pair
    assert(got.contains(("v2", None)), // completed-as-unmatched
      s"unmatched left row never emitted: $got")
    assert(!got.exists(p => p._2.contains("c3")),
      "a right row without a left match must not emit in a LEFT outer join")
  }

  /** Forge a mid-stream crash: drop the checkpoint's LAST batch commit
    * marker, so a restarted query re-presents that batch to the sink
    * (exactly the at-least-once re-delivery window foreachBatch sinks
    * must survive). */
  private def forgeReplay(ck: String): Unit = {
    val dir = new java.io.File(s"$ck/commits")
    val commits = dir.listFiles()
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "no commits to forge a replay from")
    val n = commits.last.getName
    assert(commits.last.delete())
    // the local FS keeps a hidden checksum twin; leaving it would make
    // the restarted query's re-commit rename fail
    new java.io.File(dir, s".$n.crc").delete()
  }

  test("ST15: streaming-maintained retrieval index — per-batch refresh " +
      "from a checkpointed foreachBatch sink; mid-stream kill + replay " +
      "is exactly-once; concurrent probes only ever see committed state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.ManagedParquetTable
    import graft.text.{IncrementalInvertedIndex, InvertedIndex}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_st15").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val idx = new IncrementalInvertedIndex(spark, s"$dir/docs",
      s"$dir/idx", nBuckets = 8)
    val Q = "hash join table"
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(200)
      .as[(Long, String)].collect().toSeq
    def probe() = InvertedIndex.bm25TopKIndexed(spark, s"$dir/idx", Q,
      k = 20, nBuckets = 8).as[(Long, Long, Long, Long)].collect().toSeq
    def freshRef() = {
      val ref = Files.createTempDirectory("graft_st15_ref").toString
      InvertedIndex.buildIndex(t.read().select($"doc_id", $"text"),
        "text", "doc_id", ref, nBuckets = 8)
      InvertedIndex.bm25TopKIndexed(spark, ref, Q, k = 20, nBuckets = 8)
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    // committed snapshots, recorded inside the sink AFTER each refresh
    val snapshots =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Long, Long, Long)]]
    val input = MemoryStream[(Long, String)]
    def startQ() = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        BronzeIngest.indexedIngestBatch(t, b, id, "st15", Seq(idx))
        snapshots.add(probe())
        ()
      }.start()
    // batch 0: first window builds the index through the sink
    input.addData(all.slice(0, 60): _*)
    val q1 = startQ()
    q1.processAllAvailable()
    assert(idx.lastRefresh == "full")
    assert(probe() === freshRef())
    // batches 1-2 with a CONCURRENT prober: probes must only ever see
    // a committed post-refresh snapshot (generation gating), never a
    // half-applied window, even while appendDocs is mid-flight
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Long, Long, Long)]]
    @volatile var stopProbing = false
    val prober = new Thread(() => {
      while (!stopProbing) { seen.add(probe()); Thread.sleep(20) }
    })
    prober.start()
    input.addData(all.slice(60, 120): _*)
    q1.processAllAvailable()
    input.addData(all.slice(120, 170): _*)
    q1.processAllAvailable()
    q1.stop()
    stopProbing = true
    prober.join()
    import scala.jdk.CollectionConverters._
    val committedStates = snapshots.asScala.toSet
    assert(seen.asScala.nonEmpty, "prober must have sampled the stream")
    seen.asScala.foreach(r => assert(committedStates.contains(r),
      "a concurrent probe observed a state no committed refresh produced"))
    assert(idx.lastRefresh == "incremental")
    assert(probe() === freshRef())
    // forge the mid-stream crash: kill after the sink ran batch 2 but
    // before its checkpoint commit — the restarted stream re-presents
    // batch 2, the tagged append skips, the refresh noops
    forgeReplay(s"$dir/ck")
    val rowsBefore = t.read().count()
    val vBefore = t.version
    val q2 = startQ()
    q2.processAllAvailable()
    q2.stop()
    assert(t.read().count() == rowsBefore && t.version == vBefore,
      "replayed batch must not duplicate rows or commit again")
    assert(probe() === freshRef(),
      "post-replay index must equal a fresh rebuild")
    // crash in the OTHER window: the append committed but the refresh
    // never ran; re-presenting the batch must skip the append and fold
    // exactly the missing window
    val b3 = all.slice(170, 200).toDF("doc_id", "text")
    t.append(b3, Some("graft-stream:st15:99"))
    BronzeIngest.indexedIngestBatch(t, b3, 99L, "st15", Seq(idx))
    assert(idx.lastRefresh == "incremental")
    assert(t.read().count() == rowsBefore + 30,
      "re-presented batch must not re-append")
    assert(probe() === freshRef())
  }

  test("ST15 idempotence survives interleaved foreign commits: a " +
      "replayed batch is skipped even when a second sink and a " +
      "compaction advanced the table between its append and the replay") {
    import graft.io.ManagedParquetTable
    import graft.text.{IncrementalInvertedIndex, InvertedIndex}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st15x").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val idx = new IncrementalInvertedIndex(spark, s"$dir/docs",
      s"$dir/idx", nBuckets = 8)
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(90)
    val b0 = all.where($"doc_id" % 3 === 0)
    BronzeIngest.indexedIngestBatch(t, b0, 0L, "sinkA", Seq(idx))
    // foreign commits land AFTER sinkA's append: a second sink's batch
    // (its own refresh pushes the shared index basis past sinkA's
    // append) and a compaction commit — the exact interleaving that
    // would fool any floor derived from the maintainers' basis
    BronzeIngest.indexedIngestBatch(t, all.where($"doc_id" % 3 === 1),
      0L, "sinkB", Seq(idx))
    t.compact()
    val rows = t.read().count()
    val v = t.version
    // sinkA's batch 0 replays (foreachBatch re-delivery after a crash
    // before its checkpoint commit): the tag scan must still find the
    // original append
    BronzeIngest.indexedIngestBatch(t, b0, 0L, "sinkA", Seq(idx))
    assert(t.read().count() == rows && t.version == v,
      "replayed batch must not re-append past interleaved commits")
    // and the index still equals a fresh rebuild
    val ref = Files.createTempDirectory("graft_st15x_ref").toString
    InvertedIndex.buildIndex(t.read().select($"doc_id", $"text"),
      "text", "doc_id", ref, nBuckets = 8)
    def probe(p: String) = InvertedIndex.bm25TopKIndexed(spark, p,
      "hash join table", k = 20, nBuckets = 8)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(probe(s"$dir/idx") === probe(ref))
  }

  test("ST15 floor sidecar: last-batch replay is recognized from the " +
      "floor tag even after mirror-log retention pruned the tagged " +
      "commit, and sanitization-colliding appIds keep distinct floors") {
    import graft.io.ManagedParquetTable
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st15f").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(60)
    // two sinks whose appIds sanitize to the SAME string — before the
    // hash suffix they would share one floor file, and one sink's
    // floor advancing past the other's append makes the other's
    // replay miss its tag and double-append
    val bA = docs.where($"doc_id" % 2 === 0)
    val bB = docs.where($"doc_id" % 2 === 1)
    BronzeIngest.indexedIngestBatch(t, bA, 0L, "a/b", Nil)
    BronzeIngest.indexedIngestBatch(t, bB, 0L, "a_b", Nil)
    val rows = t.read().count()
    val v = t.version
    // replay EACH sink's batch: with a shared floor, sink a/b's floor
    // (written second by a_b) would sit past a/b's own append
    BronzeIngest.indexedIngestBatch(t, bA, 0L, "a/b", Nil)
    BronzeIngest.indexedIngestBatch(t, bB, 0L, "a_b", Nil)
    assert(t.read().count() == rows && t.version == v,
      "sanitization-colliding appIds must not share a floor")
    // retention prunes the log past BOTH tagged commits (a
    // long-idle sink on a busy table): hasCommitTagged degrades to
    // false, so only the floor-recorded tag can prove the last batch
    // already landed — without it the replay raw-appends duplicates
    val logDir = new java.io.File(s"$dir/docs/_delta_log")
    logDir.listFiles().filter(_.getName.matches("\\d{20}\\.json"))
      .foreach { f =>
        assert(f.delete()); new java.io.File(logDir, s".${f.getName}.crc").delete()
      }
    BronzeIngest.indexedIngestBatch(t, bA, 0L, "a/b", Nil)
    BronzeIngest.indexedIngestBatch(t, bB, 0L, "a_b", Nil)
    assert(t.read().count() == rows && t.version == v,
      "last-batch replay must be recognized from the floor tag when " +
        "the log no longer holds the tagged commit")
  }

  test("ST15 floor-file upgrade: a legacy-named floor is trusted only " +
      "on a verbatim-appId tag match") {
    import graft.io.ManagedParquetTable
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st15u").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(60)
    val bA = docs.where($"doc_id" % 2 === 0)
    val bB = docs.where($"doc_id" % 2 === 1)
    BronzeIngest.indexedIngestBatch(t, bA, 0L, "a/b", Nil)
    t.compact() // a later commit: the sink's append is no longer head
    val rows = t.read().count()
    val v = t.version
    // forge a pre-upgrade deployment: the floor lives under the OLD
    // sanitized+hashCode name, and BOTH other homes of the tag are
    // gone (log retention — the
    // long-idle-sink worst case)
    def sha(s: String) = java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(16).map("%02x".format(_)).mkString
    val floorNew = java.nio.file.Paths.get(s"$dir/docs",
      s"_graft_sink_floor_a_b_${sha("a/b")}")
    val floorOld = java.nio.file.Paths.get(s"$dir/docs",
      s"_graft_sink_floor_a_b_${"a/b".hashCode.toHexString}")
    java.nio.file.Files.move(floorNew, floorOld)
    val logDir = new java.io.File(s"$dir/docs/_delta_log")
    logDir.listFiles().filter(_.getName.matches("\\d{20}\\.json"))
      .foreach { f =>
        assert(f.delete()); new java.io.File(logDir, s".${f.getName}.crc").delete()
      }
    t.vacuum(graceMs = 0L)
    // replay: only the legacy floor's tag can prove batch 0 landed —
    // and it is trusted because its tag embeds THIS sink's verbatim
    // appId
    BronzeIngest.indexedIngestBatch(t, bA, 0L, "a/b", Nil)
    assert(t.read().count() == rows && t.version == v,
      "a verbatim-matching legacy floor must be trusted across the " +
        "filename-scheme upgrade")
    // a sanitization-COLLIDING sink must NOT trust that file: move it
    // to the oldest (shared, sanitized-only) name; sink a_b sees it as
    // its only floor candidate, rejects the foreign tag, and its
    // never-committed batch appends (at-least-once, never silent skip)
    java.nio.file.Files.move(floorOld, java.nio.file.Paths.get(
      s"$dir/docs", "_graft_sink_floor_a_b"))
    val bBn = bB.count()
    BronzeIngest.indexedIngestBatch(t, bB, 7L, "a_b", Nil)
    assert(t.read().count() == rows + bBn,
      "a foreign legacy floor (tag names another verbatim appId) must " +
        "be ignored, not trusted")
  }

  test("ST15 floor sidecar: a floor file that holds garbage or is a " +
      "directory reads as untrusted — the replay is recognized from the " +
      "logs and the sink keeps landing batches") {
    import graft.io.ManagedParquetTable
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st15g").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(40)
    val b0 = docs.where($"doc_id" % 2 === 0)
    val b1 = docs.where($"doc_id" % 2 === 1)
    BronzeIngest.indexedIngestBatch(t, b0, 0L, "g", Nil)
    val floor = new java.io.File(s"$dir/docs").listFiles()
      .find(_.getName.startsWith("_graft_sink_floor_g_")).get.toPath
    val rows = t.read().count()
    val v = t.version
    Files.writeString(floor, "not-a-version\n")
    BronzeIngest.indexedIngestBatch(t, b0, 0L, "g", Nil)
    assert(t.read().count() == rows && t.version == v,
      "a garbage floor must not turn a replay into a re-append")
    val n1 = b1.count()
    BronzeIngest.indexedIngestBatch(t, b1, 1L, "g", Nil)
    assert(t.version == v + 1 && t.read().count() == rows + n1)
    assert(Files.readString(floor) == s"$v\ngraft-stream:g:1",
      "the next landed batch rewrites the floor")
    Files.delete(floor)
    Files.createDirectories(floor)
    BronzeIngest.indexedIngestBatch(t, b1, 1L, "g", Nil)
    assert(t.version == v + 1 && t.read().count() == rows + n1,
      "a floor that is a directory must not turn a replay into a re-append")
  }

  test("ST15 crash after the append's log entry landed: the replay is " +
      "recognized from the entry's tag (no duplicate rows) and the " +
      "maintained index equals a fresh rebuild") {
    import graft.io.ManagedParquetTable
    import graft.text.{IncrementalInvertedIndex, InvertedIndex}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st15g").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val idx = new IncrementalInvertedIndex(spark, s"$dir/docs",
      s"$dir/idx", nBuckets = 8)
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(90)
    val b0 = all.where($"doc_id" % 3 === 0)
    val b1 = all.where($"doc_id" % 3 === 1)
    BronzeIngest.indexedIngestBatch(t, b0, 0L, "st15g", Seq(idx))
    // forge batch 1 dying at the WORST point: the append's log entry
    // landed (the commit), but the process was killed before the
    // floor-sidecar write and the index refresh. Calling append
    // directly reproduces that state byte-for-byte.
    val v = t.append(b1, Some("graft-stream:st15g:1"))
    val rows = t.read().count()
    // the checkpointed stream re-presents batch 1: the sink must
    // recognize the append from the entry's tag (the floor still
    // names batch 0) and fold the missing window into the index
    BronzeIngest.indexedIngestBatch(t, b1, 1L, "st15g", Seq(idx))
    assert(t.read().count() == rows && t.version == v,
      "a landed commit must not re-append on replay")
    assert(idx.basis.contains(v - 1),
      "the replayed batch must fold the missing window into the index")
    // a further batch keeps flowing and the index ends ≡ fresh rebuild
    BronzeIngest.indexedIngestBatch(t, all.where($"doc_id" % 3 === 2),
      2L, "st15g", Seq(idx))
    val ref = Files.createTempDirectory("graft_st15g_ref").toString
    InvertedIndex.buildIndex(t.read().select($"doc_id", $"text"),
      "text", "doc_id", ref, nBuckets = 8)
    def probe(p: String) = InvertedIndex.bm25TopKIndexed(spark, p,
      "hash join table", k = 20, nBuckets = 8)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(probe(s"$dir/idx") === probe(ref))
  }

  test("ST15 mixed maintainers: ONE sink maintains retrieval + IVF-PQ " +
      "+ flat-vector indexes AND a materialized view over one table; a " +
      "mid-sequence kill between refreshes skews their bases, and the " +
      "replayed batch heals every one to its fresh rebuild") {
    import graft.io.{IndexMaintainer, ManagedParquetTable}
    import graft.io.IncrementalAggView
    import graft.io.IncrementalAggView.AggSpec
    import graft.similarity.{IncrementalIvfPqIndex, IncrementalVectorIndex}
    import graft.similarity.VectorFunctions
    import graft.text.{IncrementalInvertedIndex, InvertedIndex}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st15m").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    // one wide source table feeds all four maintainers: text for the
    // retrieval index, the embedding for both vector indexes, cat +
    // n_chars for the aggregate view
    val wide = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text", $"n_chars")
      .join(Tables.embeddings(spark, sf)
        .select($"vec_id".as("doc_id"), $"embedding"), Seq("doc_id"))
      .withColumn("cat", $"doc_id" % 5)
      .limit(150)
      .cache()
    val (m, ksub, dim) = (4, 16, 64)
    val retrieval = new IncrementalInvertedIndex(spark, s"$dir/docs",
      s"$dir/ridx", nBuckets = 8)
    val ivfpq = new IncrementalIvfPqIndex(spark, s"$dir/docs",
      s"$dir/vidx", m = m, ksub = ksub, dim = dim, idCol = "doc_id")
    val flat = new IncrementalVectorIndex(spark, s"$dir/docs",
      s"$dir/fidx", idCol = "doc_id")
    val mv = new IncrementalAggView(spark, s"$dir/docs", s"$dir/mv",
      Seq("cat"), Seq(AggSpec("count", "", "n_docs"),
        AggSpec("sum", "n_chars", "chars")))
    ivfpq.train(
      wide.filter($"doc_id" < 40).limit(16).select($"doc_id", $"embedding"),
      VectorFunctions.pqTrain(wide, m = m, ksub = ksub, iters = 0,
        dim = dim, idCol = "doc_id"))
    // every maintainer ≡ its fresh rebuild, in one pass
    def assertAllFresh(where: String): Unit = {
      val live = t.read()
      // retrieval: probe parity vs a from-scratch index
      val ref = Files.createTempDirectory("graft_st15m_ref").toString
      InvertedIndex.buildIndex(live.select($"doc_id", $"text"),
        "text", "doc_id", ref, nBuckets = 8)
      def bm(p: String) = InvertedIndex.bm25TopKIndexed(spark, p,
        "hash join table", k = 20, nBuckets = 8)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(bm(s"$dir/ridx") === bm(ref), s"retrieval != rebuild $where")
      // IVF-PQ: maintained lists == from-scratch encode, row for row
      def vkey(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList)
      val vMaint = ivfpq.read()
        .select($"doc_id", $"centroid_id", $"codes")
        .collect().map(vkey).toSet
      val vRebuilt = VectorFunctions.ivfPqEncode(live, ivfpq.centroids,
          ivfpq.codebooks, m, ksub, dim, idCol = "doc_id")
        .select($"doc_id", $"centroid_id", $"codes")
        .collect().map(vkey).toSet
      assert(vMaint == vRebuilt, s"ivfpq != rebuild $where")
      // flat quantized: maintained == from-scratch encode
      def fkey(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getSeq[Int](1).toList)
      val fMaint = flat.read().select($"doc_id", $"codes")
        .collect().map(fkey).toSet
      val fRebuilt = VectorFunctions.buildQuantizedIndex(live,
          idCol = "doc_id").select($"doc_id", $"codes")
        .collect().map(fkey).toSet
      assert(fMaint == fRebuilt, s"flat index != rebuild $where")
      // MV: maintained state == one-shot aggregate of the live table
      val mMaint = mv.read().as[(Long, Long, Long)].collect().toSet
      val mRebuilt = live.groupBy($"cat")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
        .as[(Long, Long, Long)].collect().toSet
      assert(mMaint == mRebuilt, s"mv != rebuild $where")
    }
    val all = wide.collect().toSeq
    def batchDf(lo: Int, hi: Int) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        all.slice(lo, hi), 2), wide.schema)
    // a wrapper maintainer that dies on its first refresh — the forged
    // mid-sequence kill: maintainers BEFORE it in the mix have already
    // refreshed this window, maintainers after it have not (the basis
    // skew the one-sink-many-indexes claim must survive)
    final class CrashOnce(inner: IndexMaintainer) extends IndexMaintainer {
      var armed = false
      def refresh(): Unit = {
        if (armed) { armed = false
          throw new RuntimeException("forged mid-sequence kill") }
        inner.refresh()
      }
      def lastRefresh: String = inner.lastRefresh
      def basis: Option[Long] = inner.basis
    }
    val ivfpqWrapped = new CrashOnce(ivfpq)
    val mix: Seq[IndexMaintainer] =
      Seq(retrieval, ivfpqWrapped, flat, mv)
    // batch 0: all four full-build through the sink
    BronzeIngest.indexedIngestBatch(t, batchDf(0, 60), 0L, "st15m", mix)
    assert(Seq(retrieval, ivfpq, flat, mv).forall(_.lastRefresh == "full"))
    assertAllFresh("after batch 0")
    // batch 1 dies between refreshes: retrieval has folded the window,
    // ivfpq/flat/mv have not — bases now SKEWED across the mix
    ivfpqWrapped.armed = true
    val ex = intercept[RuntimeException] {
      BronzeIngest.indexedIngestBatch(t, batchDf(60, 110), 1L, "st15m", mix)
    }
    assert(ex.getMessage.contains("forged mid-sequence kill"))
    assert(retrieval.basis != ivfpq.basis,
      "the kill must land between refreshes: bases should be skewed")
    // the restarted stream re-presents batch 1: the tagged append must
    // skip, the already-refreshed maintainer must noop, the skewed
    // ones must fold exactly the missing window
    val rows = t.read().count()
    val v = t.version
    BronzeIngest.indexedIngestBatch(t, batchDf(60, 110), 1L, "st15m", mix)
    assert(t.read().count() == rows && t.version == v,
      "replayed batch must not re-append")
    assert(retrieval.lastRefresh == "noop")
    assert(Seq(ivfpq, flat, mv).forall(_.lastRefresh == "incremental"),
      s"skewed maintainers must fold the missing window, got " +
        s"${Seq(ivfpq, flat, mv).map(_.lastRefresh)}")
    assertAllFresh("after the replayed batch 1")
    // one more clean window through the whole mix
    BronzeIngest.indexedIngestBatch(t, batchDf(110, 150), 2L, "st15m", mix)
    assert(Seq(retrieval, ivfpq, flat, mv)
      .forall(_.lastRefresh == "incremental"))
    assert(Seq[IndexMaintainer](retrieval, ivfpq, flat, mv)
      .flatMap(_.basis).distinct.size == 1,
      "after a clean window every maintainer is current to ONE basis")
    assertAllFresh("after batch 2")
    wide.unpersist()
  }

  test("ST15 MV: a materialized view trails a checkpointed streaming " +
      "ingest through the same sink as the indexes; kill + replay " +
      "converges to the one-shot aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.{IncrementalAggView, ManagedParquetTable}
    import graft.io.IncrementalAggView.AggSpec
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_st15mv").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val mv = new IncrementalAggView(spark, s"$dir/docs", s"$dir/mv",
      Seq("cat"), Seq(AggSpec("count", "", "n_docs"),
        AggSpec("sum", "n_chars", "chars"),
        AggSpec("hll", "doc_id", "uniq")))
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", ($"doc_id" % 5).as("cat"), $"n_chars")
      .limit(120).as[(Long, Long, Long)].collect().toSeq
    val input = MemoryStream[(Long, Long, Long)]
    def startQ() = input.toDF().toDF("doc_id", "cat", "n_chars")
      .writeStream
      .option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        BronzeIngest.indexedIngestBatch(t, b, id, "st15mv", Seq(mv))
      }.start()
    input.addData(all.take(70): _*)
    val q1 = startQ()
    q1.processAllAvailable()
    assert(mv.lastRefresh == "full")
    input.addData(all.drop(70): _*)
    q1.processAllAvailable()
    q1.stop()
    assert(mv.lastRefresh == "incremental")
    forgeReplay(s"$dir/ck")
    val rows = t.read().count()
    val q2 = startQ()
    q2.processAllAvailable()
    q2.stop()
    assert(t.read().count() == rows,
      "replayed batch must not duplicate rows")
    val maintained = mv.readFinal().as[(Long, Long, Long, Long)]
      .collect().toSet
    val oneShot = t.read().groupBy($"cat")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"),
        expr("hll_sketch_estimate(hll_sketch_agg(doc_id))").as("uniq"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(maintained == oneShot,
      "maintained MV (incl. HLL state) must equal the one-shot aggregate")
  }

  test("ST15 vector: the persisted IVF-PQ index trails a streaming " +
      "embedding ingest; kill + checkpoint replay converges to rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.io.ManagedParquetTable
    import graft.similarity.IncrementalIvfPqIndex
    import graft.similarity.VectorFunctions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_st15v").toString
    val e = Tables.embeddings(spark, sf)
    val (m, ksub, dim) = (4, 16, 64)
    val t = new ManagedParquetTable(spark, s"$dir/vecs")
    val idx = new IncrementalIvfPqIndex(spark, s"$dir/vecs", s"$dir/idx",
      m = m, ksub = ksub, dim = dim)
    val cents = e.filter($"vec_id" < 16)
    val cbs = pqTrain(e, m = m, ksub = ksub, iters = 0, dim = dim)
    idx.train(cents, cbs)
    val all = e.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val input = MemoryStream[(Long, Array[Float])]
    def startQ() = input.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        BronzeIngest.indexedIngestBatch(t, b, id, "st15v", Seq(idx))
      }.start()
    input.addData(all.filter(_._1 % 2 == 0): _*)
    val q1 = startQ()
    q1.processAllAvailable()
    assert(idx.lastRefresh == "full")
    input.addData(all.filter(_._1 % 2 == 1): _*)
    q1.processAllAvailable()
    q1.stop()
    assert(idx.lastRefresh == "incremental")
    // kill + replay of the last embedding batch
    forgeReplay(s"$dir/ck")
    val rowsBefore = t.read().count()
    val q2 = startQ()
    q2.processAllAvailable()
    q2.stop()
    assert(t.read().count() == rowsBefore,
      "replayed embedding batch must not duplicate rows")
    // maintained lists == a from-scratch encode of the live table under
    // the same frozen artifacts (the IvfPqIndexSpec equivalence oracle)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList)
    val maintained = idx.read()
      .select($"vec_id", $"centroid_id", $"codes")
      .collect().map(key).sortBy(k => (k._1, k._2)).toSeq
    val rebuilt = ivfPqEncode(t.read(), cents, cbs, m, ksub, dim)
      .select($"vec_id", $"centroid_id", $"codes")
      .collect().map(key).sortBy(k => (k._1, k._2)).toSeq
    assert(maintained === rebuilt,
      s"maintained ${maintained.size} vs rebuilt ${rebuilt.size}")
  }

  test("ST15 layout reorg mid-stream: rebucket() and reorg() land " +
      "BETWEEN triggers of a maintained ingest — maintenance resolves " +
      "the new layout from the index meta (not its construction-time " +
      "fallback), stays incremental, and every index remains ≡ its " +
      "fresh rebuild") {
    import graft.io.{IndexMaintainer, ManagedParquetTable}
    import graft.similarity.{IncrementalIvfPqIndex, VectorFunctions}
    import graft.text.{IncrementalInvertedIndex, InvertedIndex}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st15r").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val wide = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
      .join(Tables.embeddings(spark, sf)
        .select($"vec_id".as("doc_id"), $"embedding"), Seq("doc_id"))
      .limit(150)
      .cache()
    val (m, ksub, dim) = (4, 16, 64)
    // the maintainer is constructed with nBuckets = 4 — after the
    // mid-stream rebucket to 9 this value MUST become a dead fallback
    val retrieval = new IncrementalInvertedIndex(spark, s"$dir/docs",
      s"$dir/ridx", nBuckets = 4)
    val ivfpq = new IncrementalIvfPqIndex(spark, s"$dir/docs",
      s"$dir/vidx", m = m, ksub = ksub, dim = dim, idCol = "doc_id")
    ivfpq.train(
      wide.filter($"doc_id" < 40).limit(16).select($"doc_id", $"embedding"),
      VectorFunctions.pqTrain(wide, m = m, ksub = ksub, iters = 0,
        dim = dim, idCol = "doc_id"))
    val mix: Seq[IndexMaintainer] = Seq(retrieval, ivfpq)
    def assertFresh(where: String): Unit = {
      val live = t.read()
      val ref = Files.createTempDirectory("graft_st15r_ref").toString
      // the reference rebuild uses a THIRD bucket count: probe results
      // must be layout-invariant, so parity across 4/9/5 moduli proves
      // the probes read the maintained layout correctly
      InvertedIndex.buildIndex(live.select($"doc_id", $"text"),
        "text", "doc_id", ref, nBuckets = 5)
      def bm(p: String) = InvertedIndex.bm25TopKIndexed(spark, p,
        "hash join table", k = 20)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(bm(s"$dir/ridx") === bm(ref), s"retrieval != rebuild $where")
      def vkey(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList)
      val vMaint = ivfpq.read()
        .select($"doc_id", $"centroid_id", $"codes")
        .collect().map(vkey).toSet
      val vRebuilt = VectorFunctions.ivfPqEncode(live, ivfpq.centroids,
          ivfpq.codebooks, m, ksub, dim, idCol = "doc_id")
        .select($"doc_id", $"centroid_id", $"codes")
        .collect().map(vkey).toSet
      assert(vMaint == vRebuilt, s"ivfpq != rebuild $where")
    }
    val all = wide.collect().toSeq
    def batchDf(lo: Int, hi: Int) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        all.slice(lo, hi), 2), wide.schema)
    BronzeIngest.indexedIngestBatch(t, batchDf(0, 60), 0L, "st15r", mix)
    assert(Seq(retrieval, ivfpq).forall(_.lastRefresh == "full"))
    assertFresh("after batch 0")
    // the corpus "outgrew" its bucket count: rebucket 4 → 9 between
    // triggers, exactly as an operator would run it off telemetry
    InvertedIndex.rebucket(spark, s"$dir/ridx", 9)
    val meta = Files.readString(
      java.nio.file.Paths.get(s"$dir/ridx/_graft_index_meta"))
    assert(meta.contains("nBuckets=9"), s"meta after rebucket: $meta")
    BronzeIngest.indexedIngestBatch(t, batchDf(60, 110), 1L, "st15r", mix)
    assert(retrieval.lastRefresh == "incremental",
      "a layout reorg must not trick the basis into a full rebuild")
    assertFresh("after the post-rebucket batch")
    // the maintained postings really live under the NEW modulus
    val buckets = Files.list(
        java.nio.file.Paths.get(s"$dir/ridx/postings")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (buckets.hasNext) names += buckets.next().getFileName.toString
    assert(names.count(_.startsWith("bucket=")) > 4,
      s"postings still under the old modulus: $names")
    // centroid/codebook drift: reorg() the IVF-PQ between triggers
    ivfpq.reorg(iters = 2)
    BronzeIngest.indexedIngestBatch(t, batchDf(110, 150), 2L, "st15r", mix)
    assert(Seq(retrieval, ivfpq).forall(_.lastRefresh == "incremental"))
    assert(mix.flatMap(_.basis).distinct.size == 1,
      "after a clean window every maintainer is current to ONE basis")
    assertFresh("after the post-reorg batch")
    wide.unpersist()
  }

  test("ST16 schema evolution through the maintained-index sink: a " +
      "WIDENED batch refreshes every maintainer incrementally and " +
      "maintained stays ≡ rebuilt; a NARROWED batch (missing the MV's " +
      "sum source) null-fills exactly as the table read does — no " +
      "silent wrong aggregates, no full rebuild") {
    import graft.io.{IncrementalAggView, IndexMaintainer, ManagedParquetTable}
    import graft.io.IncrementalAggView.AggSpec
    import graft.text.{IncrementalInvertedIndex, InvertedIndex}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st16").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val mv = new IncrementalAggView(spark, s"$dir/docs", s"$dir/mv",
      Seq("cat"), Seq(AggSpec("count", "", "n_docs"),
        AggSpec("sum", "n_chars", "chars")))
    val retrieval = new IncrementalInvertedIndex(spark, s"$dir/docs",
      s"$dir/idx", nBuckets = 4)
    val mix: Seq[IndexMaintainer] = Seq(retrieval, mv)
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text", ($"doc_id" % 5).as("cat"),
        $"n_chars".cast("long").as("n_chars"))
    val q = "hash join table"
    def checkAll(where: String): Unit = {
      // MV: maintained state == one-shot aggregate of the table read
      // (which null-fills evolved columns table-wide — the reference
      // semantics both paths must share)
      val maintained = mv.read().as[(Long, Long, Long)].collect().toSet
      val rebuilt = t.read().groupBy($"cat")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
        .as[(Long, Long, Long)].collect().toSet
      assert(maintained == rebuilt, s"mv != rebuild $where")
      // retrieval: indexed probe == direct scorer over the live docs
      val got = InvertedIndex.bm25TopKIndexed(spark, s"$dir/idx", q,
        k = 10, nBuckets = 4).as[(Long, Long, Long, Long)].collect().toSeq
      val ref = InvertedIndex.bm25TopK(t.read().select($"doc_id", $"text"),
        "text", "doc_id", q, k = 10)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got === ref, s"index != direct scorer $where")
    }
    // batch 0: the original schema — full builds
    BronzeIngest.indexedIngestBatch(t, base.where($"doc_id" % 3 === 0),
      0L, "st16", mix)
    assert(Seq[IndexMaintainer](retrieval, mv)
      .forall(_.lastRefresh == "full"))
    checkAll("after batch 0")
    // batch 1 WIDENS the schema mid-stream: a new `source` column
    BronzeIngest.indexedIngestBatch(t,
      base.where($"doc_id" % 3 === 1)
        .withColumn("source", concat(lit("s"), $"doc_id" % 7)),
      1L, "st16", mix)
    assert(Seq[IndexMaintainer](retrieval, mv)
      .forall(_.lastRefresh == "incremental"),
      "a widened batch must fold incrementally, not rebuild")
    // the table presents the union schema; pre-widening rows null-fill
    assert(t.read().columns.contains("source"))
    assert(t.read().where($"doc_id" % 3 === 0 &&
      $"source".isNotNull).count() == 0)
    checkAll("after the widened batch")
    // batch 2 NARROWS: the MV's sum source column is absent — the
    // partial pass must null-fill it (sum skips nulls) exactly like a
    // rebuild over read() would, never throw, never silently misfold
    BronzeIngest.indexedIngestBatch(t,
      base.where($"doc_id" % 3 === 2).drop("n_chars"), 2L, "st16", mix)
    assert(Seq[IndexMaintainer](retrieval, mv)
      .forall(_.lastRefresh == "incremental"))
    assert(t.read().where($"doc_id" % 3 === 2 &&
      $"n_chars".isNotNull).count() == 0,
      "narrowed rows read back null-filled")
    checkAll("after the narrowed batch")
    // a view over a column NO file has ever carried still fails loudly
    val ghost = new IncrementalAggView(spark, s"$dir/docs", s"$dir/mv2",
      Seq("cat"), Seq(AggSpec("sum", "no_such_col", "x")))
    val ex = intercept[RuntimeException] { ghost.refresh() }
    assert(ex.getMessage.contains("no_such_col"))
  }

  test("ST17 policy loop closed: the sink itself executes each " +
      "maintainer's maintenancePlan at cadence — file pressure " +
      "compacts, corpus growth rebuckets, a forged torn swap recovers " +
      "on the very next batch, a replayed batch inside the maintenance " +
      "window stays exactly-once, and every index ≡ its rebuild") {
    import graft.io.{IndexMaintainer, ManagedParquetTable}
    import graft.similarity.{IncrementalIvfPqIndex, IvfPqMaintenancePolicy,
      VectorFunctions}
    import graft.text.{IncrementalInvertedIndex, InvertedIndex}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st17").toString
    val t = new ManagedParquetTable(spark, s"$dir/docs")
    val wide = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
      .join(Tables.embeddings(spark, sf)
        .select($"vec_id".as("doc_id"), $"embedding"), Seq("doc_id"))
      .limit(144)
      .cache()
    val (m, ksub, dim) = (4, 16, 64)
    // tight policy: a 12-window fixture crosses the bands a year of
    // production windows crosses at the defaults
    val retrieval = new IncrementalInvertedIndex(spark, s"$dir/docs",
      s"$dir/ridx", nBuckets = 2,
      policy = InvertedIndex.IndexMaintenancePolicy(
        maxFilesPerBucket = 3, maxTombstonePermille = 150L,
        minDocsPerBucket = 1L, maxDocsPerBucket = 30L,
        targetDocsPerBucket = 20L))
    val ivfpq = new IncrementalIvfPqIndex(spark, s"$dir/docs",
      s"$dir/vidx", m = m, ksub = ksub, dim = dim, idCol = "doc_id",
      maintenancePolicy = IvfPqMaintenancePolicy(
        maxListSegments = 3, maxLiveDvEntries = 2))
    ivfpq.train(
      wide.limit(16).select($"doc_id", $"embedding"),
      VectorFunctions.pqTrain(wide, m = m, ksub = ksub, iters = 0,
        dim = dim, idCol = "doc_id"))
    val mix: Seq[IndexMaintainer] = Seq(retrieval, ivfpq)
    val all = wide.collect().toSeq
    def batchDf(lo: Int, hi: Int) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        all.slice(lo, hi), 2), wide.schema)
    def filesPerBucketMax(): Int = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(s"$dir/ridx/postings")
      if (!Files.isDirectory(p)) return 0
      val s = Files.list(p)
      try {
        val byBucket = s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("bucket="))
          .map(p => p.toFile.listFiles()
            .count(_.getName.endsWith(".parquet"))).toSeq
        if (byBucket.isEmpty) 0 else byBucket.max
      } finally s.close()
    }
    def bucketCount(): Int = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(s"$dir/ridx/postings")
      if (!Files.isDirectory(p)) return 0
      val s = Files.list(p)
      try s.iterator().asScala
        .count(_.getFileName.toString.startsWith("bucket="))
      finally s.close()
    }
    def assertFresh(where: String): Unit = {
      val live = t.read()
      val ref = Files.createTempDirectory("graft_st17_ref").toString
      InvertedIndex.buildIndex(live.select($"doc_id", $"text"),
        "text", "doc_id", ref, nBuckets = 5)
      def bm(p: String) = InvertedIndex.bm25TopKIndexed(spark, p,
        "hash join table", k = 20)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(bm(s"$dir/ridx") === bm(ref), s"retrieval != rebuild $where")
      def vkey(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList)
      val vMaint = ivfpq.read()
        .select($"doc_id", $"centroid_id", $"codes")
        .collect().map(vkey).toSet
      val vRebuilt = VectorFunctions.ivfPqEncode(live, ivfpq.centroids,
          ivfpq.codebooks, m, ksub, dim, idCol = "doc_id")
        .select($"doc_id", $"centroid_id", $"codes")
        .collect().map(vkey).toSet
      assert(vMaint == vRebuilt, s"ivfpq != rebuild $where")
    }
    var sawFilePressure = false
    var sawRebucket = false
    val every = 4
    for (b <- 0 until 12) {
      val batch = batchDf(b * 12, (b + 1) * 12)
      // tombstone pressure mid-run: a foreign DV delete between
      // triggers (the shape a CDC purge leaves behind)
      if (b == 7) {
        val victims = t.read().select($"doc_id").as[Long]
          .collect().sorted.take(18)
        t.deleteMatchingDV(victims.toSeq.toDF("doc_id"), Seq("doc_id"))
      }
      // forge a torn swap mid-stream (a maintenance death between the
      // marker write and the first aside): the NEXT batch — cadence or
      // not — must recover before it folds, or applyChanges is gated
      if (b == 5) {
        Files.createFile(
          java.nio.file.Paths.get(s"$dir/ridx/_graft_swap_inflight"))
        assert(retrieval.needsRecovery(), "forged marker must be seen")
      }
      val preCadence = (b + 1) % every == 0
      if (preCadence && retrieval.maintenancePlan()
          .exists(_.metric == "files_per_bucket_max"))
        sawFilePressure = true
      val preBuckets = bucketCount()
      BronzeIngest.indexedIngestBatch(t, batch, b.toLong, "st17", mix,
        maintenanceEvery = every)
      if (b == 5) {
        assert(!retrieval.needsRecovery(),
          "the sink must recover the torn swap on the very next batch")
        assert(retrieval.lastRefresh == "incremental",
          "recovery must not force a rebuild")
      }
      if (preCadence) {
        // the cadence batch executed the plan: pressure rows are gone
        val plan = retrieval.maintenancePlan()
        assert(!plan.exists(_.metric == "files_per_bucket_max"),
          s"batch $b left file pressure standing: $plan")
        assert(filesPerBucketMax() <= 3,
          s"files-per-bucket ${filesPerBucketMax()} above the policy bound")
        val vplan = ivfpq.maintenancePlan()
        assert(vplan.isEmpty, s"batch $b left IVF-PQ pressure: $vplan")
        if (bucketCount() > preBuckets) sawRebucket = true
      }
      // kill+replay INSIDE a maintenance window: the cadence batch 7
      // re-presents (at-least-once delivery); the tag skips the
      // append, refresh noops, and re-running the (now empty) plan
      // must not disturb the maintained layout
      if (b == 7) {
        val v = t.version
        BronzeIngest.indexedIngestBatch(t, batch, b.toLong, "st17", mix,
          maintenanceEvery = every)
        assert(t.version == v, "replayed batch must not re-append")
        assertFresh("after the replayed cadence batch")
      }
    }
    assert(sawFilePressure,
      "the fixture never built file pressure — thresholds too loose")
    assert(sawRebucket,
      "corpus growth never fired a policy rebucket through the sink")
    assert(bucketCount() > 2,
      s"postings still under the construction-time modulus")
    assert(mix.flatMap(_.basis).distinct.size == 1,
      "after a clean window every maintainer is current to ONE basis")
    assertFresh("at end of the policy-driven run")
    wide.unpersist()
  }

  test("ST18 two uncoordinated streaming writers, one table: " +
      "checkpointed sinks with distinct tag namespaces append " +
      "concurrently (OCC auto-rebase, zero retry code) while a " +
      "compactor races both; exactly-once holds per stream under " +
      "mid-run replay AND a post-run replay of either sink's last " +
      "batch, and a maintained index ≡ rebuild over the merged table") {
    import graft.io.{IndexMaintainer, ManagedParquetTable}
    import graft.text.{IncrementalInvertedIndex, InvertedIndex}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_st18").toString
    val path = s"$dir/docs"
    val t = new ManagedParquetTable(spark, path)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(120).collect().toSeq
    val schema = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").schema
    def slice(lo: Int, hi: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.slice(lo, hi), 2), schema)
    // sink A owns the maintained index (single-writer contract for the
    // INDEX); the TABLE takes appends from both sinks plus a compactor
    val retrieval = new IncrementalInvertedIndex(spark, path,
      s"$dir/ridx", nBuckets = 4)
    val perSink = 6; val batchRows = 10
    val unexpected =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def sink(appId: String, base: Int,
        mix: Seq[IndexMaintainer]) = new Thread(() => {
      try {
        val tt = new ManagedParquetTable(spark, path)
        for (b <- 0 until perSink) {
          val df = slice(base + b * batchRows, base + (b + 1) * batchRows)
          BronzeIngest.indexedIngestBatch(tt, df, b.toLong, appId, mix)
          // at-least-once delivery: every second batch re-presents
          // immediately — the tag must absorb it mid-race
          if (b % 2 == 1)
            BronzeIngest.indexedIngestBatch(tt, df, b.toLong, appId, mix)
        }
      } catch { case e: Throwable => unexpected.add(e) }
    })
    val compactor = new Thread(() => {
      try {
        val tt = new ManagedParquetTable(spark, path)
        var landed = 0
        while (landed < 3) {
          try { tt.compact(targetFiles = 2); landed += 1 }
          catch {
            case _: graft.io.ConcurrentWriteException => () // re-derive
            case _: IllegalArgumentException => () // table not born yet
          }
          Thread.sleep(30)
        }
      } catch { case e: Throwable => unexpected.add(e) }
    })
    val a = sink("st18-a", 0, Seq(retrieval))
    val b = sink("st18-b", 60, Nil)
    a.start(); b.start(); compactor.start()
    a.join(); b.join(); compactor.join()
    assert(unexpected.isEmpty,
      s"uncoordinated writers surfaced: ${unexpected.peek()}")
    // exactly-once per stream: every doc landed once, none lost to a
    // compaction landing around it
    assert(t.read().count() == 120,
      s"rows ${t.read().count()} != 120 — replay duplicated or a " +
        "compaction ate an append")
    assert(t.read().select($"doc_id").distinct().count() == 120)
    // POST-run kill/replay of EITHER sink's final batch: the floor
    // sidecar + tag recognize it even after the interleaved foreign
    // commits (the other sink's appends, the compactions)
    val v = t.version
    BronzeIngest.indexedIngestBatch(t,
      slice(50, 60), (perSink - 1).toLong, "st18-a", Seq(retrieval))
    BronzeIngest.indexedIngestBatch(t,
      slice(110, 120), (perSink - 1).toLong, "st18-b", Nil)
    assert(t.version == v, "a replayed final batch must not re-append")
    // the maintained index trails the MERGED table (sink A's refresh
    // folds sink B's and the compactor's windows too): catch it up
    // once more, then demand parity with a fresh rebuild
    retrieval.refresh()
    val ref = Files.createTempDirectory("graft_st18_ref").toString
    InvertedIndex.buildIndex(t.read().select($"doc_id", $"text"),
      "text", "doc_id", ref, nBuckets = 5)
    def bm(p: String) = InvertedIndex.bm25TopKIndexed(spark, p,
      "hash join table", k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(bm(s"$dir/ridx") === bm(ref),
      "maintained index != rebuild over the merged two-writer table")
  }
}
