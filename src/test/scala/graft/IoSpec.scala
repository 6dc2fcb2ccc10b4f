package graft

import java.nio.file.{Files, Paths}

import graft.io.{ConcurrentWriteException, CsvSources, ManagedParquetTable, TrainingExport, XlsxSource}
import graft.etl.Schemas
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** io/ surface: CSV dialect sniffing, managed parquet table lifecycle
  * (append/overwrite/health/repair/delete), XLSX contract. */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("S14: dialect sniffing picks semicolon and comma correctly") {
    val d = tmp("csv")
    Files.writeString(Paths.get(s"$d/semi.csv"),
      "ID salarié;Nom;Prénom\n1;Colin;Audrey\n2;Dupont;Jean\n")
    val semi = CsvSources.readSniffed(spark, s"$d/semi.csv")
    assert(semi.columns.toSeq == Seq("ID salarié", "Nom", "Prénom"))
    assert(semi.count() == 2)

    Files.writeString(Paths.get(s"$d/comma.csv"), "a,b\n1,2\n")
    assert(CsvSources.readSniffed(spark, s"$d/comma.csv").columns.length == 2)
  }

  test("S15: TSV with empty-string nulls") {
    val d = tmp("tsv")
    Files.writeString(Paths.get(s"$d/t.tsv"), "a\tb\n1\t\n2\tx\n")
    val got = CsvSources.readTsv(spark, s"$d/t.tsv")
    assert(got.filter(col("b").isNull).count() == 1)
  }

  test("managed parquet table: append, overwrite, health, delete-where") {
    val t = new ManagedParquetTable(spark, tmp("mpt") + "/tbl")
    assert(!t.exists && !t.isHealthy)
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(t.isHealthy && t.read().count() == 3)
    // W1 shape: delete last entries by key
    t.deleteWhere(col("id") >= 3)
    assert(t.read().count() == 2)
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    assert(t.read().count() == 1)
  }

  test("CAS commit: two READ-MODIFY-WRITE writers racing the same " +
      "version — one fails loudly (no auto-rebase for rewrites), " +
      "nothing is silently lost, the table stays consistent") {
    val t = new ManagedParquetTable(spark, tmp("mptcas") + "/tbl")
    t.append(Seq((0L, "seed")).toDF("id", "v"))
    val rounds = 8
    // barrier-sync two OVERWRITE writers so both derive from the SAME
    // snapshot version each round: both stage a segment, both CAS the
    // same version — exactly one must win, the other must throw the
    // loud single-writer violation (never silently erase the winner).
    // Overwrite is the read-modify-write shape: its staged result
    // replaces the snapshot it was derived from, so the engine must
    // NOT rebase it — only the caller can re-derive.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val committed = new java.util.concurrent.atomic.AtomicLong(0)
    val collided = new java.util.concurrent.atomic.AtomicLong(0)
    val unexpected =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(idBase: Long) = new Thread(() => {
      for (r <- 0 until rounds) {
        barrier.await()
        try {
          t.overwrite(Seq((idBase + r, s"w$idBase-$r")).toDF("id", "v"))
          committed.incrementAndGet()
        } catch {
          case e: graft.io.ConcurrentWriteException =>
            collided.incrementAndGet()
          case e: Throwable => unexpected.add(e)
        }
      }
    })
    val (a, b) = (writer(1000), writer(2000))
    a.start(); b.start(); a.join(); b.join()
    assert(unexpected.isEmpty, s"non-CAS failure: ${unexpected.peek()}")
    assert(collided.get() >= 1,
      "barrier-synced writers never collided — the race window was " +
        "not exercised")
    // consistency: version advanced once per winner; the table holds
    // exactly the LAST winner's single row (each commit overwrote)
    assert(t.version == 1 + committed.get())
    assert(t.read().count() == 1)
    // losers' stranded staging segments are unreferenced: vacuum with
    // no grace reclaims them and the table still reads
    t.vacuum(graceMs = 0L)
    assert(t.read().count() == 1)
  }

  test("OCC auto-rebase: barrier-raced BLIND appends never surface a " +
      "collision — the engine rebases onto the new head and re-CASes; " +
      "both writers land every round, exactly once each") {
    val t = new ManagedParquetTable(spark, tmp("mptocc") + "/tbl")
    t.append(Seq((0L, "seed")).toDF("id", "v"))
    val rounds = 8
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val unexpected =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(idBase: Long) = new Thread(() => {
      for (r <- 0 until rounds) {
        barrier.await()
        // ZERO manual retries: a blind append must absorb the race
        try t.append(Seq((idBase + r, s"w$idBase-$r")).toDF("id", "v"))
        catch { case e: Throwable => unexpected.add(e) }
      }
    })
    val (a, b) = (writer(1000), writer(2000))
    a.start(); b.start(); a.join(); b.join()
    assert(unexpected.isEmpty,
      s"append surfaced a failure despite auto-rebase: ${unexpected.peek()}")
    // every append landed exactly once; version advanced once per append
    assert(t.version == 1 + 2L * rounds)
    assert(t.read().count() == 1 + 2L * rounds)
    assert(t.read().select(col("id")).distinct().count() ==
      1 + 2L * rounds, "a rebased append must land exactly once")
  }

  test("OCC chaos: four unsynchronized appenders with ZERO manual " +
      "retries all converge through the auto-rebase; every append is " +
      "present exactly once and the version equals the append count") {
    val path = tmp("mptchaos") + "/tbl"
    val writers = 4; val perWriter = 8
    val unexpected =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(w: Long) = new Thread(() => {
      // own instance per thread over the same path — the cross-process
      // deployment shape; NO retry loop anywhere: a blind append owns
      // its own OCC (re-read head, re-CAS) inside the engine
      val t = new ManagedParquetTable(spark, path)
      for (r <- 0 until perWriter) {
        try t.append(Seq((w * 1000 + r, s"w$w-$r")).toDF("id", "v"))
        catch { case e: Throwable => unexpected.add(e) }
      }
    })
    val ts = (0 until writers).map(w => writer(w.toLong))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(unexpected.isEmpty, s"append failed despite auto-rebase: " +
      s"${unexpected.peek()}")
    val n = writers.toLong * perWriter
    val t = new ManagedParquetTable(spark, path)
    assert(t.version == n, s"version ${t.version} != appends $n")
    assert(t.read().count() == n)
    assert(t.read().select(col("id")).distinct().count() == n,
      "a rebased append must land exactly once")
    t.vacuum(graceMs = 0L)
    assert(t.read().count() == n)
  }

  test("OCC mixed chaos: appenders (no retries) racing a COMPACTOR " +
      "(read-modify-write, loud loser, caller-side retry) converge — " +
      "no append is lost to a compaction landing around it and no " +
      "compaction resurrects pre-compaction segments") {
    val path = tmp("mptmixed") + "/tbl"
    val t0 = new ManagedParquetTable(spark, path)
    t0.append(Seq((-1L, "seed")).toDF("id", "v"))
    val writers = 3; val perWriter = 6
    val unexpected =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val compactions = new java.util.concurrent.atomic.AtomicLong(0)
    val compactorDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    def appender(w: Long) = new Thread(() => {
      val t = new ManagedParquetTable(spark, path)
      for (r <- 0 until perWriter) {
        // an append must rebase THROUGH an interleaved compaction: the
        // compactor's commit replaced every prior segment, and the
        // rebase lands this append's fresh segment on the compacted
        // head — both histories serialize
        try t.append(Seq((w * 1000 + r, s"w$w-$r")).toDF("id", "v"))
        catch { case e: Throwable => unexpected.add(e) }
      }
    })
    val compactor = new Thread(() => {
      val t = new ManagedParquetTable(spark, path)
      for (_ <- 0 until 4) {
        // rewrites still fail loudly; the compactor retries by
        // RE-DERIVING (compact() re-reads the snapshot each call) —
        // the documented caller-side OCC for read-modify-write
        var done = false; var tries = 0
        while (!done && tries < 100) {
          tries += 1
          try { t.compact(targetFiles = 1); compactions.incrementAndGet(); done = true }
          catch {
            case _: ConcurrentWriteException => // stale head: re-derive
            case e: Throwable => unexpected.add(e); done = true
          }
        }
        if (!done) unexpected.add(new IllegalStateException(
          "compactor starved: 100 re-derivations all lost"))
      }
      compactorDone.set(true)
    })
    val as = (0 until writers).map(w => appender(w.toLong))
    as.foreach(_.start()); compactor.start()
    as.foreach(_.join()); compactor.join()
    assert(unexpected.isEmpty, s"mixed chaos failure: ${unexpected.peek()}")
    assert(compactions.get() == 4L)
    val t = new ManagedParquetTable(spark, path)
    val n = 1L + writers.toLong * perWriter
    assert(t.read().count() == n,
      s"rows ${t.read().count()} != expected $n — an append was lost " +
        "to a compaction (or double-landed)")
    assert(t.read().select(col("id")).distinct().count() == n)
    // versions: 1 seed + every append + every landed compaction
    assert(t.version == n + compactions.get())
    t.vacuum(graceMs = 0L)
    assert(t.read().count() == n)
  }

  test("CAS commit: a writer that died between its CAS publish and the " +
      "pointer rewrite is healed — readers resolve the commit file, the " +
      "next commit repairs the pointer") {
    val dir = tmp("mptheal") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val v = t.version
    // forge the crash window: log entry v (manifest version v+1)
    // landed — here the same segments at a bumped version — but the
    // pointer rewrite never happened
    val ptr = Paths.get(dir, "_graft_manifest")
    val forged = Files.readString(ptr)
      .replace(s""""version":$v""", s""""version":${v + 1}""")
    Files.writeString(Paths.get(dir, "_delta_log", f"$v%020d.json"),
      s"""{"commitInfo":{"timestamp":0,"operation":"APPEND","graft":$forged}}\n""")
    // readers resolve FORWARD past the stale pointer
    assert(t.version == v + 1)
    assert(t.read().count() == 2)
    // the next commit builds on the healed head and repairs the pointer
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.version == v + 2)
    assert(Files.readString(ptr).contains(s""""version":${v + 2}"""))
    assert(Files.exists(Paths.get(dir, "_delta_log", f"${v + 1}%020d.json")))
    assert(t.read().count() == 3)
  }

  test("two read-modify-write writers racing one log entry: exactly one " +
      "entry lands, the loser throws and leaves no temp") {
    val dir = tmp("mptrace") + "/tbl"
    new ManagedParquetTable(spark, dir).overwrite(Seq((0L, "seed")).toDF("id", "v"))
    // each writer's frame blocks inside its segment write until both
    // writers are there, so both derive their commit from the SAME base
    // snapshot (overwrite reads it before it writes the segment)
    val gate = udf { (id: Long) => RaceGate.meet(); id }.asNondeterministic()
    for (round <- 1 to 3) {
      val base = new ManagedParquetTable(spark, dir).version
      RaceGate.arm()
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]
      val ws = (0 until 2).map { w =>
        new Thread(() => {
          val df = spark.range(1).select(gate(col("id")).as("id"))
            .withColumn("v", lit(s"r$round-w$w"))
          try outcomes.add(Right(new ManagedParquetTable(spark, dir).overwrite(df)))
          catch { case e: Throwable => outcomes.add(Left(e)) }
        })
      }
      ws.foreach(_.start()); ws.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val (lost, won) = outcomes.asScala.toSeq.partitionMap(identity)
      assert(won == Seq(base + 1), s"round $round: exactly one winner, got $won")
      assert(lost.size == 1 && lost.head.isInstanceOf[ConcurrentWriteException],
        s"round $round: the loser must throw ConcurrentWriteException, got $lost")
      val logNames = graft.io.GraftFs.list(Paths.get(dir, "_delta_log"))
        .map(_.getFileName.toString)
      assert(logNames.count(_.matches("\\d{20}\\.json")) == base + 1,
        s"round $round: one entry per committed version, got ${logNames.sorted}")
      assert(!logNames.exists(_.contains(".tmp.")),
        s"round $round: a temp was left in the log: ${logNames.sorted}")
      val t = new ManagedParquetTable(spark, dir)
      assert(t.version == base + 1 && t.read().count() == 1)
    }
  }

  test("managed parquet table: MERGE updates matches, inserts the rest, in one commit") {
    val t = new ManagedParquetTable(spark, tmp("mptm") + "/tbl")
    t.overwrite(Seq((1, "a"), (2, "b"), (4, "d")).toDF("id", "v"))
    t.merge(Seq((2, "B"), (3, "C")).toDF("id", "v"), Seq("id"))
    val got = t.read().as[(Int, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, "a"), (2, "B"), (3, "C"), (4, "d")))
    // the merge is ONE commit: version 0 (overwrite) still travels
    assert(t.readAt(0).as[(Int, String)].collect().sortBy(_._1).toSeq ==
      Seq((1, "a"), (2, "b"), (4, "d")))
    // idempotent re-merge of the same updates changes nothing
    t.merge(Seq((2, "B"), (3, "C")).toDF("id", "v"), Seq("id"))
    assert(t.read().as[(Int, String)].collect().sortBy(_._1).toSeq ==
      Seq((1, "a"), (2, "B"), (3, "C"), (4, "d")))
  }

  test("MERGE on a schema-evolved table: pre-evolution survivors null-fill") {
    val t = new ManagedParquetTable(spark, tmp("mptme") + "/tbl")
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c", 9L)).toDF("id", "v", "extra")) // S7 evolution
    // updates carry the FULL evolved schema; the matched key lives in
    // the PRE-evolution segment — its survivors must null-fill `extra`
    // instead of failing the union
    t.merge(Seq((2, "B", 7L)).toDF("id", "v", "extra"), Seq("id"))
    val got = t.read().select("id", "v", "extra").collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._1).toSeq
    assert(got == Seq((1, "a", None), (2, "B", Some(7L)),
      (3, "c", Some(9L))))
  }

  test("join view: a crash between the inner commit and the final publish " +
    "re-finalizes on the next refresh instead of reporting noop") {
    import graft.io.{IncrementalAggView, IncrementalJoinAggView}
    import IncrementalAggView.AggSpec
    import IncrementalJoinAggView.Dim
    val root = tmp("jvcrash")
    val fact = new ManagedParquetTable(spark, s"$root/fact")
    fact.append(Seq((1L, 10L), (2L, 20L)).toDF("fk", "x"))
    val dim = new ManagedParquetTable(spark, s"$root/dim")
    dim.overwrite(Seq((1L, "a"), (2L, "b")).toDF("fk", "name"))
    val v = new IncrementalJoinAggView(spark, s"$root/fact",
      s"$root/view", Seq("fk"), Seq(Dim(s"$root/dim", Seq("fk"),
        Seq("name"))), Seq("name"), Seq(AggSpec("sum", "x", "sx")))
    v.refresh()
    assert(v.lastRefresh == "full" || v.lastRefresh == "incremental")
    // simulate the crash: the fact grows and ONLY the inner view
    // commits (a second instance sharing the same state path stands in
    // for the dead process's half-finished refresh)
    fact.append(Seq((1L, 5L)).toDF("fk", "x"))
    new IncrementalAggView(spark, s"$root/fact", s"$root/view/fact_state",
      Seq("fk"), Seq(AggSpec("sum", "x", "sx"))).refresh()
    // restart: dims unchanged AND the inner resolves noop — the view
    // must still detect the moved inner state and re-finalize
    v.refresh()
    assert(v.lastRefresh != "noop",
      "stale final state served as noop after a mid-refresh crash")
    val got = v.read().collect().map(r =>
      (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 15L, "b" -> 20L), s"stale read: $got")
    // and a genuinely unchanged world is still a noop
    v.refresh()
    assert(v.lastRefresh == "noop")
  }

  test("bloom file-skipping prunes where min/max cannot (overlapping ranges, disjoint values)") {
    val t = new ManagedParquetTable(spark, tmp("mptb") + "/tbl")
    // two files whose [min,max] both span 0..101 — range pruning keeps
    // both — but with disjoint value sets (evens vs odds)
    t.append((0 to 100 by 2).map(i => (i.toLong, s"e$i")).toDF("id", "v")
      .coalesce(1))
    t.append((1 to 101 by 2).map(i => (i.toLong, s"o$i")).toDF("id", "v")
      .coalesce(1))
    val (rangeKept, total) = t.pruneFiles(col("id") === 42L)
    assert(total == 2 && rangeKept.size == 2,
      s"ranges overlap so min/max alone must keep both: $rangeKept")
    t.buildBloomIndex(Seq("id"), expectedItemsPerFile = 1024)
    val (kept, _) = t.pruneFiles(col("id") === 42L)
    assert(kept.size == 1, s"bloom should prove the odd file dead: $kept")
    assert(t.readWhere(col("id") === 42L).count() == 1)
    // absent value: bloom may keep a file (fpp) but the read is exact
    assert(t.readWhere(col("id") === 1000L).count() == 0)
    // string column blooms probe with the same typed hash
    t.buildBloomIndex(Seq("id", "v"), expectedItemsPerFile = 1024)
    val (keptS, _) = t.pruneFiles(col("v") === "o43")
    assert(keptS.size == 1, s"string bloom should prune evens: $keptS")
    assert(t.readWhere(col("v") === "o43").count() == 1)
    // files written AFTER the index have no bloom: never skipped
    t.append(Seq((42L, "late")).toDF("id", "v"))
    val (keptLate, totalLate) = t.pruneFiles(col("id") === 42L)
    assert(totalLate == 3 && keptLate.size == 2,
      s"late file must stay un-skippable: $keptLate")
    assert(t.readWhere(col("id") === 42L).count() == 2)
  }

  test("bloom files at the _graft_blooms root (outside idx/) are never " +
      "read: readWhere's rows are unchanged and nothing is skipped") {
    val dir = tmp("mptbl") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 to 100 by 2).map(i => (i.toLong, s"e$i")).toDF("id", "v")
      .coalesce(1))
    t.append((1 to 101 by 2).map(i => (i.toLong, s"o$i")).toDF("id", "v")
      .coalesce(1))
    t.buildBloomIndex(Seq("id"), expectedItemsPerFile = 1024)
    // part files directly under _graft_blooms, no idx/ subdir
    val idx = Paths.get(dir, "_graft_blooms", "idx")
    val root = Paths.get(dir, "_graft_blooms")
    graft.io.GraftFs.list(idx).foreach(p => Files.move(p, root.resolve(p.getFileName)))
    Files.delete(idx)
    val (kept, total) = t.pruneFiles(col("id") === 42L)
    assert(total == 2 && kept.size == 2, s"old-root files must skip nothing: $kept")
    val want = t.read().filter(col("id") === 42L).collect().toSeq
    assert(want.size == 1)
    assert(t.readWhere(col("id") === 42L).collect().toSeq === want)
    // a rebuild writes idx/ and skips again; the old-root files stay
    // where they are, still unread
    t.buildBloomIndex(Seq("id"), expectedItemsPerFile = 1024)
    assert(t.pruneFiles(col("id") === 42L)._1.size == 1)
    assert(graft.io.GraftFs.list(root).exists(_.getFileName.toString.endsWith(".parquet")))
    assert(t.readWhere(col("id") === 42L).collect().toSeq === want)
  }

  test("bloom index: ONE data scan per build (any column count); probe " +
    "never collects the sidecar to the driver") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val t = new ManagedParquetTable(spark, tmp("mptb1") + "/tbl")
    val n = 50000
    t.append((0 until n).map(i => (i.toLong, s"v$i", i % 97))
      .toDF("id", "v", "g").coalesce(2))

    @volatile var recordsRead = 0L
    @volatile var resultBytes = 0L
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          recordsRead += m.inputMetrics.recordsRead
          resultBytes += m.resultSize
        }
    }
    def settle(): Unit = { // listener bus is async; let events drain
      var last = -1L
      var same = 0
      while (same < 3) {
        Thread.sleep(120)
        val cur = recordsRead + resultBytes
        if (cur == last) same += 1 else { same = 0; last = cur }
      }
    }

    // big sketches make a driver-side sidecar collect unmissable:
    // optimalNumOfBits(1<<20, 0.01) ≈ 1.2 MB per (file, col) sketch
    spark.sparkContext.addSparkListener(listener)
    try {
      recordsRead = 0; resultBytes = 0
      t.buildBloomIndex(Seq("id", "v", "g"))
      settle()
      // 3 indexed columns over 2 files of 50k rows: one pass reads n
      // records; the per-column build of old read 3n
      assert(recordsRead <= (n * 1.5).toLong,
        s"bloom build must scan the table ONCE, read $recordsRead records")

      recordsRead = 0; resultBytes = 0
      val (kept, total) = t.pruneFiles(col("id") === -1L)
      assert(total == 2 && kept.isEmpty,
        s"id=-1 must be bloom-proven dead in both files: $kept")
      settle()
      // the sidecar holds 6 sketches ≈ 7 MB; a probe that ships only
      // dead-file NAMES to the driver stays well under one sketch
      assert(resultBytes < 600L * 1024,
        s"probe shipped $resultBytes bytes to the driver — sidecar collect?")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("applyCdc folds create/update/delete to final state; later seq wins") {
    import graft.streaming.BronzeIngest
    val changes = Seq(
      (1L, 1L, "c", 10L), (1L, 2L, "u", 11L),            // update wins
      (2L, 1L, "c", 20L), (2L, 2L, "d", 0L),             // deleted
      (3L, 1L, "c", 30L),                                // untouched
      (4L, 1L, "c", 40L), (4L, 2L, "d", 0L), (4L, 3L, "c", 41L) // re-created
    ).toDF("key", "seq", "op", "val")
    val got = BronzeIngest.applyCdc(changes, Seq("key"), "seq", "op")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 11L), (3L, 30L), (4L, 41L)))
  }

  test("managed parquet table: overwrite never exposes partial state " +
    "to concurrent readers; vacuum reclaims dead segments") {
    val tblPath = tmp("mpt_conc") + "/tbl"
    val t = new ManagedParquetTable(spark, tblPath)
    def versionDf(v: Int) =
      spark.range(100).selectExpr("id", s"$v AS ver")
    t.overwrite(versionDf(0))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val rows = t.read().groupBy("ver").count().collect()
          // snapshot isolation: exactly one version, complete (100 rows)
          if (rows.length != 1 || rows(0).getLong(1) != 100L)
            failures.add(s"inconsistent snapshot: ${rows.mkString(",")}")
        } catch { case e: Throwable => failures.add(s"read failed: $e") }
      }
    })
    reader.start()
    (1 to 8).foreach(v => t.overwrite(versionDf(v)))
    stop.set(true); reader.join(30000)
    assert(failures.isEmpty, failures.toString)
    // 9 overwrites → 8 dead segments; grace 0 reclaims them all
    t.vacuum(graceMs = 0)
    val segs = java.nio.file.Files.list(java.nio.file.Paths.get(tblPath))
      .filter(p => p.getFileName.toString.startsWith("seg-")).count()
    assert(segs == 1, s"vacuum left $segs segments")
    assert(t.read().count() == 100) // live snapshot untouched
  }

  test("managed parquet table mirrors a Delta-protocol _delta_log") {
    val tblPath = tmp("mpt_delta") + "/tbl"
    val t = new ManagedParquetTable(spark, tblPath)
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    val logDir = java.nio.file.Paths.get(tblPath, "_delta_log")
    import scala.jdk.CollectionConverters._
    val versions = java.nio.file.Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq.sorted
    assert(versions == Seq("00000000000000000000.json",
      "00000000000000000001.json", "00000000000000000002.json"))
    def actions(v: String): Seq[String] =
      java.nio.file.Files.readString(logDir.resolve(v)).linesIterator.toSeq
    val v0 = actions(versions.head)
    assert(v0.exists(_.contains("\"protocol\"")) &&
      v0.exists(_.contains("\"metaData\"")) &&
      v0.exists(_.contains("\"schemaString\"")))
    // overwrite removes the full prior snapshot and adds the new files
    val v2 = actions(versions(2))
    assert(v2.count(_.contains("\"remove\"")) >= 2) // both appended segments
    assert(v2.exists(_.contains("\"add\"")))
    // add/remove paths are table-relative and every log line parses as JSON
    val all = versions.flatMap(actions)
    all.foreach { l =>
      assert(!l.contains(tblPath), s"absolute path leaked into log: $l")
      // cheap JSON sanity: parseable by Spark's JSON reader
    }
    val parsed = spark.read.json(
      spark.createDataset(all)(org.apache.spark.sql.Encoders.STRING))
    assert(parsed.count() == all.length &&
      !parsed.columns.contains("_corrupt_record"))
    // live adds (minus removes) == the files the manifest snapshot serves
    val added = all.filter(_.contains("\"add\"")).flatMap(
      "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(_)).map(_.group(1))
    val removed = all.filter(_.contains("\"remove\"")).flatMap(
      "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(_)).map(_.group(1))
    val live = added.toSet -- removed.toSet
    val served = t.read().inputFiles.map(_.split("/").takeRight(2).mkString("/")).toSet
    assert(live == served, s"log live set $live != served $served")
  }

  test("delta-log checkpoint: 100-commit table recovers via _last_checkpoint, not a log scan") {
    val tblPath = tmp("mpt_ckpt") + "/tbl"
    val t = new ManagedParquetTable(spark, tblPath)
    val one = spark.range(0, 1, 1, 1).toDF("v")
    (1 to 100).foreach(_ => t.append(one))
    val logDir = java.nio.file.Paths.get(tblPath, "_delta_log")
    // commits are versions 0..99 → checkpoints at 10..90, pointer at 90
    val lc = logDir.resolve("_last_checkpoint")
    assert(java.nio.file.Files.exists(lc))
    assert(java.nio.file.Files.readString(lc).contains("\"version\":90"))
    val ckpt = logDir.resolve(f"${90L}%020d.checkpoint.parquet")
    assert(java.nio.file.Files.isRegularFile(ckpt)) // ONE file, Delta naming
    // checkpoint holds the full reconstructed state at v90:
    // 1 protocol + 1 metaData + one add per live file (91 appends)
    val ck = spark.read.parquet(ckpt.toString)
    assert(ck.filter(col("protocol").isNotNull).count() == 1)
    assert(ck.filter(col("metaData.schemaString").isNotNull).count() == 1)
    assert(ck.filter(col("add.path").isNotNull).count() == 91)
    // destroy every pre-checkpoint commit file: a reader that needed the
    // full log would now fail — checkpoint + 9 tail commits must suffice
    (0 to 90).foreach(v => java.nio.file.Files.deleteIfExists(
      logDir.resolve(f"$v%020d.json")))
    val files = t.deltaSnapshotFiles()
    assert(files.size == 100, s"expected 100 live files, got ${files.size}")
    // resolved paths serve the same rows as the manifest read path
    assert(spark.read.parquet(files.map(f => s"$tblPath/$f"): _*).count() ==
      t.read().count())
  }

  test("S16: XLSX contract binds preconverted fixtures with the HR schema") {
    val d = tmp("xlsx")
    Files.writeString(Paths.get(s"$d/rh.csv"),
      "ID salarié,Nom,Prénom,Adresse du domicile,Moyen de déplacement," +
        "Date de naissance,Date d'embauche,Salaire brut," +
        "Nombre de jours de CP,BU,Type de contrat\n" +
        "1,Colin,Audrey,12 rue X,Marche/running,1990-01-01,2020-01-01," +
        "42000.0,27,Tech,CDI\n")
    val hr = XlsxSource.readConverted(spark, s"$d/rh.csv", Schemas.hr)
    assert(hr.count() == 1)
    assert(hr.select(col("`Salaire brut`")).head.getDouble(0) == 42000.0)
  }

  test("S16: readXlsx decodes a real .xlsx (zip+XML) without POI") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val f = Files.createTempFile("graft_hr", ".xlsx").toFile
    val z = new ZipOutputStream(new java.io.FileOutputStream(f))
    def part(name: String, xml: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(xml.getBytes("UTF-8")); z.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
        |</Types>""".stripMargin)
    part("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="RH" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="5" uniqueCount="5">
        |<si><t>ID salarié</t></si><si><t>Nom</t></si><si><t>Salaire brut</t></si>
        |<si><r><t>Du</t></r><r><t>pont</t></r></si><si><t>Durand</t></si></sst>""".stripMargin)
    // row 2: dense; row 3: sparse (no Nom) + inline string salary comment
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
        |<row r="2"><c r="A2"><v>7</v></c><c r="B2" t="s"><v>3</v></c><c r="C2"><v>42000.5</v></c></row>
        |<row r="3"><c r="A3"><v>8</v></c><c r="C3"><v>39000</v></c></row>
        |<row r="4"><c r="A4"><v>9</v></c><c r="B4" t="inlineStr"><is><t>Durand</t></is></c><c r="C4"><v>31000</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.close()

    val df = XlsxSource.readXlsx(spark, f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("ID salarié", "Nom", "Salaire brut"))
    val rows = df.orderBy(col("`ID salarié`")).collect()
    assert(rows.length == 3)
    assert(rows(0).getString(1) == "Dupont") // rich-text runs concatenated
    assert(rows(1).getString(1) == null)     // sparse cell
    assert(rows(2).getString(1) == "Durand") // inline string
    // typed read through the schema-cast overload
    val typed = XlsxSource.readXlsx(spark, f.getAbsolutePath,
      StructType(Seq(StructField("ID salarié", IntegerType),
        StructField("Salaire brut", DoubleType))))
    assert(typed.agg(sum(col("`Salaire brut`"))).head.getDouble(0) == 112000.5)
    f.delete()
  }

  test("S16: XLSX date serials via styles.xml -> ISO strings + typed casts") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    import org.apache.spark.sql.types.{DateType, TimestampType, StringType}
    val f = Files.createTempFile("graft_dates", ".xlsx").toFile
    val z = new ZipOutputStream(new java.io.FileOutputStream(f))
    def part(name: String, xml: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(xml.getBytes("UTF-8")); z.closeEntry()
    }
    // styles: xf 0 = General; xf 1 = builtin date (14); xf 2 = custom
    // date code (164 dd/mm/yyyy); xf 3 = custom currency (165 — NOT a date)
    part("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="2">
        |<numFmt numFmtId="164" formatCode="dd/mm/yyyy hh:mm"/>
        |<numFmt numFmtId="165" formatCode="#,##0.00&quot;m&quot;"/>
        |</numFmts>
        |<cellXfs count="4">
        |<xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>
        |<xf numFmtId="164" applyNumberFormat="1"/><xf numFmtId="165"/>
        |</cellXfs></styleSheet>""".stripMargin)
    // serials: 32874 = 1990-01-01; 45234.5 = 2023-11-04 12:00:00
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>Naissance</t></is></c><c r="B1" t="inlineStr"><is><t>Embauche</t></is></c><c r="C1" t="inlineStr"><is><r><t>Mon</t></r><r><t>tant</t></r></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>32874</v></c><c r="B2" s="2"><v>45234.5</v></c><c r="C2" s="3"><v>1234.5</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.close()

    val raw = XlsxSource.readXlsx(spark, f.getAbsolutePath)
    // multi-run inlineStr header concatenated (not last-run-wins)
    assert(raw.columns.toSeq == Seq("Naissance", "Embauche", "Montant"))
    val r0 = raw.head
    assert(r0.getString(0) == "1990-01-01")          // builtin numFmt 14
    assert(r0.getString(1) == "2023-11-04 12:00:00") // custom date code
    assert(r0.getString(2) == "1234.5")              // currency NOT converted
    // typed overload: date/timestamp casts must succeed, not null out
    val typed = XlsxSource.readXlsx(spark, f.getAbsolutePath,
      StructType(Seq(StructField("Naissance", DateType),
        StructField("Embauche", TimestampType),
        StructField("Montant", StringType))))
    val t0 = typed.head
    assert(t0.getDate(0).toString == "1990-01-01")
    assert(t0.getTimestamp(1).toString.startsWith("2023-11-04 12:00:00"))
    f.delete()
  }

  test("S16: workbook XML with a DTD is rejected (XXE hardening)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val f = Files.createTempFile("graft_xxe", ".xlsx").toFile
    val z = new ZipOutputStream(new java.io.FileOutputStream(f))
    z.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    z.write(
      """<?xml version="1.0"?><!DOCTYPE x [<!ENTITY e SYSTEM "file:///etc/passwd">]>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>&e;</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin.getBytes("UTF-8"))
    z.closeEntry(); z.close()
    intercept[Exception] { XlsxSource.readXlsx(spark, f.getAbsolutePath) }
    f.delete()
  }

  test("S17/S18: JDBC read + append + partitioned read, end-to-end (Derby)") {
    import graft.io.Jdbc
    import java.sql.DriverManager
    val url = "jdbc:derby:memory:graft_io;create=true"
    val props = Map.empty[String, String] // derby autoloads via ServiceLoader
    // warehouse side: schema owned by the database (Spark's default
    // dialect maps string to TEXT, which Derby rejects — creating the
    // table first is also the realistic production pattern)
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE activity (id INT NOT NULL, emp VARCHAR(32), km DOUBLE)")
      val ins = conn.prepareStatement("INSERT INTO activity VALUES (?, ?, ?)")
      (1 to 50).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"emp_${i % 7}")
        ins.setDouble(3, i * 1.5); ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()

    // S17 single read
    val df = Jdbc.read(spark, url, "activity", props)
    assert(df.count() == 50)
    assert(df.agg(sum(col("km"))).head.getDouble(0) == (1 to 50).map(_ * 1.5).sum)

    // S18 sink: append 10 more rows through Spark, verify on the DB side
    import spark.implicits._
    val extra = (51 to 60).map(i => (i, s"emp_x", i * 1.5))
      .toDF("id", "emp", "km")
    Jdbc.append(extra, url, "activity", props = props)
    val c2 = DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement()
        .executeQuery("SELECT COUNT(*) FROM activity")
      rs.next()
      assert(rs.getInt(1) == 60)
    } finally c2.close()

    // S17 scale path: range-partitioned parallel read — same rows,
    // actually split into the requested partitions
    val part = Jdbc.readPartitioned(spark, url, "activity",
      partitionColumn = "id", lowerBound = 1, upperBound = 60,
      numPartitions = 3, props = props)
    assert(part.rdd.getNumPartitions == 3)
    assert(part.count() == 60)
    assert(part.select(sum(col("id"))).head.getLong(0) == (1 to 60).sum)
  }

  test("delta-log mirror re-emits metaData on schema evolution, stable id") {
    val tblPath = tmp("mpt_evolve") + "/tbl"
    val t = new ManagedParquetTable(spark, tblPath)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))            // same schema
    t.append(Seq((3, "c", 9L)).toDF("id", "v", "extra")) // evolved
    t.append(Seq((4, "d")).toDF("id", "v")) // narrower frame, same table
    val logDir = java.nio.file.Paths.get(tblPath, "_delta_log")
    import scala.jdk.CollectionConverters._
    val versions = Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq.sorted
    def actions(v: String) = Files.readString(logDir.resolve(v)).linesIterator.toSeq
    // v0 and v2 carry metaData (schema change), v1 does not (unchanged)
    assert(actions(versions(0)).exists(_.contains("\"metaData\"")))
    assert(!actions(versions(1)).exists(_.contains("\"metaData\"")))
    val v2meta = actions(versions(2)).filter(_.contains("\"metaData\""))
    assert(v2meta.size == 1 && v2meta.head.contains("extra"))
    // a narrower append must NOT narrow the emitted schema: the table
    // schema is the merge across segments, so no new metaData at all
    assert(!actions(versions(3)).exists(_.contains("\"metaData\"")))
    // table id is stable across all metaData actions
    val ids = versions.flatMap(actions).filter(_.contains("\"metaData\""))
      .flatMap("\"id\":\"([^\"]+)\"".r.findFirstMatchIn(_)).map(_.group(1))
    assert(ids.distinct.size == 1)
    // a reader resolving the LATEST metaData sees the evolved column,
    // matching what the table itself serves via mergeSchema
    assert(t.read().columns.contains("extra"))
    // the latest schemaString is the schema read() serves, after every
    // op — narrowed ones included, each touching only pre-evolution
    // segments (whose own frames lack `extra`)
    def latestSchema(): String = {
      val meta = Files.list(logDir).iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("\\d{20}\\.json")).toSeq.sorted
        .flatMap(actions).filter(_.contains("\"metaData\"")).last
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta)
        .path("metaData").path("schemaString").asText()
    }
    def assertServed(op: String): Unit =
      assert(latestSchema() == t.read().schema.json,
        s"after $op the latest schemaString must be the schema read() serves")
    assertServed("the narrower append")
    t.deleteWhere(col("id") === 1)
    assertServed("a narrowed deleteWhere")
    t.merge(Seq((2, "B")).toDF("id", "v"), Seq("id"))
    assertServed("a merge whose updates lack the evolved column")
    t.deleteWhereDV(col("id") === 4)
    assertServed("deleteWhereDV")
    assert(t.compactDeletes(0.3) == 1)
    assertServed("compactDeletes")
    assert(t.read().columns.contains("extra"))
    assert(t.read().as[(Int, String, Option[Long])].collect().sortBy(_._1)
      .toSeq == Seq((2, "B", None), (3, "c", Some(9L))))
  }

  test("every commit mode's log entry carries the actions the " +
      "Delta-log mirror carried, and its graft fields are the snapshot " +
      "read() serves") {
    val dir = tmp("mpt_entry_modes") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    val logDir = Paths.get(dir, "_delta_log")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    // data files named by their segment's order of first appearance in
    // the log and their order inside it; timestamps, sizes, the table
    // id and dv dir names zeroed; commitInfo cut to operation and
    // userMetadata (its graft fields are checked against the pointer)
    val segIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val PathRe = """"path":"(seg-\d+)/([^"]+)"""".r
    def files(seg: String): Seq[String] =
      graft.io.GraftFs.list(Paths.get(dir, seg)).map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).sorted
    def norm(entry: String): Seq[String] = entry.linesIterator.map { l0 =>
      val l = l0
        .replaceAll(""""(timestamp|deletionTimestamp|modificationTime|createdTime)":\d+""", "\"$1\":0")
        .replaceAll(""""size":\d+""", "\"size\":0")
        .replaceAll("""^(\{"metaData":\{"id":)"[^"]+"""", "$1\"ID\"")
        .replaceAll(""","graft":\{.*\}(\}\})$""", "$1")
        .replace("""{"commitInfo":{"timestamp":0,""", """{"commitInfo":{""")
        .replaceAll("""graft-dv:dv-\d+""", "graft-dv:DV")
      PathRe.replaceAllIn(l, m => scala.util.matching.Regex.quoteReplacement(
        s""""path":"s${segIds.getOrElseUpdate(m.group(1), segIds.size)}/""" +
          s"""${files(m.group(1)).indexOf(m.group(2))}""""))
    }.toSeq
    def check(op: String, mode: String, expected: Seq[String]): Unit = {
      val n = t.version - 1
      val entry = Files.readString(logDir.resolve(f"$n%020d.json"))
      assert(norm(entry) == expected, s"$op: entry $n\n$entry")
      val info = json.readTree(entry.linesIterator
        .find(_.startsWith("{\"commitInfo\"")).get).path("commitInfo")
      val g = info.path("graft")
      assert(g == json.readTree(Files.readString(Paths.get(dir, "_graft_manifest"))),
        s"$op: the entry's graft fields must equal the pointer")
      assert(g.path("version").asLong == n + 1 && g.path("mode").asText == mode, op)
      assert(g.path("tag").asText == info.path("userMetadata").asText, op)
      import scala.jdk.CollectionConverters._
      val served = t.read().inputFiles.map(f => Paths.get(new java.net.URI(f)))
        .map(_.getParent.getFileName.toString).toSet
      assert(g.path("segments").elements().asScala.map(_.asText).toSet == served,
        s"$op: graft segments must be the segments read() scans")
    }
    t.overwrite((1 to 6).map(i => (i, s"v$i")).toDF("id", "v"))
    check("overwrite", "overwrite", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"ID","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      """{"commitInfo":{"operation":"OVERWRITE"}}""",
      """{"add":{"path":"s0/0","partitionValues":{},"size":0,"modificationTime":0,"dataChange":true}}"""))
    t.append(Seq((7, "v7", 70L), (8, "v8", 80L)).toDF("id", "v", "extra"),
      Some("tag-7"))
    check("append", "append", Seq(
      """{"metaData":{"id":"ID","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"extra\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      """{"commitInfo":{"operation":"APPEND","userMetadata":"tag-7"}}""",
      """{"add":{"path":"s1/0","partitionValues":{},"size":0,"modificationTime":0,"dataChange":true}}"""))
    t.merge(Seq((2, "B"), (9, "I")).toDF("id", "v"), Seq("id"))
    check("merge", "merge", Seq(
      """{"commitInfo":{"operation":"MERGE"}}""",
      """{"remove":{"path":"s0/0","deletionTimestamp":0,"dataChange":true}}""",
      """{"add":{"path":"s2/0","partitionValues":{},"size":0,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"s2/1","partitionValues":{},"size":0,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"s2/2","partitionValues":{},"size":0,"modificationTime":0,"dataChange":true}}"""))
    t.deleteWhere(col("id") === 7)
    check("deleteWhere", "delete", Seq(
      """{"commitInfo":{"operation":"DELETE"}}""",
      """{"remove":{"path":"s1/0","deletionTimestamp":0,"dataChange":true}}""",
      """{"add":{"path":"s3/0","partitionValues":{},"size":0,"modificationTime":0,"dataChange":true}}"""))
    t.deleteWhereDV(col("id") === 8)
    check("deleteWhereDV", "delete-dv", Seq(
      """{"commitInfo":{"operation":"DELETE","userMetadata":"graft-dv:DV"}}"""))
    assert(t.compactDeletes(0.3) == 1)
    check("compactDeletes", "reorg", Seq(
      """{"metaData":{"id":"ID","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      """{"commitInfo":{"operation":"REORG"}}""",
      """{"remove":{"path":"s3/0","deletionTimestamp":0,"dataChange":false}}"""))
    t.deleteWhereDV(col("id") === 1)
    assert(t.compactDeletes(0.1) == 1)
    check("compactDeletes with survivors", "reorg", Seq(
      """{"commitInfo":{"operation":"REORG"}}""",
      """{"remove":{"path":"s2/0","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"s2/1","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"s2/2","deletionTimestamp":0,"dataChange":false}}""",
      """{"add":{"path":"s4/0","partitionValues":{},"size":0,"modificationTime":0,"dataChange":false}}""",
      """{"add":{"path":"s4/1","partitionValues":{},"size":0,"modificationTime":0,"dataChange":false}}""",
      """{"add":{"path":"s4/2","partitionValues":{},"size":0,"modificationTime":0,"dataChange":false}}"""))
    t.compact()
    check("compact", "compact", Seq(
      """{"commitInfo":{"operation":"COMPACT"}}""",
      """{"remove":{"path":"s4/0","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"s4/1","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"s4/2","deletionTimestamp":0,"dataChange":false}}""",
      """{"add":{"path":"s5/0","partitionValues":{},"size":0,"modificationTime":0,"dataChange":false}}"""))
    // the last segment holding `extra` was purged, so read() dropped it
    assert(t.read().as[(Int, String)].collect().sortBy(_._1).toSeq ==
      Seq((2, "B"), (3, "v3"), (4, "v4"), (5, "v5"), (6, "v6"), (9, "I")))
  }

  test("jsonl shard export: round-trip, shard membership input-invariant") {
    import spark.implicits._
    val rows = (1L to 500L).map(i => (i, s"doc body $i", s"src${i % 3}"))
    val df = rows.toDF("doc_id", "text", "source")
    def export(input: org.apache.spark.sql.DataFrame): (String, Map[String, Set[Long]]) = {
      val out = tmp("jsonl")
      val n = TrainingExport.writeJsonlShards(input, "doc_id", 4, out)
      assert(n == 500)
      val files = Files.list(Paths.get(out)).toArray.map(_.toString)
        .filter { f =>
          val name = f.substring(f.lastIndexOf('/') + 1)
          name.startsWith("part-")
        }.sorted
      assert(files.length == 4)
      val byShard = files.map { f =>
        val ids = scala.io.Source.fromFile(f).getLines()
          .map(l => ujsonDocId(l)).toSet
        f.substring(f.lastIndexOf("part-"), f.lastIndexOf("part-") + 10) -> ids
      }.toMap
      (out, byShard)
    }
    val (_, a) = export(df.repartition(13))
    val (_, b) = export(df.repartition(2, col("source")))
    assert(a.values.map(_.size).sum == 500)
    assert(a == b) // same doc -> same shard file, whatever the input layout
    // round-trip: every row survives JSON serialization intact
    val (out3, _) = export(df)
    val back = spark.read.schema("doc_id LONG, text STRING, source STRING")
      .json(out3)
    assert(back.as[(Long, String, String)].collect().sortBy(_._1)
      .toSeq == rows)
    // a provably-EMPTY export is legal (a fully-filtered curation run):
    // returns 0 instead of tripping over the AQE-eliminated
    // observation, and the output dir reads back as zero rows
    val outEmpty = tmp("jsonl_empty")
    val nEmpty = TrainingExport.writeJsonlShards(
      df.filter(col("doc_id") < 0), "doc_id", 4, outEmpty)
    assert(nEmpty == 0L)
    assert(spark.read.textFile(outEmpty).count() == 0L)
  }

  /** Extract doc_id from a JSONL line without a JSON library. */
  private def ujsonDocId(line: String): Long =
    "\"doc_id\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toLong

  test("time travel: readAt reconstructs every historical snapshot") {
    val t = new ManagedParquetTable(spark, tmp("tt") + "/tbl")
    t.append(Seq((1, "a")).toDF("id", "v"))                  // version 0
    t.append(Seq((2, "b"), (3, "c")).toDF("id", "v"))        // version 1
    t.deleteWhere(col("id") === 2)                           // version 2
    t.overwrite(Seq((9, "z")).toDF("id", "v"))               // version 3
    def ids(v: Long) =
      t.readAt(v).select("id").as[Int].collect().sorted.toSeq
    assert(ids(0) == Seq(1))
    assert(ids(1) == Seq(1, 2, 3))
    assert(ids(2) == Seq(1, 3))
    assert(ids(3) == Seq(9))
    // the latest version equals the live read
    assert(ids(3) == t.read().select("id").as[Int].collect().sorted.toSeq)
    // a version that never existed fails loudly, not silently
    intercept[IllegalArgumentException](t.readAt(17))
    // schema evolution travels: old version lacks the new column
    t.append(Seq((10, "y", 1.5)).toDF("id", "v", "w"))       // version 4
    assert(!t.readAt(3).columns.contains("w"))
    assert(t.readAt(4).columns.contains("w"))
  }

  test("compact: small files fold into one commit, dataChange false, travel intact") {
    val dir = tmp("cp") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    for (i <- 0 until 6)
      t.append(spark.range(i * 10, i * 10 + 10).toDF("id").repartition(2))
    assert(t.read().inputFiles.length == 12)
    t.compact(targetFiles = 2)
    assert(t.read().inputFiles.length <= 2)
    assert(t.read().count() == 60)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      (0L until 60L))
    // the compaction commit is a no-data-change rewrite in the mirror
    val lastCommit = Files.list(Paths.get(dir, "_delta_log"))
      .filter(p => p.getFileName.toString.matches("\\d{20}\\.json"))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .findFirst().get()
    val txt = Files.readString(lastCommit)
    assert(txt.contains(""""operation":"COMPACT""""))
    assert(txt.contains(""""dataChange":false"""))
    assert(!txt.contains(""""dataChange":true"""))
    // pre-compaction version still reconstructs (segments not vacuumed)
    assert(t.readAt(5).count() == 60)
    assert(t.readAt(2).count() == 30)
    // z-ordered compaction: same rows, pruning becomes selective
    t.compact(targetFiles = 4, zCols = Seq("id"))
    assert(t.read().count() == 60)
    val (kept, total) = t.pruneFiles(col("id") < 10)
    assert(total >= 3 && kept.size < total,
      s"z-compacted pruning kept ${kept.size}/$total")
  }

  test("file stats sidecar: per-file min/max/nulls from parquet footers") {
    val t = new ManagedParquetTable(spark, tmp("stats") + "/tbl")
    val df = spark.range(0, 100)
      .select(col("id"),
        (col("id") * 2.5).as("d"),
        concat(lit("k"), format_string("%03d", col("id"))).as("s"),
        when(col("id") < 50, col("id")).as("half_null"),
        lit(null).cast("long").as("all_null"))
    t.append(df.repartition(1))
    // everything survives a full read
    assert(t.read().count() == 100)
    // pruning on a dead range plans zero files
    val (kept0, total) = t.pruneFiles(col("id") > 1000)
    assert(total == 1 && kept0.isEmpty)
    // live range keeps the file
    assert(t.pruneFiles(col("id") <= 0)._1.size == 1)
    assert(t.pruneFiles(col("d") >= 247.5)._1.size == 1)
    assert(t.pruneFiles(col("d") > 247.5)._1.isEmpty)
    // string bounds: k000..k099
    assert(t.pruneFiles(col("s") > "k1")._1.isEmpty)
    assert(t.pruneFiles(col("s") === "k050")._1.size == 1)
    // all-null column: no comparison can match
    assert(t.pruneFiles(col("all_null") === 7L)._1.isEmpty)
    // half-null column: bounds cover the non-null half
    assert(t.pruneFiles(col("half_null") === 49L)._1.size == 1)
    assert(t.pruneFiles(col("half_null") === 51L)._1.isEmpty)
    // unsupported predicate shapes keep everything (never mis-skip)
    assert(t.pruneFiles(col("s").startsWith("k"))._1.size == 1)
    assert(t.pruneFiles(col("id") + 1 > 5)._1.size == 1)
  }

  test("decimal columns prune on SCALED bounds (unscaled footer stats)") {
    val t = new ManagedParquetTable(spark, tmp("decstats") + "/tbl")
    // DECIMAL(9,2) is INT32-backed, DECIMAL(18,2) INT64-backed; both
    // store UNSCALED integers in the footer (10.50 → 1050). A literal
    // inside the value range must never prune the file.
    val df = spark.range(0, 101).select(
      col("id"),
      ((col("id") + lit(1000)) / 100.0).cast("decimal(9,2)").as("p32"),
      ((col("id") + lit(1000)) / 100.0).cast("decimal(18,2)").as("p64"))
    t.append(df.repartition(1)) // p32/p64 span [10.00, 11.00]
    for (c <- Seq("p32", "p64")) {
      assert(t.pruneFiles(col(c) === BigDecimal("10.50"))._1.size == 1,
        s"$c: in-range literal must keep the file")
      assert(t.readWhere(col(c) === BigDecimal("10.50")).count() == 1,
        s"$c: pruned read must still find the row")
      // dead ranges remain prunable (bounds are tight after rescale)
      assert(t.pruneFiles(col(c) > BigDecimal("11.00"))._1.isEmpty, c)
      assert(t.pruneFiles(col(c) < BigDecimal("10.00"))._1.isEmpty, c)
      assert(t.pruneFiles(col(c) >= BigDecimal("11.00"))._1.size == 1, c)
    }
    // double-vs-decimal cross-type literal also compares in value units
    assert(t.readWhere(col("p32") >= 10.995).count() == 1)
    // NaN / Infinity literals: no prunable range, no crash, empty result
    val dd = spark.range(0, 10).select(col("id"),
      (col("id") * 1.5).as("x"))
    val td = new ManagedParquetTable(spark, tmp("nanlit") + "/tbl")
    td.append(dd.repartition(1))
    assert(td.pruneFiles(col("x") === Double.NaN)._1.size == 1)
    assert(td.readWhere(col("x") === Double.NaN).count() == 0)
    assert(td.pruneFiles(col("x") < Double.PositiveInfinity)._1.size == 1)
    assert(td.readWhere(col("x") < Double.PositiveInfinity).count() == 10)
  }

  test("readWhere equals read().filter under any pruning outcome") {
    val t = new ManagedParquetTable(spark, tmp("rw") + "/tbl")
    // several appends → several files with disjoint id ranges
    for (lo <- 0 until 400 by 100)
      t.append(spark.range(lo, lo + 100).select(col("id"),
        (col("id") % 7).as("m")).repartition(1))
    val preds = Seq(
      col("id") >= 150 && col("id") < 250,
      col("id") === 399L,
      col("id") < 0,
      col("m") === 3L, // m: every file has [0,6] → no pruning
      col("id") > 90 && col("m") < 2)
    preds.foreach { p =>
      val viaPrune = t.readWhere(p).select("id").as[Long].collect().sorted
      val viaFull = t.read().filter(p).select("id").as[Long].collect().sorted
      assert(viaPrune.sameElements(viaFull), s"pred $p")
    }
    // the disjoint-range predicate really did skip files
    val (kept, total) = t.pruneFiles(col("id") >= 150 && col("id") < 250)
    assert(total == 4 && kept.size == 2)
  }

  test("z-order clustered write makes multi-column pruning selective") {
    val dir = tmp("zo") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    // two independent dimensions, 64x64 grid, shuffled input order
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), floor(col("id") / 64).as("y"),
      col("id").as("payload"))
    t.overwriteClustered(grid.orderBy(rand(42)), Seq("x", "y"),
      numFiles = 16)
    val files = t.read().inputFiles.length
    assert(files >= 8, s"expected >=8 clustered files, got $files")
    // a point lookup in BOTH dimensions must hit a small file subset
    val (keptX, totalX) = t.pruneFiles(col("x") === 3L)
    val (keptY, _) = t.pruneFiles(col("y") === 60L)
    val (keptXY, _) = t.pruneFiles(col("x") === 3L && col("y") === 60L)
    assert(totalX == files)
    assert(keptX.size < files, s"x lookup kept ${keptX.size}/$files")
    assert(keptY.size < files, s"y lookup kept ${keptY.size}/$files")
    assert(keptXY.size <= math.min(keptX.size, keptY.size))
    // and the pruned read is still exact
    val got = t.readWhere(col("x") === 3L && col("y") === 60L)
      .select("payload").as[Long].collect()
    assert(got.toSeq == Seq(60L * 64 + 3))
    // vacuum after a re-overwrite reclaims the old stats sidecars too
    t.overwrite(grid.limit(10))
    t.vacuum(graceMs = -1000)
    val statsStream = Files.list(Paths.get(dir, "_graft_stats"))
    val statsDirs = try statsStream.count() finally statsStream.close()
    assert(statsDirs == 1, s"expected 1 live stats sidecar, got $statsDirs")
  }

  test("S27: changesSince tags appends insert and rewrites delete+insert") {
    val t = new ManagedParquetTable(spark, tmp("cdf") + "/t")
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v")) // delta v0
    t.append(Seq((3, "c")).toDF("id", "v")) // v1
    // append-only diff: exact row inserts
    assert(t.changesSince(0L).select("id", "_change_type")
      .as[(Int, String)].collect().toSet == Set((3, "insert")))
    // no change → empty frame, schema preserved
    val none = t.changesSince(1L)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("id", "v", "_change_type"))
    // delete rewrites ONLY the segments containing matches: rows of
    // the affected segment report delete, its survivors re-report
    // insert, and untouched segments (id=3) emit NOTHING — the
    // narrowed copy-on-write keeps the change feed O(delta)
    t.deleteWhere(col("id") === 1) // v2
    assert(t.changesSince(1L).select("id", "_change_type")
      .as[(Int, String)].collect().toSet ==
      Set((1, "delete"), (2, "delete"), (2, "insert")))
    // and the full-history diff nets to the current snapshot's adds
    assert(t.changesSince(0L).filter(col("_change_type") === "insert")
      .select("id").as[Int].collect().toSet == Set(2, 3))
  }

  test("MV: legacy manifest (no partials) with only APPENDS rebuilds once instead of failing") {
    import graft.io.IncrementalAggView
    import graft.io.IncrementalAggView.AggSpec
    val root = tmp("mvleg")
    val t = new ManagedParquetTable(spark, s"$root/t")
    t.append(Seq(("a", 1L), ("b", 2L)).toDF("g", "v"))
    // hand-build what the pre-partials code left behind: a state
    // parquet WITHOUT the hidden bookkeeping columns and a manifest
    // with no "partials" key
    Files.createDirectories(Paths.get(s"$root/v"))
    Seq(("a", 1L, 1L), ("b", 1L, 2L)).toDF("g", "cnt", "s")
      .write.parquet(s"$root/v/state-legacy")
    val basis = t.deltaSnapshotFiles()
      .map("\"" + _ + "\"").mkString(",")
    Files.writeString(Paths.get(s"$root/v/_graft_view_manifest"),
      s"""{"state":"state-legacy","basis":[$basis]}""")
    val v = new IncrementalAggView(spark, s"$root/t", s"$root/v",
      Seq("g"), Seq(AggSpec("count", "", "cnt"), AggSpec("sum", "v", "s")))
    // append-only maintenance on the legacy store: the old guard only
    // rebuilt on REMOVALS, so this path crashed selecting __graft_n
    t.append(Seq(("a", 5L)).toDF("g", "v"))
    v.refresh()
    assert(v.lastRefresh == "full",
      s"legacy manifest + append must take the one-time rebuild, got ${v.lastRefresh}")
    assert(v.read().as[(String, Long, Long)].collect().toSet ==
      Set(("a", 2L, 6L), ("b", 1L, 2L)))
    // and the rebuild re-established partials: the next append is
    // incremental again
    t.append(Seq(("c", 9L)).toDF("g", "v"))
    v.refresh()
    assert(v.lastRefresh == "incremental")
  }

  test("MV: a pre-basis view (valid file-diff manifest, no basis file) " +
      "refreshes INCREMENTALLY, not via an O(table) rebuild") {
    import graft.io.IncrementalAggView
    import graft.io.IncrementalAggView.AggSpec
    val root = tmp("mvpb")
    val t = new ManagedParquetTable(spark, s"$root/t")
    def view() = new IncrementalAggView(spark, s"$root/t", s"$root/v",
      Seq("g"), Seq(AggSpec("count", "", "cnt"), AggSpec("sum", "v", "s")))
    t.append(Seq(("a", 1L), ("b", 2L)).toDF("g", "v"))
    val v1 = view()
    v1.refresh() // establishes manifest + partials + basis
    // forge the pre-basis legacy state: manifest and partials intact,
    // basis file absent (a view created before the tracker existed)
    Files.delete(Paths.get(s"$root/v/_graft_index_basis"))
    t.append(Seq(("a", 5L), ("c", 7L)).toDF("g", "v"))
    val v2 = view()
    v2.refresh()
    assert(v2.lastRefresh == "incremental",
      s"a valid manifest must serve the no-basis refresh via the " +
        s"file-diff fold, got '${v2.lastRefresh}'")
    assert(v2.read().as[(String, Long, Long)].collect().toSet ==
      Set(("a", 2L, 6L), ("b", 1L, 2L), ("c", 1L, 7L)))
    // and the basis re-established: the next refresh is a noop
    v2.refresh()
    assert(v2.lastRefresh == "noop")
  }

  test("MV2: hll sketch state merges incrementally == one-shot sketch") {
    import graft.io.IncrementalAggView
    import graft.io.IncrementalAggView.AggSpec
    val root = tmp("mvh")
    val t = new ManagedParquetTable(spark, s"$root/t")
    val v = new IncrementalAggView(spark, s"$root/t", s"$root/v",
      Seq("g"), Seq(AggSpec("hll", "u", "sk")))
    // batches overlap in users: the union must dedup across batches,
    // which only works if sketch MERGE (not sum) is the fold
    t.append(Seq(("a", 1L), ("a", 2L), ("b", 9L)).toDF("g", "u"))
    v.refresh()
    t.append(Seq(("a", 2L), ("a", 3L), ("b", 9L)).toDF("g", "u"))
    v.refresh()
    assert(v.lastRefresh == "incremental")
    val got = v.readFinal().as[(String, Long)].collect().toMap
    // register-wise max union == sketch of the unioned data, so the
    // incrementally merged estimate equals the one-shot estimate
    val oneShot = t.read()
      .groupBy(col("g")).agg(expr("hll_sketch_estimate(hll_sketch_agg(u))")
        .cast("long").as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == oneShot, s"merged=$got oneShot=$oneShot")
    // and at this cardinality the estimate is exact
    assert(got == Map("a" -> 3L, "b" -> 1L), got.toString)
  }

  test("MV1: appends merge only new files; removals maintain from per-file partials") {
    import graft.io.IncrementalAggView
    import graft.io.IncrementalAggView.AggSpec
    val root = tmp("mv")
    val t = new ManagedParquetTable(spark, s"$root/t")
    def view() = new IncrementalAggView(spark, s"$root/t", s"$root/v",
      Seq("g"), Seq(AggSpec("count", "", "cnt"),
        AggSpec("sum", "v", "s"), AggSpec("min", "v", "mn"),
        AggSpec("max", "v", "mx")))

    t.append(Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("g", "v"))
    val v1 = view()
    v1.refresh()
    assert(v1.lastRefresh == "full")
    assert(v1.read().as[(String, Long, Long, Long, Long)].collect().toSet ==
      Set(("a", 2L, 3L, 1L, 2L), ("b", 1L, 10L, 10L, 10L)))

    // append → incremental merge; a second refresh with no change is a noop
    t.append(Seq(("a", 5L), ("c", 7L)).toDF("g", "v"))
    v1.refresh()
    assert(v1.lastRefresh == "incremental")
    assert(v1.read().as[(String, Long, Long, Long, Long)].collect().toSet ==
      Set(("a", 3L, 8L, 1L, 5L), ("b", 1L, 10L, 10L, 10L),
        ("c", 1L, 7L, 7L, 7L)))
    v1.refresh()
    assert(v1.lastRefresh == "noop")

    // a NEW instance (fresh process) resumes incrementally from the
    // manifest — the basis survives the instance, not just the JVM state
    t.append(Seq(("b", 20L)).toDF("g", "v"))
    val v2 = view()
    v2.refresh()
    assert(v2.lastRefresh == "incremental")

    // deleting rows rewrites only the affected segment; the refresh
    // handles the removed files from stored per-file partials —
    // subtract for count/sum, per-group re-merge from surviving
    // partials where the removed rows could have set min/max — and
    // never rescans the table
    t.deleteWhere(col("v") === 2L)
    v2.refresh()
    assert(v2.lastRefresh == "incremental")
    assert(v2.read().as[(String, Long, Long, Long, Long)].collect().toSet ==
      Set(("a", 2L, 6L, 1L, 5L), ("b", 2L, 30L, 10L, 20L),
        ("c", 1L, 7L, 7L, 7L)))

    // crash window: a refresh that died AFTER writing its state dir
    // but BEFORE the manifest flip leaves an orphan the next refresh
    // ignores — the manifest still pairs the old state with the old
    // basis, so re-running derives the same delta (idempotent, no
    // double count) and the orphan is just unreferenced garbage
    t.append(Seq(("c", 100L)).toDF("g", "v"))
    Files.createDirectories(Paths.get(s"$root/v/state-0-crashed"))
    Files.writeString(Paths.get(s"$root/v/state-0-crashed/part-junk"), "x")
    val v4 = view()
    v4.refresh()
    assert(v4.lastRefresh == "incremental")
    assert(v4.read().filter(col("g") === "c")
      .as[(String, Long, Long, Long, Long)].collect().toSet ==
      Set(("c", 2L, 107L, 7L, 100L)))

    // all-null aggregate input stays null through an incremental merge
    val t2 = new ManagedParquetTable(spark, s"$root/t2")
    t2.append(Seq(("a", None: Option[Long])).toDF("g", "v"))
    val v3 = new IncrementalAggView(spark, s"$root/t2", s"$root/v2",
      Seq("g"), Seq(AggSpec("sum", "v", "s"), AggSpec("count", "", "cnt")))
    v3.refresh()
    t2.append(Seq(("a", None: Option[Long]), ("b", Some(1L))).toDF("g", "v"))
    v3.refresh()
    assert(v3.lastRefresh == "incremental")
    val rows = v3.read().collect().map(r =>
      (r.getString(0), Option(r.get(1)), r.getLong(2))).toSet
    assert(rows == Set(("a", None, 2L), ("b", Some(1L), 1L)))
  }

  test("MV removal refresh reads only stored partials — proven by hiding the table data") {
    import graft.io.IncrementalAggView
    import graft.io.IncrementalAggView.AggSpec
    val root = tmp("mvp")
    val t = new ManagedParquetTable(spark, s"$root/t")
    val v = new IncrementalAggView(spark, s"$root/t", s"$root/v",
      Seq("g"), Seq(AggSpec("count", "", "cnt"), AggSpec("sum", "v", "s")))
    t.append(Seq(("a", 1L), ("b", 2L)).toDF("g", "v"))  // segment X
    t.append(Seq(("a", 10L), ("c", 5L)).toDF("g", "v")) // segment Y
    v.refresh()
    // aligned delete: every row of X matches, none of Y → X drops
    // from the snapshot whole, nothing is rewritten or added
    t.deleteWhere(col("v") < 3L)
    // make ANY table-data access impossible: hide every segment dir
    // (the delta log stays — the snapshot resolves from it alone)
    Files.createDirectories(Paths.get(s"$root/hidden"))
    val segIt = Files.list(Paths.get(s"$root/t")).iterator()
    while (segIt.hasNext) {
      val p = segIt.next()
      if (p.getFileName.toString.startsWith("seg-"))
        Files.move(p, Paths.get(s"$root/hidden", p.getFileName.toString))
    }
    // count/sum subtract needs exactly the REMOVED files' partials:
    // the refresh succeeds with zero table data on disk
    v.refresh()
    assert(v.lastRefresh == "incremental")
    assert(v.read().as[(String, Long, Long)].collect().toSet ==
      Set(("a", 1L, 10L), ("c", 1L, 5L)))
  }

  test("narrowed delete: no-match commits nothing; aligned drop adds no files; schema survives delete-all") {
    val t = new ManagedParquetTable(spark, tmp("nd") + "/tbl")
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((5, "e")).toDF("id", "v"))
    val before = t.deltaSnapshotFiles().toSet
    t.deleteWhere(col("id") > 100) // no match → no commit at all
    assert(t.deltaSnapshotFiles().toSet == before)
    // match confined to the second segment, which matches WHOLLY →
    // dropped from the snapshot with no rewrite: nothing new appears
    t.deleteWhere(col("id") === 5)
    val after = t.deltaSnapshotFiles().toSet
    assert(after.subsetOf(before) && after != before)
    assert(t.read().select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // partial match rewrites only the affected segment
    t.deleteWhere(col("id") === 1)
    assert(t.read().select("id").as[Int].collect().toSeq == Seq(2))
    // NULL predicate rows survive (SQL DELETE: only IS TRUE deletes)
    t.append(Seq((Option.empty[Int], "n")).toDF("id", "v"))
    t.deleteWhere(col("id") < 100)
    assert(t.read().select("v").as[String].collect().toSeq == Seq("n"))
    // delete-everything keeps a readable schema via one empty segment
    t.deleteWhere(org.apache.spark.sql.functions.lit(true))
    assert(t.read().count() == 0 && t.read().columns.toSeq == Seq("id", "v"))
  }

  test("delta-log interop: independent JSON replay matches the writer's resolvers at every version") {
    import graft.tools.DeltaLogReplay
    val dir = tmp("dlr") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    // 13 commits of every kind — appends, narrowed + scattered deletes,
    // overwrite, merge, compaction — crossing the checkpoint-10
    // boundary so the writer's resolver uses checkpoint + tail replay
    // while the independent reader replays pure JSON from version 0
    for (i <- 0 until 6)
      t.append(spark.range(i * 10, i * 10 + 10).toDF("id")) // v0..v5
    t.deleteWhere(col("id") >= 50)                          // v6: aligned
    t.deleteWhere(col("id") % 7 === 0)                      // v7: scattered
    t.overwrite(spark.range(0, 25).toDF("id"))              // v8
    t.merge(spark.range(20, 30).toDF("id"), Seq("id"))      // v9
    t.append(spark.range(100, 110).toDF("id"))              // v10 (checkpoint)
    t.compact(targetFiles = 1)                              // v11
    t.append(spark.range(200, 205).toDF("id"))              // v12
    assert(Files.exists(Paths.get(s"$dir/_delta_log/_last_checkpoint")))
    // full-history diff: both readers agree on the live set and the
    // footer row count at EVERY version, not just the head
    for (v <- 0L to 12L) {
      assert(DeltaLogReplay.liveFiles(dir, Some(v)).toSet ==
        t.deltaSnapshotFiles(Some(v)).toSet, s"live-set diverges at v$v")
      assert(DeltaLogReplay.rowCount(dir, Some(v)) == t.readAt(v).count(),
        s"row count diverges at v$v")
    }
    assert(DeltaLogReplay.liveFiles(dir).toSet ==
      t.deltaSnapshotFiles().toSet)
    assert(DeltaLogReplay.rowCount(dir) == t.read().count())
    // the reader is genuinely independent: corrupting the writer's
    // manifest does not change what the replay resolves
    Files.writeString(Paths.get(s"$dir/_graft_manifest"), "{garbage")
    assert(DeltaLogReplay.rowCount(dir) == 45L)
  }

  test("delta-log interop: replay agrees ACROSS dv commits and a tombstone purge") {
    import graft.tools.DeltaLogReplay
    val dir = tmp("dlrdv") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append(spark.range(0, 50).toDF("id"))     // v0
    t.append(spark.range(50, 100).toDF("id"))   // v1
    // dv commits change ROW visibility with no file actions — exactly
    // the commit kind a footer-only replay used to misread; the
    // graft-dv marker in commitInfo closes that gap
    t.deleteWhereDV(col("id") % 10 === 0)       // v2
    t.deleteWhereDV(col("id") % 7 === 1)        // v3
    t.append(spark.range(100, 120).toDF("id"))  // v4
    // purge folds both segments' tombstones into a rewrite (remove+add
    // at dataChange=false): the replay sees the rows leave via file
    // actions and must stop double-subtracting their dead tombstones
    assert(t.compactDeletes(0.05) == 2)         // v5
    t.deleteWhereDV(col("id") === 55)           // v6
    for (v <- 0L to 6L) {
      assert(DeltaLogReplay.liveFiles(dir, Some(v)).toSet ==
        t.deltaSnapshotFiles(Some(v)).toSet, s"live-set diverges at v$v")
      assert(DeltaLogReplay.rowCount(dir, Some(v)) == t.readAt(v).count(),
        s"row count diverges at v$v")
    }
    assert(DeltaLogReplay.rowCount(dir) == t.read().count())
  }

  test("deletion vectors: scattered delete rewrites nothing; reads, travel, feed, rewrites honor tombstones") {
    val t = new ManagedParquetTable(spark, tmp("dv") + "/tbl")
    t.append((0 until 10).map(i => (i, s"v$i")).toDF("id", "v"))   // mv 0
    t.append((10 until 20).map(i => (i, s"v$i")).toDF("id", "v"))  // mv 1
    val filesBefore = t.deltaSnapshotFiles().toSet
    // scattered predicate hits every file — the rewrite form would
    // copy the whole table; the DV form writes only tombstones
    t.deleteWhereDV(col("id") % 3 === 0)                           // mv 2
    assert(t.deltaSnapshotFiles().toSet == filesBefore, "no file may change")
    assert(t.read().select("id").as[Int].collect().sorted.toSeq ==
      (0 until 20).filter(_ % 3 != 0))
    // no-match DV delete commits nothing
    val v0 = t.version
    t.deleteWhereDV(col("id") > 999)
    assert(t.version == v0)
    // second DV delete stacks; earlier tombstones are not re-deleted
    t.deleteWhereDV(col("id") % 5 === 1)                           // mv 3
    val want = (0 until 20).filter(i => i % 3 != 0 && i % 5 != 1)
    assert(t.read().select("id").as[Int].collect().sorted.toSeq == want)
    // time travel scopes tombstones to their commit version
    assert(t.readAt(1L).count() == 20)
    assert(t.readAt(2L).select("id").as[Int].collect().sorted.toSeq ==
      (0 until 20).filter(_ % 3 != 0))
    // change feed reports the window's tombstoned rows as row-level
    // deletes (files unchanged → no rewrite noise)
    val feed = t.changesSince(2L).select("id", "_change_type")
      .as[(Int, String)].collect().toSet
    assert(feed == (0 until 20).filter(i => i % 3 != 0 && i % 5 == 1)
      .map((_, "delete")).toSet, feed.toString)
    // stats-pruned reads apply tombstones too
    assert(t.readWhere(col("id") < 100).select("id").as[Int]
      .collect().sorted.toSeq == want)
    // a rewriting delete on a tombstoned segment must not resurrect
    // dv-deleted rows: delete id>=15 rewrites the second segment,
    // whose survivors must exclude the earlier tombstones
    t.deleteWhere(col("id") >= 15)                                 // mv 4
    val want2 = want.filter(_ < 15)
    assert(t.read().select("id").as[Int].collect().sorted.toSeq == want2)
    // compact reads through tombstones and physically drops them
    t.compact(targetFiles = 1)
    assert(t.read().select("id").as[Int].collect().sorted.toSeq == want2)
    // historical reads still work after the rewrites (entries kept)
    assert(t.readAt(2L).count() == (0 until 20).count(_ % 3 != 0))
  }

  test("deletion vectors: incremental view re-aggregates only tombstone-touched files") {
    import graft.io.IncrementalAggView
    import graft.io.IncrementalAggView.AggSpec
    val root = tmp("dvmv")
    val t = new ManagedParquetTable(spark, s"$root/t")
    val v = new IncrementalAggView(spark, s"$root/t", s"$root/v",
      Seq("g"), Seq(AggSpec("count", "", "cnt"),
        AggSpec("sum", "x", "s"), AggSpec("min", "x", "mn")))
    t.append(Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("g", "x")) // seg1
    t.append(Seq(("a", 7L), ("c", 5L)).toDF("g", "x"))             // seg2
    v.refresh()
    // DV delete changes visibility with NO file diff: a naive basis
    // check would no-op and serve stale aggregates. The refresh
    // treats the touched file as remove + re-add: its stored partial
    // subtracts, ONE scan of just that file rebuilds it DV-applied
    t.deleteWhereDV(col("x") === 2L) // touches seg1 only
    v.refresh()
    assert(v.lastRefresh == "incremental")
    assert(v.read().as[(String, Long, Long, Long)].collect().toSet ==
      Set(("a", 2L, 8L, 1L), ("b", 1L, 10L, 10L), ("c", 1L, 5L, 5L)))
    // appends resume incrementally on the new tombstone basis
    t.append(Seq(("b", 3L)).toDF("g", "x"))                        // seg3
    v.refresh()
    assert(v.lastRefresh == "incremental")
    assert(v.read().as[(String, Long, Long, Long)].collect().toSet ==
      Set(("a", 2L, 8L, 1L), ("b", 2L, 13L, 3L), ("c", 1L, 5L, 5L)))
    // STORE HYGIENE: dropping the dv-touched segment must subtract its
    // POST-tombstone partial — a stale pre-tombstone row would
    // over-subtract ((a,2) again) and corrupt the state
    t.deleteWhere(col("x") === 1L || col("x") === 10L) // seg1's live rows
    v.refresh()
    assert(v.lastRefresh == "incremental")
    assert(v.read().as[(String, Long, Long, Long)].collect().toSet ==
      Set(("a", 1L, 7L, 7L), ("b", 1L, 3L, 3L), ("c", 1L, 5L, 5L)))
  }

  test("MV3 join view: fact refreshes O(delta); a dim update re-merges with the fact segments HIDDEN") {
    import graft.io.{IncrementalAggView, IncrementalJoinAggView}
    import graft.io.IncrementalAggView.AggSpec
    import graft.io.IncrementalJoinAggView.Dim
    val root = tmp("mv3")
    val factT = new ManagedParquetTable(spark, s"$root/fact")
    val dimT = new ManagedParquetTable(spark, s"$root/dim")
    dimT.overwrite(Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("fk", "name"))
    val v = new IncrementalJoinAggView(spark, s"$root/fact",
      s"$root/view", Seq("fk"),
      Seq(Dim(s"$root/dim", Seq("fk"), Seq("name"))),
      Seq("name"),
      Seq(AggSpec("count", "", "cnt"), AggSpec("sum", "a", "s"),
        AggSpec("min", "a", "mn")))
    factT.append(Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("fk", "a"))
    v.refresh()
    assert(v.lastRefresh == "full")
    factT.append(Seq((2L, 7L), (3L, 100L)).toDF("fk", "a"))
    v.refresh()
    assert(v.lastRefresh == "incremental")
    assert(v.read().as[(String, Long, Long, Long)].collect().toSet ==
      Set(("x", 2L, 30L, 10L), ("y", 3L, 112L, 5L)))
    v.refresh()
    assert(v.lastRefresh == "noop")
    // DIM UPDATE with the fact table's data segments physically hidden:
    // the re-merge must succeed from the inner state + dims alone —
    // the hard proof the fact is never rescanned on the dim axis
    dimT.merge(Seq((3L, "z")).toDF("fk", "name"), Seq("fk"))
    val factDir = Paths.get(s"$root/fact")
    val segs = Files.list(factDir).iterator()
    val hidden = scala.collection.mutable.ArrayBuffer.empty[(java.nio.file.Path, java.nio.file.Path)]
    while (segs.hasNext) {
      val p = segs.next()
      if (p.getFileName.toString.startsWith("seg-")) {
        val h = p.resolveSibling("hidden_" + p.getFileName.toString)
        Files.move(p, h)
        hidden += ((h, p))
      }
    }
    try {
      v.refresh()
      assert(v.lastRefresh == "dim-remerge")
      assert(v.read().as[(String, Long, Long, Long)].collect().toSet ==
        Set(("x", 2L, 30L, 10L), ("y", 2L, 12L, 5L), ("z", 1L, 100L, 100L)))
    } finally hidden.foreach { case (h, p) => Files.move(h, p) }
    // the fact axis still works after restore (delete → partials path)
    factT.deleteWhere(col("a") === 20L)
    v.refresh()
    assert(v.lastRefresh == "incremental")
    assert(v.read().as[(String, Long, Long, Long)].collect().toSet ==
      Set(("x", 1L, 10L, 10L), ("y", 2L, 12L, 5L), ("z", 1L, 100L, 100L)))
  }

  test("dv read path is bounded by LIVE tombstones: 50 dv commits + rewrites leave inert entries unopened") {
    val dir = tmp("dvb") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 until 100).map(i => (i, i % 10)).toDF("id", "g")
      .coalesce(1)) // seg A
    t.append((100 until 200).map(i => (i, i % 10)).toDF("id", "g")
      .coalesce(1)) // seg B
    // 50 dv commits, all confined to segment A — years of CDC history
    // in miniature
    for (k <- 0 until 50) t.deleteWhereDV(col("id") === k)
    assert(t.dvEntries.size == 50)
    val segsAll = t.deltaSnapshotFiles().map(_.split("/")(0)).distinct
    assert(t.liveDvEntries(segsAll).size == 50) // all still live
    // a rewriting delete confined to segment A retires ALL of them
    // from the hot path (the historical list is untouched)
    t.deleteWhere(col("id") < 100)
    val segsNow = t.deltaSnapshotFiles().map(_.split("/")(0)).distinct
    assert(t.dvEntries.size == 50, "history must be kept for readAt")
    assert(t.liveDvEntries(segsNow).isEmpty,
      s"all 50 entries are inert after the rewrite: ${t.liveDvEntries(segsNow)}")
    // PHYSICAL proof the hot path opens no tombstone sidecar: stash
    // the whole _graft_dv tree away — read/readWhere/changes must all
    // still work and be exact
    val dvRoot = Paths.get(dir, "_graft_dv")
    val stash = Paths.get(dir + ".dvstash")
    Files.move(dvRoot, stash)
    try {
      assert(t.read().count() == 100)
      assert(t.readWhere(col("id") >= 150).count() == 50)
    } finally Files.move(stash, dvRoot)
    // history intact: at the version before the rewrite, tombstones
    // 0..49 apply (the sidecars are needed and back in place)
    val preRewrite = 51L // v0,v1 appends + 50 dv commits → last dv = v51
    assert(t.readAt(preRewrite).count() == 150)
  }

  test("stats pruning: distributed evaluation matches driver semantics incl. stats-less files") {
    val dir = tmp("dsp") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 until 100).map(i => (i.toLong, s"a$i")).toDF("id", "v")
      .coalesce(1))   // seg A: ids 0..99
    t.append((100 until 200).map(i => (i.toLong, s"b$i")).toDF("id", "v")
      .coalesce(1))   // seg B: ids 100..199
    t.append((200 until 300).map(i => (i.toLong, s"c$i")).toDF("id", "v")
      .coalesce(1))   // seg C: sidecar will be LOST
    // lose C's stats sidecar: its file must degrade to never-skipped
    val segC = t.deltaSnapshotFiles().map(_.split("/")(0)).distinct.last
    val scDir = Paths.get(dir, "_graft_stats", segC)
    assert(Files.isDirectory(scDir))
    val it = Files.walk(scDir).sorted(java.util.Comparator.reverseOrder())
    it.forEach(p => Files.delete(p))
    val (kept, total) = t.pruneFiles(col("id") === 150L)
    assert(total == 3 && kept.size == 2,
      s"A is proven dead, B matches, stats-less C must be kept: $kept")
    assert(t.readWhere(col("id") === 150L).count() == 1)
    // a predicate no file can satisfy prunes everything WITH stats
    val (kept2, _) = t.pruneFiles(col("id") === -5L)
    assert(kept2.size == 1, s"only the stats-less file survives: $kept2")
    assert(t.readWhere(col("id") === -5L).count() == 0)
  }

  test("stats pruning handles IN-lists: both the In form (small list) " +
      "and the post-OptimizeIn InSet form (large list) skip dead files") {
    val dir = tmp("dspin") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 until 100).map(i => (i.toLong, s"a$i")).toDF("id", "v")
      .coalesce(1))   // seg A: ids 0..99
    t.append((100 until 200).map(i => (i.toLong, s"b$i")).toDF("id", "v")
      .coalesce(1))   // seg B: ids 100..199
    t.append((200 until 300).map(i => (i.toLong, s"c$i")).toDF("id", "v")
      .coalesce(1))   // seg C: ids 200..299
    // small list (stays catalyst In): members hit only seg B
    val (keptIn, total) = t.pruneFiles(col("id").isin(120L, 150L))
    assert(total == 3 && keptIn.size == 1,
      s"In-list covering only B must keep 1 of 3: $keptIn")
    assert(t.readWhere(col("id").isin(120L, 150L)).count() == 2)
    // large list (> inSetConversionThreshold=10, becomes InSet):
    // members span A and C but never B
    val big = ((0L until 12L) :+ 250L)
    val (keptSet, _) = t.pruneFiles(col("id").isin(big: _*))
    assert(keptSet.size == 2,
      s"InSet spanning A+C must skip B: $keptSet")
    assert(t.readWhere(col("id").isin(big: _*)).count() == 13)
    // a null in the list prunes on the non-null members only
    val (keptNull, _) =
      t.pruneFiles(col("id").isin(150L, null.asInstanceOf[java.lang.Long]))
    assert(keptNull.size == 1, s"null member must not block pruning: $keptNull")
  }

  test("compactDeletes: only over-threshold segments rewrite; fold is exact; history survives") {
    val dir = tmp("dvc") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 until 100).map(i => (i, "a")).toDF("id", "s")
      .coalesce(1))            // seg A: will be 40% tombstoned
    t.append((100 until 200).map(i => (i, "b")).toDF("id", "s")
      .coalesce(1))            // seg B: 5% tombstoned
    t.append((200 until 300).map(i => (i, "c")).toDF("id", "s")
      .coalesce(1))            // seg C: untouched
    t.deleteWhereDV(col("id") < 40)                    // seg A only
    t.deleteWhereDV(col("id").between(100, 104))       // seg B only
    val before = t.deltaSnapshotFiles().toSet
    assert(t.compactDeletes(0.3) == 1, "only seg A crosses 30%")
    val after = t.deltaSnapshotFiles().toSet
    // B and C kept their identity; A was rewritten
    assert((before & after).size == 2, s"B and C must not rewrite: $after")
    assert((after -- before).size == 1)
    // fold is exact and idempotent
    assert(t.read().select("id").as[Int].collect().sorted.toSeq ==
      ((40 until 100) ++ (105 until 300)))
    assert(t.compactDeletes(0.3) == 0, "second purge is a no-op")
    // entry hygiene: A's entry is inert, B's stays live (under its
    // threshold, tombstones still needed)
    val segsNow = after.map(_.split("/")(0)).toSeq.distinct
    assert(t.liveDvEntries(segsNow).size == 1,
      s"only seg B's entry stays hot: ${t.liveDvEntries(segsNow)}")
    // the purge commit is mirrored with remove+add (dataChange=false):
    // time travel to the pre-purge version still shows tombstoned state
    assert(t.readAt(4L).select("id").as[Int].collect().sorted.toSeq ==
      ((40 until 100) ++ (105 until 300))) // v0..2 appends, v3,v4 dv
    assert(t.readAt(3L).count() == 260)
    // and a fresh reader instance agrees end-to-end
    assert(new ManagedParquetTable(spark, dir).read().count() == 255)
  }

  test("dv commit cost tracks live state: entries live in dvlog files the " +
      "manifest names, consolidated at the cadence; manifest stops growing") {
    val dir = tmp("dvlog") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 until 2000).map(i => (i, i % 7)).toDF("id", "g")
      .coalesce(1))
    for (k <- 0 until 15) t.deleteWhereDV(col("id") === k)
    val sizeAt15 = Files.size(Paths.get(s"$dir/_graft_manifest"))
    val logsAt15 = Files.list(Paths.get(s"$dir/_graft_dvlog")).count()
    for (k <- 15 until 45) t.deleteWhereDV(col("id") === k)
    // phase-matched size check (15 and 45 are both 4 commits past a
    // consolidation, so the dvfiles name list has the same length):
    // the manifest byte size is FLAT as dv history triples — commit
    // cost no longer rewrites table history
    val sizeAt45 = Files.size(Paths.get(s"$dir/_graft_manifest"))
    assert(sizeAt45 <= sizeAt15 + 16,
      s"manifest grew with dv history: $sizeAt15 -> $sizeAt45 bytes")
    for (k <- 45 until 50) t.deleteWhereDV(col("id") === k)
    assert(t.dvEntries.size == 50)
    val manifestTxt = Files.readString(Paths.get(s"$dir/_graft_manifest"))
    assert(!manifestTxt.contains("dv-0"), "no inline entries expected")
    // dv entries live only in dvlog files: neither the pointer nor the
    // log entry carries an inline "dvs" field
    val newestEntry = graft.io.GraftFs.list(Paths.get(s"$dir/_delta_log"))
      .map(_.getFileName.toString).filter(_.endsWith(".json")).max
    val entryTxt = Files.readString(Paths.get(s"$dir/_delta_log", newestEntry))
    assert(!manifestTxt.contains("\"dvs\"") && !entryTxt.contains("\"dvs\""),
      s"no inline dv field may be written: $manifestTxt")
    // consolidation keeps the manifest-REFERENCED file count bounded.
    // Superseded files are NOT deleted on the commit path (a reader
    // holding the pre-consolidation manifest must keep resolving
    // them) — they are mtime-touched and left for vacuum's
    // unreferenced sweep under the same graceMs contract segments get
    def referenced(): Int = """"dvfiles":\[([^\]]*)\]""".r
      .findFirstMatchIn(
        Files.readString(Paths.get(s"$dir/_graft_manifest")))
      .get.group(1).split(",").count(_.trim.nonEmpty)
    assert(referenced() <= 11,
      s"dvlog must consolidate: ${referenced()} referenced files")
    // within grace the superseded files survive vacuum...
    t.vacuum(graceMs = 60 * 60 * 1000L)
    val logsInGrace = Files.list(Paths.get(s"$dir/_graft_dvlog")).count()
    assert(logsInGrace >= referenced(),
      "in-grace vacuum must keep superseded dvlog files for readers")
    // ...and past grace the DIRECTORY shrinks back to the referenced set
    t.vacuum(graceMs = -1000)
    val logsSwept = Files.list(Paths.get(s"$dir/_graft_dvlog")).count()
    assert(logsSwept == referenced(),
      s"post-grace vacuum must sweep superseded dvlog files: $logsSwept")
    assert(logsAt15 <= 15, s"unexpected dvlog count at 15: $logsAt15")
    // the full entry history still reads back exactly
    assert(t.read().count() == 1950)
    assert(t.readAt(0L).count() == 2000)
    assert(t.readAt(25L).count() == 2000 - 25)
  }

  test("a manifest carrying inline dv entries is refused, naming the " +
      "table — from the pointer and from the log entry alike") {
    val dir = tmp("dvinline") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 until 100).map(i => (i, "x")).toDF("id", "s").coalesce(1))
    t.deleteWhereDV(col("id") < 5)
    t.deleteWhereDV(col("id") === 50)
    val entries = t.dvEntries
    assert(entries.size == 2)
    // the layout before dvlog files: the entries inline in "dvs", no
    // dvlog file named or on disk
    def inline(json: String): String = json
      .replaceAll(""""dvfiles":\[[^\]]*\]""",
        s""""dvs":[${entries.map("\"" + _ + "\"").mkString(",")}],"dvfiles":[]""")
    graft.io.GraftFs.delete(Paths.get(s"$dir/_graft_dvlog"))
    val mPath = Paths.get(s"$dir/_graft_manifest")
    Files.writeString(mPath, inline(Files.readString(mPath)))
    def refused(what: String): Unit = {
      val t2 = new ManagedParquetTable(spark, dir)
      for ((op, run) <- Seq[(String, () => Any)](
          "read" -> (() => t2.read().count()),
          "readAt" -> (() => t2.readAt(1L).count()),
          "append" -> (() => t2.append(Seq((200, "y")).toDF("id", "s"))),
          "deleteWhereDV" -> (() => t2.deleteWhereDV(col("id") === 60)))) {
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage.contains(dir) && e.getMessage.contains("inline dv"),
          s"$what/$op: ${e.getMessage}")
      }
    }
    refused("pointer")
    // no pointer: the head resolves from the newest log entry's graft
    // fields, which carry the same inline list
    Files.delete(mPath)
    val log = Paths.get(s"$dir/_delta_log")
    val newest = graft.io.GraftFs.list(log).map(_.getFileName.toString)
      .filter(_.endsWith(".json")).max
    Files.writeString(log.resolve(newest), inline(Files.readString(log.resolve(newest))))
    refused("log entry")
    assert(new ManagedParquetTable(spark, dir).version == 3L,
      "the refused calls committed nothing")
  }

  test("a dv entry without its touched-segment field is refused") {
    val dir = tmp("dvtwo") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 until 100).map(i => (i, "x")).toDF("id", "s").coalesce(1))
    t.deleteWhereDV(col("id") < 5)
    val entry = t.dvEntries.head
    assert(entry.split(":").length == 3, entry)
    // the layout before touch sets: "logVer:dvDir" only
    val two = entry.split(":").take(2).mkString(":")
    graft.io.GraftFs.list(Paths.get(s"$dir/_graft_dvlog"))
      .foreach(p => Files.writeString(p, Files.readString(p).replace(entry, two)))
    for ((op, run) <- Seq[(String, () => Any)](
        "read" -> (() => t.read().count()),
        "readAt" -> (() => t.readAt(1L).count()),
        "changesSince" -> (() => t.changesSince(0L).count()),
        "compactDeletes" -> (() => t.compactDeletes(0.01)))) {
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains(two) && e.getMessage.contains("touched"),
        s"$op: ${e.getMessage}")
    }
  }

  test("vacuum retention: aged dv entries + sidecars + mirror commits retire; " +
      "in-horizon readAt exact, out-of-horizon errors cleanly") {
    val dir = tmp("dvret") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 until 1000).map(i => (i, i % 10)).toDF("id", "g")
      .coalesce(1))                                       // v0
    // 50 scattered dv deletes — years of CDC history in miniature
    for (k <- 0 until 50) t.deleteWhereDV(col("id") === k) // v1..v50
    // fold the tombstones physically: every dv entry becomes inert for
    // the CURRENT snapshot (but not for versions <= 50, where the old
    // segment is still live — retention may only retire them once the
    // horizon passes the purge)
    assert(t.compactDeletes(0.01) == 1)                    // v51
    for (b <- 0 until 10)
      t.append((1000 + b * 10 until 1010 + b * 10).map(i => (i, i % 10))
        .toDF("id", "g").coalesce(1))                      // v52..v61
    val head = t.version - 1
    assert(head == 61L)
    // snapshot expectations BEFORE retention for the in-horizon diff
    val wantLive = t.read().select("id").as[Int].collect().sorted.toSeq
    val inHorizon = (60L to head)
      .map(v => v -> t.readAt(v).count()).toMap
    val dvDirsBefore = Files.list(Paths.get(s"$dir/_graft_dv")).count()
    assert(dvDirsBefore == 50)
    t.vacuum(graceMs = 0, retainVersions = Some(2)) // requested horizon 60
    // horizon snapped DOWN to the newest checkpoint <= 60 (= 60), which
    // is PAST the purge: every dv entry touches only the purged segment
    assert(t.read().select("id").as[Int].collect().sorted.toSeq == wantLive)
    for ((v, n) <- inHorizon)
      assert(t.readAt(v).count() == n, s"readAt($v) changed under retention")
    // out-of-horizon: clean retention error, not silent wrongness
    val e = intercept[IllegalArgumentException](t.readAt(10L).count())
    assert(e.getMessage.contains("retention"), e.getMessage)
    intercept[IllegalArgumentException](t.changesSince(5L).count())
    // physical retirement: every dv entry predates the cut and is inert
    // after the purge, so entries, sidecars and old commits are GONE
    assert(t.dvEntries.isEmpty,
      s"all entries are inert and pre-cut: ${t.dvEntries}")
    assert(Files.list(Paths.get(s"$dir/_graft_dv")).count() == 0,
      "retired tombstone sidecars must leave the disk")
    val oldCommits = Files.list(Paths.get(s"$dir/_delta_log")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    oldCommits.forEachRemaining(p => names += p.getFileName.toString)
    assert(!names.exists(n => n.matches("\\d{20}\\.json") &&
      n.dropRight(5).toLong < 60L), s"pre-cut commits must be pruned")
    // the table keeps working: version numbering continues (no clobber)
    t.append((1100 until 1200).map(i => (i, i % 10)).toDF("id", "g"))
    assert(t.version - 1 == head + 1, "version must continue past retention")
    assert(t.read().count() == wantLive.size + 100)
    t.deleteWhereDV(col("id") === 1150)
    assert(t.read().count() == wantLive.size + 99)
    assert(t.readAt(head).count() == wantLive.size)
  }

  test("table maintenancePlan: each signal crosses its threshold in a " +
      "fixture and the recommended action clears it") {
    import graft.io.TableMaintenancePolicy
    val dir = tmp("mplan") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    val pol = TableMaintenancePolicy(
      maxLiveFiles = 4,
      smallFileBytes = 1L << 20,       // every fixture file is "small"
      maxSmallFilePermille = 1001L,    // histogram leg off: count leg drives
      targetFileBytes = 1L << 30,      // suggestion folds to one file
      maxLiveDvEntries = 3,
      maxTombstonePermille = 300L,
      maxStaleObjects = 5)
    def plan() = t.maintenancePlan(pol)

    assert(plan().isEmpty, "uncommitted table needs nothing")

    // --- live-file pressure → compact, sized by targetFileBytes
    for (i <- 0 until 5)
      t.append(Seq((i, s"v$i")).toDF("id", "v").repartition(1))
    val pCompact = plan()
    val c = pCompact.find(_.action == "compact").getOrElse(
      fail(s"5 files ≥ 4 must recommend compact, got $pCompact"))
    assert(c.metric == "live_files" && c.value == 5L &&
      c.threshold == 4L && c.suggestion == 1L)
    t.compact(targetFiles = c.suggestion.toInt)
    assert(!plan().exists(_.action == "compact"),
      "compaction must clear the live-file signal")

    // --- the compaction's dead weight → vacuum (5 dead seg dirs ≥ 5);
    // grace-0 vacuum clears it
    val v = plan().find(_.action == "vacuum").getOrElse(
      fail(s"post-compact garbage must recommend vacuum, got ${plan()}"))
    assert(v.metric == "stale_objects" && v.value == 5L &&
      v.threshold == 5L)
    t.vacuum(graceMs = 0L)
    assert(!plan().exists(_.action == "vacuum"),
      "vacuum must clear the stale-object signal")

    // --- tombstone fraction → compactDeletes via tombstone_permille
    // (one dv entry < maxLiveDvEntries, but 4 of 10 rows dead = 400‰)
    t.overwrite((0 until 10).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(1))
    t.deleteWhereDV(col("id") < 4)
    val pPerm = plan().find(_.action == "compactDeletes").getOrElse(
      fail(s"400‰ tombstones must recommend compactDeletes, got ${plan()}"))
    assert(pPerm.metric == "tombstone_permille" && pPerm.value == 400L &&
      pPerm.threshold == 300L)
    t.compactDeletes(0.01)
    assert(!plan().exists(_.action == "compactDeletes"),
      "the reorg must fold the tombstones out of the signal")

    // --- dv ENTRY count → compactDeletes via live_dv_entries (three
    // one-row deletes stay under 300‰ but cross the entry bound)
    t.overwrite((0 until 20).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(1))
    for (i <- 0 until 3) t.deleteMatchingDV(Seq(i).toDF("id"), Seq("id"))
    val pEnt = plan().find(_.action == "compactDeletes").getOrElse(
      fail(s"3 dv entries ≥ 3 must recommend compactDeletes, got ${plan()}"))
    assert(pEnt.metric == "live_dv_entries" && pEnt.value == 3L &&
      pEnt.threshold == 3L)
    t.compactDeletes(0.01)
    assert(!plan().exists(_.action == "compactDeletes"))

    // --- corruption preempts as the ONLY row even with other pressure
    for (i <- 0 until 6)
      t.append(Seq((100 + i, "x")).toDF("id", "v").repartition(1))
    assert(plan().exists(_.action == "compact"), "pressure re-built")
    val liveSeg = Files.list(Paths.get(dir)).iterator()
    val segs = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    liveSeg.forEachRemaining(p =>
      if (p.getFileName.toString.startsWith("seg-")) segs += p)
    val victim = segs.maxBy(_.getFileName.toString)
    victim.toFile.listFiles().foreach(_.delete()); Files.delete(victim)
    val pr = plan()
    assert(pr.map(_.action) == Seq("repair"),
      s"a missing live segment must preempt every sizing row, got $pr")
    assert(pr.head.metric == "missing_segments" && pr.head.value >= 1L)
  }

  test("an unreadable bloom sidecar makes an equality readWhere throw, " +
      "naming buildBloomIndex") {
    val dir = tmp("mptbad") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append((0 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    t.buildBloomIndex(Seq("id"), expectedItemsPerFile = 1024)
    val idx = Paths.get(dir, "_graft_blooms", "idx")
    graft.io.GraftFs.list(idx).foreach(graft.io.GraftFs.delete)
    Files.writeString(idx.resolve("part-00000-garbage.parquet"), "not a parquet file")
    val e = intercept[IllegalStateException](t.readWhere(col("id") === 42L).count())
    assert(e.getMessage.contains("buildBloomIndex"), e.getMessage)
  }

  test("repair() moves aside only a table that does not read: a cancelled " +
      "health-check job throws and the table stays in place") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val dir = tmp("mptheal") + "/tbl"
    val t = new ManagedParquetTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // four sleeping tasks hold the four local cores, so the health
    // check's job is still pending when the listener cancels it
    val started = new java.util.concurrent.CountDownLatch(4)
    val blocker = new Thread(() => {
      sc.setJobGroup("blocker", "hold the cores")
      sc.parallelize(1 to 4, 4).foreach { _ => Thread.sleep(3000) }
    })
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "blocker"))
          (1 to 4).foreach(_ => started.countDown())
        else sc.cancelJob(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      blocker.start()
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(500)
      intercept[org.apache.spark.SparkException](t.repair())
    } finally {
      sc.removeSparkListener(listener)
      blocker.join()
    }
    assert(Files.isDirectory(Paths.get(dir)) && t.read().count() == 2)
    // a segment dir the manifest names is gone: unhealthy, moved aside
    graft.io.GraftFs.list(Paths.get(dir)).filter(_.getFileName.toString.startsWith("seg-"))
      .foreach(graft.io.GraftFs.delete)
    assert(!t.isHealthy)
    t.repair()
    assert(!Files.exists(Paths.get(dir)))
  }
}

/** Two-party rendezvous for the racing-writers test: the first
  * evaluation in each writer's task waits until the other writer's
  * task arrives (local mode runs the tasks in this JVM). */
object RaceGate {
  @volatile private var latch = new java.util.concurrent.CountDownLatch(0)
  def arm(): Unit = latch = new java.util.concurrent.CountDownLatch(2)
  def meet(): Unit = {
    latch.countDown()
    assert(latch.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "the other writer never reached its segment write")
  }
}
