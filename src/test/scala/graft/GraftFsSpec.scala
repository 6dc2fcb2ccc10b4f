package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.io.{GraftFs, ManagedParquetTable}
import graft.io.GraftFs.AtomicSwap
import graft.text.InvertedIndex

/** The one filesystem seam for graft's own files ([[GraftFs]]): its
  * listing and delete hold no descriptor, its [[AtomicSwap]] serves the
  * inverted index's layout swap as it serves IVF-PQ's reorg (killed at
  * every rename, each torn state is refused and rolls back exactly),
  * the index meta is never half-read, a flush-intent recovery never
  * guesses through an IO fault, and no other file under
  * `src/main/scala/graft` carries its own copy of these protocols. */
class GraftFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): Path = Files.createTempDirectory(s"graft_$tag")

  test("list, delete and sweep close every directory stream: the " +
      "process's open descriptors stay flat across 2000 calls each") {
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "needs /proc/self/fd")
    val root = tmp("fs_fd")
    def tree(): Path = {
      val t = root.resolve("t")
      Files.createDirectories(t.resolve("a/b"))
      Files.writeString(t.resolve("a/b/f"), "x")
      Files.writeString(t.resolve("g"), "y")
      t
    }
    def cycle(i: Int): Unit = {
      val t = tree()
      assert(GraftFs.list(t).size == 2)
      if (i % 2 == 0) assert(GraftFs.delete(t))
      else assert(GraftFs.sweep(root, Long.MaxValue)(_ == "t") == Seq(t))
    }
    cycle(0); cycle(1) // warm the classes the calls load
    val before = fdDir.list().length
    (1 to 2000).foreach(cycle)
    val after = fdDir.list().length
    assert(after <= before + 5, s"open descriptors grew $before -> $after")
    assert(GraftFs.list(root).isEmpty)
  }

  test("publish without replace is a put-if-absent: an existing target " +
      "throws and keeps its bytes, no temp is left, and of two threads " +
      "racing one name exactly one wins") {
    val root = tmp("fs_pia")
    val dest = root.resolve("entry")
    GraftFs.publish(dest, "first", replace = false)
    intercept[java.nio.file.FileAlreadyExistsException] {
      GraftFs.publish(dest, "second", replace = false)
    }
    assert(Files.readString(dest) == "first")
    assert(GraftFs.list(root).map(_.getFileName.toString) == Seq("entry"))
    for (round <- 0 until 20) {
      val name = root.resolve(s"race-$round")
      val start = new java.util.concurrent.CountDownLatch(1)
      val won = new java.util.concurrent.ConcurrentLinkedQueue[Int]
      val lost = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ts = (0 until 2).map { w =>
        new Thread(() => {
          start.await()
          try { GraftFs.publish(name, s"w$w", replace = false); won.add(w) }
          catch { case e: Throwable => lost.add(e) }
        })
      }
      ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
      assert(won.size == 1, s"round $round: winners ${won.asScala.toSeq}")
      assert(lost.size == 1 &&
        lost.peek().isInstanceOf[java.nio.file.FileAlreadyExistsException],
        s"round $round: ${lost.asScala.toSeq}")
      assert(Files.readString(name) == s"w${won.peek()}")
    }
    assert(GraftFs.list(root).forall(!_.getFileName.toString.contains(".tmp.")))
  }

  test("a move and a delete keep a Hadoop checksum twin with its file; " +
      "publish leaves no temp and replaces in place") {
    val root = tmp("fs_crc")
    Files.writeString(root.resolve(".a.inprogress"), "data")
    Files.writeString(root.resolve("..a.inprogress.crc"), "sum")
    GraftFs.move(root.resolve(".a.inprogress"), root.resolve("a"))
    assert(GraftFs.list(root).map(_.getFileName.toString).toSet == Set("a", ".a.crc"))
    assert(GraftFs.delete(root.resolve("a")))
    assert(GraftFs.list(root).isEmpty)
    GraftFs.publish(root.resolve("m"), "one")
    GraftFs.publish(root.resolve("m"), "two")
    assert(Files.readString(root.resolve("m")) == "two")
    assert(GraftFs.list(root).map(_.getFileName.toString) == Seq("m"))
  }

  test("AtomicSwap killed before each rename: the marker stays up, " +
      "rollback restores every live piece, a clean run commits") {
    val root = tmp("fs_swap")
    def put(name: String, v: String): Unit = {
      Files.createDirectories(root.resolve(name))
      Files.writeString(root.resolve(name).resolve("v"), v)
    }
    def state: Map[String, String] = GraftFs.list(root).map { p =>
      p.getFileName.toString ->
        (if (Files.isDirectory(p)) Files.readString(p.resolve("v")) else Files.readString(p))
    }.toMap
    val swap = new AtomicSwap(root, "_inflight", ".old", Seq("x", "y", "z"),
      Seq("x" -> "x.new", "y" -> "y.new"))
    put("x", "x0"); put("y", "y0"); put("z", "z0")
    val pre = state
    var n = 0
    var committed = false
    while (!committed) {
      put("x.new", "x1"); put("y.new", "y1")
      AtomicSwap.crashBeforeMove(root, n)
      try {
        swap.run(Files.writeString(root.resolve("w"), "in-window"))
        committed = true
      } catch {
        case e: RuntimeException if e.getMessage.contains("forged crash") =>
          assert(swap.inflight)
          swap.rollback()
          assert(!swap.inflight)
          assert(state == pre, s"rollback after a kill before rename $n")
          n += 1
      } finally AtomicSwap.crashBeforeMove(root, -1)
    }
    assert(n == 5, "three asides and two staged moves are five kill points")
    assert(state == Map("x" -> "x1", "y" -> "y1", "w" -> "in-window"))
  }

  test("AtomicSwap rollback deletes a piece absent before the swap and " +
      "written inside its window; an older binary's empty marker keeps it") {
    val root = tmp("fs_swap_absent")
    def put(name: String, v: String): Unit = {
      Files.createDirectories(root.resolve(name))
      Files.writeString(root.resolve(name).resolve("v"), v)
    }
    def names = GraftFs.list(root).map(_.getFileName.toString).toSet
    val swap = new AtomicSwap(root, "_inflight", ".old", Seq("x", "meta"),
      Seq("x" -> "x.new"))
    put("x", "x0")
    def dieInWindow(): Unit = {
      put("x.new", "x1")
      intercept[IllegalStateException](swap.run {
        Files.writeString(root.resolve("meta"), "target")
        throw new IllegalStateException("died inside the window")
      })
      assert(swap.inflight)
    }
    dieInWindow()
    swap.rollback()
    assert(names == Set("x") && Files.readString(root.resolve("x/v")) == "x0")
    dieInWindow()
    Files.writeString(swap.marker, "")
    swap.rollback()
    assert(names == Set("x", "meta") && Files.readString(root.resolve("x/v")) == "x0")
  }

  test("compactIndex and rebucket killed at every swap rename: probes " +
      "and maintenance refuse the torn state, recoverSwap restores the " +
      "pre-swap probe exactly, a re-run completes, maintained == rebuilt") {
    val dir = tmp("fs_invswap").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val q = "hash join table"
    def probe(path: String = dir) = InvertedIndex.bm25TopKIndexed(spark, path, q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    InvertedIndex.buildIndex(docs.where($"doc_id" % 3 =!= 2),
      "text", "doc_id", dir, nBuckets = 4)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 3 === 2),
      "text", "doc_id", dir)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 7), "doc_id", dir)
    val root = Paths.get(dir)
    val ops = Seq[(String, () => Unit)](
      "compactIndex" -> (() => InvertedIndex.compactIndex(spark, dir)),
      "rebucket" -> (() => InvertedIndex.rebucket(spark, dir, newBuckets = 7)))
    for ((name, op) <- ops) {
      val before = probe()
      var n = 0
      var done = false
      while (!done) {
        AtomicSwap.crashBeforeMove(root, n)
        try { op(); done = true }
        catch {
          case e: RuntimeException if e.getMessage.contains("forged crash") =>
            AtomicSwap.crashBeforeMove(root, -1)
            assert(InvertedIndex.needsSwapRecovery(spark, dir))
            intercept[IllegalStateException] { probe() }
            intercept[IllegalStateException] {
              InvertedIndex.appendDocs(docs.limit(1), "text", "doc_id", dir)
            }
            intercept[IllegalStateException] {
              InvertedIndex.deleteDocs(docs.limit(1), "doc_id", dir)
            }
            assert(InvertedIndex.maintenancePlan(spark, dir).map(_.action) ==
              Seq("recoverSwap"))
            InvertedIndex.recoverSwap(spark, dir)
            assert(probe() === before,
              s"$name: rollback after a kill before rename $n must serve " +
                "the committed pre-swap state")
            n += 1
        } finally AtomicSwap.crashBeforeMove(root, -1)
      }
      // every live piece asides and four staged pieces move in: each
      // of those renames was a kill point
      assert(n >= 10, s"$name had only $n kill points")
      assert(probe() === before, s"$name must serve the same results")
      assert(!GraftFs.list(root).exists(_.getFileName.toString.endsWith(".pre")))
    }
    assert(Files.readString(root.resolve("_graft_index_meta")).contains("nBuckets=7"))
    // maintenance on the swapped-in layout equals a rebuild of the
    // same live documents
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 3), "doc_id", dir)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 10 === 7), "text", "doc_id", dir)
    val live = docs.where($"doc_id" % 10 =!= 3)
    val rebuilt = tmp("fs_invswap_rebuilt").toString
    InvertedIndex.buildIndex(live, "text", "doc_id", rebuilt, nBuckets = 7)
    assert(probe() === probe(rebuilt))
    def lens(path: String) = InvertedIndex.liveDocLens(spark, path)
      .select($"doc_id", $"dl").as[(Long, Long)].collect().toSet
    assert(lens(dir) == lens(rebuilt))
  }

  test("a present index meta that does not parse makes a probe throw; so " +
      "does an absent one, naming buildIndex") {
    val dir = tmp("fs_meta").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir, nBuckets = 4)
    def probe() = InvertedIndex.bm25TopKIndexed(spark, dir, "hash join table",
      k = 10).collect().toSeq
    val ref = probe()
    val meta = Paths.get(dir, "_graft_index_meta")
    Files.writeString(meta, "\u0000garbage")
    val e = intercept[IllegalStateException] { probe() }
    assert(e.getMessage.contains("_graft_index_meta"), e.getMessage)
    Files.delete(meta)
    val absent = intercept[IllegalStateException] { probe() }
    assert(absent.getMessage.contains("buildIndex"), absent.getMessage)
    // restoring the meta restores the probe
    Files.writeString(meta, "nBuckets=4\n")
    assert(probe() == ref)
  }

  test("flush-intent recovery throws on an unreadable log instead of " +
      "re-appending: the tagged log entry replaced by a dir") {
    import graft.streaming.BufferedFlushSink
    val dir = tmp("fs_bfs").toString
    val target = new ManagedParquetTable(spark, s"$dir/target")
    val staging = new ManagedParquetTable(spark, s"$dir/staging")
    // a promote that landed (tagged) before the crash; staging not cleared
    staging.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Files.writeString(Paths.get(s"$dir/staging", "_graft_flush_intent"),
      s"${target.version}\nflush-X")
    target.overwrite(staging.read(), Some("flush-X"))
    def replaceByDir(p: Path): Unit = {
      assert(Files.readString(p).contains("flush-X"), p)
      Files.delete(p)
      Files.createDirectory(p)
    }
    replaceByDir(Paths.get(s"$dir/target/_delta_log", f"${0}%020d.json"))
    intercept[java.io.IOException] {
      new BufferedFlushSink(spark, s"$dir/target", s"$dir/staging",
        maxRows = 1, idleMs = 60000L, clock = () => 0L)
    }
    assert(target.read().count() == 2, "the landed promote must not repeat")
    assert(Files.exists(Paths.get(s"$dir/staging", "_graft_flush_intent")),
      "the intent stays for a recovery that can read the log")
  }

  test("no file under src/main/scala/graft but the seam names an atomic " +
      "move or an unclosed listing, and none reads graft's own files " +
      "through Hadoop's FileSystem (external-data readers excepted)") {
    // also: only the seam names a hard link (the one put-if-absent),
    // and no file names the retired commit dir or mirror heal
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val seam = root.resolve(Paths.get("io", "GraftFs.scala"))
    val external = Seq("Catalog.scala", "Bench.scala", "Verify.scala").map(root.resolve)
    val w = Files.walk(root)
    val offenders = try w.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != seam)
      .flatMap { p =>
        val src = Files.readString(p)
        val fsOk = external.contains(p) || p.startsWith(root.resolve("tools"))
        (Seq("ATOMIC_MOVE", "Files.list(", "Files.walk(", "Files.createLink") ++
          (if (fsOk) Nil else Seq("getFileSystem")))
          .filter(src.contains).map(b => s"$p: $b")
      }.toList
    finally w.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the table's one log: no second commit home and no heal for a
    // gap between two of them, in any file, the seam included
    val w2 = Files.walk(root)
    val retired = try w2.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        Seq("_graft_commits", "repairMirror").filter(src.contains).map(b => s"$p: $b")
      }.toList
    finally w2.close()
    assert(retired.isEmpty, retired.mkString("\n"))
  }
}
