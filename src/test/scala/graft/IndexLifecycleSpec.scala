package graft

import java.nio.file.Files

import graft.text.InvertedIndex
import org.apache.spark.sql.functions._

/** Randomized lifecycle differential for the persisted retrieval
  * index — the TableLifecycleSpec pattern applied to the index's own
  * maintenance surface. Seeded histories interleave every operation
  * the index supports — append (with replay-guard no-ops for already
  * live ids), tombstone delete (absent ids a no-op), delete +
  * re-insert with CHANGED text, REORG compaction, and CRASHED appends
  * (the torn layout forged exactly as a death between the doclen and
  * corpus writes leaves it, then repaired, then randomly replayed or
  * abandoned) — and after EVERY operation the index-served BM25 is
  * compared against the direct scorer over an in-memory oracle of the
  * live documents, which the two are documented bit-identical on. Any
  * divergence — a guard that drops a fresh doc, a tombstone that
  * kills a re-insert, a torn generation leaking into a probe or being
  * folded by compaction, a repair eating committed files — fails with
  * the seed in the message. */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val Histories = 6
  private val OpsPerHistory = 6
  private val Vocab = Vector(
    "hash", "join", "table", "scan", "merge", "sort", "filter", "index",
    "batch", "stream", "page", "cache", "spill", "probe", "build",
    "shuffle", "broadcast", "partition", "bucket", "segment", "row",
    "column", "vector", "token", "query", "plan", "stage", "task",
    "block", "footer", "stats", "commit", "marker", "replay", "delta",
    "window", "state", "feed", "graph", "score")

  private def mkText(rnd: scala.util.Random): String =
    Seq.fill(5 + rnd.nextInt(26))(Vocab(rnd.nextInt(Vocab.size)))
      .mkString(" ")

  private def liveDf(oracle: collection.Map[Long, String]) =
    oracle.toSeq.sortBy(_._1).toDF("doc_id", "text")

  private def batchDf(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  test(s"randomized differential: $Histories seeded histories of " +
      "append/delete/reinsert/crash+repair/compact vs direct-scored oracle") {
    val root = Files.createTempDirectory("graft_idx_lifecycle").toString
    for (seed <- 0 until Histories) runHistory(seed, s"$root/i$seed")
  }

  test("long horizon: 52 windows through the basis-tracked maintainer " +
      "with table compact/vacuum/retention and index compaction " +
      "interleaved; probes == direct oracle at every window; " +
      "files-per-bucket stays bounded") {
    val root = Files.createTempDirectory("graft_idx_horizon").toString
    val rnd = new scala.util.Random(1013)
    val nb = 4
    val src = new graft.io.ManagedParquetTable(spark, s"$root/t")
    val idx = new graft.text.IncrementalInvertedIndex(spark, s"$root/t",
      s"$root/idx", nBuckets = nb)
    val oracle = collection.mutable.Map.empty[Long, String]
    var nextId = 0L
    def freshBatch(n: Int): Seq[(Long, String)] =
      (0 until n).map { _ => val id = nextId; nextId += 1
        id -> mkText(rnd) }
    def maxFilesPerBucket(): Int = {
      val d = new java.io.File(s"$root/idx/postings")
      if (!d.exists()) 0
      else d.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("bucket=")).map(_.listFiles()
          .count(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))).foldLeft(0)(math.max)
    }
    def check(tag: String): Unit = {
      val q = Seq.fill(2 + rnd.nextInt(2))(Vocab(rnd.nextInt(Vocab.size)))
        .distinct.mkString(" ")
      val got = InvertedIndex.bm25TopKIndexed(spark, s"$root/idx", q,
        k = 10).as[(Long, Long, Long, Long)].collect().toSeq
      val want =
        if (oracle.isEmpty) Seq.empty
        else InvertedIndex.bm25TopK(liveDf(oracle), "text", "doc_id",
          q, k = 10).as[(Long, Long, Long, Long)].collect().toSeq
      assert(got === want, s"window $tag query='$q'")
    }
    // window 0: initial corpus + full build through the maintainer
    val init = freshBatch(20)
    src.append(batchDf(init)); oracle ++= init
    idx.refresh()
    assert(idx.lastRefresh == "full")
    check("w0")
    val growth = collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var maxEver = 0
    // policy sized to the fixture: compaction pressure at 6 files per
    // bucket; the corpus (~20 docs growing past ~100 live) outgrows
    // 15 docs/bucket at least once, so the rebucket leg is exercised
    // BY the policy, not by a scripted cadence
    val pol = InvertedIndex.IndexMaintenancePolicy(
      maxFilesPerBucket = 6, maxTombstonePermille = 300,
      minDocsPerBucket = 3, maxDocsPerBucket = 15,
      targetDocsPerBucket = 12)
    var compactions = 0
    var rebuckets = 0
    for (w <- 1 to 52) {
      rnd.nextInt(10) match {
        case n if n < 6 => // append a fresh batch (the streaming norm)
          val b = freshBatch(1 + rnd.nextInt(6))
          src.append(batchDf(b)); oracle ++= b
        case n if n < 8 => // dv delete of random live ids
          val victims = rnd.shuffle(oracle.keys.toSeq)
            .take(1 + rnd.nextInt(4))
          src.deleteMatchingDV(victims.toDF("doc_id"), Seq("doc_id"))
          victims.foreach(oracle.remove)
        case 8 => // rewriting delete: survivors round-trip in the feed
          val victims = rnd.shuffle(oracle.keys.toSeq)
            .take(1 + rnd.nextInt(3))
          if (victims.nonEmpty) {
            src.deleteWhere(col("doc_id").isin(victims: _*))
            victims.foreach(oracle.remove)
          }
        case _ => // table COMPACT: a dataChange=false commit the change
          // feed must NOT re-present (a naive feed would round-trip
          // the whole table through the index here)
          src.compact()
      }
      idx.refresh()
      // table-layer hygiene at its own cadence: retention + vacuum
      // must not break the basis (the maintainer refreshes every
      // window, so the basis always sits inside the retained tail)
      if (w % 9 == 0) src.vacuum(graceMs = 0L, retainVersions = Some(12L))
      // index maintenance is POLICY-driven, not a fixed cadence: the
      // plan reads the index's own sidecars and the loop runs exactly
      // what it recommends — files-per-bucket pressure compacts, a
      // corpus outgrowing its modulus re-shards to the plan's
      // suggested bucket count (probes and the maintainer must resolve
      // each new modulus from the meta and stay oracle-exact)
      InvertedIndex.maintenancePlan(spark, s"$root/idx",
          policy = pol).foreach { a =>
        a.action match {
          case "rebucket" =>
            InvertedIndex.rebucket(spark, s"$root/idx",
              newBuckets = a.suggestion.toInt)
            rebuckets += 1
          case "compactIndex" =>
            // the rebucket above already folded everything; a second
            // compaction is harmless but pointless — run it only if
            // the signal still stands
            if (InvertedIndex.maintenancePlan(spark, s"$root/idx", policy = pol)
                .exists(_.action == "compactIndex")) {
              InvertedIndex.compactIndex(spark, s"$root/idx")
              compactions += 1
              assert(maxFilesPerBucket() == 1,
                s"window $w: compaction must fold every bucket to one file")
            }
          case other => fail(s"unexpected recommendation $other")
        }
      }
      val mf = maxFilesPerBucket()
      maxEver = math.max(maxEver, mf)
      growth += ((w, mf))
      check(s"w$w")
    }
    info(s"files-per-bucket by window: ${growth.map {
      case (w, f) => s"$w:$f" }.mkString(" ")}")
    info(s"max files-per-bucket ever: $maxEver")
    info(s"policy-driven maintenance: $compactions compactions, " +
      s"$rebuckets rebuckets")
    // O(1) bound, now POLICY-expressed: each window adds at most one
    // file per touched bucket and the plan compacts at the threshold,
    // so the ceiling is the policy knob — never corpus size or
    // history length
    assert(maxEver <= pol.maxFilesPerBucket,
      s"files-per-bucket must stay bounded by the policy threshold, " +
        s"got $maxEver")
    // the policy must actually FIRE both legs over 52 windows — a plan
    // that never recommends anything would trivially 'pass'
    assert(compactions >= 2,
      s"file pressure must trigger compactions, got $compactions")
    assert(rebuckets >= 1,
      s"corpus growth must trigger a policy rebucket, got $rebuckets")
  }

  private def runHistory(seed: Int, dir: String): Unit = {
    val rnd = new scala.util.Random(seed)
    val nb = 4
    val oracle = collection.mutable.Map.empty[Long, String]
    val pool = (0L until 60L).toVector

    def check(tag: String): Unit = {
      val q = Seq.fill(2 + rnd.nextInt(2))(Vocab(rnd.nextInt(Vocab.size)))
        .distinct.mkString(" ")
      val got = InvertedIndex.bm25TopKIndexed(spark, dir, q, k = 10)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val want =
        if (oracle.isEmpty) Seq.empty
        else InvertedIndex.bm25TopK(liveDf(oracle), "text", "doc_id",
          q, k = 10).as[(Long, Long, Long, Long)].collect().toSeq
      assert(got === want, s"seed=$seed after $tag query='$q'")
    }

    // initial build over a non-empty sample
    val init = rnd.shuffle(pool).take(8 + rnd.nextInt(16))
      .map(id => id -> mkText(rnd))
    InvertedIndex.buildIndex(batchDf(init), "text", "doc_id", dir,
      nBuckets = nb)
    oracle ++= init
    check("build")

    for (op <- 0 until OpsPerHistory) {
      rnd.nextInt(4) match {
        case 0 => // append: mixes fresh ids with live ones carrying NEW
          // text — the replay guard must no-op the live ones (their
          // indexed text stays authoritative)
          val batch = rnd.shuffle(pool).take(1 + rnd.nextInt(10))
            .map(id => id -> mkText(rnd))
          InvertedIndex.appendDocs(batchDf(batch), "text", "doc_id", dir)
          batch.foreach { case (id, t) =>
            if (!oracle.contains(id)) oracle(id) = t }
          check(s"op$op-append")
        case 1 => // delete: mixes live ids with absent ones (no-ops);
          // sometimes immediately re-inserts a victim with new text
          // (the tombstone must kill only OLDER postings)
          val victims = rnd.shuffle(pool).take(1 + rnd.nextInt(8))
          InvertedIndex.deleteDocs(victims.toDF("doc_id"), "doc_id", dir)
          victims.foreach(oracle.remove)
          check(s"op$op-delete")
          if (rnd.nextBoolean() && victims.nonEmpty) {
            val re = victims.take(1 + rnd.nextInt(victims.size))
              .map(id => id -> mkText(rnd))
            InvertedIndex.appendDocs(batchDf(re), "text", "doc_id", dir)
            re.foreach { case (id, t) => oracle(id) = t }
            check(s"op$op-reinsert")
          }
        case 2 => // crashed append: forge the torn layout (postings +
          // doclen written, corpus commit record missing, marker
          // present), assert committed reads, repair, then randomly
          // replay the window or abandon it
          val absent = rnd.shuffle(pool.filterNot(oracle.contains))
            .take(1 + rnd.nextInt(6)).map(id => id -> mkText(rnd))
          if (absent.nonEmpty) {
            val fs = new org.apache.hadoop.fs.Path(dir)
              .getFileSystem(spark.sessionState.newHadoopConf())
            def corpusFiles() = fs.listStatus(
              new org.apache.hadoop.fs.Path(s"$dir/corpus")).toSeq
              .map(_.getPath).filter(p => !p.getName.startsWith("_"))
            val before = corpusFiles().map(_.getName).toSet
            val gen = InvertedIndex.generation(spark, dir)
            InvertedIndex.appendDocs(batchDf(absent), "text", "doc_id",
              dir)
            val rec = corpusFiles().filterNot(p => before(p.getName))
            assert(rec.size == 1, s"seed=$seed op$op commit record")
            fs.delete(rec.head, false)
            fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_graft_inflight"))
            fs.create(new org.apache.hadoop.fs.Path(
              s"$dir/_graft_inflight/gen-$gen"), true).close()
            check(s"op$op-torn") // probe must see the pre-crash state
            val removed = InvertedIndex.repairIndex(spark, dir)
            assert(removed > 0, s"seed=$seed op$op repair removed nothing")
            check(s"op$op-repaired")
            if (rnd.nextBoolean()) {
              InvertedIndex.appendDocs(batchDf(absent), "text", "doc_id",
                dir)
              absent.foreach { case (id, t) => oracle(id) = t }
              check(s"op$op-replayed")
            }
          }
        case 3 => // REORG: fold append files + tombstones, reset gens
          InvertedIndex.compactIndex(spark, dir)
          check(s"op$op-compact")
      }
    }
  }
}
