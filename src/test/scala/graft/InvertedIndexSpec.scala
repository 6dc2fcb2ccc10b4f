package graft

import graft.text.InvertedIndex
import org.apache.spark.sql.functions._

/** Inverted-index specs: phrase semantics (repeats, overlaps, edges),
  * a brute-force differential on real testdata, persisted-bucket
  * partition pruning (the probe must read ONLY the query tokens'
  * bucket dirs), and integer-BM25 invariants. */
class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def idxOf(rows: Seq[(Long, String)]) =
    InvertedIndex.postings(rows.toDF("doc_id", "text"), "text", "doc_id")

  test("phrase search: overlaps, repeated tokens, case/space normalize") {
    val idx = idxOf(Seq(
      (1L, "a b a b a"), // "a b a" occurs at 0 AND 2 (overlapping)
      (2L, "  A  b   a  x"), // normalization: anchors survive ws/case
      (3L, "b a b"), // contains "a b" at 1 but not "a b a"
      (4L, "a"), // shorter than the phrase
      (5L, "")))
    val got = InvertedIndex.phraseSearch(idx, "A  b a")
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, p) => d -> ((n, p)) }.toMap
    assert(got === Map(1L -> ((2L, 0L)), 2L -> ((1L, 0L))))
  }

  test("phrase with a repeated token requires BOTH slots to match") {
    val idx = idxOf(Seq((1L, "x y x"), (2L, "x y z")))
    val got = InvertedIndex.phraseSearch(idx, "x y x")
      .select($"doc_id").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("differential: anchor-intersection == brute-force sliding window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val phrase = "big order scan"
    val got = InvertedIndex.phraseSearch(
      InvertedIndex.postings(docs, "text", "doc_id"), phrase)
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, p) => d -> ((n, p)) }.toMap
    // brute force: slide over the token arrays on the driver
    val toks = InvertedIndex.queryTokens(phrase)
    val brute = docs.collect().flatMap { r =>
      val ts = r.getString(1).toLowerCase.trim.split("\\s+")
        .filter(_.nonEmpty).toSeq
      val anchors = (0 to ts.length - toks.length)
        .filter(a => toks.indices.forall(i => ts(a + i) == toks(i)))
      if (anchors.isEmpty) None
      else Some(r.getLong(0) -> ((anchors.size.toLong, anchors.min.toLong)))
    }.toMap
    assert(brute.nonEmpty, "fixture phrase must occur at sf0.001")
    assert(got === brute)
  }

  test("persisted index: probe reads ONLY the query tokens' buckets") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(100)
    val post = InvertedIndex.postings(docs, "text", "doc_id")
    InvertedIndex.writeBuckets(post, dir, nBuckets = 16)
    val toks = InvertedIndex.queryTokens("big order scan")
    val opened = InvertedIndex.openBuckets(spark, dir, toks, nBuckets = 16)
    // compute the expected bucket set through the engine's own hash
    val expected = toks.toDF("token")
      .select(pmod(xxhash64($"token"), lit(16L))).as[Long]
      .collect().toSet
    // inputFiles ignores partition pruning — read the EXECUTED plan's
    // selected partition dirs instead
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = opened.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }.head
    val readBuckets = scan.selectedPartitions.toPartitionArray.map { f =>
      val p = f.urlEncodedPath
      val m = "bucket=(\\d+)".r.findFirstMatchIn(p)
      assert(m.isDefined, s"non-partitioned file read: $p")
      m.get.group(1).toLong
    }.toSet
    assert(readBuckets.subsetOf(expected),
      s"probe read buckets $readBuckets beyond the query's $expected")
    // and the pruned probe agrees with the in-memory index
    val a = InvertedIndex.phraseSearch(opened, "big order scan")
      .as[(Long, Long, Long)].collect().toSet
    val b = InvertedIndex.phraseSearch(post, "big order scan")
      .as[(Long, Long, Long)].collect().toSet
    assert(a === b)
  }

  test("stats sidecar skips bucket files whose token range misses the " +
      "query; pruned probe results are exact") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_fs").toString
    // two commits with DISJOINT token alphabets: every bucket gets an
    // 'alpha' file from the build and a 'zulu' file from the append,
    // so a zulu-only probe must open only the append's files
    def mk(ids: Range, pfx: String) = ids.map(i =>
      (i.toLong, s"${pfx}_w${i % 9} ${pfx}_common ${pfx}_w${(i + 3) % 9}"))
      .toDF("doc_id", "text")
    InvertedIndex.buildIndex(mk(0 until 60, "alpha"),
      "text", "doc_id", dir, nBuckets = 4)
    InvertedIndex.appendDocs(mk(100 until 160, "zulu"),
      "text", "doc_id", dir)
    val (kept, total) = InvertedIndex.probeFilePlan(
      spark, s"$dir/postings", Seq("zulu_common"), nBuckets = 4)
    assert(total >= 2,
      s"probed bucket must hold files from both commits, got $total")
    // the bucket count is SELF-DESCRIBING: the default parameter
    // against this non-default-bucket index must resolve the sibling
    // _graft_index_meta and produce the identical plan
    val (keptD, totalD) = InvertedIndex.probeFilePlan(
      spark, s"$dir/postings", Seq("zulu_common"))
    assert(keptD.toSet == kept.toSet && totalD == total,
      "default-parameter plan must match the explicit-bucket plan")
    assert(kept.size < total,
      s"the alpha commit's file must be skipped: kept $kept of $total")
    assert(kept.nonEmpty, "the zulu file itself must be kept")
    // the pruned probe is exact: every zulu doc scores, no alpha doc
    val got = InvertedIndex.bm25TopKIndexed(spark, dir, "zulu_common",
      k = 100).select($"doc_id").as[Long].collect().toSet
    assert(got == (100L until 160L).toSet)
    // a file with no stats row is never skipped: drop the sidecar and
    // the same probe reads everything, same result
    val sp = new java.io.File(s"$dir/postings_stats")
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmRf)); f.delete(); ()
    }
    rmRf(sp)
    val (keptNoStats, totalNoStats) = InvertedIndex.probeFilePlan(
      spark, s"$dir/postings", Seq("zulu_common"), nBuckets = 4)
    assert(keptNoStats.size == totalNoStats,
      "absent sidecar must degrade to never-skip")
    val got2 = InvertedIndex.bm25TopKIndexed(spark, dir, "zulu_common",
      k = 100).select($"doc_id").as[Long].collect().toSet
    assert(got2 == got)
  }

  test("doclen membership probes prune to the batch's dbucket " +
      "partitions (the appendDocs replay guard is O(batch), not O(corpus))") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_db").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(200)
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir, nBuckets = 8)
    // the doclen sidecar is physically partitioned by doc-id hash
    val dbDirs = new java.io.File(s"$dir/doclen").listFiles()
      .filter(_.getName.startsWith("dbucket=")).map(_.getName).toSet
    assert(dbDirs.size > 1, s"doclen must be dbucket-partitioned: $dbDirs")
    // a membership probe for a two-id batch plans only those ids'
    // dbucket dirs (executed-plan partitions, as the bucket test above)
    val batchIds = Seq(5L, 17L)
    val expected = batchIds.toDF("doc_id")
      .select(pmod(xxhash64($"doc_id"), lit(8L))).as[Long]
      .collect().toSet
    val pruned = InvertedIndex.liveDocLens(spark, dir,
      Some(expected.toSeq))
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }.head
    val readDbs = scan.selectedPartitions.toPartitionArray.map { f =>
      val m = "dbucket=(\\d+)".r.findFirstMatchIn(f.urlEncodedPath)
      assert(m.isDefined, s"non-partitioned doclen read: ${f.urlEncodedPath}")
      m.get.group(1).toLong
    }.toSet
    assert(readDbs.subsetOf(expected),
      s"membership probe read $readDbs beyond the batch's $expected")
    // and a replayed append through the pruned guard is still a no-op
    val gen0 = InvertedIndex.generation(spark, dir)
    InvertedIndex.appendDocs(docs.where($"doc_id".isin(batchIds: _*)),
      "text", "doc_id", dir)
    assert(InvertedIndex.generation(spark, dir) == gen0,
      "re-appending live ids must not bump the generation")
  }

  test("maintenance batch ids are dtype-aligned to the indexed doc_id: " +
      "an INT-id replay against a BIGINT index stays a no-op, INT-id " +
      "deletes find their victims, and a lossy dtype fails loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_dtype").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(120)
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir, nBuckets = 8)
    def nDocs() = spark.read.parquet(s"$dir/corpus")
      .agg(sum($"n_docs")).as[Long].head()
    val before = nDocs()
    // xxhash64 is dtype-sensitive: without alignment these INT ids
    // hash into the WRONG dbuckets, the pruned membership guard sees
    // no live rows, and the replay double-appends
    val intBatch = docs.limit(30).withColumn("doc_id", $"doc_id".cast("int"))
    val gen0 = InvertedIndex.generation(spark, dir)
    InvertedIndex.appendDocs(intBatch, "text", "doc_id", dir)
    assert(nDocs() == before && InvertedIndex.generation(spark, dir) == gen0,
      "replayed INT-id batch must be an exact no-op against a BIGINT index")
    // deleteDocs victim lookup must also see through the narrower dtype
    InvertedIndex.deleteDocs(intBatch.select($"doc_id"), "doc_id", dir)
    val tombs = spark.read.parquet(s"$dir/tombstones").count()
    assert(tombs == 30,
      s"INT-id delete batch must tombstone all 30 live victims, got $tombs")
    // a lossy cast could alias distinct ids — refuse instead of guess
    val err = intercept[IllegalArgumentException] {
      InvertedIndex.appendDocs(
        docs.limit(5).withColumn("doc_id", $"doc_id".cast("double")),
        "text", "doc_id", dir)
    }
    assert(err.getMessage.contains("lossless"))
  }

  test("multiPhraseSearch == per-phrase phraseSearch, one broadcast join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val idx = InvertedIndex.postings(docs, "text", "doc_id")
    val phrases = Seq("big order scan", "group slow spark", "a a a")
    val multi = InvertedIndex.multiPhraseSearch(idx, phrases)
      .as[(Long, Long, Long, Long)].collect().toSet
    val single = phrases.zipWithIndex.flatMap { case (p, pid) =>
      InvertedIndex.phraseSearch(idx, p)
        .as[(Long, Long, Long)].collect()
        .map { case (d, n, fp) => (d, pid.toLong, n, fp) }
    }.toSet
    assert(multi === single)
    assert(multi.exists(_._2 == 0L), "fixture phrase 0 must occur")
    // one job for N phrases: a single shuffle feeds every phrase's score
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try InvertedIndex.multiPhraseSearch(idx, phrases)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val ex = plan.collect { case e: ShuffleExchangeExec => e }
    // one wide (doc,pid,anchor) exchange over the postings plus one
    // tiny (doc,pid) exchange over CONFIRMED occurrences — phrase count
    // never multiplies the wide pass
    assert(ex.size <= 2, s"expected ≤2 exchanges for 3 phrases, got ${ex.size}")
  }

  test("index maintained from the table change feed == fresh build on the snapshot") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_invidx5").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val t = new graft.io.ManagedParquetTable(spark, s"$root/docs")
    t.append(docs.where($"doc_id" % 3 =!= 2))
    val v0 = t.version
    InvertedIndex.buildIndex(t.read(), "text", "doc_id", s"$root/idx",
      nBuckets = 16)
    // table evolves: an append commit and a delete commit
    t.append(docs.where($"doc_id" % 3 === 2))
    t.deleteWhere($"doc_id" % 10 === 7)
    InvertedIndex.applyChanges(t.changesSince(v0), "text", "doc_id",
      s"$root/idx")
    InvertedIndex.buildIndex(t.read(), "text", "doc_id", s"$root/fresh",
      nBuckets = 16)
    val q = "hash join table"
    val inc = InvertedIndex.bm25TopKIndexed(spark, s"$root/idx", q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val ref = InvertedIndex.bm25TopKIndexed(spark, s"$root/fresh", q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(inc === ref)
    assert(inc.nonEmpty)
  }

  test("torn append: probes read committed state, writers refuse loudly, " +
      "repairIndex recovers in O(torn files) and the window replays exactly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_torn").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val q = "hash join table"
    def probe() = InvertedIndex.bm25TopKIndexed(spark, dir, q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    InvertedIndex.buildIndex(docs.where($"doc_id" % 3 =!= 2),
      "text", "doc_id", dir, nBuckets = 8)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 6 === 2),
      "text", "doc_id", dir)
    val committed = probe()
    assert(committed.nonEmpty)
    // forge the torn state a crash between the doclen and corpus
    // writes leaves behind: run the gen-2 append, then un-commit it —
    // delete its corpus delta row (the commit record) and restore the
    // in-flight marker. Postings + doclen files of gen 2 remain.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def corpusFiles() = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/corpus")).toSeq
      .map(_.getPath).filter(p => !p.getName.startsWith("_"))
    val beforeCommit = corpusFiles().map(_.getName).toSet
    InvertedIndex.appendDocs(docs.where($"doc_id" % 6 === 5),
      "text", "doc_id", dir)
    val commitRecord = corpusFiles().filterNot(p => beforeCommit(p.getName))
    assert(commitRecord.size == 1)
    fs.delete(commitRecord.head, false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_graft_inflight"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_inflight/gen-2"), true).close()
    // 1) probes over the torn index == the committed state, exactly
    assert(probe() === committed)
    // 2) the next mutating call refuses loudly instead of re-using the
    //    torn generation number
    val ex = intercept[IllegalStateException] {
      InvertedIndex.appendDocs(docs.limit(1), "text", "doc_id", dir)
    }
    assert(ex.getMessage.contains("repairIndex"))
    // 3) repair removes exactly the torn files (footer-proven gen 2:
    //    its postings files + its doclen files), nothing else
    val removed = InvertedIndex.repairIndex(spark, dir)
    assert(removed > 0)
    assert(probe() === committed)
    assert(InvertedIndex.generation(spark, dir) == 2L)
    //    ... and the token-stats sidecar carries no rows for the files
    //    repair deleted (crash/repair cycles must not grow dead
    //    planning rows every probe's sidecar scan would read forever)
    val liveFiles = {
      def rels(sub: String, prefix: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/$sub")).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .flatMap(d => fs.listStatus(d.getPath).toSeq.filter(_.isFile)
          .map(f => s"${d.getPath.getName}/${f.getPath.getName}"))
      rels("postings", "bucket=").toSet
    }
    val statRows = spark.read.parquet(s"$dir/postings_stats")
      .select($"file").as[String].collect().toSet
    assert(statRows.subsetOf(liveFiles),
      s"dead sidecar rows survive repair: ${statRows.diff(liveFiles)}")
    // 4) the failed window simply replays — and the result is
    //    indistinguishable from a history where the crash never
    //    happened (fresh build over the full set)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 6 === 5),
      "text", "doc_id", dir)
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_invidx_torn_ref").toString
    InvertedIndex.buildIndex(docs, "text", "doc_id", fresh, nBuckets = 8)
    val healed = probe()
    val ref = InvertedIndex.bm25TopKIndexed(spark, fresh, q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(healed === ref)
  }

  test("repairIndex refuses (markers intact) on a file it cannot classify " +
      "— clearing the gate around an unproven file would let the next " +
      "append re-use the torn generation and commit the dead call's rows") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_unproven").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    InvertedIndex.buildIndex(docs.limit(200), "text", "doc_id", dir,
      nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_graft_inflight"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_inflight/gen-1"), true).close()
    // forge an unclassifiable file: gen spans two values, which no
    // single maintenance call can write — its footer disproves the
    // constant-gen fast path, and the per-file resolve read must then
    // refuse rather than guess
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_invidx_unproven_f").toString
    Seq(("tok", 1L, 0L, 1L, 1L), ("tok", 2L, 0L, 1L, 2L))
      .toDF("token", "doc_id", "pos", "dl", "gen")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).toSeq
      .map(_.getPath).filter(p => p.getName.startsWith("part-")).head
    val bucketDir = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$dir/postings")).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket=")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
      new org.apache.hadoop.fs.Path(bucketDir, "part-forged.parquet"),
      false, spark.sessionState.newHadoopConf())
    // MANIFEST path: the forged file is a candidate (no committed
    // manifest names it), but its confirmation proof finds valid
    // parquet spanning two generations — an out-of-band actor, not a
    // mid-write death — and refuses rather than guesses
    val exM = intercept[IllegalStateException] {
      InvertedIndex.repairIndex(spark, dir)
    }
    assert(exM.getMessage.contains("refusing to repair"))
    // LEGACY path (manifest-less index): same refusal from the full
    // footer sweep
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_graft_genfiles"), true)
    val ex = intercept[IllegalStateException] {
      InvertedIndex.repairIndex(spark, dir)
    }
    assert(ex.getMessage.contains("refusing to repair"))
    // the writer gate survived both failed repairs
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_inflight/gen-1")))
    intercept[IllegalStateException] {
      InvertedIndex.appendDocs(docs.limit(1), "text", "doc_id", dir)
    }
  }

  test("a committed file a listing anomaly kept OUT of the manifest " +
      "survives repair: candidates are confirmed by gen proof, never " +
      "deleted on the manifest's word alone") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_unlisted").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    InvertedIndex.buildIndex(docs.limit(200), "text", "doc_id", dir,
      nBuckets = 4)
    val before = InvertedIndex.bm25TopKIndexed(spark, dir,
      "hash join table", k = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // forge the anomaly: drop one committed postings file from `base`
    val basePath = new org.apache.hadoop.fs.Path(
      s"$dir/_graft_genfiles/base")
    val lines = {
      val in = fs.open(basePath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val victim = lines.find(_.startsWith("postings/")).get
    val out = fs.create(basePath, true)
    out.write(lines.filterNot(_ == victim).mkString("\n").getBytes("UTF-8"))
    out.close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_graft_inflight"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_inflight/gen-1"), true).close()
    // repair confirms the candidate's gen (0 < committed 1) — kept
    assert(InvertedIndex.repairIndex(spark, dir) == 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$victim")),
      "repair deleted a committed file the manifest merely failed to list")
    val after = InvertedIndex.bm25TopKIndexed(spark, dir,
      "hash join table", k = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(after === before, "probe results changed across repair")
  }

  test("manifest repair deletes an UNREADABLE torn file: absence from " +
      "every committed manifest plus unreadability is proof of a " +
      "mid-write death (a committed part is a closed parquet file)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_garbage").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    InvertedIndex.buildIndex(docs.limit(200), "text", "doc_id", dir,
      nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_graft_inflight"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_inflight/gen-1"), true).close()
    // the dead call died mid-write: its file is not even valid parquet.
    // The legacy sweep would abort on it; the manifest path knows no
    // committed manifest names it, so unreadability confirms the tear.
    val bucketDir = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$dir/postings")).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket=")).head
    val out = fs.create(
      new org.apache.hadoop.fs.Path(bucketDir, "part-torn.parquet"), true)
    out.write("not a parquet file".getBytes("UTF-8")); out.close()
    assert(InvertedIndex.repairIndex(spark, dir) == 1L)
    assert(!InvertedIndex.needsRepair(spark, dir))
    // and the index still probes + maintains normally afterwards
    InvertedIndex.appendDocs(docs.limit(300).where($"doc_id" % 2 === 1),
      "text", "doc_id", dir)
    assert(InvertedIndex.bm25TopKIndexed(spark, dir, "hash join table",
      k = 5).count() == 5)
  }

  test("repairIndex propagates a failure that is not a missing or " +
      "unreadable file: a cancelled resolve read throws, and the " +
      "candidate file and the in-flight markers stay") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_cancel").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    InvertedIndex.buildIndex(docs.limit(200), "text", "doc_id", dir,
      nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_graft_inflight/gen-1")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    // a candidate whose footer cannot prove its generation (it spans
    // two), so repair confirms it with a resolve read — the read this
    // test cancels
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_invidx_cancel_f").toString
    Seq(("tok", 1L, 0L, 1L, 1L), ("tok", 2L, 0L, 1L, 2L))
      .toDF("token", "doc_id", "pos", "dl", "gen")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).toSeq
      .map(_.getPath).filter(p => p.getName.startsWith("part-")).head
    val bucketDir = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$dir/postings")).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket=")).head
    val forged = new org.apache.hadoop.fs.Path(bucketDir, "part-forged.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, forged, false,
      spark.sessionState.newHadoopConf())
    // four sleeping tasks hold the four local cores, so repair's job is
    // still pending when the listener cancels it
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
      intercept[org.apache.spark.SparkException](InvertedIndex.repairIndex(spark, dir))
    } finally {
      sc.removeSparkListener(listener)
      blocker.join()
    }
    assert(fs.exists(forged), "a cancelled read must not delete the candidate")
    assert(fs.exists(marker), "a cancelled read must not clear the gate")
    assert(InvertedIndex.needsRepair(spark, dir))
  }

  test("buildIndex over an existing path drops stale tombstones") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx7").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir, nBuckets = 8)
    InvertedIndex.deleteDocs(docs.where($"doc_id" < 100), "doc_id", dir)
    // periodic fresh rebuild at the same path (the documented churn
    // remedy): the old tombstones' generation stamps are meaningless
    // against the rebuilt corpus and must not survive
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir, nBuckets = 8)
    val stats = InvertedIndex.corpusStats(spark, dir).collect()(0)
    assert(stats.getLong(0) == docs.count(),
      s"stale tombstones still subtract: ${stats.getLong(0)}")
    val got = InvertedIndex.bm25TopKIndexed(spark, dir, "hash join table",
      k = 15).as[(Long, Long, Long, Long)].collect().toSeq
    val ref = InvertedIndex.bm25TopK(docs, "text", "doc_id",
      "hash join table", k = 15)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === ref)
  }

  test("compactIndex folds tombstones and append files; probes unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx6").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    // churn: build, two appends, two tombstone batches
    InvertedIndex.buildIndex(docs.where($"doc_id" % 4 === 0),
      "text", "doc_id", dir, nBuckets = 8)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 4 === 1),
      "text", "doc_id", dir)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 4 >= 2),
      "text", "doc_id", dir)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 7),
      "doc_id", dir)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 3),
      "doc_id", dir)
    val q = "hash join table"
    val before = InvertedIndex.bm25TopKIndexed(spark, dir, q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val filesBefore = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    InvertedIndex.compactIndex(spark, dir)
    val after = InvertedIndex.bm25TopKIndexed(spark, dir, q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(after === before)
    assert(before.nonEmpty)
    val ph = InvertedIndex.phraseSearch(
      InvertedIndex.openIndex(spark, dir,
        InvertedIndex.queryTokens("big order scan")),
      "big order scan").count()
    val phRef = InvertedIndex.phraseSearch(InvertedIndex.postings(
      docs.where($"doc_id" % 10 =!= 7 && $"doc_id" % 10 =!= 3),
      "text", "doc_id"), "big order scan").count()
    assert(ph == phRef)
    // physical state: tombstones gone, generation reset, fewer files
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(InvertedIndex.generation(spark, dir) == 1L)
    val filesAfter = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter < filesBefore,
      s"compaction must consolidate: $filesBefore -> $filesAfter")
  }

  test("rebucket: live postings re-shard to the new modulus behind the " +
      "swap marker; probes and maintenance resolve the new count from " +
      "the meta; a torn swap refuses every entry point until rebuild") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_rb").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val q = "hash join table"
    def probe() = InvertedIndex.bm25TopKIndexed(spark, dir, q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // churn under 8 buckets: build + append + tombstones
    InvertedIndex.buildIndex(docs.where($"doc_id" % 3 === 0),
      "text", "doc_id", dir, nBuckets = 8)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 3 =!= 0),
      "text", "doc_id", dir)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 7),
      "doc_id", dir)
    val before = probe()
    // the corpus "outgrew" 8 buckets: re-shard to 19
    InvertedIndex.rebucket(spark, dir, newBuckets = 19)
    assert(probe() === before, "rebucket must not change any result")
    // layout really is 19-way now: meta + physical bucket dirs agree
    assert(new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.startsWith("bucket=")) > 8)
    // maintenance AFTER the rebucket places by the NEW modulus, which
    // it reads from the meta
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 3),
      "doc_id", dir)
    val live = docs.where($"doc_id" % 10 =!= 7 && $"doc_id" % 10 =!= 3)
    val ref = InvertedIndex.bm25TopK(live, "text", "doc_id", q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(probe() === ref,
      "post-rebucket maintenance must equal the direct scorer")
    // torn swap: a forged leftover marker gates every read/maintenance
    // entry point — the bucket modulus itself is in doubt, a probe
    // would read the wrong buckets silently
    val marker = new java.io.File(s"$dir/_graft_swap_inflight")
    assert(marker.createNewFile())
    intercept[IllegalStateException] { probe() }
    intercept[IllegalStateException] {
      InvertedIndex.appendDocs(docs.limit(1), "text", "doc_id", dir)
    }
    // compactIndex/rebucket are the RECOVERY entry points: a leftover
    // marker rolls back first (here: a bare marker with no asides =
    // death before any rename, so rollback is just the marker), then
    // the reorg re-runs — never a rebuild
    InvertedIndex.rebucket(spark, dir, newBuckets = 5)
    assert(!marker.exists())
    assert(probe() === ref)
  }

  test("layout-swap crash recovery: a death inside the rename window " +
      "rolls back from the .pre asides — probes refuse the torn state, " +
      "recoverSwap restores the committed pre-swap index exactly, and " +
      "a re-run rebucket converges") {
    import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
    val dir = JFiles.createTempDirectory("graft_invidx_rbcr").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val q = "hash join table"
    def probe() = InvertedIndex.bm25TopKIndexed(spark, dir, q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    InvertedIndex.buildIndex(docs.where($"doc_id" % 3 =!= 2),
      "text", "doc_id", dir, nBuckets = 4)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 3 === 2),
      "text", "doc_id", dir)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 7),
      "doc_id", dir)
    val before = probe()
    // forge the WORST crash window: the meta was asided AND republished
    // with the new modulus, postings were asided but the staged twin
    // never moved in — layout and meta maximally disagree
    def forge(): Unit = {
      JFiles.move(JPaths.get(dir, "_graft_index_meta"),
        JPaths.get(dir, "_graft_index_meta.pre"),
        StandardCopyOption.ATOMIC_MOVE)
      JFiles.writeString(JPaths.get(dir, "_graft_index_meta"),
        "nBuckets=7\n")
      JFiles.move(JPaths.get(dir, "postings"),
        JPaths.get(dir, "postings.pre"), StandardCopyOption.ATOMIC_MOVE)
      JFiles.createFile(JPaths.get(dir, "_graft_swap_inflight"))
    }
    forge()
    intercept[IllegalStateException] { probe() }
    // explicit recovery: pre-swap state returns to service EXACTLY
    InvertedIndex.recoverSwap(spark, dir)
    assert(!JFiles.exists(JPaths.get(dir, "_graft_swap_inflight")))
    assert(JFiles.readString(JPaths.get(dir, "_graft_index_meta"))
      .contains("nBuckets=4"), "rollback must restore the OLD meta")
    assert(probe() === before,
      "recovered index must serve the committed pre-swap state")
    // implicit recovery: a re-run rebucket rolls back, then completes
    forge()
    InvertedIndex.rebucket(spark, dir, newBuckets = 9)
    assert(probe() === before, "rebucket after recovery must converge")
    assert(JFiles.readString(JPaths.get(dir, "_graft_index_meta"))
      .contains("nBuckets=9"))
    // no aside garbage survives the committed swap
    assert(!JFiles.exists(JPaths.get(dir, "postings.pre")) &&
      !JFiles.exists(JPaths.get(dir, "_graft_index_meta.pre")))
    // maintenance on the recovered+rebucketed index still == direct
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 3),
      "doc_id", dir)
    val live = docs.where($"doc_id" % 10 =!= 7 && $"doc_id" % 10 =!= 3)
    val ref = InvertedIndex.bm25TopK(live, "text", "doc_id", q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(probe() === ref)
  }

  test("compactIndex recovers a torn swap itself: a leftover marker " +
      "rolls back on entry (bucket count resolves AFTER recovery), then " +
      "compacts at the committed modulus") {
    import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
    val dir = JFiles.createTempDirectory("graft_invidx_cir").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val q = "hash join table"
    def probe() = InvertedIndex.bm25TopKIndexed(spark, dir, q, k = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // a NON-default bucket count, so a compaction that resolved the
    // wrong modulus would show in the layout
    InvertedIndex.buildIndex(docs.where($"doc_id" % 3 =!= 2),
      "text", "doc_id", dir, nBuckets = 4)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 3 === 2),
      "text", "doc_id", dir)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 7),
      "doc_id", dir)
    val before = probe()
    // forge a mid-swap death: the meta asided and republished with a
    // torn target modulus, postings asided, marker up. compactIndex
    // ITSELF must recover — resolving the bucket count eagerly would
    // hit requireNoSwap and loop on the very error message that says
    // re-running it works
    JFiles.move(JPaths.get(dir, "_graft_index_meta"),
      JPaths.get(dir, "_graft_index_meta.pre"), StandardCopyOption.ATOMIC_MOVE)
    JFiles.writeString(JPaths.get(dir, "_graft_index_meta"), "nBuckets=7\n")
    JFiles.move(JPaths.get(dir, "postings"),
      JPaths.get(dir, "postings.pre"), StandardCopyOption.ATOMIC_MOVE)
    JFiles.createFile(JPaths.get(dir, "_graft_swap_inflight"))
    intercept[IllegalStateException] { probe() }
    InvertedIndex.compactIndex(spark, dir)
    assert(!JFiles.exists(JPaths.get(dir, "_graft_swap_inflight")))
    assert(probe() === before,
      "compactIndex after a torn swap must roll back, then compact")
    // the compaction ran at the rolled-back committed modulus (4), not
    // the torn target's 7 nor DefaultBuckets
    assert(JFiles.readString(JPaths.get(dir, "_graft_index_meta"))
      .contains("nBuckets=4"))
    assert(new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.startsWith("bucket=")) <= 4)
    assert(!JFiles.exists(JPaths.get(dir, "tombstones")))
    assert(!JFiles.exists(JPaths.get(dir, "postings.pre")) &&
      !JFiles.exists(JPaths.get(dir, "_graft_index_meta.pre")))
  }

  test("an index root without _graft_index_meta is refused by every " +
      "index-rooted operation, naming buildIndex") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_nometa").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    InvertedIndex.buildIndex(docs.where($"doc_id" % 2 === 0),
      "text", "doc_id", dir, nBuckets = 4)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 4), "doc_id", dir)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_graft_index_meta"))
    val odd = docs.where($"doc_id" % 2 === 1)
    val ops: Seq[(String, () => Any)] = Seq(
      "appendDocs" -> (() => InvertedIndex.appendDocs(odd, "text", "doc_id", dir)),
      "deleteDocs" -> (() => InvertedIndex.deleteDocs(odd, "doc_id", dir)),
      "applyChanges" -> (() => InvertedIndex.applyChanges(
        odd.withColumn("_change_type", lit("insert")), "text", "doc_id", dir)),
      "compactIndex" -> (() => InvertedIndex.compactIndex(spark, dir)),
      "rebucket" -> (() => InvertedIndex.rebucket(spark, dir, newBuckets = 8)),
      "maintenancePlan" -> (() => InvertedIndex.maintenancePlan(spark, dir)),
      "openIndex" -> (() => InvertedIndex.openIndex(spark, dir, Seq("hash"))),
      "bm25TopKIndexed" -> (() => InvertedIndex.bm25TopKIndexed(spark, dir,
        "hash join table", k = 10)))
    for ((name, op) <- ops) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("buildIndex"), s"$name: ${e.getMessage}")
    }
    // nothing was written: the refused calls left no generation, no
    // meta and no tombstones beyond the build's
    assert(InvertedIndex.generation(spark, dir) == 1L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_graft_index_meta")))
    assert(spark.read.parquet(s"$dir/tombstones").count() ==
      docs.where($"doc_id" % 10 === 4).count())
  }

  test("maintenancePlan: each signal fires when its fixture crosses the " +
      "threshold and clears after the recommended action runs; a torn " +
      "swap preempts as the only row") {
    import graft.text.InvertedIndex.IndexMaintenancePolicy
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx_mp").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val pol = IndexMaintenancePolicy(maxFilesPerBucket = 3,
      maxTombstonePermille = 200, minDocsPerBucket = 1,
      maxDocsPerBucket = 1000000, targetDocsPerBucket = 5)
    def plan(p: IndexMaintenancePolicy = pol) =
      InvertedIndex.maintenancePlan(spark, dir, policy = p)
    InvertedIndex.buildIndex(docs.where($"doc_id" % 4 === 0),
      "text", "doc_id", dir, nBuckets = 4)
    assert(plan().isEmpty, s"fresh index needs nothing: ${plan()}")
    // append windows accumulate one file per touched bucket
    InvertedIndex.appendDocs(docs.where($"doc_id" % 4 === 1),
      "text", "doc_id", dir)
    InvertedIndex.appendDocs(docs.where($"doc_id" % 4 === 2),
      "text", "doc_id", dir)
    val p1 = plan()
    assert(p1.exists(a => a.action == "compactIndex" &&
      a.metric == "files_per_bucket_max" && a.value >= 3),
      s"3 commits = 3 files/bucket must recommend compaction: $p1")
    InvertedIndex.compactIndex(spark, dir)
    assert(plan().isEmpty, "compaction satisfies the plan")
    // tombstone pressure
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 4 === 0 &&
      $"doc_id" % 3 <= 1), "doc_id", dir)
    val p2 = plan()
    assert(p2.exists(a => a.action == "compactIndex" &&
      a.metric == "tombstone_permille" && a.value >= 200),
      s"~2/3 tombstoned must recommend compaction: $p2")
    InvertedIndex.compactIndex(spark, dir)
    assert(plan().isEmpty)
    // bucket sizing: tighten the band so the live corpus overflows it;
    // the suggestion is sized by targetDocsPerBucket
    val tight = pol.copy(maxDocsPerBucket = 2)
    val live = InvertedIndex.corpusStats(spark, dir)
      .collect()(0).getLong(0)
    val p3 = plan(tight)
    val rb = p3.find(_.action == "rebucket")
    assert(rb.isDefined && rb.get.metric == "docs_per_bucket" &&
      rb.get.suggestion == (live + 4) / 5,
      s"live=$live under max=2/bucket must recommend rebucket: $p3")
    InvertedIndex.rebucket(spark, dir,
      newBuckets = rb.get.suggestion.toInt)
    assert(plan(tight.copy(maxDocsPerBucket = 5)).isEmpty,
      "the suggested modulus sits inside the widened band")
    // a torn swap preempts everything else
    val marker = new java.io.File(s"$dir/_graft_swap_inflight")
    assert(marker.createNewFile())
    val p4 = plan()
    assert(p4.map(_.action) == Seq("recoverSwap"),
      s"recovery must be the ONLY row over a torn layout: $p4")
    InvertedIndex.recoverSwap(spark, dir)
    assert(plan(tight.copy(maxDocsPerBucket = 5)).isEmpty)
  }

  test("bm25: monotone in tf, bounded by idf·(k1+1) equivalent, ties by doc_id") {
    val docs = Seq(
      (1L, "q q q q filler filler filler filler"),
      (2L, "q filler filler filler filler filler filler filler"),
      (3L, "filler filler filler filler filler filler filler filler"),
      (4L, "q filler filler filler filler filler filler filler"))
      .toDF("doc_id", "text")
    val got = InvertedIndex.bm25TopK(docs, "text", "doc_id", "q", k = 10)
      .as[(Long, Long, Long, Long)].collect()
    // only q-bearing docs score; higher tf ranks first; tie 2-vs-4 by id
    assert(got.map(_._2).toSeq === Seq(1L, 2L, 4L))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    val scores = got.map(_._3)
    assert(scores(0) > scores(1) && scores(1) == scores(2))
    // integer-BM25 per-term score is < idf_m · (k1+1): s < idf · 11/5
    val idf = (4L * 1000L) / 3L
    assert(scores.forall(_ <= idf * 11L / 5L + 1))
  }

  test("bm25 differential on testdata: engine == driver-side recompute") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val query = "hash join table"
    val got = InvertedIndex.bm25TopK(docs, "text", "doc_id", query, k = 15)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val terms = InvertedIndex.queryTokens(query).distinct
    val all = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq)
    val n = all.length.toLong
    val t = all.map(_._2.size.toLong).sum
    val dfm = terms.map(w =>
      w -> all.count(_._2.contains(w)).toLong).toMap
    val exp = all.flatMap { case (id, ts) =>
      val dl = ts.size.toLong
      val per = terms.flatMap { w =>
        val tf = ts.count(_ == w).toLong
        if (tf == 0) None
        else Some((n * 1000L / dfm(w)) * (tf * 22L * t) /
          (10L * t * tf + 3L * t + 9L * dl * n))
      }
      if (per.isEmpty) None else Some((id, per.sum, per.size.toLong))
    }.sortBy { case (id, s, _) => (-s, id) }.take(15).zipWithIndex
      .map { case ((id, s, nt), i) => (i + 1L, id, s, nt) }.toSeq
    assert(got === exp)
  }

  test("indexed bm25 == direct bm25; probe still bucket-pruned after append") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx2").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    InvertedIndex.buildIndex(docs, "text", "doc_id", dir, nBuckets = 16)
    val query = "hash join table"
    val a = InvertedIndex.bm25TopKIndexed(spark, dir, query, k = 15)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val b = InvertedIndex.bm25TopK(docs, "text", "doc_id", query, k = 15)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(a === b)
    // the indexed probe reads only the query terms' buckets
    import org.apache.spark.sql.execution.FileSourceScanExec
    val probe = InvertedIndex.openIndex(spark, dir,
      InvertedIndex.queryTokens(query).distinct)
    val expected = InvertedIndex.queryTokens(query).distinct.toDF("token")
      .select(pmod(xxhash64($"token"), lit(16L))).as[Long].collect().toSet
    val scan = probe.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }.head
    val readBuckets = scan.selectedPartitions.toPartitionArray.map { f =>
      "bucket=(\\d+)".r.findFirstMatchIn(f.urlEncodedPath).get.group(1).toLong
    }.toSet
    assert(readBuckets.subsetOf(expected), s"$readBuckets vs $expected")
  }

  test("incremental index: append + tombstone == fresh build on the live set") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_invidx3").toString
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_invidx4").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    // lifecycle: build on 2/3 of the corpus, append the rest, tombstone
    // every doc_id % 10 == 7 — no bucket file is rewritten at any step
    InvertedIndex.buildIndex(docs.where($"doc_id" % 3 =!= 2),
      "text", "doc_id", dir, nBuckets = 16)
    val before = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified()).toMap
    InvertedIndex.appendDocs(docs.where($"doc_id" % 3 === 2),
      "text", "doc_id", dir)
    InvertedIndex.deleteDocs(docs.where($"doc_id" % 10 === 7),
      "doc_id", dir)
    val after = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified()).toMap
    assert(before.forall { case (p, m) => after.get(p).contains(m) },
      "append/tombstone must not rewrite existing bucket files")
    val live = docs.where($"doc_id" % 10 =!= 7)
    InvertedIndex.buildIndex(live, "text", "doc_id", fresh, nBuckets = 16)
    for (q <- Seq("hash join table", "big order scan")) {
      val inc = InvertedIndex.bm25TopKIndexed(spark, dir, q, k = 20)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val ref = InvertedIndex.bm25TopKIndexed(spark, fresh, q, k = 20)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(inc === ref, s"query '$q' diverged after incremental update")
      assert(inc.nonEmpty)
    }
    // phrase search through the same maintained index: tombstoned docs
    // must not surface
    val ph = InvertedIndex.phraseSearch(
      InvertedIndex.openIndex(spark, dir,
        InvertedIndex.queryTokens("big order scan")),
      "big order scan").select($"doc_id").as[Long].collect().toSet
    val phRef = InvertedIndex.phraseSearch(
      InvertedIndex.postings(live, "text", "doc_id"), "big order scan")
      .select($"doc_id").as[Long].collect().toSet
    assert(ph === phRef)
  }
}
