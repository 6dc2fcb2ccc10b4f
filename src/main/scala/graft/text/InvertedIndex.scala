package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DirectParquetIo

import java.nio.file.{Files, Paths}

import graft.io.{Cutovers, GraftFs}

/** Inverted token index + positional phrase search + BM25 ranking — the
  * targeted-retrieval layer of a training-data pipeline (find every
  * document containing a benchmark phrase / rank candidates for a query)
  * WITHOUT a full corpus scan per question.
  *
  * Scale design (the 100 TB shape):
  *   - The index is FLAT postings `(token, doc_id, pos)` — never
  *     `collect_list` per token: stop-word posting lists ("the") would
  *     be single-row gigabyte arrays, while flat rows spread across
  *     partitions like any other table.
  *   - Persisted indexes are hash-bucketed BY TOKEN into `bucket=N/`
  *     partition dirs; a phrase/keyword query reads ONLY the buckets its
  *     query tokens hash to (partition pruning — see IoSpec), so probe
  *     cost tracks the query's posting lists, not the corpus.
  *   - Phrase matching is ONE shuffle: each posting row for a query
  *     token proposes the anchor positions `pos - offset` it supports
  *     (a token appearing at several phrase offsets proposes several),
  *     and `groupBy(doc, anchor)` counts distinct supported offsets —
  *     `== k` iff every phrase slot matched. No k-way self-join of the
  *     postings table, no per-document array materialization.
  *   - BM25 uses integer-exact arithmetic (the t8 tf-idf house rule):
  *     pseudo-idf `(N·1000)//df` and the k1=1.2/b=0.75 saturation term
  *     cleared of fractions by scaling with `10·T` (T = corpus token
  *     count), so every engine computes bit-identical BIGINT scores —
  *     no float log in the gate path.
  *
  * Reference ground: the reference has no retrieval layer (its corpus is
  * 1,623 rows); this is part of the beyond-reference LLM-pipeline brief.
  * Algorithms are textbook IR (positional intersection: Manning et al.,
  * IIR §2.4; BM25: Robertson & Zaragoza 2009).
  */
object InvertedIndex {

  /** Flat positional postings of `docs`: one row per token occurrence,
    * `(token, doc_id, pos)` with `pos` the 0-based ordinal in the
    * whitespace-token stream of the lowercased text. */
  def postings(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "token")))
      .select(col("token"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Normalized query/phrase tokens (same pipeline as [[postings]]). */
  def queryTokens(phrase: String): Seq[String] =
    phrase.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)

  /** Documents containing `phrase` as CONSECUTIVE tokens, with the
    * occurrence count and first match position. Output:
    * `(doc_id, n_hits, first_pos)`.
    *
    * One wide shuffle on `(doc_id, anchor)`; postings are first narrowed
    * to the phrase's tokens (bucket-pruned when `idx` comes from a
    * persisted layout — [[openIndex]] for a full MAINTAINED index,
    * whose committed-generation gate and tombstone anti-join this
    * probe inherits; [[openBuckets]] only for a raw build-once
    * postings dir, see its contract). */
  def phraseSearch(idx: DataFrame, phrase: String): DataFrame = {
    val toks = queryTokens(phrase)
    require(toks.nonEmpty, "empty phrase")
    val k = toks.length
    // token -> every phrase offset it fills (repeats handled: "a b a"
    // gives a -> [0, 2]); a tiny literal frame, broadcast onto postings
    val offsets = toks.zipWithIndex
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      .flatMap { case (t, offs) => offs.map(o => (t, o)) }
    val spark = idx.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("__q_token", "__q_off")
    idx
      .join(broadcast(offDf), col("token") === col("__q_token"))
      .select(col("doc_id"),
        (col("pos") - col("__q_off")).as("anchor"), col("__q_off"))
      .where(col("anchor") >= 0)
      // an anchor is a phrase occurrence iff all k offsets are supported.
      // Plain count, not count_distinct: within a (doc, anchor) group an
      // offset o pins pos = anchor + o, and (doc_id, pos) keys exactly
      // one posting row joined to exactly one (token, o) query row — a
      // duplicate offset is structurally impossible, and count_distinct
      // would cost a second wide exchange (distinct-agg expansion)
      .groupBy(col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("__n_off"))
      .where(col("__n_off") === k)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("anchor")).as("first_pos"))
  }

  /** All of `phrases` matched in ONE pass: the postings join a single
    * broadcast (token → phrase, offset, len) frame and one
    * `(doc, phrase, anchor)` shuffle scores every phrase at once —
    * probing N benchmark phrases costs one job, not N (the
    * index-accelerated decontamination shape: at 100 TB the corpus-side
    * postings are read once per QUERY BATCH, and only the union of the
    * phrases' tokens at that). Output:
    * `(doc_id, phrase_id, n_hits, first_pos)`; `phrase_id` is the
    * 0-based position in `phrases`. */
  def multiPhraseSearch(idx: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "no phrases")
    val rows = phrases.zipWithIndex.flatMap { case (p, pid) =>
      val toks = queryTokens(p)
      require(toks.nonEmpty, s"empty phrase at $pid")
      toks.zipWithIndex.map { case (t, o) =>
        (pid.toLong, t, o.toLong, toks.length.toLong)
      }
    }
    val spark = idx.sparkSession
    import spark.implicits._
    val offDf = rows.toDF("__pid", "__q_token", "__q_off", "__k")
    idx
      .join(broadcast(offDf), col("token") === col("__q_token"))
      .select(col("doc_id"), col("__pid"),
        (col("pos") - col("__q_off")).as("anchor"), col("__q_off"), col("__k"))
      .where(col("anchor") >= 0)
      // plain count per (doc, phrase, anchor): same uniqueness argument
      // as [[phraseSearch]] — (doc_id, pos=anchor+off) keys one posting
      // row and (pid, off) keys one query row
      .groupBy(col("doc_id"), col("__pid"), col("anchor"))
      .agg(count(lit(1)).as("__n_off"), max(col("__k")).as("__k2"))
      .where(col("__n_off") === col("__k2"))
      .groupBy(col("doc_id"), col("__pid"))
      .agg(count(lit(1)).as("n_hits"), min(col("anchor")).as("first_pos"))
      .withColumnRenamed("__pid", "phrase_id")
  }

  /** Union of every phrase's token set — the narrowing set to pass
    * [[openIndex]] (or, for a raw build-once postings dir,
    * [[openBuckets]]) before a [[multiPhraseSearch]]. */
  def phraseTokens(phrases: Seq[String]): Seq[String] =
    phrases.flatMap(queryTokens).distinct

  /** Number of `bucket=` partition dirs a persisted index uses. */
  val DefaultBuckets = 64

  /** Token -> persisted-index bucket (xxhash64, non-negative mod). */
  private def bucketOf(token: Column, nBuckets: Int): Column =
    pmod(xxhash64(token), lit(nBuckets.toLong))

  /** Persist `postings` hash-bucketed by token: parquet partitioned by
    * `bucket`, so opening with a token filter prunes to the matching
    * dirs. Within each bucket, rows are sorted by (token, doc_id, pos)
    * for run-length/dictionary-friendly pages — which also makes the
    * per-file token min/max recorded in the `<path>_stats` sidecar
    * TIGHT, so probes can skip whole files inside a bucket (each
    * append commit adds its own file per touched bucket; a probe for
    * a token outside that commit's token range never opens it). */
  def writeBuckets(postings: DataFrame, path: String,
      nBuckets: Int = DefaultBuckets, mode: String = "overwrite",
      rowsHint: Long = -1L): Seq[String] = {
    val spark = postings.sparkSession
    if (mode == "overwrite") GraftFs.delete(Paths.get(statsPathOf(path)))
    // the files THIS call adds = the dir listing's delta across the
    // write — a driver listing on each side instead of reading the
    // stats sidecar back through a Spark job per maintenance call
    // (on overwrite the dir is replaced wholesale: everything is new)
    val before: Set[String] =
      if (mode == "append") listBucketFiles(path, None).toSet
      else Set.empty
    // a maintenance WINDOW's postings delta (rowsHint = the window's
    // OBSERVED n_tokens, computed by the corpus-scalar aggregate the
    // commit needs anyway) writes driver-direct: one collect replaces
    // the bucket repartition exchange + the dynamic-partition
    // committer. Footer min/max stats are value-derived, so probe-side
    // file skipping sees identical sidecars on either side. Full
    // builds/compactions pass no hint and keep the distributed write.
    DirectParquetIo.write(
      postings.withColumn("bucket", bucketOf(col("token"), nBuckets)),
      path, rowsHint, mode, partitionBy = Seq("bucket"),
      sortBy = Seq("token", "doc_id", "pos"),
      maxRows = Cutovers.PostingsWriteRows)
    collectPostingsStats(spark, path, before)
  }

  /** The postings dir's file-statistics sidecar (io/Layout.FileStats
    * rows, token column only). */
  private def statsPathOf(postingsPath: String): String =
    postingsPath + "_stats"

  /** Footer-scan every postings file not in `known` (the caller's
    * pre-write dir listing) and append its token min/max — incremental
    * (append commits only scan their own new files), footer-only (data
    * pages untouched). A file that somehow escapes the sidecar is
    * simply never skipped: absence of stats degrades to never-skip,
    * the same contract as the table layer. (Torn-generation files:
    * probes drop their rows via the committed-gen gate and
    * [[repairIndex]] confirms-then-deletes them; a committed file a
    * listing anomaly kept out of the commit manifest survives repair
    * by its gen proof and stays merely never-skipped.) Returns the
    * fresh relative paths — the list the caller's commit manifest
    * records. */
  private def collectPostingsStats(spark: SparkSession,
      path: String, known: Set[String]): Seq[String] = {
    val sp = statsPathOf(path)
    val fresh = listBucketFiles(path, None).filterNot(known)
    if (fresh.isEmpty) return fresh
    // footer reads are independent and a bulk write touches one file
    // per bucket (64 by default) — serial driver reads would bill ~1s
    // of pure latency to every build/append call, so fan them out on a
    // bounded pool (driver-side planning IO, the same class as the
    // table layer's per-segment sidecar collection)
    val rows = fanOut(fresh) { rel =>
      graft.io.FileStats.footerStats(spark, s"$path/$rel", rel)
        .filter(_.col == "token")
    }.flatten
    // driver-direct sidecar append (planning state, O(files) rows) —
    // the Spark job the old append-parquet write paid per maintenance
    // call was pure plan/schedule overhead
    graft.io.FileStats.writeSidecar(spark, rows, sp, "append")
    fresh
  }

  /** [[org.apache.spark.sql.graft.PlanBridge.pin]] — a change-feed
    * consumer accumulating hidden localCheckpoint RDDs until driver GC
    * is the exact failure mode the explicit release prevents (the same
    * reason the connected-components loop owns its per-round RDDs). */
  private def pin(df: DataFrame):
      (DataFrame, org.apache.spark.rdd.RDD[_], Long) =
    org.apache.spark.sql.graft.PlanBridge.pin(df)

  /** Distinct values of a single long column, deduped inside each
    * partition and again on the driver — no exchange, and the driver
    * receives at most (distinct values × partitions) longs, so even a
    * BULK append ships its bucket set, never one row per document. */
  private def distinctLongs(df: DataFrame): Seq[Long] = {
    val sp = df.sparkSession
    import sp.implicits._
    df.as[Long].mapPartitions(it => it.toSet.iterator)
      .collect().toSeq.distinct
  }

  /** Run `f` over `items` on a bounded driver-side pool and return the
    * results in order — the planning-IO fan-out both sidecar readers
    * share. Unbounded wait on purpose: these calls sit BETWEEN the
    * sidecar writes of one maintenance commit, so a deadline would
    * convert a slow-but-progressing filesystem into a torn call (the
    * rebuild-territory state the contract reserves for crashes). */
  private def fanOut[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, items.size)))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      scala.concurrent.Await.result(
        scala.concurrent.Future.traverse(items)(a =>
          scala.concurrent.Future(f(a))),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
  }

  /** Relative paths (`bucket=N/part-…`) of the postings files in
    * `buckets` (all buckets when None) — a planning-time listing, the
    * same metadata any parquet scan of those dirs performs. `prefix`
    * selects the partition-dir family (`bucket=` postings,
    * `dbucket=` doclen). */
  private def listBucketFiles(path: String, buckets: Option[Seq[Long]],
      prefix: String = "bucket="): Seq[String] = {
    val root = Paths.get(path)
    val dirs = buckets match {
      case Some(bs) => bs.map(b => root.resolve(s"$prefix$b"))
      case None => GraftFs.list(root).filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith(prefix))
    }
    dirs.flatMap(d => dataFiles(d).map(f => s"${d.getFileName}/${f.getFileName}"))
  }

  /** The files of `dir` a parquet scan reads (not `_`- or `.`-prefixed). */
  private def dataFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    GraftFs.list(dir).filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The probe plan for `tokens` against a bucketed postings dir:
    * (files the scan will open, total files in the probed buckets).
    * A file is opened iff it has no stats row (never wrongly skipped)
    * or some query token falls inside its token min/max — evaluated
    * through the SAME FileStats machinery the table layer prunes with
    * (an IN-list conjunct over the probed buckets' stats rows).
    * Fast path: when every probed bucket holds at most one file
    * (fresh build / post-compaction), the sidecar is not consulted and
    * the plan reports all files open — the stats job costs more than
    * letting the scan's own parquet row-group pruning reject a
    * single out-of-range file per bucket. */
  def probeFilePlan(spark: SparkSession, path: String,
      tokens: Seq[String], nBuckets: Int = DefaultBuckets):
      (Seq[String], Int) = {
    require(tokens.nonEmpty, "empty token list")
    // resolve the SELF-DESCRIBING bucket count like every other
    // post-build operation: the meta sits at the index root, the
    // sibling of this postings dir — a caller holding a
    // non-default-bucket index and the default parameter must still
    // plan the right bucket set (raw writeBuckets dirs have no meta
    // and keep the parameter)
    val nb = postingsBuckets(spark, path, nBuckets)
    planFiles(spark, path, tokens, bucketsFor(spark, tokens, nb))
  }

  /** [[probeFilePlan]]'s core, taking the probed bucket set the caller
    * already computed — prunedPostings shares one bucketsFor job and
    * one dir listing between planning and the scan it builds. */
  private def planFiles(spark: SparkSession, path: String,
      tokens: Seq[String], buckets: Seq[Long]): (Seq[String], Int) = {
    val files = listBucketFiles(path, Some(buckets))
    // at most one file in EACH probed bucket (fresh build /
    // post-compaction) — skipping could at best reject one file per
    // bucket, which the scan's own row-group stats do for free, so
    // don't spend a stats job on it. Judged per directory: an
    // aggregate files<=buckets test would wrongly bypass the sidecar
    // when one bucket holds several append files and the other probed
    // buckets happen to be empty.
    if (files.groupBy(_.takeWhile(_ != '/')).values
        .forall(_.size <= 1)) return (files, files.size)
    val sp = statsPathOf(path)
    if (!Files.exists(Paths.get(sp))) return (files, files.size)
    val conj = graft.io.FileStats.Conjunct("token", "in",
      tokens.map(t =>
        (org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StringType)
    val dead = graft.io.FileStats.deadFiles(spark, Seq(sp), Seq(conj))
    (files.filterNot(dead), files.size)
  }

  /** Bucket values for `tokens`, evaluated through the engine itself
    * so driver-side planning can never drift from the executor-side
    * write path. ≤ |query| values — planning-sized. */
  private def bucketsFor(spark: SparkSession, tokens: Seq[String],
      nBuckets: Int): Seq[Long] = {
    import spark.implicits._
    // dedup DRIVER-side: a .distinct() here would put a full exchange
    // into every probe's planning step for a ≤|query|-row frame
    tokens.distinct.toDF("token")
      .select(bucketOf(col("token"), nBuckets))
      .collect().map(_.getLong(0)).toSeq.distinct
  }

  /** Scan of exactly the postings files a probe for `tokens` needs:
    * bucket-pruned by dir, then file-skipped by the token min/max
    * sidecar. Falls back to the plain dir scan when nothing can be
    * skipped (or no sidecar exists). */
  private def prunedPostings(spark: SparkSession, path: String,
      tokens: Seq[String], nBuckets: Int): DataFrame = {
    val buckets = bucketsFor(spark, tokens, nBuckets)
    postingsScan(spark, path, tokens, buckets,
      planFiles(spark, path, tokens, buckets))
  }

  /** [[prunedPostings]] over the bucket set and file plan (kept, total)
    * the caller already made. */
  private def postingsScan(spark: SparkSession, path: String,
      tokens: Seq[String], buckets: Seq[Long],
      plan: (Seq[String], Int)): DataFrame = {
    val (kept, total) = plan
    val base =
      if (kept.size == total || kept.isEmpty)
        // kept.isEmpty: every file provably dead — the dir scan with
        // the token filter returns the same (empty) result without a
        // zero-path read's schema-inference pitfalls
        spark.read.parquet(path)
      else spark.read.option("basePath", path)
        .parquet(kept.map(f => s"$path/$f"): _*)
    base.where(col("bucket").isin(buckets: _*) &&
      col("token").isin(tokens: _*))
  }

  /** Open a RAW bucketed postings dir ([[writeBuckets]] output) narrowed
    * to `tokens`: the bucket predicate is partition-pruned (only the
    * needed `bucket=` dirs are listed and read), files inside a bucket
    * whose token range misses every query token are skipped via the
    * stats sidecar, and the token predicate is pushed to parquet.
    *
    * LAYOUT-LEVEL reader — no commit or tombstone semantics: it returns
    * every row in the files, which is exactly right for a build-once
    * dir written directly by [[writeBuckets]] (no generations exist).
    * For a full index that [[appendDocs]]/[[deleteDocs]] maintain, use
    * [[openIndex]] — it applies the committed-generation gate and the
    * generation-scoped tombstones this reader knows nothing about, so
    * only it upholds the "probes read committed state" guarantee over
    * a torn or maintained index. */
  def openBuckets(spark: SparkSession, path: String, tokens: Seq[String],
      nBuckets: Int = DefaultBuckets): DataFrame = {
    require(tokens.nonEmpty, "empty token list")
    // same sibling-meta resolution as probeFilePlan: a raw writeBuckets
    // dir has no meta and keeps the parameter; a full index's postings
    // dir resolves the build's recorded count
    prunedPostings(spark, path, tokens,
      postingsBuckets(spark, path, nBuckets))
      .select(col("token"), col("doc_id"), col("pos"))
  }

  // ---------------------------------------------------------------------
  // Persisted retrieval index: postings carry the doc length, so a BM25
  // probe needs NOTHING doc-keyed beyond the query terms' own buckets.
  // ---------------------------------------------------------------------

  /** Doc id -> doclen-sidecar bucket (xxhash64, non-negative mod) —
    * the membership sidecar's analogue of [[bucketOf]], with the SAME
    * bucket count as the postings, so maintenance-call membership
    * probes (the appendDocs replay guard, deleteDocs victim lookup)
    * scan only the batch's buckets: O(batch's buckets), not O(corpus
    * doc-count), per call. */
  private def dbucketOf(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id), lit(nBuckets.toLong))

  /** Align a maintenance batch's id column to the dtype the index
    * STORES for doc_id (resolved from the doclen sidecar's own
    * schema — one footer read, planning IO). [[dbucketOf]] hashes with
    * xxhash64, which is dtype-SENSITIVE: an INT batch id against a
    * BIGINT index hashes into different dbuckets, the pruned membership
    * guard sees no live rows, and a replayed window would silently
    * double-append postings and corpus scalars (the pre-pruning plain
    * anti-join tolerated the mismatch via implicit join casts). Only a
    * lossless widening is accepted — a lossy cast (BIGINT batch into an
    * INT index, string into numeric) could alias distinct ids, so it
    * fails loudly instead. */
  private def alignIdType(docs: DataFrame, idCol: String,
      path: String): DataFrame = {
    // ONE footer read resolves the stored dtype (it is uniform across
    // the sidecar by construction — this very guard enforces it) with
    // no partition-discovery / schema-inference pass over the dbucket
    // dirs; with no doclen file yet (fresh build) the batch defines it
    val batchT = docs.schema(idCol).dataType
    storedIdType(docs.sparkSession, path) match {
      case Some(stored) if stored != batchT =>
        require(org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(batchT, stored),
          s"batch id column '$idCol' is $batchT but the index at $path " +
            s"stores doc_id as $stored — no lossless widening exists, and " +
            "a lossy cast could silently alias distinct ids; cast the " +
            "batch to the indexed dtype explicitly")
        docs.withColumn(idCol, col(idCol).cast(stored))
      case _ => docs
    }
  }

  /** doc_id's stored dtype off ONE doclen parquet footer, converted as
    * Spark's scan converts it (driver IO, no Spark job); None when the
    * sidecar holds no file yet. */
  private def storedIdType(spark: SparkSession, path: String):
      Option[org.apache.spark.sql.types.DataType] =
    GraftFs.list(Paths.get(path, "doclen")).filter(Files.isDirectory(_))
      .sortBy(_.getFileName.toString).iterator
      .flatMap(dataFiles).find(_.getFileName.toString.endsWith(".parquet"))
      .map(f => graft.io.ManagedParquetTable.footerMergedSchema(spark,
        Seq(f.toString))("doc_id").dataType)

  /** The index's bucket count is SELF-DESCRIBING: [[buildIndex]]
    * records it in `_graft_index_meta` and every post-build operation
    * resolves it from there (falling back to its parameter only for a
    * pre-meta index). Bucket placement — postings dirs AND doclen
    * dbuckets — depends on the modulus, so a maintenance call passing
    * a different count than the build would otherwise write to /
    * probe the wrong buckets silently. Published atomically: a crash
    * mid-write leaves the old meta, never a torn one. */
  private def writeMeta(path: String, nBuckets: Int): Unit =
    GraftFs.publish(Paths.get(path, "_graft_index_meta"), s"nBuckets=$nBuckets\n")

  /** [[indexBuckets]] for callers holding a POSTINGS dir: the meta is
    * at the index root, the postings dir's parent. A raw
    * [[writeBuckets]] dir has no meta there (or no parent at all) and
    * resolves to the fallback — exactly the layout-level contract. */
  private def postingsBuckets(spark: SparkSession, postingsPath: String,
      fallback: Int): Int = {
    val parent = Paths.get(postingsPath).getParent
    if (parent == null) fallback
    else indexBuckets(spark, parent.toString, fallback)
  }

  private def indexBuckets(spark: SparkSession, path: String,
      fallback: Int): Int = {
    // EVERY index-rooted operation resolves its bucket count here, so
    // this is the one gate that makes a torn bucket-layout swap
    // (compaction or rebucket died mid-rename) refuse service: the
    // meta and the postings dirs may disagree on the modulus, and a
    // probe would silently read the WRONG buckets
    requireNoSwap(path)
    // only a pre-meta index takes the fallback: a present meta that
    // does not parse would otherwise send every probe to the caller's
    // modulus silently
    val p = Paths.get(path, "_graft_index_meta")
    if (!Files.exists(p)) fallback
    else {
      val txt = Files.readString(p)
      """nBuckets=(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(s"index meta $p " +
          s"records no bucket count (holds '${txt.take(64)}') — rebuild " +
          "the index or restore its meta"))
    }
  }

  /** Live names a layout swap replaces or drops; each is ASIDED to a
    * `.pre` twin inside the marker window (rename, never delete) so a
    * mid-swap death rolls back by restoring the twins — the same
    * [[GraftFs.AtomicSwap]] as IVF-PQ reorg()'s `.old` protocol. Nothing
    * ever reads a `.pre` path: probes and maintenance address these
    * names exactly, so the asides are invisible outside recovery. */
  private val SwapNames = Seq("postings", "postings_stats", "doclen",
    "corpus", "tombstones", "_graft_genfiles", "_graft_index_meta")

  /** The layout swap of the index at `path`: the compaction's staged
    * pieces move in behind `_graft_swap_inflight`. */
  private def layoutSwap(path: String) = new GraftFs.AtomicSwap(Paths.get(path),
    "_graft_swap_inflight", ".pre", SwapNames,
    Seq("postings" -> "postings.compact", "postings_stats" -> "postings.compact_stats",
      "doclen" -> "doclen.compact", "corpus" -> "corpus.compact"))

  /** Refuse while a layout swap (compaction/rebucket dir renames) is
    * in flight or died mid-way: unlike a torn GENERATION (which the
    * gen < committed predicate hides from probes for free), a torn
    * LAYOUT cannot be read around — the bucket modulus itself is in
    * doubt. Recovery is [[recoverSwap]] (rollback to the committed
    * pre-swap state from the `.pre` aside twins — never a rebuild);
    * [[compactIndex]]/[[rebucket]] run it themselves on entry. */
  private def requireNoSwap(path: String): Unit = {
    val swap = layoutSwap(path)
    if (swap.inflight)
      throw new IllegalStateException(
        s"index at $path has an interrupted layout swap (marker ${swap.marker}) — " +
          "a compaction or rebucket died mid-rename and the bucket " +
          "layout may disagree with the meta; call recoverSwap() (or " +
          "re-run compactIndex/rebucket) to roll back to the committed " +
          "pre-swap index; no rebuild needed")
  }

  /** Build a complete retrieval index under `path`:
    *   - `postings/`  — bucketed flat postings EXTENDED with the doc's
    *     token count `dl` (denormalized on purpose: within a bucket rows
    *     sort by (token, doc_id), so `dl` run-length-encodes to almost
    *     nothing, and carrying it means a BM25 probe never joins a
    *     corpus-sized doc-length table — the probe's input is exactly
    *     the query terms' posting lists); `postings_stats/` carries the
    *     per-file token min/max sidecar [[writeBuckets]] maintains;
    *   - `doclen/`    — (doc_id, dl, gen) membership rows, partitioned
    *     by `dbucket=` (doc-id hash, same bucket count) so the
    *     maintenance paths' membership probes prune to the batch's
    *     buckets (index format v2 — a pre-dbucket index is a derived
    *     artifact: rebuild it);
    *   - `corpus/`    — one row of corpus scalars (n_docs, n_tokens)
    *     PER build/append commit; the row count doubles as the index
    *     GENERATION counter;
    *   - `tombstones/` is absent until [[deleteDocs]] writes one.
    * Per-term document frequency is NOT stored: a probe derives
    * `df = count_distinct(doc_id)` from the very postings it already
    * read, which is exact by construction.
    *
    * Generations make delete + re-insert of the same doc id sound: every
    * posting row carries the generation it was written at, a tombstone
    * records the generation it was issued at, and a tombstone kills only
    * OLDER postings of its doc (`gen < tombstone.gen`) — exactly the
    * version-scoped semantics of the table layer's deletion vectors, so
    * a rewriting table commit (survivors re-emitted by the change feed
    * as delete + insert) round-trips through [[applyChanges]]. */
  def buildIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = DefaultBuckets): Unit = {
    // a rebuild over an existing path must drop the tombstone sidecar:
    // its generation stamps are relative to the OLD corpus rows, and a
    // stale higher-gen tombstone would silently kill fresh gen-0
    // postings (postings/doclen/corpus are overwritten below)
    val spark = docs.sparkSession
    // a rebuild is also the blunt recovery path: any in-flight marker
    // (torn generation OR torn layout swap) refers to state the
    // overwrite below replaces wholesale. Stale manifests describe the
    // OLD files: drop them FIRST so a crash mid-build leaves a
    // manifest-less index (repair falls back to the footer sweep
    // instead of trusting a lying base)
    Seq(Paths.get(path, "tombstones"), Paths.get(inflightDir(path)),
      layoutSwap(path).marker, Paths.get(genfilesDir(path)))
      .foreach(GraftFs.delete)
    writeMeta(path, nBuckets)
    // one tokenize pass feeds all three artifacts (postings, doclen,
    // corpus scalars) — without the cache each write re-reads and
    // re-tokenizes the full document set
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("__toks")).cache()
    try {
      val post = toks.select(col("doc_id"),
        size(col("__toks")).cast("long").as("dl"),
        posexplode(col("__toks")).as(Seq("pos", "token")))
        .select(col("token"), col("doc_id"),
          col("pos").cast("long").as("pos"), col("dl"), lit(0L).as("gen"))
      writeBuckets(post, s"$path/postings", nBuckets)
      // repartition ON the partition column first: a dynamic-partition
      // write otherwise fans EVERY input partition across every dbucket
      // dir (partitions × buckets tiny files + per-file commit cost);
      // this way each dir gets exactly one file per call
      toks.select(col("doc_id"),
        size(col("__toks")).cast("long").as("dl"), lit(0L).as("gen"),
        dbucketOf(col("doc_id"), nBuckets).as("dbucket"))
        .repartition(col("dbucket"))
        .write.mode("overwrite").partitionBy("dbucket")
        .parquet(s"$path/doclen")
      writeCorpusRow(spark,
        toks.select(size(col("__toks")).cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens")),
        s"$path/corpus", overwrite = true)
      // the build's files are committed state: snapshot them as `base`
      // so crash repair classifies by manifest, never by footer
      writeGenManifest(path, "base", listAllDataFiles(path))
    } finally toks.unpersist()
  }

  /** Corpus-scalar commit row (exactly ONE row by construction — the
    * aggregate has no grouping): evaluated with a collect (one job, the
    * aggregation itself) and written driver-direct, rename-published:
    * a death mid-write leaves no visible corpus file, exactly like a
    * death before a Spark write's job commit. */
  private def writeCorpusRow(spark: SparkSession, scalars: DataFrame,
      dest: String, overwrite: Boolean): Unit =
    writeCorpusRowRows(spark, scalars.collect(), scalars.schema,
      dest, overwrite)

  /** [[writeCorpusRow]] over pre-collected rows — the appendDocs path
    * computes the scalars EARLY (their n_tokens gates the postings
    * direct write) but must land the row LAST (the commit record). */
  private def writeCorpusRowRows(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      dest: String, overwrite: Boolean): Unit =
    DirectParquetIo.write(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      dest, rows.length, if (overwrite) "overwrite" else "append",
      singleFile = true)

  /** Current index generation = number of build/append commits (each
    * writes exactly one corpus row; single-writer contract as the
    * table layer). Planning-sized read, served from footers. */
  def generation(spark: SparkSession, path: String): Long =
    corpusFooter(spark, path).map(_._1)
      .getOrElse(spark.read.parquet(s"$path/corpus").count())

  /** `(generation, n_docs, n_tokens)` of the corpus sidecar read
    * DRIVER-side from parquet footers — no Spark job. Sound because
    * every corpus file carries exactly ONE row (each build/append
    * commit coalesce(1)-writes its single delta row), so the footer's
    * min == max == the value and row counts sum to the generation;
    * any file breaking that invariant (or missing usable stats)
    * returns None and the caller falls back to the Spark read. The
    * sidecar is O(generations) tiny files, footer-read on the shared
    * bounded pool — the same planning-IO class as the table layer's
    * manifest reads; [[compactIndex]] / [[buildIndex]] reset it to one
    * file, bounding growth by the reorg cadence. Every reader of the
    * commit record comes through here, so it refuses a torn layout swap
    * before the corpus dir — possibly asided — is read. */
  private def corpusFooter(spark: SparkSession,
      path: String): Option[(Long, Long, Long)] = {
    requireNoSwap(path)
    val files = dataFiles(Paths.get(path, "corpus"))
    if (files.isEmpty) return None
    val perFile = fanOut(files) { f =>
      val st = graft.io.FileStats.footerStats(spark,
        f.toString, f.getFileName.toString)
      val rows = st.headOption.map(_.rows).getOrElse(-1L)
      val byCol = st.map(s => s.col -> s).toMap
      (byCol.get("n_docs").flatMap(_.minL),
          byCol.get("n_tokens").flatMap(_.minL)) match {
        case (Some(d), Some(t)) if rows == 1L => Some((d, t))
        case _ => None
      }
    }
    if (perFile.exists(_.isEmpty)) return None
    val vals = perFile.flatten
    Some((vals.size.toLong, vals.map(_._1).sum, vals.map(_._2).sum))
  }

  // ---------------------------------------------------------------------
  // Commit protocol: the corpus delta row IS the commit record. A
  // mutating call that writes data files marks its generation in-flight
  // first and clears the marker only after the corpus row lands, so
  //   - readers need no marker: they drop rows of any uncommitted
  //     generation (`gen < generation()` — a pushed predicate parquet
  //     row-group stats evaluate for free, since every file carries one
  //     constant gen), and therefore always see exactly the last
  //     committed state, even over a torn index;
  //   - writers fail LOUDLY on a leftover marker instead of re-using
  //     the torn generation number (which would retroactively commit
  //     the dead call's partial files alongside their own);
  //   - [[repairIndex]] recovers in O(torn files): it deletes the
  //     files whose footer proves an uncommitted generation, then
  //     clears the markers — no rebuild, and the failed feed window
  //     simply replays.
  // ---------------------------------------------------------------------

  private def inflightDir(path: String): String = s"$path/_graft_inflight"

  private def inflightGens(path: String): Seq[Long] =
    GraftFs.list(Paths.get(inflightDir(path))).map(_.getFileName.toString)
      .collect { case s if s.startsWith("gen-") => s.drop(4).toLong }

  private def markInflight(path: String, gen: Long): Unit =
    GraftFs.publish(Paths.get(inflightDir(path), s"gen-$gen"), "")

  private def clearInflight(path: String, gen: Long): Unit =
    GraftFs.delete(Paths.get(inflightDir(path), s"gen-$gen"))

  /** Whether a dead maintenance call left the writer gate down (an
    * in-flight generation marker) — the cheap probe a basis-tracked
    * maintainer ([[IncrementalInvertedIndex]]) checks before deciding
    * to [[repairIndex]]: one dir listing, no footer reads. */
  def needsRepair(spark: SparkSession, path: String): Boolean =
    inflightGens(path).nonEmpty

  // Per-commit file manifests (`_graft_genfiles/`): `base` snapshots the
  // data files a build/compaction left (written at a provably-clean
  // point), `gen-N` lists the files commit N added — written AFTER the
  // commit's data files land and BEFORE its corpus row, so repair can
  // classify every listed data file WITHOUT opening it:
  //   committed  = base ∪ { gen-k : k < committed generation }
  //   torn       = listing − committed
  // (a file in a gen-k manifest with k ≥ g belongs to the dead call; a
  // file in NO manifest belongs to a call that died before its manifest
  // write — both correctly torn). Manifests are planning metadata the
  // probes never read; absence of `base` (a legacy index) degrades
  // repair to the footer sweep.

  private def genfilesDir(path: String): String = s"$path/_graft_genfiles"

  /** All data files of the index as manifest-relative paths
    * (`postings/bucket=…`, `doclen/dbucket=…`). */
  private def listAllDataFiles(path: String): Seq[String] =
    listBucketFiles(s"$path/postings", None).map("postings/" + _) ++
      listBucketFiles(s"$path/doclen", None, "dbucket=").map("doclen/" + _)

  /** Atomic manifest publish (temp + rename, dest replaced — single
    * writer: replace, never merge): a crash mid-write can never leave a
    * TRUNCATED manifest in place — a short `base` would make repair
    * classify committed files as torn. */
  private def writeGenManifest(path: String, name: String,
      files: Seq[String]): Unit =
    GraftFs.publish(Paths.get(genfilesDir(path), name), files.mkString("\n"))

  private def readGenManifest(p: java.nio.file.Path): Seq[String] =
    Files.readString(p).linesIterator.filter(_.nonEmpty).toList

  private def requireNoInflight(spark: SparkSession, path: String): Unit = {
    val gens = inflightGens(path)
    if (gens.nonEmpty) throw new IllegalStateException(
      s"index at $path has in-flight generation(s) ${gens.sorted.mkString(",")} " +
        "from a maintenance call that did not commit; run " +
        "InvertedIndex.repairIndex before the next mutating call " +
        "(probes stay correct meanwhile — they read committed " +
        "generations only)")
  }

  /** Recover a torn index: delete every postings / doclen file of an
    * uncommitted generation, then clear the in-flight markers.
    *
    * Classification is MANIFEST-FIRST with per-file CONFIRMATION: when
    * the index carries commit manifests (`_graft_genfiles/` — every
    * index this engine builds or appends to does), the manifests
    * narrow the CANDIDATE set to files no committed manifest names
    * (one listing pass + O(generations) tiny manifest reads), and each
    * candidate is then confirmed by the same gen proof the legacy
    * sweep uses before anything is deleted — so repair's data IO is
    * O(candidates) ≈ O(torn files), and a candidate whose proof shows
    * a COMMITTED generation is kept, not deleted: a listing anomaly or
    * a future write path that forgets its manifest degrades to an
    * unlisted-but-live file (probes read it; absent stats rows mean
    * never-skip), never to silent data loss. The confirmation ladder:
    * constant footer gen ≥ g (or a resolve read proving it) → torn,
    * delete; gen < g → committed, keep; UNREADABLE → torn, delete —
    * unique to the manifest path, because a committed file is by
    * construction a successfully closed parquet part while a dead call
    * can die mid-write (and the index is a derived artifact: the
    * maintained ≡ rebuild differentials would surface any divergence);
    * valid parquet with null/mixed gens → out-of-band actor, abort
    * LOUDLY with the markers in place. A legacy manifest-less index
    * falls back to the full footer sweep, where unreadable is also a
    * loud abort (no manifest proof exists that the file was never
    * committed) — clearing the gate around an unproven file would let
    * the next append REUSE the torn generation number and
    * retroactively commit the dead call's rows.
    *
    * Torn postings files are also dropped from the token-stats sidecar
    * (dead planning rows otherwise accumulate across crash/repair
    * cycles), stale `gen-k ≥ g` manifests and orphaned `.tmp` manifest
    * temps are deleted with their files, and a partition dir the
    * deletes EMPTIED is dropped — the dead call may have been the
    * first to touch that bucket, and a left-behind zero-file dir would
    * crash the replayed window's membership read (schema-inference
    * error on an empty parquet path). Returns the number of files
    * removed. The committed state is untouched by construction and the
    * failed feed window simply replays ([[appendDocs]]'s guard sees
    * none of its docs live). */
  def repairIndex(spark: SparkSession, path: String): Long = {
    val g = generation(spark, path)
    val gfDir = Paths.get(genfilesDir(path))
    // torn files as (family dir, relative path) pairs
    val torn: Seq[(String, String)] =
      if (Files.exists(gfDir.resolve("base"))) {
        val committed = (gfDir.resolve("base") +:
          GraftFs.list(gfDir).filter { p =>
            val n = p.getFileName.toString
            n.startsWith("gen-") && n.drop(4).toLong < g
          }).flatMap(readGenManifest).toSet
        val candidates = listAllDataFiles(path)
          .filterNot(committed).map { f =>
            val fam = f.takeWhile(_ != '/')
            (fam, f.drop(fam.length + 1))
          }
        fanOut(candidates) { case (fam, rel) =>
          if (genProvesTorn(spark, s"$path/$fam", rel, g,
              unreadableIsTorn = true)) Some((fam, rel)) else None
        }.flatten
      } else footerSweepTorn(spark, path, g)
    var removed = 0L
    for ((fam, rels) <- torn.groupBy(_._1)) {
      val dir = Paths.get(path, fam)
      // each data file goes with its checksum twin
      rels.foreach { case (_, rel) =>
        if (GraftFs.delete(dir.resolve(rel))) removed += 1
      }
      // a torn file can be its partition dir's ONLY file (the dead call
      // appended into a bucket no prior commit had touched) — an empty
      // `bucket=`/`dbucket=` dir left behind would crash the replayed
      // window's membership read (zero-file parquet path ⇒
      // schema-inference error), so drop dirs the deletes emptied
      rels.map { case (_, rel) => rel.takeWhile(_ != '/') }
        .distinct.foreach { d =>
          // checksum remnants (`.<name>.crc`) do not keep a dir alive
          val dp = dir.resolve(d)
          if (Files.exists(dp) && GraftFs.list(dp).forall { f =>
              val n = f.getFileName.toString
              n.startsWith(".") && n.endsWith(".crc")
            }) GraftFs.delete(dp)
        }
    }
    dropStatsRows(spark, statsPathOf(s"$path/postings"),
      torn.collect { case ("postings", rel) => rel }.toSet)
    // stale manifests of the torn generation(s) go with their files —
    // the gen number will be re-attempted and must not inherit a dead
    // call's file list. Orphaned hidden `.tmp` temps (a crash inside
    // writeGenManifest, before its rename) are swept too: readers
    // never match them, but each crash would otherwise add one forever
    GraftFs.list(gfDir).filter { p =>
      val n = p.getFileName.toString
      (n.startsWith("gen-") && n.drop(4).toLong >= g) ||
        (n.startsWith(".") && n.contains(".tmp"))
    }.foreach(GraftFs.delete)
    GraftFs.delete(Paths.get(inflightDir(path)))
    removed
  }

  /** The legacy torn-file classification (a manifest-less index): the
    * gen proof over EVERY data file — see [[repairIndex]]. Returns
    * (family, relative path) pairs. */
  private def footerSweepTorn(spark: SparkSession, path: String,
      g: Long): Seq[(String, String)] =
    Seq(("postings", "bucket="), ("doclen", "dbucket=")).flatMap {
      case (fam, prefix) =>
        val dir = s"$path/$fam"
        val files = listBucketFiles(dir, None, prefix)
        fanOut(files) { rel =>
          if (genProvesTorn(spark, dir, rel, g, unreadableIsTorn = false))
            Some((fam, rel))
          else None
        }.flatten
    }

  /** The per-file gen proof both classification paths share: footer
    * `gen` min == max decides against the committed count `g`; a file
    * without usable footer stats is resolved by reading its gen column
    * (one tiny per-file job — this engine's writers always produce
    * footer stats, so the path only fires on anomalies). Valid parquet
    * with null or mixed generations — which no single maintenance call
    * can write — always aborts LOUDLY with the markers in place. An
    * UNREADABLE file is torn only when the caller brings outside proof
    * it was never committed (`unreadableIsTorn`: the manifest path's
    * candidates — a committed file is a successfully closed parquet
    * part); the legacy sweep has no such proof and propagates the read
    * failure instead. */
  private def genProvesTorn(spark: SparkSession, dir: String, rel: String,
      g: Long, unreadableIsTorn: Boolean): Boolean =
    try {
      val st = graft.io.FileStats.footerStats(spark, s"$dir/$rel", rel)
        .filter(_.col == "gen")
      st.headOption.flatMap(s => (s.minL, s.maxL) match {
        case (Some(lo), Some(hi)) if lo == hi => Some(lo >= g)
        case _ => None
      }).getOrElse {
        // no usable footer proof — resolve from the data itself
        val r = spark.read.parquet(s"$dir/$rel")
          .agg(count(lit(1)), min(col("gen")), max(col("gen"))).head()
        if (r.getLong(0) == 0L) true // carries no rows: safe to drop
        else if (r.isNullAt(1) || r.isNullAt(2))
          throw new IllegalStateException(
            s"$dir/$rel has rows with a null generation — no " +
              "maintenance call writes that; refusing to repair " +
              "(in-flight markers left in place)")
        else if (r.getLong(1) == r.getLong(2)) r.getLong(1) >= g
        else throw new IllegalStateException(
          s"$dir/$rel spans generations ${r.getLong(1)}..${r.getLong(2)}" +
            " — no single maintenance call writes that; refusing to" +
            " repair (in-flight markers left in place)")
      }
    } catch {
      // read failures only — the loud IllegalStateException refusals
      // above must propagate on BOTH paths
      case e: IllegalStateException => throw e
      case scala.util.control.NonFatal(_) if unreadableIsTorn => true
    }

  /** Rewrite a FileStats sidecar without the rows of `dead` files —
    * temp-write + rename, the same swap discipline as [[compactIndex]].
    * A crash between delete and rename degrades to "no sidecar", which
    * the planning path already treats as never-skip (and a rerun of
    * [[repairIndex]] is a no-op on it). */
  private def dropStatsRows(spark: SparkSession, sp: String,
      dead: Set[String]): Unit = {
    val p = Paths.get(sp)
    if (dead.isEmpty || !Files.exists(p)) return
    val tmp = Paths.get(sp + ".repair")
    // a driver-read sidecar stays a LocalRelation through the filter, so
    // the rewrite goes driver-direct; an oversized one stays distributed
    val kept = DirectParquetIo.read(spark, Seq(java.nio.file.Paths.get(sp)),
        Cutovers.SidecarLocalBytes)
      .getOrElse(spark.read.schema(graft.io.FileStats.schema).parquet(sp))
      .where(!col("file").isin(dead.toSeq: _*))
    DirectParquetIo.write(kept, tmp.toString, -1L, "overwrite", singleFile = true)
    GraftFs.delete(p)
    GraftFs.move(tmp, p)
  }

  /** Append new documents to an index built by [[buildIndex]]: their
    * postings land as new files in the token buckets they hash to (no
    * existing file is touched) and the corpus scalars gain a delta row
    * ([[corpusStats]] sums the rows at probe time). O(new docs) plus
    * one narrow (doc_id) sidecar scan for the replay guard below.
    *
    * REPLAY-SAFE, mirroring [[deleteDocs]]: the batch is anti-joined
    * against live doclen membership, so re-appending an already-live
    * doc id (a crash-replayed change-feed window) is a no-op instead
    * of silently doubling its tf and the corpus scalars. A TOMBSTONED
    * id is not live, so the delete + re-insert round-trip still lands
    * its fresh postings. Membership is corpus-keyed and therefore
    * never broadcast — and because the doclen sidecar is partitioned
    * by doc-id hash, the guard scans only the BATCH's buckets
    * (membership outside them cannot hash-collide with a batch id):
    * O(batch's buckets) per maintenance call, not O(corpus
    * doc-count); probes never pay it.
    *
    * The guard covers WHOLE-WINDOW replays (feed consumer crashed after
    * this call committed). A crash INSIDE the call, between its three
    * sidecar writes, leaves a TORN generation — the commit protocol
    * (see the section header above [[repairIndex]]) makes that state
    * harmless: the corpus delta row is written LAST and is the commit
    * record, probes drop rows of any uncommitted generation, the next
    * mutating call refuses loudly on the in-flight marker, and
    * [[repairIndex]] removes the torn files so the failed window can
    * simply replay — no rebuild. */
  def appendDocs(docs: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = DefaultBuckets): Unit = {
    val spark = docs.sparkSession
    requireNoInflight(spark, path)
    val nb = indexBuckets(spark, path, nBuckets)
    val gen = generation(spark, path)
    // pin the batch: the dbucket set, the replay guard and the writes
    // must all see the SAME rows — a non-deterministic source whose
    // second evaluation carried an id hashing outside the computed
    // bucket set would break the pruning soundness below. The id is
    // dtype-aligned FIRST (see alignIdType) so the xxhash64 dbucket
    // pruning cannot silently miss live membership.
    val (batch, batchRdd, _) = pin(alignIdType(docs, idCol, path))
    try {
      // the batch's dbucket set (≤ nb values — planning-sized, hashed
      // through the engine so it can never drift from the write path)
      // prunes every membership scan this call performs
      val batchBuckets = distinctLongs(
        batch.select(dbucketOf(col(idCol), nb)))
      // pin the guard's survivors too: every downstream pass (postings,
      // doclen, corpus delta) reads THIS materialization, so the
      // anti-join runs once and a cache miss can never re-evaluate it
      // against the sidecar a later statement appended to (the
      // self-anti-join hazard that previously forced a disk read-back
      // for the corpus delta)
      val (fresh, freshRdd, nFresh) = pin(batch.join(
        liveDocLens(spark, path, Some(batchBuckets), Some(gen))
          .select(col("doc_id").as("__live_id")),
        col(idCol) === col("__live_id"), "left_anti")
        .select(col(idCol).as("doc_id"),
          TextFunctions.tokens(col(textCol)).as("__toks")))
      try {
        // a fully-replayed batch appends nothing — and must not bump
        // the generation with an empty corpus delta row
        if (nFresh == 0) return
        // legacy index (built before commit manifests): snapshot the
        // committed state as `base` NOW — the writer gate is up and no
        // marker exists, so the current listing is exactly the
        // committed files. One full listing, once per index.
        if (!Files.exists(Paths.get(genfilesDir(path), "base")))
          writeGenManifest(path, "base",
            listAllDataFiles(path))
        // commit protocol: marker BEFORE the first data write, cleared
        // only after the corpus row (the commit record) lands — never
        // in a finally, because a failure here must LEAVE the marker
        // for the writer gate + repairIndex to find
        markInflight(path, gen)
        val dlBefore = listBucketFiles(s"$path/doclen",
          Some(batchBuckets), "dbucket=").toSet
        // the window's corpus delta computes FIRST (one cheap job over
        // the pinned survivors): its n_tokens is the EXACT postings
        // row count — the OBSERVED gate for the postings direct write
        // below. The ROW still lands LAST (it is the commit record).
        val corpusScalars = fresh
          .select(size(col("__toks")).cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))
        val corpusRows = corpusScalars.collect()
        val nTokens =
          if (corpusRows.isEmpty || corpusRows(0).isNullAt(1)) 0L
          else corpusRows(0).getLong(1)
        val post = fresh.select(col("doc_id"),
          size(col("__toks")).cast("long").as("dl"),
          posexplode(col("__toks")).as(Seq("pos", "token")))
          .select(col("token"), col("doc_id"),
            col("pos").cast("long").as("pos"), col("dl"), lit(gen).as("gen"))
        val postFresh = writeBuckets(post, s"$path/postings", nb,
          mode = "append", rowsHint = nTokens)
        val dlRows = fresh.select(col("doc_id"),
          size(col("__toks")).cast("long").as("dl"), lit(gen).as("gen"),
          dbucketOf(col("doc_id"), nb).as("dbucket"))
        // nFresh is the OBSERVED pinned-batch survivor count: a
        // trickle window's doclen delta writes driver-direct, one file
        // per touched dbucket= dir (collect replaces the repartition
        // exchange + dynamic-partition committer). Torn-state contract
        // unchanged: these rows carry `gen`, which only commits via the
        // corpus row, so a death mid-write is the same torn generation
        // a death mid-distributed-write leaves. The distributed side
        // repartitions on dbucket: one file per touched dir (see build).
        DirectParquetIo.write(dlRows, s"$path/doclen", nFresh, "append",
          partitionBy = Seq("dbucket"))
        val dlFresh = listBucketFiles(s"$path/doclen",
          Some(batchBuckets), "dbucket=").filterNot(dlBefore)
        // this commit's file manifest lands AFTER its data files and
        // BEFORE the corpus row: if the corpus row commits, the
        // manifest is already durable; if it doesn't, gen >= committed
        // marks the manifest's files torn. Listings are pruned to the
        // batch's dbuckets (the postings delta rides the stats pass).
        writeGenManifest(path, s"gen-$gen",
          postFresh.map("postings/" + _) ++ dlFresh.map("doclen/" + _))
        writeCorpusRowRows(spark, corpusRows, corpusScalars.schema,
          s"$path/corpus", overwrite = false)
        clearInflight(path, gen)
      } finally freshRdd.unpersist()
    } finally batchRdd.unpersist()
  }

  /** Remove documents from the index WITHOUT rewriting any bucket: the
    * doc ids land in a tombstone sidecar (with their token counts, so
    * the corpus scalars adjust exactly) that probes anti-join — the
    * inverted-index mirror of the table layer's deletion vectors.
    * A KEY-ONLY operation: only `idCol` is read. Only doc ids
    * CURRENTLY LIVE in the index tombstone (the request semi-joins the
    * doclen sidecar): a change feed may report deletes for row
    * versions the index never saw (a file added and rewritten inside
    * one feed window), and a replayed delete batch must not
    * double-subtract — filtering against membership makes both no-ops,
    * with the subtracted `dl` taken from the INDEXED content.
    * The tombstone is stamped with the current generation and
    * kills only older postings of its doc, so a subsequent
    * [[appendDocs]] re-insert is live. Cost: a doclen scan pruned to
    * the BATCH's dbuckets per maintenance call — probes never pay it.
    * The delete batch is broadcast (trickle-sized by contract); a
    * corpus with heavy churn should periodically [[buildIndex]]
    * fresh. */
  def deleteDocs(docs: DataFrame, idCol: String, path: String,
      nBuckets: Int = DefaultBuckets): Unit = {
    val spark = docs.sparkSession
    // the tombstone write itself is a single-file append (atomic at
    // job commit), but the generation stamp must not race a torn
    // append's number — same writer gate as appendDocs
    requireNoInflight(spark, path)
    val nb = indexBuckets(spark, path, nBuckets)
    val gen = generation(spark, path)
    // pinned for the same reason as appendDocs: the bucket set and the
    // victim lookup must agree on the batch's ids — dtype-aligned so
    // the dbucket pruning cannot miss live victims (alignIdType)
    val (batch, batchRdd, nBatch) =
      pin(alignIdType(docs.select(col(idCol)), idCol, path)
        .select(col(idCol).as("doc_id")).distinct())
    try {
      val batchBuckets = distinctLongs(
        batch.select(dbucketOf(col("doc_id"), nb)))
      val victims = liveDocLens(spark, path, Some(batchBuckets), Some(gen))
        .join(broadcast(batch), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("dl"), lit(gen).as("gen"))
      // victims ≤ the OBSERVED pinned batch count (semi-join), so a
      // trickle delete writes its tombstone file driver-direct (one
      // collect job — the victim lookup itself — instead of a write
      // job + committer round trip); rename-published, so the
      // single-file-append atomicity the contract cites is kept
      DirectParquetIo.write(victims, s"$path/tombstones", nBatch, "append",
        singleFile = true)
    } finally batchRdd.unpersist()
  }

  /** The live (doc_id, dl, gen) membership rows: doclen sidecar minus
    * generation-scoped tombstones, COMMITTED generations only (a torn
    * append's doclen rows must not fool the replay guard into
    * treating its docs as live — the retried window has to re-land
    * them). `buckets` prunes the scan to the named `dbucket=`
    * partitions — sound for any membership probe whose keys all hash
    * into them. */
  private[graft] def liveDocLens(spark: SparkSession, path: String,
      buckets: Option[Seq[Long]] = None,
      committedGen: Option[Long] = None): DataFrame = {
    // committedGen lets a caller that already resolved the committed
    // generation (every maintenance call does, for its own stamp) skip
    // a second corpus-footer read — a listing plus O(generations)
    // footer round-trips per call on an object store
    val committed = committedGen.getOrElse(generation(spark, path))
    val dls = buckets match {
      case Some(bs) =>
        // read ONLY the named dbucket dirs: passing the full tree and
        // filtering would still LIST every partition dir (a
        // distributed-listing job once the dir count crosses the
        // parallel-discovery threshold) — a trickle batch should list
        // only its own buckets. ONE parent listing finds which dirs
        // exist (64 per-dir existence probes would cost 64 driver
        // round-trips on an object store). basePath keeps the dbucket
        // column.
        val present = GraftFs.list(Paths.get(path, "doclen"))
          .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
        val existing = bs.filter(b => present(s"dbucket=$b"))
          .map(b => s"$path/doclen/dbucket=$b")
        if (existing.isEmpty)
          spark.read.parquet(s"$path/doclen")
            .where(col("dbucket").isin(bs: _*))
        else spark.read.option("basePath", s"$path/doclen")
          .parquet(existing: _*)
          .where(col("dbucket").isin(bs: _*))
      case None => spark.read.parquet(s"$path/doclen")
    }
    killTombstoned(tombstones(spark, path), dls.where(col("gen") < lit(committed)))
  }

  /** The tombstone sidecar as read once: its (doc_id, dl, gen) frame
    * and, when it was read driver-side, its rows. */
  private final case class Tombstones(frame: DataFrame,
      rows: Option[Array[org.apache.spark.sql.Row]])

  /** The tombstone sidecar, None when there is none. A sidecar passing
    * [[Cutovers.SidecarLocalBytes]] (small by contract between
    * compactions) loads as a LocalRelation, so every consumer's
    * broadcast anti-join builds driver-side instead of paying a scan job
    * + a broadcast-build job per maintenance/probe call; a larger one
    * stays the distributed scan. */
  private def tombstones(spark: SparkSession, path: String): Option[Tombstones] = {
    val p = Paths.get(path, "tombstones")
    if (!Files.exists(p)) None
    else Some(DirectParquetIo.read(spark, Seq(p), Cutovers.SidecarLocalBytes) match {
      case Some(local) => Tombstones(local, Some(local.collect()))
      case None => Tombstones(spark.read.parquet(p.toString), None)
    })
  }

  /** Apply the generation-scoped tombstone kill to `df` (which must
    * carry doc_id and gen): a row-local literal predicate when the set
    * is tiny — map doc_id → max tombstone gen; no join node, no
    * broadcast build job (even a LocalTableScan broadcast child submits
    * a collect job), nothing for AQE to materialize — else the
    * broadcast anti-join. Strictly equivalent: a row is dead iff
    * gen < SOME tombstone gen of its doc ⟺ gen < max(tombstone gens);
    * try_element_at yields null for an untombstoned doc and coalesce
    * keeps the row. */
  private def killTombstoned(ts: Option[Tombstones],
      df: DataFrame): DataFrame =
    ts match {
      case None => df
      case Some(Tombstones(frame, Some(rows)))
          if rows.length <= Cutovers.LiteralPredicateMaxEntries =>
        val maxGen: Map[Any, Long] = rows.groupBy(_.getAs[Any]("doc_id")).view
          .mapValues(_.map(_.getAs[Long]("gen")).max).toMap
        val mLit = org.apache.spark.sql.graft.ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            maxGen, org.apache.spark.sql.types.MapType(
              frame.schema("doc_id").dataType,
              org.apache.spark.sql.types.LongType,
              valueContainsNull = false)))
        df.filter(!coalesce(
          col("gen") < try_element_at(mLit, col("doc_id")), lit(false)))
      case Some(Tombstones(frame, _)) =>
        df.join(
          broadcast(frame.select(col("doc_id").as("__td"),
            col("gen").as("__tg"))),
          col("doc_id") === col("__td") && col("gen") < col("__tg"),
          "left_anti")
    }

  /** Maintain the index from a managed document table's change feed
    * (the t16 lifecycle driven by the lakehouse layer, mirroring the
    * ANN index's v16 path): inserts append postings, deletes tombstone —
    * O(changed docs), no bucket rewritten. `changes` is
    * `ManagedParquetTable.changesSince` output (`_change_type`
    * insert/delete) over a table carrying (idCol, textCol). */
  def applyChanges(changes: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = DefaultBuckets): Unit = {
    val ins = changes.where(col("_change_type") === "insert")
      .select(col(idCol), col(textCol))
    val del = changes.where(col("_change_type") === "delete")
      .select(col(idCol), col(textCol))
    // ONE aggregate answers both emptiness probes (each isEmpty re-ran
    // the change-feed subtree, broadcast builds included)
    val counts = changes.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // deletes FIRST: the tombstones stamp the pre-append generation, so
    // the appends (same doc id or not) stay live — a rewriting table
    // commit's survivor rows (delete + insert pairs) round-trip
    if (counts.getOrElse("delete", 0L) > 0) deleteDocs(del, idCol, path, nBuckets)
    if (counts.getOrElse("insert", 0L) > 0) appendDocs(ins, textCol, idCol, path, nBuckets)
  }

  /** REORG the index: rewrite every bucket to its LIVE postings
    * (generation-scoped tombstones applied), consolidate the per-commit
    * append files each bucket accumulated, fold the corpus delta rows
    * to one, reset generations to 0 and drop the tombstone sidecar —
    * the index-side `compactDeletes`. One full postings scan; run it
    * when tombstones or append-file counts cross an operational
    * threshold so PROBE cost stays flat across the index's life. The
    * swap is directory-level behind `_graft_swap_inflight` (probes and
    * maintenance refuse a torn layout via [[indexBuckets]]); a crash
    * mid-swap is CRASH-RECOVERABLE — see [[recoverSwap]] and the
    * protocol note on [[compactCore]]; never a rebuild. */
  def compactIndex(spark: SparkSession, path: String,
      nBuckets: Int = DefaultBuckets): Unit =
    // the bucket count resolves INSIDE compactCore, after its
    // recoverSwap-on-entry step: resolving it here would hit
    // requireNoSwap on a leftover marker and make compactIndex unable
    // to recover the very tear it promises to roll back
    compactCore(spark, path, nBuckets, None)

  /** REBUCKET the index to `newBuckets` — the layout reorg a corpus
    * that outgrew its build-time bucket count needs: nBuckets freezes
    * at [[buildIndex]] (placement depends on the modulus), so a corpus
    * that grows 100× turns each bucket into a monster probe scan;
    * conversely a corpus that shrank pays per-bucket listing overhead
    * for nothing. This is [[compactIndex]] (same one-pass rewrite,
    * same tombstone fold, same generation reset, same swap-marker
    * commit protocol) writing the live postings and doclens under the
    * NEW modulus and republishing the meta with it — maintenance and
    * probes resolve the new count from the meta on their next call
    * (their `nBuckets` parameter is only a pre-meta fallback). Cost is
    * one full postings scan — the same class as compaction, scheduled
    * at the same operational cadence; probes serve the OLD layout
    * until the swap and refuse during it (the rename window), never a
    * mix. Crash contract: a death inside the rename window rolls back
    * via [[recoverSwap]] — the pre-swap index returns to service
    * exactly as committed; never a rebuild. */
  def rebucket(spark: SparkSession, path: String, newBuckets: Int,
      oldBuckets: Int = DefaultBuckets): Unit = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    // `oldBuckets` matters only for a PRE-META index: the legacy pin
    // must record the modulus the existing layout was actually built
    // with (a rollback restores THAT layout), and a meta-less index
    // can't tell us — a caller who rebuckets one built with a
    // non-default count must say so here. Indexes with a meta (all
    // post-v2 builds) ignore it.
    compactCore(spark, path, oldBuckets, Some(newBuckets))
  }

  /** Thresholds for [[maintenancePlan]]. Defaults size for a large
    * deployment; tests (and small corpora) pass tighter bounds.
    *   - `maxFilesPerBucket`: probe fan-in bound — every appended
    *     window adds ≤1 file per touched bucket, so this is the
    *     compaction cadence expressed as a measurable instead of a
    *     fixed schedule.
    *   - `maxTombstonePermille`: dead-weight bound — tombstoned docs
    *     still sit in the postings files every probe reads.
    *   - `minDocsPerBucket`/`maxDocsPerBucket`: the band outside which
    *     the build-time modulus no longer fits the corpus (monster
    *     probe scans above, per-bucket listing overhead below);
    *     `targetDocsPerBucket` sizes the suggested new modulus. */
  final case class IndexMaintenancePolicy(
      maxFilesPerBucket: Int = 8,
      maxTombstonePermille: Long = 200L,
      minDocsPerBucket: Long = 256L,
      maxDocsPerBucket: Long = 1L << 20,
      targetDocsPerBucket: Long = 1L << 18)

  /** Telemetry-driven maintenance recommendations for the index at
    * `path` — one [[graft.io.MaintenanceAction]] per policy threshold
    * crossed, empty when the index needs nothing. All signals come
    * from the index's own sidecars (marker files, bucket listings,
    * the corpus footer, the tombstone sidecar): no postings scan, so
    * a scheduler can poll this per ingest window. Recovery preempts:
    * a torn swap (or torn generations) is returned as the ONLY row —
    * sizing signals over a layout in doubt would be garbage, and no
    * reorg can run until recovery anyway. The lifecycle differential
    * drives its reorgs FROM this plan (IndexLifecycleSpec), so the
    * policy is load-bearing, not advisory prose. */
  def maintenancePlan(spark: SparkSession, path: String,
      nBuckets: Int = DefaultBuckets,
      policy: IndexMaintenancePolicy = IndexMaintenancePolicy()):
      Seq[graft.io.MaintenanceAction] = {
    import graft.io.MaintenanceAction
    if (layoutSwap(path).inflight)
      return Seq(MaintenanceAction("recoverSwap", "swap_marker", 1L, 0L,
        0L, "interrupted layout swap: roll back to the committed " +
          "pre-swap index (compactIndex/rebucket also recover on entry)"))
    val gens = inflightGens(path)
    if (gens.nonEmpty)
      return Seq(MaintenanceAction("repairIndex", "inflight_generations",
        gens.size.toLong, 0L, 0L,
        s"uncommitted generation(s) ${gens.sorted.mkString(",")} gate " +
          "every mutating call; probes stay correct meanwhile"))
    val out = Seq.newBuilder[MaintenanceAction]
    val nb = indexBuckets(spark, path, nBuckets)
    val files = listBucketFiles(s"$path/postings", None)
    val maxPb =
      if (files.isEmpty) 0
      else files.groupBy(_.split("/")(0)).valuesIterator.map(_.size).max
    if (maxPb >= policy.maxFilesPerBucket)
      out += MaintenanceAction("compactIndex", "files_per_bucket_max",
        maxPb.toLong, policy.maxFilesPerBucket.toLong, 0L,
        "append windows accumulated per-commit files; probes open " +
          "every file of a probed bucket")
    val liveDocs = corpusStats(spark, path).collect()(0).getLong(0)
    val nTomb = tombstones(spark, path).map(_.frame.count()).getOrElse(0L)
    if (nTomb > 0) {
      val perm = 1000L * nTomb / (liveDocs + nTomb)
      if (perm >= policy.maxTombstonePermille)
        out += MaintenanceAction("compactIndex", "tombstone_permille",
          perm, policy.maxTombstonePermille, 0L,
          s"$nTomb tombstoned docs still sit in the postings every " +
            "probe reads; compaction folds them out")
    }
    val dpb = if (nb <= 0) 0L else liveDocs / nb
    val tooBig = dpb > policy.maxDocsPerBucket
    val tooSmall = nb > 1 && dpb < policy.minDocsPerBucket
    if (tooBig || tooSmall) {
      val suggested = math.max(1L,
        (liveDocs + policy.targetDocsPerBucket - 1) /
          policy.targetDocsPerBucket)
      if (suggested != nb)
        out += MaintenanceAction("rebucket", "docs_per_bucket", dpb,
          if (tooBig) policy.maxDocsPerBucket else policy.minDocsPerBucket,
          suggested,
          s"modulus $nb no longer fits $liveDocs live docs; rebucket " +
            s"to $suggested (subsumes compaction — same one-pass rewrite)")
    }
    out.result()
  }

  /** True when a leftover swap marker gates the index — the O(1)
    * probe a per-batch policy loop affords (the full
    * [[maintenancePlan]] pays listings + the corpus-scalar read). */
  def needsSwapRecovery(spark: SparkSession, path: String): Boolean =
    layoutSwap(path).inflight

  /** Roll back an interrupted layout swap (compaction/rebucket died
    * inside the marker window): every live piece whose `.pre` aside
    * twin exists is restored from it (the staged piece that may have
    * moved in is discarded), remaining staging is dropped, and the
    * marker clears — the index serves the committed pre-swap state
    * exactly, and the compaction/rebucket can simply re-run.
    * [[compactIndex]]/[[rebucket]] call this themselves on a leftover
    * marker, so explicit recovery is only needed to restore PROBE
    * service without re-running the reorg. */
  def recoverSwap(spark: SparkSession, path: String): Unit =
    layoutSwap(path).rollback()

  private def compactCore(spark: SparkSession, path: String,
      fallback: Int, target: Option[Int]): Unit = {
    val swap = layoutSwap(path)
    // a leftover marker from a mid-swap death rolls back FIRST: the
    // committed pre-swap index returns to service and this run
    // re-stages from scratch (same contract as IvfPqIndex.reorg)
    if (swap.inflight) swap.rollback()
    // the PRE-swap modulus resolves only after any rollback (the meta
    // it reads must be the committed one, and requireNoSwap inside
    // indexBuckets would refuse a torn layout); it is both the legacy
    // pin value and, for compaction, the rewrite target
    val preNb = indexBuckets(spark, path, fallback)
    val nb = target.getOrElse(preNb)
    requireNoInflight(spark, path)
    val committed = generation(spark, path) // one footer read for both passes
    val livePost =
      // committed generations only — same contract as probes: torn
      // rows must never be folded into the compacted (gen-0) state
      killTombstoned(tombstones(spark, path),
        spark.read.parquet(s"$path/postings")
          .where(col("gen") < lit(committed)))
        .select(col("token"), col("doc_id"), col("pos"), col("dl"),
          lit(0L).as("gen"))
    writeBuckets(livePost, s"$path/postings.compact", nb)
    liveDocLens(spark, path, None, Some(committed))
      .select(col("doc_id"), col("dl"), lit(0L).as("gen"),
        dbucketOf(col("doc_id"), nb).as("dbucket"))
      .repartition(col("dbucket")) // one file per dir (see buildIndex)
      .write.mode("overwrite").partitionBy("dbucket")
      .parquet(s"$path/doclen.compact")
    writeCorpusRow(spark,
      spark.read.parquet(s"$path/doclen.compact")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens")),
      s"$path/corpus.compact", overwrite = true)
    // a pre-meta (legacy) index gets its meta PINNED before the swap:
    // a rollback must restore a layout whose modulus is readable, and
    // the pin must record the modulus the EXISTING layout was built
    // with (the caller-resolved pre-swap count) — pinning the target
    // or a blind default would, after a mid-swap crash + rollback,
    // publish a meta disagreeing with the restored buckets and send
    // every probe to the wrong modulus silently
    if (!Files.exists(Paths.get(path, "_graft_index_meta")))
      writeMeta(path, preNb)
    // the marker brackets ONLY the renames + the meta/manifest
    // republish (all the expensive staging ran above, into paths the
    // live index never reads): a death inside leaves a layout whose
    // modulus is in doubt, requireNoSwap (via indexBuckets) makes every
    // probe and maintenance call refuse it, and recoverSwap rolls it
    // back. Stale `.pre` asides of a completed swap go first. The
    // per-commit manifests and tombstones aside too: they describe the
    // PRE-swap files, which is exactly the state a rollback restores;
    // on commit they are dropped with the other asides (the compacted
    // state has its tombstones folded and gets a fresh base manifest).
    swap.run {
      // the meta must agree with the swapped-in layout before the gate
      // lifts — this is what makes rebucket atomic from a prober's view
      writeMeta(path, nb)
      // the fresh base manifest is written INSIDE the marker window
      // too: a crash between the commit point and a post-commit
      // manifest write would leave the index with no _graft_genfiles
      // at all (the old ones are asided) and degrade the next repair to
      // the full footer sweep; in-window is safe because a rollback
      // restores _graft_genfiles from its .pre twin over what we wrote
      writeGenManifest(path, "base", listAllDataFiles(path))
    }
  }

  /** Live corpus scalars `(n_docs, n_tokens)`: build/append delta rows
    * minus tombstoned docs — one-row frames only, because [[deleteDocs]]
    * guarantees every tombstone subtracts an actually-indexed doc
    * exactly once (with its indexed dl). A one-row frame for
    * broadcasting. */
  def corpusStats(spark: SparkSession, path: String): DataFrame =
    corpusStatsFrom(spark, path, corpusFooter(spark, path), tombstones(spark, path))

  /** [[corpusStats]] core taking the caller's already-resolved corpus
    * footer and tombstones, so one read of each can serve both the
    * committed-generation gate and the scalars of a single probe. */
  private def corpusStatsFrom(spark: SparkSession, path: String,
      footer: Option[(Long, Long, Long)], ts: Option[Tombstones]): DataFrame = {
    // footer fast path: the sums come off the driver-side footer read
    // (one row per file ⇒ min == max == value), so a probe spends no
    // scan job on a two-scalar frame
    val base = footer match {
      case Some((_, n, t)) =>
        spark.range(1).select(lit(n).as("__n"), lit(t).as("__t"))
      case None => spark.read.parquet(s"$path/corpus")
        .agg(sum(col("n_docs")).as("__n"), sum(col("n_tokens")).as("__t"))
    }
    ts match {
      case None => base
      case Some(t) =>
        val dead = t.frame.agg(count(lit(1)).as("__dn"), sum(col("dl")).as("__dt"))
        base.crossJoin(dead).select(
          (col("__n") - col("__dn")).as("__n"),
          (col("__t") - coalesce(col("__dt"), lit(0L))).as("__t"))
    }
  }

  /** Live corpus scalars (n_docs, n_tokens) resolved fully DRIVER-side
    * when both the corpus footer and a size-gated local tombstone read
    * are available — lets a probe inline them as literal columns
    * instead of cross-joining a broadcast one-row frame (whose build
    * is a Spark job per probe). Same arithmetic as
    * [[corpusStatsFrom]]. */
  private def corpusScalarsLocal(footer: Option[(Long, Long, Long)],
      ts: Option[Tombstones]): Option[(Long, Long)] =
    footer.flatMap { case (_, n, t) =>
      ts match {
        case None => Some((n, t))
        case Some(Tombstones(_, rows)) => rows.map { rs =>
          val dl = rs.flatMap(r => Option(r.getAs[java.lang.Long]("dl")))
          (n - rs.length, t - dl.map(_.longValue).sum)
        }
      }
    }

  /** Query-term postings from a persisted index: bucket-pruned,
    * file-skipped inside the buckets via the token min/max sidecar,
    * token filter pushed to parquet, tombstoned docs anti-joined out
    * (broadcast — tombstone lists are probe-small by contract).
    * COMMITTED generations only: a torn maintenance call's rows are
    * dropped by a pushed `gen <` predicate that parquet row-group
    * stats resolve per file for free (each file carries one constant
    * gen), so probes over a torn index read exactly the last
    * committed state. */
  def openIndex(spark: SparkSession, path: String, tokens: Seq[String],
      nBuckets: Int = DefaultBuckets): DataFrame = {
    val committed = generation(spark, path)
    val ts = tombstones(spark, path)
    require(tokens.nonEmpty, "empty token list")
    livePostings(prunedPostings(spark, s"$path/postings", tokens,
      indexBuckets(spark, path, nBuckets)), committed, ts)
  }

  /** The committed, untombstoned rows of a postings scan `post`, as
    * `(token, doc_id, pos, dl)`: the caller resolved the committed
    * generation and the tombstones once ([[bm25TopKIndexed]] shares ONE
    * corpus-footer read and ONE tombstone read between this gate and
    * the corpus scalars per probe). */
  private def livePostings(post: DataFrame, committed: Long,
      ts: Option[Tombstones]): DataFrame =
    // generation-scoped: a tombstone kills only OLDER postings of its
    // doc — literal predicate when tiny, broadcast anti-join otherwise
    killTombstoned(ts, post.where(col("gen") < lit(committed))
      .select(col("token"), col("doc_id"), col("pos"), col("dl"), col("gen")))
      .drop("gen")

  /** BM25 top-k served ENTIRELY from the persisted index: reads the
    * query terms' buckets and the one-row corpus sidecar, nothing else —
    * probe cost is O(query-term postings) regardless of corpus size.
    * Bit-identical to [[bm25TopK]] over the same live documents (same
    * integer-exact scoring; df derived from the probed postings). A
    * probe whose kept postings files pass [[Cutovers.ProbeLocalBytes]]
    * is scored on the driver and runs no Spark job. */
  def bm25TopKIndexed(spark: SparkSession, path: String, query: String,
      k: Int, nBuckets: Int = DefaultBuckets): DataFrame =
    bm25TopKIndexedAt(spark, path, query, k, nBuckets, Cutovers.ProbeLocalBytes)

  /** [[bm25TopKIndexed]] with its probe gate as a parameter, so one
    * index can be probed on both sides. The local side ([[bm25Local]])
    * needs the corpus scalars on the driver (the corpus footer, and no
    * tombstones or tombstones read driver-side) and a non-empty file
    * plan of at most `localBytes`; otherwise the distributed plan. */
  private[graft] def bm25TopKIndexedAt(spark: SparkSession, path: String,
      query: String, k: Int, nBuckets: Int, localBytes: Long): DataFrame = {
    val terms = queryTokens(query).distinct
    require(terms.nonEmpty, "empty query")
    // ONE corpus-footer read serves both the committed-generation gate
    // and the corpus scalars — each is a listing plus O(generations)
    // footer round-trips, per-probe planning IO not worth paying twice
    val footer = corpusFooter(spark, path)
    val committed = footer.map(_._1).getOrElse(
      spark.read.parquet(s"$path/corpus").count())
    val ts = tombstones(spark, path)
    val postPath = s"$path/postings"
    val buckets = bucketsFor(spark, terms, indexBuckets(spark, path, nBuckets))
    val (kept, total) = planFiles(spark, postPath, terms, buckets)
    val files = kept.map(f => Paths.get(postPath, f))
    val scalars = corpusScalarsLocal(footer, ts)
    scalars match {
      case Some((n, t)) if files.nonEmpty && files.map(Files.size(_)).sum <= localBytes =>
        bm25Local(spark, files, terms, k, committed, n, t, ts)
      case _ =>
        val post = livePostings(postingsScan(spark, postPath, terms, buckets,
          (kept, total)), committed, ts)
        val tf = post.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
        val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        val withCorpus = scalars match {
          // scalars known on the driver → literal columns (no one-row
          // broadcast build job per probe); else the broadcast cross-join
          case Some((n, t)) => tf.join(broadcast(df), "token")
            .withColumn("__n", lit(n)).withColumn("__t", lit(t))
          case None => tf.join(broadcast(df), "token")
            .crossJoin(broadcast(corpusStatsFrom(spark, path, footer, ts)))
        }
        withCorpus
          .withColumn("__s",
            expr("(((__n * 1000) div df) * (tf * 22 * __t)) div " +
              "(10 * __t * tf + 3 * __t + 9 * dl * __n)"))
          .groupBy(col("doc_id"))
          .agg(sum(col("__s")).as("score"), count(lit(1)).as("n_terms"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(k)
          .withColumn("rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("score").desc, col("doc_id"))))
          .select(col("rank").cast("long").as("rank"), col("doc_id"),
            col("score"), col("n_terms"))
    }
  }

  /** The local side of [[bm25TopKIndexedAt]]: the kept postings `files`
    * decoded on the driver and scored as the distributed plan scores
    * them. A row counts when its token is a query term, its generation
    * is committed and no tombstone of its doc carries a newer one; tf
    * and dl per (doc, token), df per token, the same integer formula
    * with every operation exact (ANSI Spark throws on overflow too),
    * scores summed per doc, ordered by score descending then doc_id in
    * Spark's order of its type, the first k ranked 1..k. A
    * LocalRelation with the distributed side's schema. */
  private def bm25Local(spark: SparkSession, files: Seq[java.nio.file.Path],
      terms: Seq[String], k: Int, committed: Long, n: Long, t: Long,
      ts: Option[Tombstones]): DataFrame = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
      Descending, InterpretedOrdering, SortOrder}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    import Math.{addExact => add, multiplyExact => mul}
    val local = new DirectParquetIo.LocalFiles(spark, files)
    val docT = local.schema("doc_id").dataType
    val Seq(ti, di, li, gi) = Seq("token", "doc_id", "dl", "gen").map(local.schema.fieldIndex)
    val toDoc = CatalystTypeConverters.createToCatalystConverter(docT)
    val killGen: Map[Any, Long] = ts.flatMap(_.rows).getOrElse(Array.empty)
      .groupMapReduce(r => toDoc(r.getAs[Any]("doc_id")))(_.getAs[Long]("gen"))(math.max)
    val termSet = terms.map(UTF8String.fromString).toSet
    // (doc_id, token) → (tf, dl) over the rows the distributed plan keeps
    val tf = scala.collection.mutable.HashMap.empty[(Any, UTF8String), Array[Long]]
    files.indices.foreach { i =>
      local.rows(i, (_, r) => !r.isNullAt(ti) && termSet(r.getUTF8String(ti)) &&
        !r.isNullAt(gi) && r.getLong(gi) < committed &&
        !killGen.get(r.get(di, docT)).exists(r.getLong(gi) < _))
        .foreach { r =>
          tf.getOrElseUpdate((r.get(di, docT), r.getUTF8String(ti)),
            Array(0L, r.getLong(li)))(0) += 1
        }
    }
    val df = tf.keys.toSeq.groupMapReduce(_._2)(_ => 1L)(_ + _)
    // doc_id → (score, n_terms)
    val byDoc = scala.collection.mutable.HashMap.empty[Any, Array[Long]]
    tf.foreach { case ((doc, tok), Array(f, dl)) =>
      val s = mul(mul(n, 1000L) / df(tok), mul(mul(f, 22L), t)) /
        add(add(mul(mul(10L, t), f), mul(3L, t)), mul(mul(9L, dl), n))
      val acc = byDoc.getOrElseUpdate(doc, Array(0L, 0L))
      acc(0) = add(acc(0), s)
      acc(1) += 1
    }
    val top = byDoc.toSeq.map { case (doc, Array(score, nt)) => InternalRow(0L, doc, score, nt) }
      .sorted(new InterpretedOrdering(Seq(
        SortOrder(BoundReference(2, LongType, nullable = true), Descending),
        SortOrder(BoundReference(1, docT, nullable = true), Ascending))))
      .take(k)
    top.zipWithIndex.foreach { case (r, i) => r.setLong(0, i + 1L) }
    DirectParquetIo.localFrame(spark, StructType(Seq(
      StructField("rank", LongType, nullable = false), StructField("doc_id", docT),
      StructField("score", LongType), StructField("n_terms", LongType, nullable = false))),
      top)
  }

  /** BM25-ranked top-k documents for a bag-of-words query, with
    * integer-exact scoring (see object doc). Output:
    * `(rank, doc_id, score, n_terms)` ordered by rank, where
    * score = Σ_t (N·1000 // df_t) · tf·22·T // (10·T·tf + 3·T + 9·dl·N)
    * — BM25 with k1=1.2, b=0.75, pseudo-idf N/df scaled ×1000, every
    * division a BIGINT floor. Ties rank by doc_id. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      query: String, k: Int): DataFrame = {
    val terms = queryTokens(query).distinct
    require(terms.nonEmpty, "empty query")
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("__toks"))
    val lens = toks.select(col("doc_id"), size(col("__toks")).cast("long").as("dl"))
    // two corpus scalars (N docs, T tokens) — a one-row broadcast frame
    val corpus = lens.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__t"))
    val tf = toks
      .select(col("doc_id"), explode(col("__toks")).as("token"))
      .where(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(df), "token")
      // dl join is doc_id-keyed corpus-vs-matches: left to AQE — tf is
      // query-narrowed so it usually broadcasts, but a stop-word query
      // legitimately degrades to a shuffle join instead of OOMing
      .join(lens, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("__s",
        expr("(((__n * 1000) div df) * (tf * 22 * __t)) div " +
          "(10 * __t * tf + 3 * __t + 9 * dl * __n)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__s")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("score"), col("n_terms"))
  }
}
