package graft.dedup

import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Scale design notes:
  *  - Exact dedup: one hash-shuffle on a 16-byte digest (not the full
  *    text) — the canonical "group by content hash, keep min id" plan.
  *  - MinHash LSH: per-row signature (no shuffle) → explode to
  *    (band, bucket) keys → self-join per bucket. Bucket join replaces
  *    the O(n²) pair space with the candidate space; band/row counts
  *    tune recall vs cost. Signatures are computed from a cross-engine
  *    polynomial hash so the whole pipeline is DuckDB-oracle checkable.
  *  - SimHash: 32-bit per-doc fingerprint; near-dups = small Hamming
  *    distance. Banded (4×8-bit) blocking gives O(n·4) candidate keys.
  *  - Verification joins bring the two texts together only for
  *    candidate pairs (tiny vs corpus), never the full cross product.
  */
object Dedup {

  // ---- MinHash ----

  /** Number of MinHash hash functions. */
  val K = 8

  /** Bands × rows-per-band for LSH bucketing (K = Bands * RowsPerBand). */
  val Bands = 4
  val RowsPerBand = 2

  /** a/b coefficients of the i-th universal hash ((a*h+b) mod p),
    * derived deterministically so SQL oracles can inline the formula. */
  def hashA(i: Int): Long = (2654435761L * (i + 1)) % HashPrime
  def hashB(i: Int): Long = (40503L * (i + 1) * 69069L) % HashPrime

  /** Powers of two as a literal array — lambda-variable-indexable
    * replacement for shiftleft/shiftright (whose shift arg must be a
    * Scala Int, not a Column). */
  private val Pow2 = lit((0 to 33).map(b => 1L << b).toArray)

  /** MinHash signature (array of K longs) over word n-gram shingles —
    * native single-pass expression (see TextHashExpressions for why:
    * the composed-HOF form re-inlines the shingle-hash fold K times). */
  def minhashSignature(text: Column, shingleLen: Int = 3): Column =
    graft.expressions.TextHashExpressions.minhash_sig(
      wordShingles(text, shingleLen),
      (0 until K).map(hashA), (0 until K).map(hashB))

  /** Composed-HOF reference implementation (kept for differential
    * testing against the native expression). */
  def minhashSignatureHof(text: Column, shingleLen: Int = 3): Column = {
    val hashes = transform(wordShingles(text, shingleLen), s => polyHash(s))
    transform(
      sequence(lit(0), lit(K - 1)),
      i => {
        val a = get(lit((0 until K).map(hashA).toArray), i)
        val b = get(lit((0 until K).map(hashB).toArray), i)
        when(size(hashes) === 0, lit(-1L))
          .otherwise(array_min(transform(hashes, h => (a * h + b) % HashPrime)))
      })
  }

  /** Exact Jaccard similarity of the two texts' shingle sets. */
  def shingleJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val sa = array_distinct(wordShingles(a, n))
    val sb = array_distinct(wordShingles(b, n))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(round(inter / uni, 6))
  }

  /** Exact dedup: keep the lowest-id row per identical normalized text.
    * Shuffles only (digest, id) — not the payload. The fingerprint is
    * materialized ONCE as a column (normalizedText is two regexp passes
    * over the full document — consumers wanting the digest should take
    * it via keepFpAs rather than recompute it). */
  def exactDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", keepFpAs: Option[String] = None): DataFrame = {
    // collision-proof working names: an input frame may legitimately
    // carry columns named _fp/_rn; suffix until unique
    val existing = docs.columns.toSet
    keepFpAs.foreach(n => require(!existing(n),
      s"keepFpAs column '$n' already exists in the input frame"))
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(!existing(_)).get
    val fp = fresh("_fp"); val rn = fresh("_rn")
    val withFp = docs.withColumn(fp, md5(normalizedText(col(textCol))))
    val w = Window.partitionBy(col(fp)).orderBy(col(idCol))
    val kept = withFp.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn)
    keepFpAs match {
      case Some(n) => kept.withColumnRenamed(fp, n)
      case None    => kept.drop(fp)
    }
  }

  /** Per-doc LSH band keys: Bands rows of (doc_id, band, bucket_key).
    * bucket_key concatenates the band's signature slice. */
  def lshBands(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val sig = minhashSignature(col(textCol))
    docs
      .select(col(idCol), sig.as("sig"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), lit(Bands - 1)),
        b => concat_ws(":",
          (0 until RowsPerBand).map(r =>
            get(col("sig"), b * RowsPerBand + r)): _*))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket_key")
  }

  /** Per-doc distinct shingle sets, computed once. Pair queries join
    * THIS (the set rides through the shuffle materialized) instead of
    * re-shingling the text per candidate pair — at scale the shingle
    * computation is O(corpus), never O(candidates). */
  def shingleSets(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3): DataFrame =
    docs.select(col(idCol),
      array_distinct(wordShingles(col(textCol), n)).as("s3"))

  /** Jaccard from two precomputed distinct-set columns. */
  def setJaccard(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(round(inter / uni, 6))
  }

  /** Candidate near-dup pairs from LSH banding (distinct id pairs that
    * share at least one band bucket), verified with exact shingle
    * Jaccard >= threshold against the precomputed shingle sets. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val bands = lshBands(docs, textCol, idCol)
    val l = bands.select(col("band"), col("bucket_key"), col(idCol).as("id_a"))
    val r = bands.select(col("band"), col("bucket_key"), col(idCol).as("id_b"))
    val candidates = l.join(r, Seq("band", "bucket_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sets = shingleSets(docs, textCol, idCol)
    val sa = sets.select(col(idCol).as("id_a"), col("s3").as("sa"))
    val sb = sets.select(col(idCol).as("id_b"), col("s3").as("sb"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", setJaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash near-dedup WITHOUT banding the full corpus: the
    * class-graph decomposition (the MinHash analog of [[simhashDedup]]).
    * Docs with an identical TOKEN STREAM have identical shingle sets,
    * identical signatures, and identical Jaccard against everything —
    * so LSH banding, candidate joins, and Jaccard verification need only
    * run on one representative per distinct token stream. Candidate cost
    * is bounded by distinct texts, not corpus size — on clone-heavy
    * corpora (the 100 TB norm) that is the difference between banding
    * 10B docs and banding the distinct few hundred million.
    *
    * Equivalence to dedupByClusters(docs, CC(minhashNearDups(docs))):
    * same-class docs pair at Jaccard 1 ≥ threshold (identical non-empty
    * shingle sets share every band bucket); any cross-class doc pair
    * has exactly its representatives' (signature, Jaccard), so doc
    * components are class components expanded. Shingle-less docs
    * (< shingleLen tokens) never verify at Jaccard > 0 at doc level, so
    * they must NOT be grouped — each keeps a singleton class key.
    *
    * @return the surviving docs (min-id per near-dup cluster,
    *         singletons kept), all original columns. */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id",
      maxIter: Int = 25, releaseCaches: Boolean = true): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toks = tokens(col(textCol))
    // class key: md5 of the token stream (exact shingle-set identity);
    // shingle-less docs (< 3 tokens, matching minhashNearDups' word-
    // 3-gram shingles) get a unique key so they stay singletons
    val classKey = when(size(toks) >= 3,
        md5(concat_ws(" ", toks)))
      .otherwise(concat(lit("solo:"), col(idCol).cast("string")))
    val classed = docs.select(col(idCol), col(textCol))
      .withColumn("_ck", classKey)
      .persist(MEMORY_AND_DISK)
    // one representative (min id) per class, with its text for
    // signature/shingle computation — |reps| = distinct token streams
    val repW = Window.partitionBy(col("_ck")).orderBy(col(idCol))
    val reps = classed.withColumn("_rn", row_number().over(repW))
      .filter(col("_rn") === 1).drop("_rn")
    // pair enumeration + Jaccard verify on representatives only
    val repPairs = minhashNearDups(reps, threshold, textCol, idCol)
      .select(col("id_a"), col("id_b"))
    val comp = connectedComponents(repPairs, "id_a", "id_b",
      maxIter = maxIter, releaseCaches = releaseCaches)
    // class label: its representative's component min (or itself);
    // survivor: min doc id per label
    val repLabel = reps.select(col(idCol).as("_rep"), col("_ck"))
      .join(comp.withColumnRenamed("id", "_rep"), Seq("_rep"), "left")
      .select(col("_ck"), coalesce(col("label"), col("_rep")).as("_clab"))
    val winners = classed
      .join(repLabel, Seq("_ck"))
      .groupBy(col("_clab")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    // classed stays persisted until the returned frame is consumed
    // (same convention as simhashNearDups' withSim cache)
    docs.join(winners, Seq(idCol), "left_semi")
  }

  // ---- Near-dup clusters (the consumer of pair lists) ----

  /** Connected components over an undirected pair list — hash-min label
    * propagation, the standard distributed algorithm: every vertex
    * starts labeled with its own id; each round every vertex takes the
    * min of its own and its neighbors' labels, then shortcuts through its
    * label's label (pointer doubling); fixpoint = per-component min id.
    * Converges in O(log diameter) rounds — near-dup clusters are dense
    * and shallow (duplicates of one source document), so 3-5 rounds is
    * typical at any corpus size even for chain-shaped components.
    *
    * Scale shape: each round is one join edges⋈labels + one groupBy min
    * — both shuffle on vertex id, both map-side-combinable. No driver-
    * side graph state; labels/edges are persisted DataFrames and the
    * only driver value per round is the converged? count. This is the
    * missing last stage of d4/d6 (pair enumeration → dedup clusters →
    * min-id survivors) — at 100 TB the pair list never needs
    * materializing to storage, it flows straight into this.
    *
    * Adaptive small-graph cutover (the AQE-broadcast-conversion shape,
    * same rationale as spark.sql.autoBroadcastJoinThreshold): the edge
    * list is persisted and counted before the loop anyway, so when it
    * is under `localEdgeThreshold` LONG-id edges the component labels
    * come from one driver-side union-find pass over the collected pairs
    * — ~20 B/edge serialized (≈160 MB at the 8M default, inside the
    * 1 GB spark.driver.maxResultSize default) and replacing O(rounds)
    * shuffle jobs with a sub-second scan. Value-graph CC (simhash
    * dedup: nodes = distinct 32-bit fingerprints) is under the bound at
    * ANY corpus size; doc-pair graphs beyond it take the distributed
    * loop unchanged. Both paths produce the identical min-id labeling.
    *
    * @return (id, label) — label = min id of the component. Vertices
    *         appearing in `pairs` only; callers left-join singletons. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 25,
      releaseCaches: Boolean = true,
      localEdgeThreshold: Long = 8000000L): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // pairs is typically an expensive pipeline (LSH + verify): persist it
    // so building the two edge directions runs it once, not twice
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .persist(MEMORY_AND_DISK)
    val spark = pairs.sparkSession
    // BOTH endpoint columns must be integral for the local leg; the
    // output id type is the WIDER of the two — exactly what the
    // distributed path's unionByName coercion produces for mixed-width
    // inputs, so the two legs stay type-identical
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val endTypes = p.schema.fields.map(_.dataType)
    val integralId = endTypes.forall {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integralId && p.count() <= localEdgeThreshold)
      return localComponents(p, endTypes.maxBy(_.defaultSize))
    val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    import org.apache.spark.sql.graft.PlanBridge
    // CRITICAL plan hygiene: `labels` feeds the next round TWICE (the
    // neighbor join and the left join), so without truncation the
    // logical plan DOUBLES per round — exponential tree, and the mere
    // stringification of it (AQE explain, UI listeners) OOMs the driver
    // long before any data pressure. Each round therefore re-roots
    // `labels` as an RDD-backed leaf WE own, so the previous round's
    // blocks are released explicitly (Dataset.localCheckpoint would
    // hide its RDD and leave release to driver GC — up to maxIter label
    // copies resident between GCs). Default: eager executor-local
    // checkpoint, all caches freed per round. releaseCaches=false: the
    // re-wrap is lazy and UNCACHED — the linear RDD lineage stays
    // recomputable through the persisted p/edges (kept alive for the
    // session; clear via spark.catalog.clearCache()) — the
    // preemption-safe mode for clusters with dynamic allocation.
    def reRoot(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
      val rdd = PlanBridge.toInternalRdd(df)
      if (releaseCaches) { rdd.localCheckpoint(); rdd.count() }
      (PlanBridge.fromInternalRdd(spark, rdd, df.schema), rdd)
    }
    var (labels, labelsRdd) = reRoot(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    var backing: DataFrame = null // persisted frame backing `labels`
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val joinedBase = labels.select(col("id"), col("label"))
        .join(neighborMin.withColumnRenamed("src", "id"), Seq("id"), "left")
      if (releaseCaches && it < 2) {
        // pre-hop rounds, eager mode: no cache layer at all — the
        // convergence flag rides THROUGH the checkpoint and is counted
        // on the materialized blocks, so the join runs exactly once and
        // nothing is persisted/unpersisted this round
        val step = joinedBase.select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"),
          (col("nlabel") < col("label")).as("_chg"))
        val (nextLabels, nextRdd) = reRoot(step)
        val changed = nextLabels.filter(col("_chg")).count()
        labelsRdd.unpersist(false)
        // contract stays (id, label): the flag never leaves this round
        labels = nextLabels.select(col("id"), col("label"))
        labelsRdd = nextRdd
        converged = changed == 0
      } else {
        // one joined frame serves BOTH the convergence check and the
        // next labels (a projection over the same cached partitions);
        // the hop consumes it twice, so the cache pays for itself here
        val joined = joinedBase.persist(MEMORY_AND_DISK)
        val changed = joined.filter(col("nlabel") < col("label")).count()
        val l1 = joined.select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
        // pointer-doubling shortcut: label ← label(label). Every label
        // IS a node id of the same component (invariant: initial labels
        // are own ids; neighbor-min and this hop only adopt other
        // in-component node ids), so the lookup self-join is total and
        // label values stay monotone non-increasing. Cuts convergence
        // from O(diameter) to O(log diameter) rounds for one extra
        // node-count shuffle per round. Engaged only from round 3:
        // dense near-dup clusters (the common case) hit fixpoint in
        // <=3 neighbor-min rounds and never pay for the hop;
        // chain-shaped components (document revision histories) still
        // converge in 2 + O(log diameter) rounds instead of
        // O(diameter), keeping maxIter safe at any corpus shape.
        val l2 =
          if (it < 2) l1
          else l1.join(
            l1.select(col("id").as("label"), col("label").as("_l2")),
            Seq("label"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("_l2"), col("label")))
                .as("label"))
        val (nextLabels, nextRdd) = reRoot(l2)
        if (releaseCaches) {
          // nextLabels is materialized (eager checkpoint): this round's
          // cache AND the previous labels' blocks go immediately
          joined.unpersist()
          labelsRdd.unpersist(false)
        } else {
          // lazy re-wrap: keep THIS round's cache until the next round
          // has consumed it; the final backing frame stays persisted
          if (backing != null) backing.unpersist()
          backing = joined
        }
        labels = nextLabels
        labelsRdd = nextRdd
        converged = changed == 0
      }
      it += 1
    }
    if (!converged) {
      if (backing != null) backing.unpersist()
      if (releaseCaches) labelsRdd.unpersist(false)
      p.unpersist(); edges.unpersist()
      throw new IllegalArgumentException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds the bound — raise maxIter)")
    }
    if (releaseCaches) { p.unpersist(); edges.unpersist() }
    // releaseCaches=false: p/edges/backing stay persisted — they are
    // the cached ancestors that bound recompute of the returned lazy
    // labels if executors are lost; the caller owns the final
    // clearCache(). The returned frame in BOTH modes is a self-
    // contained leaf (checkpointed blocks / recomputable RDD lineage).
    labels
  }

  /** Driver-side leg of [[connectedComponents]]' small-graph cutover:
    * one union-find pass (path compression + union-by-min, so the root
    * of every set IS the component's min id) over the collected edge
    * list. Returns the same (id, label) contract as the distributed
    * loop, re-distributed via parallelize so the result is a
    * self-contained leaf exactly like the checkpointed path. `p` is
    * the caller's persisted (src, dst) frame; released here. */
  private def localComponents(p: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = p.sparkSession
    val rows = p
      .select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
    p.unpersist(false)
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def ensure(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    // null-endpoint parity with the distributed loop: a null never
    // equi-joins there, so the non-null side survives as a singleton
    // and the null vertex itself comes out as a (null, null) row
    var hasNullVertex = false
    rows.foreach { r =>
      val an = r.isNullAt(0); val bn = r.isNullAt(1)
      if (an || bn) hasNullVertex = true
      if (!an && !bn) {
        val a = r.getLong(0); val b = r.getLong(1)
        ensure(a); ensure(b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.update(rb, ra)
        else if (rb < ra) parent.update(ra, rb)
      } else if (!an) ensure(r.getLong(0))
      else if (!bn) ensure(r.getLong(1))
    }
    val labeled: Seq[Row] =
      parent.keysIterator.map(id => Row(id, find(id))).toSeq ++
        (if (hasNullVertex) Seq(Row(null, null)) else Nil)
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, labeled.length / 65536 + 1))
    val schema = StructType(Seq(StructField("id", LongType, nullable = true),
      StructField("label", LongType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(labeled, slices),
        schema)
      .select(col("id").cast(idType).as("id"),
        col("label").cast(idType).as("label"))
  }

  /** Survivor selection over a clustered corpus: keep the min-id doc of
    * every near-dup cluster (singletons keep themselves). */
  def dedupByClusters(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters.select(col("id").as(idCol), col("label")), Seq(idCol), "left")
      .filter(col("label").isNull || col("label") === col(idCol))
      .drop("label")

  /** Incremental (delta) dedup — the daily-ingest path: dedup an
    * incoming batch against an existing fingerprint INDEX without ever
    * re-reading corpus text. Survivors are batch rows that (a) are the
    * min-id row for their fingerprint within the batch and (b) have a
    * fingerprint absent from the index. Returns survivors with the
    * fingerprint kept as `fpCol`, ready to append to the index.
    *
    * Scale shape: the index carries ONLY 16-byte digests (a 100 TB /
    * ~10B-doc corpus indexes in ~a few hundred GB); the anti-join
    * shuffles (digest, id) on both sides — never document payloads.
    * Bucket the stored index by `fpCol` to make the nightly run a
    * co-located join with no index-side shuffle at all. */
  def incrementalDedup(index: DataFrame, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      fpCol: String = "fp"): DataFrame = {
    require(index.columns.contains(fpCol),
      s"index must carry a '$fpCol' fingerprint column")
    val deduped = exactDedup(batch, textCol, idCol, keepFpAs = Some(fpCol))
    deduped.join(index.select(col(fpCol)), Seq(fpCol), "left_anti")
  }

  /** Benchmark decontamination: drop every training doc that shares at
    * least one word-n-gram with the benchmark corpus (the standard
    * eval-leakage guard of a training-data pipeline; cf. reference
    * README's curation framing — this is the op the reference's
    * dedup stage would need at pre-training scale).
    *
    * Scale shape: the benchmark side is tiny (eval sets are KBs–MBs),
    * so its distinct shingles BROADCAST; the train side is scanned
    * once exploded for the semi-join probe (map-side, no train
    * shuffle) producing only the contaminated-id set, which is again
    * small → broadcast anti-join back onto train. The 100 TB corpus
    * is never shuffled. Docs shorter than n tokens have no shingles
    * and are always kept. */
  def decontaminate(train: DataFrame, bench: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, broadcastBench: Boolean = true): DataFrame = {
    val benchShingles = bench
      .select(explode(array_distinct(wordShingles(col(textCol), n))).as("_sh"))
      .distinct()
    // eval sets are tiny → broadcast by default (map-side probe, the
    // corpus is never shuffled); pass broadcastBench=false for a large
    // holdout side and let the semi-join shuffle on the shingle key
    val probe = if (broadcastBench) broadcast(benchShingles) else benchShingles
    val contaminated = train
      .select(col(idCol), explode(array_distinct(
        wordShingles(col(textCol), n))).as("_sh"))
      .join(probe, Seq("_sh"), "left_semi")
      .select(col(idCol)).distinct()
    // the contaminated-id set scales with bench size: only force the
    // broadcast in the small-bench regime; large holdouts let AQE pick
    val contam =
      if (broadcastBench) broadcast(contaminated) else contaminated
    train.join(contam, Seq(idCol), "left_anti")
  }

  /** Fractional n-gram overlap against a benchmark — the published
    * contamination SCORE (GPT-3 appendix C / PaLM style), where
    * [[decontaminate]] is the boolean any-overlap guard: per training
    * doc, how many of its distinct word-n-gram shingles appear in the
    * benchmark's shingle set. Thresholding the fraction (instead of
    * dropping on any single shared shingle) is what production
    * decontamination actually does — one shared idiom should not kill
    * a document.
    *
    * Plan shape: bench shingles broadcast (eval suites are KBs–MBs);
    * the corpus is exploded row-locally and probed map-side by the
    * broadcast hash join, then re-keyed by doc id — the only shuffle
    * carries (id, two partial counts) after map-side combine, never
    * shingle payloads. Returns (idCol, n_shingles, n_hit); ratio
    * formatting is left to the caller so the counts stay exact.
    * Docs shorter than n tokens survive with (0, 0). */
  def overlapFraction(train: DataFrame, bench: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val benchShingles = bench
      .select(explode(array_distinct(wordShingles(col(textCol), n))).as("_sh"))
      .distinct()
      .withColumn("_hit", lit(1))
    train
      .select(col(idCol), explode_outer(array_distinct(
        wordShingles(col(textCol), n))).as("_sh"))
      .join(broadcast(benchShingles), Seq("_sh"), "left")
      .groupBy(col(idCol))
      .agg(count(col("_sh")).as("n_shingles"),
        count(col("_hit")).as("n_hit"))
  }

  /** Decontamination via a Bloom prefilter — the shape for a LARGE
    * holdout side. [[decontaminate]] ships the bench shingle SET to
    * every executor (right-sized when the eval suite is KBs–MBs); at a
    * multi-TB holdout that set no longer fits, but its Bloom sketch
    * does: the sketch size is fixed by (expectedItems, fpp) — ~10 MB
    * at 8M shingles / 1% fpp — independent of shingle bytes.
    *
    * Plan shape: one distributed aggregate (Spark's native
    * BloomFilterAggregate — partial sketches per partition, OR-merged
    * once) builds the filter over the bench shingles; the sketch —
    * O(numBits), NOT O(bench) — is collected and inlined as a foldable
    * binary literal so the corpus-side probe (BloomFilterMightContain
    * over xxhash64) is a map-side codegen'd predicate: the corpus is
    * never shuffled for the probe. Only Bloom-positive (doc, shingle)
    * suspects — true hits plus fpp noise — reach the exact semi-join
    * that removes false positives, so the output is EXACTLY
    * [[decontaminate]]'s regardless of fpp (the shared oracle checks
    * this). The verify joins are left to AQE: both sides scale with
    * the bench, not the corpus, and neither is assumed broadcastable
    * in the large-holdout regime this variant exists for. */
  def bloomDecontaminate(train: DataFrame, bench: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      expectedItems: Long = 1L << 23, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, XxHash64, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    def hash64(c: Column): Column =
      column(new XxHash64(Seq(expression(c))))

    val benchShingles = bench
      .select(explode(array_distinct(wordShingles(col(textCol), n))).as("_sh"))
      .distinct()
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      expression(hash64(col("_sh"))), CatLit(expectedItems), CatLit(numBits))
    // O(numBits) driver transfer — the sketch, never the shingles
    // (same contract as Dataset.stat.bloomFilter)
    val sketch = benchShingles
      .agg(column(agg.toAggregateExpression()).as("_bf"))
      .head().getAs[Array[Byte]](0)
    if (sketch == null) return train // no bench shingles: nothing to drop

    val mightHit = column(new BloomFilterMightContain(
      CatLit.create(sketch, BinaryType),
      expression(hash64(col("_sh")))))
    val suspects = train
      .select(col(idCol), explode(array_distinct(
        wordShingles(col(textCol), n))).as("_sh"))
      .filter(mightHit)
    val contaminated = suspects
      .join(benchShingles, Seq("_sh"), "left_semi")
      .select(col(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Passage-level duplication diagnostic: per doc, how many of its
    * DISTINCT word-n-gram shingles also occur in at least one other
    * doc. This is the shingle-granularity sibling of doc-level
    * near-dedup — a curation pipeline runs it to find boilerplate and
    * cross-doc duplicated passages that doc-level Jaccard hides (two
    * long docs sharing one big passage can sit under any doc
    * threshold).
    *
    * Scale shape: one explode + one shuffle keyed on the shingle
    * (O(corpus shingles), the minimum any cross-doc occurrence count
    * needs), a semi-join back, one per-doc aggregate. No pair
    * enumeration anywhere. */
  def duplicatePassages(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3): DataFrame = {
    val sets = shingleSets(docs, textCol, idCol, n)
    val pairs = sets.select(col(idCol), explode(col("s3")).as("_sh"))
    // shingles are distinct per doc, so the count per shingle IS its
    // distinct-doc count
    val dup = pairs.groupBy(col("_sh"))
      .agg(count(lit(1)).as("_docs")).filter(col("_docs") > 1)
      .select(col("_sh"))
    val perDoc = pairs.join(dup, Seq("_sh"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup"))
    sets.select(col(idCol), size(col("s3")).cast("long").as("n_shingles"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
  }

  /** Exact substring-level dedup — the published ExactSubstr method
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"), re-expressed for token granularity: any token
    * span of length ≥ k that occurs at least twice in the corpus
    * (any doc, any position — self-repeats count) is erased from
    * EVERY occurrence; a doc's surviving text is its remaining tokens
    * joined by single spaces.
    *
    * Window↔span equivalence that makes this exact: a duplicated span
    * of b−a ≥ k tokens duplicates every k-window starting in
    * [a, b−k], and conversely any token inside a duplicated k-window
    * lies inside a duplicated span ≥ k — so the union of duplicated
    * k-window ranges [pos, pos+k) IS the union of maximal duplicate
    * spans ≥ k. Flag window starts, erase their union.
    *
    * Scale shape (vs the paper's monolithic suffix array, which needs
    * the whole corpus concatenated on one machine): window occurrence
    * counting shuffles fixed-width (id, pos, h1, h2) tuples — the
    * token TEXT never shuffles. One map-side-combined count keyed on
    * a 2×64-bit shingle key, a semi-join back, one per-doc flag
    * aggregate, and the erase step is per-row array logic. A
    * cross-window 128-bit key collision needs ~2^64 DISTINCT windows
    * to reach even 1% probability — beyond any corpus.
    *
    * Returns (idCol, n_tokens, n_dup_windows, n_removed, clean_text),
    * one row per input doc. */
  def substringDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 5): DataFrame = {
    require(k >= 2, "substring dedup needs windows of at least 2 tokens")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val sh = docs
      .select(col(idCol), posexplode(wordShingles(col(textCol), k)))
      .select(col(idCol), col("pos"),
        xxhash64(col("col")).as("_h1"),
        xxhash64(lit("graft-es2"), col("col")).as("_h2"))
    val dup = sh.groupBy(col("_h1"), col("_h2"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
      .select(col("_h1"), col("_h2"))
    val flags = sh.join(dup, Seq("_h1", "_h2"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_flags"))
    val covered: Column => Column = j =>
      exists(col("_flags"), p => p <= j && j < p + lit(k))
    base.join(flags, Seq(idCol), "left")
      .withColumn("_flags",
        coalesce(col("_flags"), array().cast("array<int>")))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(col("_flags")).cast("long").as("n_dup_windows"),
        size(filter(col("_toks"), (_, i) => covered(i)))
          .cast("long").as("n_removed"),
        array_join(filter(col("_toks"), (_, i) => !covered(i)), " ")
          .as("clean_text"))
  }

  // ---- SimHash ----

  /** 32-bit SimHash over whitespace tokens: bit b set iff the sum of
    * per-token votes (+1 if token-hash bit b set, else −1) is positive.
    * Pure Column expression (bit loop via transform over 0..31). */
  /** Native single-pass SimHash (vote loop in one JVM pass). */
  def simhash(text: Column): Column =
    graft.expressions.TextHashExpressions.simhash32(tokens(text))

  /** Composed-HOF reference implementation (differential testing). */
  def simhashHof(text: Column): Column = {
    val hs = transform(tokens(text), t => polyHash32(t))
    val bits = transform(
      sequence(lit(0), lit(31)),
      b => {
        val p = get(Pow2, b) // 2^b
        val p2 = get(Pow2, b + 1) // 2^(b+1); bit test: h mod 2p >= p
        when(
          aggregate(hs, lit(0L),
            (acc, h) => acc + when((h % p2) >= p, 1L).otherwise(-1L)) > 0,
          p).otherwise(lit(0L))
      })
    aggregate(bits, lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two simhash values. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups via 4×8-bit band blocking over DISTINCT
    * fingerprints.
    *
    * Row-level banding explodes on low-diversity corpora: duplicate
    * fingerprints pile into hot 8-bit slice buckets and the candidate
    * pair space grows quadratically in ROWS inside each bucket (the
    * round-1 scale-killer). Instead: (1) band the distinct 32-bit
    * fingerprints — the bucket join is bounded by O(distinct²) per
    * slice and distinct ≤ 2³² however large the corpus; (2) verify
    * Hamming distance on value pairs; (3) expand verified value pairs
    * back to id pairs, which is output-proportional by definition;
    * (4) equal-fingerprint id pairs (dist 0) come straight from a
    * per-fingerprint self-join, also output-proportional.
    *
    * For maxDist <= 3 the output is IDENTICAL to row-level banding:
    * 3 flipped bits cannot touch all four disjoint 8-bit slices
    * (pigeonhole), so any pair within the Hamming bound shares a slice.
    * maxDist > 3 is REJECTED (require below): with 4 bands the recall
    * guarantee stops at 3 flipped bits, and silently-reduced recall is
    * worse than a loud error.
    *
    * The (id, simhash) projection feeds five plan branches (distinct
    * banding, two expansion sides, two equal-pair sides); it is
    * persisted so the tokenize+simhash pass over the full corpus runs
    * once, not five times. The cache ((id, long) per doc) stays
    * resident until the returned frame is consumed — callers running
    * many unrelated jobs in one session can release it afterwards via
    * spark.catalog.clearCache(). */
  /** Verified near-dup pairs of DISTINCT fingerprints via 4×8-bit band
    * blocking — the shared kernel of [[simhashNearDups]] and
    * [[simhashDedup]] (ONE home for the slice arithmetic and the
    * pigeonhole maxDist≤3 recall invariant). `values` must be a
    * distinct single-column ("sh") frame. Byte b of sh =
    * (sh mod 2^(8b+8)) / 2^(8b); power-of-2 fp division is exact, so
    * floor is safe. Hamming filter runs BEFORE distinct: only verified
    * value pairs get shuffled. */
  private def simhashValuePairs(values: DataFrame, maxDist: Int): DataFrame = {
    val banded = values.select(
      col("sh"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => floor((col("sh") % get(Pow2, b * 8 + 8)).cast("double")
          / get(Pow2, b * 8)).cast("long"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "slice")
    val l = banded.select(col("band"), col("slice"), col("sh").as("sh_a"))
    val r = banded.select(col("band"), col("slice"), col("sh").as("sh_b"))
    l.join(r, Seq("band", "slice"))
      .filter(col("sh_a") < col("sh_b"))
      .select(col("sh_a"), col("sh_b"),
        hammingDist(col("sh_a"), col("sh_b")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxDist <= 3, "4-band blocking guarantees recall only for maxDist <= 3")
    val withSim = docs.select(col(idCol), simhash(col(textCol)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val valPairs = simhashValuePairs(withSim.select(col("sh")).distinct(), maxDist)
    // (3) cross-fingerprint expansion — ids belong to exactly one sh,
    // so no distinct needed
    val ia = withSim.select(col("sh").as("sh_a"), col(idCol).as("ia"))
    val ib = withSim.select(col("sh").as("sh_b"), col(idCol).as("ib"))
    val crossPairs = valPairs.join(ia, "sh_a").join(ib, "sh_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
    // (4) equal-fingerprint pairs (dist 0)
    val ga = withSim.select(col("sh"), col(idCol).as("id_a"))
    val gb = withSim.select(col("sh"), col(idCol).as("id_b"))
    val equalPairs = ga.join(gb, Seq("sh")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        lit(0).cast("int").as("dist"))
    crossPairs.unionByName(equalPairs)
  }

  /** SimHash dedup WITHOUT ever materializing doc pairs: the value-graph
    * decomposition. Doc-level near-dup components are exactly the
    * distinct-fingerprint components expanded (same-value docs are
    * dist-0 pairs; a cross-value pair connects every doc of both
    * values), so connected components runs on the DISTINCT fingerprint
    * graph — nodes ≤ 2³² whatever the corpus size, edges = verified
    * value pairs — instead of the doc pair list (quadratic in duplicate
    * multiplicity: 209M rows at sf1, billions at 100 TB). The corpus is
    * touched exactly twice: once to fingerprint, once for the survivor
    * semi-join. Survivor = min-id doc per component (the
    * [[dedupByClusters]] rule), singletons keep themselves.
    *
    * This is the shape a 100 TB near-dedup actually runs;
    * [[simhashNearDups]] + [[connectedComponents]] (gate d10) remains
    * for consumers that need the pair list itself (audit, similarity
    * export). */
  def simhashDedup(docs: DataFrame, maxDist: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      maxIter: Int = 25, releaseCaches: Boolean = true): DataFrame = {
    require(maxDist <= 3, "4-band blocking guarantees recall only for maxDist <= 3")
    val withSim = docs.select(col(idCol), simhash(col(textCol)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val valPairs = simhashValuePairs(
      withSim.select(col("sh")).distinct(), maxDist)
      .select(col("sh_a"), col("sh_b"))
    val comp = connectedComponents(valPairs, "sh_a", "sh_b",
      maxIter = maxIter, releaseCaches = releaseCaches)
    // component label per doc: the value's component min, or the value
    // itself for unpaired fingerprints (null-safe: simhash is non-null)
    val labeled = withSim
      .join(comp.withColumnRenamed("id", "sh"), Seq("sh"), "left")
      .select(col(idCol), coalesce(col("label"), col("sh")).as("_clab"))
    val winners = labeled.groupBy(col("_clab"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    docs.join(winners, Seq(idCol), "left_semi")
  }
}
