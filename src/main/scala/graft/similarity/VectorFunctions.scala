package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  Descending, InterpretedOrdering, Literal, Round, SortOrder}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  IntegerType, LongType, StructField, StructType}

import graft.expressions.CosineSimExpr

/** Vector similarity search over an embedding column (array<float>).
  *
  * Two paths, as a 100 TB pipeline needs:
  *  - brute-force exact top-k: broadcast the (small) query set against
  *    the corpus — one pass, no shuffle of the corpus, exact results.
  *  - LSH-bucketed ANN: sign-random-projection code per vector (row-local),
  *    then candidate generation joins only within buckets. The hyperplanes
  *    are pseudo-random but fully deterministic (integer-arithmetic
  *    coefficients) so results are reproducible and oracle-checkable.
  *
  * All math in double precision with left-to-right fold order, matching
  * DuckDB's list_cosine_similarity for exact cross-engine comparison.
  */
object VectorFunctions {

  /** Dot product of two equal-length numeric arrays (double fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Squared L2 distance (double fold, index order). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity; 0 when either vector has zero norm. Native
    * single-pass kernel ([[cosineHof]] is the composed reference form —
    * same sequential fold order, bit-identical). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.TextKernelExpressions.cosine_sim(a, b)

  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** Deterministic pseudo-random hyperplane coefficient in [-1, 1]:
    * plane j, dimension i. Integer arithmetic only (SQL-reproducible). */
  def planeCoef(j: Column, i: Column, dim: Int): Column =
    (((lit(2654435761L) * (j * dim + i + 1)) % 1000000007L) % 2001L - 1000L)
      .cast("double") / 1000.0

  private val Pow2 = lit((0 to 33).map(b => 1L << b).toArray)

  /** Sign-random-projection LSH code with `planes` bits: bit j is set
    * iff dot(v, hyperplane_j) > 0. Native kernel; [[lshCodeHof]] is the
    * composed reference form. */
  def lshCode(v: Column, planes: Int, dim: Int): Column =
    graft.expressions.TextKernelExpressions.lsh_code(v, planes, dim)

  def lshCodeHof(v: Column, planes: Int, dim: Int): Column =
    aggregate(
      transform(
        sequence(lit(0), lit(planes - 1)),
        j => {
          val proj = aggregate(
            zip_with(v, sequence(lit(0), lit(dim - 1)),
              (x, i) => x.cast("double") * planeCoef(j, i, dim)),
            lit(0.0), (acc, x) => acc + x)
          when(proj > 0, get(Pow2, j)).otherwise(lit(0L))
        }),
      lit(0L), (acc, x) => acc + x)

  /** Two-phase per-query top-k over a scored candidate frame
    * (query_id, neighbor_id, sim): a window partitioned by query_id
    * ALONE funnels every candidate of a query through one task — at
    * corpus scale that task sees |corpus| rows. Phase 1 ranks within
    * (query_id, shard-of-neighbor) and keeps ≤ k per shard — the global
    * per-query top-k is a subset of that union — so phase 2's per-query
    * window sees at most shards·k rows however large the candidate set.
    * The result is IDENTICAL to the single-window form for any shard
    * count (same total order: sim desc, neighbor_id asc). */
  private def perQueryTopK(scored: DataFrame, k: Int, shards: Int): DataFrame = {
    require(k > 0 && shards > 0, "k and shards must be positive")
    val shardW = Window.partitionBy(col("query_id"), col("_shard"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("_shard", pmod(hash(col("neighbor_id")), lit(shards)))
      .withColumn("_srank", row_number().over(shardW))
      .filter(col("_srank") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Exact brute-force top-k neighbors for each query vector.
    * The query set is broadcast; corpus is scanned once; the per-query
    * ranking is shard-bounded (see [[perQueryTopK]]). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      shards: Int = 64): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      // ranking key rounded so rank order is identical across engines
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    perQueryTopK(scored, k, shards)
  }

  /** ANN via LSH buckets: candidates share the full code (exact-bucket
    * variant); each candidate verified with exact cosine. Recall trades
    * off with `planes`; at scale the bucket join replaces the O(n·q)
    * scan with per-bucket joins. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int,
      dim: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      shards: Int = 64): DataFrame = {
    val code = (c: Column) => lshCode(c, planes, dim)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      code(col(vecCol)).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      code(col(vecCol)).as("bucket"))
    // a hot bucket can hold an arbitrary fraction of the corpus, so the
    // per-query ranking is shard-bounded like the brute-force path
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    perQueryTopK(scored, k, shards)
  }

  /** Multi-probe LSH top-k: each query probes its own bucket AND
    * Hamming-1 neighbor buckets. Single-bucket LSH recall collapses
    * when a true neighbor lands one sign-flip away (the v13
    * diagnostic measures exactly this); probing the Hamming-1 shell
    * is the standard recovery (Lv et al., VLDB 2007) and costs
    * probe-key fanout on the QUERY side only — the corpus is still
    * bucket-joined, never scanned. `probes` is the fanout knob: how
    * many probe codes each query expands to, filled ring by ring in a
    * deterministic order — ring 0 is the query's own bucket (fanout 1
    * ≡ [[lshTopK]]), ring 1 the `planes` Hamming-1 neighbors (fanout
    * planes+1 = the full H1 shell, and the default via ≤ 0), ring 2
    * the C(planes, 2) Hamming-2 neighbors (fanout up to
    * 1 + planes + planes·(planes−1)/2) — the recall-vs-candidate-count
    * dial a deployment turns per corpus (t20 vs t20b gates measure
    * exactly this dial's effect on fused hybrid recall). The probe
    * codes of one query are pairwise distinct (distinct flip masks),
    * so a candidate matches at most one probe and no dedup pass is
    * needed; ranking is shard-bounded like every other top-k path. */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int, dim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", shards: Int = 64,
      probes: Int = -1): DataFrame = {
    val masks: IndexedSeq[Long] =
      0L +:
        ((0 until planes).map(j => 1L << j) ++
          (for (j1 <- 0 until planes; j2 <- j1 + 1 until planes)
            yield (1L << j1) | (1L << j2))).toIndexedSeq
    val fan =
      if (probes <= 0) planes + 1 else math.min(probes, masks.size)
    val code = (c: Column) => lshCode(c, planes, dim)
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        code(col(vecCol)).as("b0"))
      .withColumn("bucket", explode(array(
        masks.take(fan).map(m =>
          col("b0").bitwiseXOR(lit(m))): _*)))
      .select(col("query_id"), col("qv"), col("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      code(col(vecCol)).as("bucket"))
    val scored = c.join(broadcast(probed), "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    perQueryTopK(scored, k, shards)
  }

  /** IVF-style coarse assignment: nearest (max-cosine) centroid per
    * vector, deterministic tiebreak on centroid id. Centroids are a
    * small DataFrame (broadcast); assignment is a broadcast join +
    * windowed argmax partitioned by vector id (each partition sees
    * nlist rows) — the corpus never shuffles payloads beyond that
    * bounded per-vector group. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfAssignKeeping(corpus, centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id"), col("sim"))

  /** Driver-collected centroid set for the row-local assignment fold:
    * (id-as-long, vector-as-doubles) ascending by id, plus the original
    * id dtype (the output casts back losslessly). None when the id
    * dtype is non-integral — the window fallback keeps Spark's own
    * ordering semantics for exotic key types. The double conversion is
    * value-exact for float/int sources, and the score kernels promote
    * elements to double anyway, so scores are bit-identical. */
  private def collectCentroids(centroids: DataFrame, idCol: String,
      vecCol: String): Option[(org.apache.spark.sql.types.DataType,
        Seq[(Long, Seq[Double])])] = {
    import org.apache.spark.sql.types._
    val idT = centroids.schema(idCol).dataType
    idT match {
      case ByteType | ShortType | IntegerType | LongType =>
        val rows = centroids.select(col(idCol).cast("long"),
          transform(col(vecCol), x => x.cast("double"))).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
          .toSeq.sortBy(_._1)
        Some((idT, rows))
      case _ => None
    }
  }

  /** ROW-LOCAL argbest fold over a centroid literal sorted ascending by
    * id: returns struct(sim, cid, cv) of the best-scoring centroid.
    * Strict comparison + ascending iteration reproduces the window
    * form's (score, centroid_id) tiebreak exactly (first best wins =
    * lowest id); a row whose scores are all null keeps the sentinel
    * (callers map it back to the window's null). The point: the
    * crossJoin+window assignment duplicated every corpus row — payload
    * included — nlist× through the window's exchange; the fold assigns
    * in the scan projection with NO shuffle at all (the same shape
    * [[pqCodesExpr]] already uses for the PQ codebooks). */
  private def assignFold(v: Column, cents: Seq[(Long, Seq[Double])],
      score: (Column, Column) => Column, pickMax: Boolean): Column = {
    import org.apache.spark.sql.types._
    require(cents.nonEmpty, "no centroids")
    val st = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    val centLit = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        cents.map(c => org.apache.spark.sql.Row(c._1, c._2)),
        ArrayType(st, containsNull = false)))
    // unreachable by any real score: cosine ∈ [-1, 1]; sqDist ≥ 0
    val sentinel = if (pickMax) lit(-2.0) else lit(Double.MaxValue)
    val first = element_at(centLit, 1)
    // score each centroid ONCE via transform, then fold the scored
    // array — referencing the score in both the comparison and the
    // kept struct inside one lambda would evaluate the kernel twice
    // per step (HOF lambdas get no common-subexpression elimination)
    val scored = transform(centLit, e =>
      struct(score(v, e("cv")).as("sim"), e("cid").as("cid"),
        e("cv").as("cv")))
    aggregate(scored,
      struct(sentinel.cast("double").as("sim"),
        first("cid").as("cid"), first("cv").as("cv")),
      (acc, e) => {
        val better =
          if (pickMax) e("sim") > acc("sim") else e("sim") < acc("sim")
        when(better, e).otherwise(acc)
      })
  }

  /** [[ivfAssign]] WITHOUT the final projection: every corpus column
    * (in particular the embedding) rides through alongside centroid_id
    * and sim. Consumers needing the vector after assignment (ivfTopK)
    * take it from here in the SAME corpus pass — re-joining the
    * assignment back to the corpus on id would shuffle every embedding
    * payload a second time for nothing. Assignment itself is the
    * row-local [[assignFold]] (no shuffle; the previous window form
    * shipped every row nlist× through an exchange); the window
    * fallback remains for non-integral centroid id dtypes. */
  private def ivfAssignKeeping(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    collectCentroids(centroids, idCol, vecCol) match {
      case Some((idT, cents)) if cents.nonEmpty =>
        val best = assignFold(col(vecCol), cents,
          (v, cv) => round(cosine(v, cv), 6), pickMax = true)
        corpus.withColumn("__best", best)
          .withColumn("centroid_id", col("__best")("cid").cast(idT))
          // all-null scores degrade to the window's null sim
          .withColumn("sim", when(col("__best")("sim") === lit(-2.0),
            lit(null).cast("double")).otherwise(col("__best")("sim")))
          .drop("__best")
      case _ =>
        val c = centroids.select(col(idCol).as("centroid_id"),
          col(vecCol).as("cv"))
        val w = Window.partitionBy(col(idCol))
          .orderBy(col("sim").desc, col("centroid_id"))
        corpus.crossJoin(broadcast(c))
          .withColumn("sim", round(cosine(col(vecCol), col("cv")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .drop("rn", "cv")
    }

  /** IVF search: queries probe their `nprobe` closest centroids and
    * rank only vectors assigned to those lists — the classic
    * coarse-quantizer ANN trade (recall vs scanned fraction ≈
    * nprobe/nlist). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", shards: Int = 64): DataFrame = {
    val c = centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("cv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(c))
      .withColumn("csim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    // ONE corpus pass: assignment carries the embedding through, so no
    // corpus-to-corpus re-join (that join was a full shuffle of every
    // embedding payload — the dominant cost of this query at scale)
    val assigned = ivfAssignKeeping(
      corpus.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        col(vecCol).as("nv"))
    // probes = queries × nprobe (tiny); broadcast it into the
    // corpus-sized assignment join (planner can't see that through the
    // upstream window, so the hint is explicit). An inverted list can
    // hold corpus/nlist vectors, so the final per-query ranking is
    // shard-bounded like every other search path.
    val scored = broadcast(probes).join(assigned, "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
    perQueryTopK(scored, k, shards)
  }

  /** Embedding-cosine near-duplicate pairs via LSH blocking:
    * same-bucket pairs with cosine >= threshold. */
  def cosineNearDups(corpus: DataFrame, threshold: Double, planes: Int,
      dim: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withCode = corpus.select(col(idCol), col(vecCol),
      lshCode(col(vecCol), planes, dim).as("bucket"))
    val l = withCode.select(col("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("va"))
    val r = withCode.select(col("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("vb"))
    l.join(r, "bucket")
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  // ---- affine uint8 quantization (4x embedding compression) ----

  /** Per-vector affine uint8 quantization: code_i = floor((x_i − min) ·
    * 255 / (max − min) + 0.5), the standard storage compression for
    * billion-vector stores (4× smaller than float32, error ≤ scale/2
    * per component). Constant vectors (max == min) code to all-zeros.
    * Row-local, codegen-friendly — at 100 TB this runs inside the scan
    * projection with no shuffle. Returns struct(codes, vmin, vmax).
    * Native single-pass kernel; [[quantizeU8Hof]] is the composed
    * reference form (bit-identical, differential-tested). */
  def quantizeU8(v: Column): Column =
    graft.expressions.QuantExpressions.quantize_u8(v)

  def quantizeU8Hof(v: Column): Column = {
    val dv = transform(v, x => x.cast("double"))
    val mn = array_min(dv); val mx = array_max(dv)
    // constant branch preserves null elements (null in, null code out),
    // same as the arithmetic branch and the native kernel
    val codes = when(mx === mn,
        transform(dv, x => when(x.isNotNull, lit(0))))
      .otherwise(transform(dv,
        x => floor((x - mn) * lit(255.0) / (mx - mn) + lit(0.5)).cast("int")))
    struct(codes.as("codes"), mn.as("vmin"), mx.as("vmax"))
  }

  /** Inverse of [[quantizeU8]]: x̂_i = vmin + code_i · (vmax − vmin)/255.
    * Native kernel; [[dequantizeU8Hof]] is the composed reference form. */
  def dequantizeU8(q: Column): Column =
    graft.expressions.QuantExpressions.dequantize_u8(q)

  def dequantizeU8Hof(q: Column): Column = {
    val mn = q.getField("vmin"); val mx = q.getField("vmax")
    transform(q.getField("codes"),
      c => mn + c.cast("double") * (mx - mn) / lit(255.0))
  }

  /** Integer dot product of two uint8 code arrays — BIGINT-exact, the
    * cheap first-pass score of a compressed index. Native kernel;
    * [[codeDotHof]] is the composed reference form. */
  def codeDot(a: Column, b: Column): Column =
    graft.expressions.QuantExpressions.code_dot(a, b)

  def codeDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Two-stage search over a QUANTIZED index: stage 1 ranks the corpus
    * by integer code-dot (4× smaller scan, exact integer arithmetic),
    * stage 2 re-ranks only the kCand survivors with the full-precision
    * cosine — the standard compressed-index pattern (scan codes, fetch
    * floats for a bounded candidate set). Queries broadcast; the corpus
    * is scanned once and never shuffled; the exact cosine touches only
    * kCand · |queries| rows. */
  /** The persistable form of a quantized index: (id, codes, vmin, vmax)
    * — 4× smaller than the float corpus. Write this ONCE (e.g. via
    * ManagedParquetTable) and search it with [[storedQuantizedTopK]];
    * [[quantizedTopK]] below quantizes inline per query, which is the
    * right shape for ad-hoc search but re-pays the quantization scan
    * every time. */
  def buildQuantizedIndex(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), quantizeU8(col(vecCol)).as("_q"))
      .select(col(idCol), col("_q.codes").as("codes"),
        col("_q.vmin").as("vmin"), col("_q.vmax").as("vmax"))

  /** Two-stage search over a STORED quantized index ([[buildQuantizedIndex]]):
    * stage 1 scans ONLY the code table (the 4×-compressed index — the
    * float corpus is not touched) for shard-bounded code-dot candidates;
    * stage 2 fetches full-precision vectors for just the kCand·|queries|
    * survivors via a broadcast join into the corpus and re-ranks by
    * cosine. Same results as [[quantizedTopK]]; the difference is purely
    * which bytes stage 1 reads — at billion-vector scale the index scan
    * is a quarter of the corpus scan and the quantization work is paid
    * once at build time, not per query. */
  def storedQuantizedTopK(index: DataFrame, corpus: DataFrame,
      queries: DataFrame, kCand: Int, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", shards: Int = 64): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    val codes = index.select(col(idCol).as("neighbor_id"), col("codes"))
    val qq = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), quantizeU8(col(vecCol)).as("qquant"))
    val shardW = Window.partitionBy(col("query_id"), col("_shard"))
      .orderBy(col("code_dot").desc, col("neighbor_id"))
    val stage1W = Window.partitionBy(col("query_id"))
      .orderBy(col("code_dot").desc, col("neighbor_id"))
    val cand = codes.crossJoin(broadcast(qq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("code_dot", codeDot(col("codes"), col("qquant.codes")))
      .withColumn("_shard", pmod(hash(col("neighbor_id")), lit(shards)))
      .withColumn("_srank", row_number().over(shardW))
      .filter(col("_srank") <= kCand)
      .withColumn("cand_rank", row_number().over(stage1W))
      .filter(col("cand_rank") <= kCand)
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("code_dot"))
    val stage2W = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    // survivors are tiny → broadcast them INTO the corpus scan: the
    // float fetch is a map-side probe, the corpus never shuffles
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(cand), "neighbor_id")
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(stage2W))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim"), col("code_dot"))
  }

  def quantizedTopK(corpus: DataFrame, queries: DataFrame, kCand: Int,
      k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", shards: Int = 64): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    val cq = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), quantizeU8(col(vecCol)).as("cquant"))
    val qq = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), quantizeU8(col(vecCol)).as("qquant"))
    // two-phase candidate selection: a window partitioned by query_id
    // ALONE would funnel |corpus| rows per query through one task.
    // Phase 1 keeps the per-(query, shard) top-kCand — the global
    // top-kCand is a subset of the union — so the per-query window in
    // phase 2 sees at most shards·kCand rows, not the corpus.
    val shardW = Window.partitionBy(col("query_id"), col("_shard"))
      .orderBy(col("code_dot").desc, col("neighbor_id"))
    val stage1W = Window.partitionBy(col("query_id"))
      .orderBy(col("code_dot").desc, col("neighbor_id"))
    val cand = cq.crossJoin(broadcast(qq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("code_dot",
        codeDot(col("cquant.codes"), col("qquant.codes")))
      .withColumn("_shard", pmod(col("neighbor_id"), lit(shards)))
      .withColumn("_srank", row_number().over(shardW))
      .filter(col("_srank") <= kCand)
      .withColumn("cand_rank", row_number().over(stage1W))
      .filter(col("cand_rank") <= kCand)
      .drop("_shard", "_srank")
    val stage2W = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(stage2W))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("sim"), col("code_dot"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a coarse
    * quantizer, then drop every vector that has a LOWER-id neighbor at
    * cosine >= threshold WITHIN its cluster. Survivors are corpus rows
    * with no such neighbor — no connected components needed (the drop
    * rule is per-pair, exactly the published algorithm's keep-one-per-
    * similar-pair inside each cluster).
    *
    * Scale shape: assignment is the [[ivfAssign]] broadcast pass (one
    * corpus scan, no payload shuffle); the pair join is per-cluster
    * self-join — candidates are |cluster|², never |corpus|², and the
    * cluster count is the knob that bounds it (SemDeDup runs k≈100k at
    * web scale). The final anti-join probes a drop set that is at most
    * corpus-sized and typically tiny. */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssignKeeping(
      corpus.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("centroid_id"))
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).as("va"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("vb"))
    val drops = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(drops, Seq(idCol), "left_anti")
  }

  // ---- product quantization (asymmetric-distance ANN) ----

  /** Product-quantization codebooks (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the space
    * splits into `m` contiguous subspaces of dim/m and each gets its own
    * ksub-centroid quantizer trained by [[kmeansFit]] over the
    * sub-vectors. Returns (sub, code 0..ksub-1, centroid) — codes are
    * dense ranks of the trainer's centroid ids so they can index ADC
    * lookup tables. The whole codebook is m·ksub·(dim/m) doubles —
    * quantizer driver state, same as [[kmeansFit]]'s centroid matrix. */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int, iters: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metric: String = "cosine"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim ($dim) must split into m ($m) equal subspaces")
    val sd = dim / m
    if (iters == 0) {
      // init-only training: each of the m per-subspace kmeansFit calls
      // would collect the SAME k lowest-id rows (init = lowest ids,
      // zero Lloyd passes) — one collect of the full vectors serves
      // every subspace, sliced driver-side. Values are identical:
      // cast-then-slice ≡ slice-then-cast element-wise, and code order
      // (row_number by centroid_id = ascending id) is the collect
      // order. m+1 Spark jobs become 1.
      val spark = corpus.sparkSession
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val init = corpus
        .select(col(idCol).cast("long").as("_id"),
          transform(col(vecCol), x => x.cast("double")).as("_v"))
        .orderBy(col("_id")).limit(ksub).collect()
      val rows = for {
        s <- 0 until m
        (r, j) <- init.zipWithIndex
      } yield Row(s, j, r.getSeq[Double](1).slice(s * sd, (s + 1) * sd))
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("sub", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
    }
    val subs = (0 until m).map { s =>
      kmeansFit(
        corpus.select(col(idCol),
          slice(col(vecCol), s * sd + 1, sd).as(vecCol)),
        ksub, iters, idCol, vecCol, metric)
        .withColumn("sub", lit(s))
    }
    val w = Window.partitionBy(col("sub")).orderBy(col("centroid_id"))
    subs.reduce(_ unionByName _)
      .withColumn("code", (row_number().over(w) - 1).cast("int"))
      .select(col("sub").cast("int").as("sub"), col("code"), col("centroid"))
  }

  /** Collected codebook: cb(s)(j) = centroid j of subspace s. */
  private def collectCodebook(codebooks: DataFrame, m: Int,
      ksub: Int): Seq[Seq[Seq[Double]]] = {
    val rows = codebooks.select(col("sub"), col("code"), col("centroid"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toSeq))
      .toMap
    require(rows.size == m * ksub,
      s"codebook must have m*ksub = ${m * ksub} distinct (sub, code) rows")
    (0 until m).map(s => (0 until ksub).map(j => rows((s, j))))
  }

  /** PQ encode: per vector, the nearest sub-centroid (max rounded
    * cosine, lowest code on ties) per subspace → array of m small codes
    * (m bytes of index per vector at ksub <= 256 vs 4·dim float bytes).
    * The codebook rides as a LITERAL, so encoding is row-local inside
    * the scan projection — no join, no shuffle, the shape of bulk PQ
    * encoding at corpus scale. */
  /** Row-local PQ code array for vector column `v` (see [[pqEncode]]). */
  private def pqCodesExpr(v: Column, cbLit: Column, m: Int, ksub: Int,
      sd: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val sv = slice(v, s * sd + 1, lit(sd))
      val cbs = element_at(cbLit, (s + 1).cast("int"))
      aggregate(
        sequence(lit(0), lit(ksub - 1)),
        struct(lit(-2.0).as("sim"), lit(0).cast("int").as("code")),
        (acc, j) => {
          val simj = round(cosine(sv, element_at(cbs, (j + 1).cast("int"))), 6)
          when(simj > acc("sim"),
            struct(simj.as("sim"), j.cast("int").as("code")))
            .otherwise(acc)
        },
        acc => acc("code"))
    })

  /** Row-local PQ code array choosing the MIN-L2 sub-centroid (rounded
    * squared distance, lowest code on ties) — the encode metric for
    * RESIDUAL codes: residuals carry position, not direction, so the
    * cosine argmax (direction-only) mis-scales reconstructions; min-L2
    * is what Jégou TPAMI 2011 and FAISS quantize by. */
  private def pqCodesL2Expr(v: Column, cbLit: Column, m: Int, ksub: Int,
      sd: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val sv = slice(v, s * sd + 1, lit(sd))
      val cbs = element_at(cbLit, (s + 1).cast("int"))
      aggregate(
        sequence(lit(0), lit(ksub - 1)),
        struct(lit(Double.MaxValue).as("d2"), lit(0).cast("int").as("code")),
        (acc, j) => {
          val cv = element_at(cbs, (j + 1).cast("int"))
          val d2j = round(aggregate(
            zip_with(sv, cv, (x, y) => {
              val diff = x.cast("double") - y.cast("double")
              diff * diff
            }),
            lit(0.0), (a, x) => a + x), 6)
          when(d2j < acc("d2"),
            struct(d2j.as("d2"), j.cast("int").as("code")))
            .otherwise(acc)
        },
        acc => acc("code"))
    })

  /** Row-local ADC lookup table for query vector `v`: cell s·ksub+j =
    * dot(sub-vector s of v, centroid j of subspace s). */
  private def pqLutExpr(v: Column, cbLit: Column, m: Int, sd: Int): Column =
    flatten(transform(sequence(lit(0), lit(m - 1)), s =>
      transform(element_at(cbLit, (s + 1).cast("int")), cvec =>
        dot(slice(v, s * sd + 1, lit(sd)), cvec))))

  /** Ordered (s = 0..m-1) fold of LUT lookups for a code array — the
    * deterministic ADC score. `init` seeds the fold (residual search
    * seeds with the query·centroid term; plain ADC with 0). */
  private def pqScoreExpr(lut: Column, codes: Column, m: Int,
      ksub: Int, init: Column = lit(0.0)): Column =
    round(
      aggregate(sequence(lit(0), lit(m - 1)), init.cast("double"), (acc, s) =>
        acc + element_at(lut,
          (s * ksub + element_at(codes, (s + 1).cast("int")) + 1)
            .cast("int"))),
      6)

  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, ksub: Int,
      dim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cbLit = typedlit(collectCodebook(codebooks, m, ksub))
    corpus.select(col(idCol),
      pqCodesExpr(col(vecCol), cbLit, m, ksub, dim / m).as("codes"))
  }

  /** ADC top-k over PQ codes: each query computes its lookup table —
    * dot(query sub-vector, sub-centroid) for all m·ksub cells — ROW-
    * LOCALLY from the literal codebook and carries it on the broadcast
    * query row; scoring a corpus vector is m array lookups + an ordered
    * fold (s = 0..m-1, so the double summation order is deterministic
    * and oracle-replayable). Stage 1 reads ONLY the code table — the
    * float corpus is never touched — which is the asymmetric-distance
    * trade: approximate inner products from a 16×-smaller index scan.
    * Per-query ranking is shard-bounded like every search path here. */
  def pqAdcTopK(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
      m: Int, ksub: Int, dim: Int, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", shards: Int = 64): DataFrame = {
    val cbLit = typedlit(collectCodebook(codebooks, m, ksub))
    val q = queries.select(col(idCol).as("query_id"),
      pqLutExpr(col(vecCol), cbLit, m, dim / m).as("lut"))
    val scored = codes.select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", pqScoreExpr(col("lut"), col("codes"), m, ksub))
    perQueryTopK(scored, k, shards)
  }

  /** One-pass IVF-PQ encode against FROZEN training artifacts: coarse
    * assignment (ivfAssign's scoring — rounded cosine, id tiebreak) and
    * the PQ code array computed in the SAME corpus projection, so the
    * corpus is read once and never shuffles. Returns
    * `(idCol, centroid_id, codes)` — the persistable inverted-list row
    * of an IVF-PQ index ([[IncrementalIvfPqIndex]] stores exactly this
    * frame). Because assignment and encoding are ROW-LOCAL given fixed
    * centroids + codebooks, encoding a delta batch is exactly
    * rebuild-equivalent — the property incremental index maintenance
    * rests on. */
  def ivfPqEncode(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, m: Int, ksub: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cbLit = typedlit(collectCodebook(codebooks, m, ksub))
    ivfAssignKeeping(
      corpus.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id"),
        pqCodesExpr(col(vecCol), cbLit, m, ksub, dim / m).as("codes"))
  }

  /** Probe frame for an IVF-PQ search: each query's `nprobe` closest
    * coarse centroids, each probe row carrying the query's ROW-LOCAL
    * ADC lookup table → `(query_id, lut, centroid_id)`. Tiny
    * (queries × nprobe) — the broadcast side of every IVF-PQ join. */
  def ivfPqProbes(queries: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, m: Int, ksub: Int, dim: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cbLit = typedlit(collectCodebook(codebooks, m, ksub))
    val c = centroids.select(col(idCol).as("centroid_id"),
      col(vecCol).as("cv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        pqLutExpr(col(vecCol), cbLit, m, dim / m).as("lut"))
      .crossJoin(broadcast(c))
      .withColumn("csim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("lut"), col("centroid_id"))
  }

  /** A probe set evaluated on the driver ([[ivfPqProbesLocal]]): the
    * LocalRelation `(query_id, lut, centroid_id)` and its internal rows. */
  private[graft] final case class LocalProbes(frame: DataFrame,
      rows: Seq[InternalRow]) {
    /** The distinct probed centroid ids, as external values. */
    def centroidIds: Seq[Any] = {
      val t = frame.schema("centroid_id").dataType
      rows.map(r => CatalystTypeConverters.convertToScala(r.get(2, t), t)).distinct
    }
  }

  /** [[ivfPqProbes]] evaluated on the driver — the same rows by the same
    * kernels: csim by the native cosine kernel under Spark's
    * `round(·, 6)`, each LUT cell by [[dot]]'s ordered double fold, and
    * per query_id the `nprobe` centroids by csim descending then
    * centroid_id ascending. The query rows are collected (no Spark job
    * for a LocalRelation, one otherwise), as are the centroids and
    * codebooks; the probe set is (queries × nprobe) rows by contract,
    * the size [[storedIvfPqTopK]] already broadcasts. */
  private[graft] def ivfPqProbesLocal(queries: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, m: Int, ksub: Int, dim: Int, nprobe: Int,
      idCol: String, vecCol: String): LocalProbes = {
    val cb = collectCodebook(codebooks, m, ksub).map(_.map(_.toArray))
    val sd = dim / m
    val q = queries.select(col(idCol).as("query_id"), col(vecCol))
    val c = centroids.select(col(idCol).as("centroid_id"), col(vecCol))
    val Seq(qIdT, qVecT, cIdT, cVecT) =
      Seq(q.schema(0), q.schema(1), c.schema(0), c.schema(1)).map(_.dataType)
    val cRows = c.queryExecution.executedPlan.executeCollect()
    val cosine = CosineSimExpr(BoundReference(0, qVecT, nullable = true),
      BoundReference(1, cVecT, nullable = true))
    val byCsim = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(0, DoubleType, nullable = true), Descending),
      SortOrder(BoundReference(1, cIdT, nullable = true), Ascending)))
    def lut(v: ArrayData): ArrayData = {
      val x = doubles(v, qVecT)
      new GenericArrayData(cb.indices.flatMap { s =>
        cb(s).map { cv =>
          var acc = 0.0
          var i = 0
          while (i < cv.length) { acc += x(s * sd + i) * cv(i); i += 1 }
          acc
        }
      }.toArray[Any])
    }
    val byQuery = q.queryExecution.executedPlan.executeCollect().toSeq.groupBy(_.get(0, qIdT))
    val rows = byQuery.toSeq.flatMap { case (qid, qs) =>
      qs.flatMap { qr =>
        val l = Option(qr.getArray(1)).map(lut).orNull
        cRows.map { cr =>
          val csim = round6(cosine.eval(InternalRow(qr.getArray(1), cr.getArray(1))))
          (InternalRow(csim, cr.get(0, cIdT)), l)
        }
      }.sortBy(_._1)(byCsim).take(nprobe)
        .map { case (key, l) => InternalRow(qid, l, key.get(1, cIdT)) }
    }
    val schema = StructType(Seq(q.schema(0),
      StructField("lut", ArrayType(DoubleType, containsNull = true)), c.schema(0)))
    LocalProbes(org.apache.spark.sql.graft.DirectParquetIo.localFrame(
      queries.sparkSession, schema, rows), rows)
  }

  /** Spark's `round(d, 6)` of a double (or null), evaluated by its own
    * expression. */
  private def round6(d: Any): Any = Round6.eval(InternalRow(d))
  private val Round6 = Round(BoundReference(0, DoubleType, nullable = true), Literal(6))

  /** The elements of a numeric array as doubles (the `cast("double")`
    * [[dot]] applies). */
  private def doubles(a: ArrayData, t: DataType): Array[Double] =
    t.asInstanceOf[ArrayType].elementType match {
      case FloatType => a.toFloatArray().map(_.toDouble)
      case DoubleType => a.toDoubleArray()
      case IntegerType => a.toIntArray().map(_.toDouble)
      case LongType => a.toLongArray().map(_.toDouble)
      case other => throw new IllegalArgumentException(s"bad element: $other")
    }

  /** [[storedIvfPqTopK]] evaluated on the driver over decoded lists rows
    * `lists` (of `schema`: idCol, centroid_id, codes) and a probe set:
    * each probe row scores the rows of its list except the query itself
    * — sim the rounded ordered fold of LUT lookups ([[pqScoreExpr]]) —
    * and each query keeps its k best by sim descending then neighbor_id
    * ascending, ranked 1..k. A LocalRelation with the distributed side's
    * schema. */
  private[graft] def storedIvfPqTopKLocal(probes: LocalProbes, schema: StructType,
      lists: Seq[InternalRow], m: Int, ksub: Int, k: Int, idCol: String): DataFrame = {
    val Seq(ni, ci, ki) = Seq(idCol, "centroid_id", "codes").map(schema.fieldIndex)
    val (nT, cT) = (schema(ni).dataType, schema(ci).dataType)
    val qField = probes.frame.schema("query_id")
    val byList = lists.filterNot(_.isNullAt(ci)).groupBy(_.get(ci, cT))
    val bySim = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(3, DoubleType, nullable = true), Descending),
      SortOrder(BoundReference(2, nT, nullable = true), Ascending)))
    val scored = probes.rows.flatMap { p =>
      val qid = p.get(0, qField.dataType)
      val lut = p.getArray(1).toDoubleArray()
      byList.getOrElse(p.get(2, cT), Nil).collect {
        case r if qid != null && !r.isNullAt(ni) && r.get(ni, nT) != qid =>
          val codes = r.getArray(ki)
          var acc = 0.0
          var s = 0
          while (s < m) { acc += lut(s * ksub + codes.getInt(s)); s += 1 }
          InternalRow(qid, 0, r.get(ni, nT), round6(acc))
      }
    }
    val rows = scored.groupBy(_.get(0, qField.dataType)).values.toSeq.flatMap { rs =>
      rs.sorted(bySim).take(k).zipWithIndex.map { case (r, i) => r.setInt(1, i + 1); r }
    }
    org.apache.spark.sql.graft.DirectParquetIo.localFrame(probes.frame.sparkSession,
      StructType(Seq(qField, StructField("rank", IntegerType, nullable = false),
        StructField("neighbor_id", nT), StructField("sim", DoubleType))), rows)
  }

  /** ADC top-k over a STORED IVF-PQ index frame ([[ivfPqEncode]] rows:
    * id, centroid_id, codes) given a probe frame ([[ivfPqProbes]]).
    * The probes broadcast into the index join on centroid_id — only
    * probed inverted lists are scored, and scoring reads m small codes
    * per vector, never the float corpus. Ranking is shard-bounded. */
  def storedIvfPqTopK(index: DataFrame, probes: DataFrame, m: Int,
      ksub: Int, k: Int, idCol: String = "vec_id",
      shards: Int = 64): DataFrame = {
    val scored = broadcast(probes)
      .join(index.select(col(idCol).as("neighbor_id"),
        col("centroid_id"), col("codes")), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", pqScoreExpr(col("lut"), col("codes"), m, ksub))
    perQueryTopK(scored, k, shards)
  }

  /** IVF-PQ (the FAISS billion-vector architecture composed from this
    * file's parts): the coarse quantizer prunes WHICH vectors are
    * scored — queries probe their nprobe closest centroids and touch
    * only those inverted lists (scanned fraction ≈ nprobe/nlist) — and
    * PQ-ADC prunes WHAT is read per vector: m small codes instead of
    * dim floats. Composed as [[ivfPqEncode]] (one corpus pass, no
    * shuffle) + [[ivfPqProbes]] (broadcast side) + [[storedIvfPqTopK]]
    * — the same three stages [[IncrementalIvfPqIndex]] persists; this
    * form re-derives the encode per run, the index serves it stored. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, m: Int, ksub: Int,
      dim: Int, k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", shards: Int = 64): DataFrame = {
    val probes = ivfPqProbes(queries, centroids, codebooks,
      m, ksub, dim, nprobe, idCol, vecCol)
    val enc = ivfPqEncode(corpus, centroids, codebooks,
      m, ksub, dim, idCol, vecCol)
    storedIvfPqTopK(enc, probes, m, ksub, k, idCol, shards)
  }

  /** Per-vector IVF residual (Jégou et al. TPAMI 2011 §IV): assign each
    * vector to its nearest coarse centroid and return v − c(list(v)) —
    * the quantity residual PQ encodes. Residuals cluster tightly around
    * the origin regardless of where each list sits in space, so a
    * shared PQ codebook spends its ksub^m cells on LOCAL structure —
    * that concentration is where FAISS's billion-scale accuracy at
    * equal code bytes comes from. One corpus pass (broadcast-centroid
    * argmax, row-local subtraction); the corpus never shuffles. */
  def ivfResiduals(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    collectCentroids(centroids, idCol, vecCol) match {
      case Some((idT, cents)) if cents.nonEmpty =>
        // row-local assign + subtract in one projection (no shuffle);
        // the winning centroid vector rides in the fold's accumulator
        val best = assignFold(col(vecCol), cents,
          (v, cv) => round(cosine(v, cv), 6), pickMax = true)
        corpus.select(col(idCol), col(vecCol))
          .withColumn("__best", best)
          .select(col(idCol),
            col("__best")("cid").cast(idT).as("centroid_id"),
            zip_with(col(vecCol), col("__best")("cv"),
              (a, b) => a.cast("double") - b.cast("double")).as(vecCol))
      case _ =>
        val c = centroids.select(col(idCol).as("centroid_id"),
          col(vecCol).as("cv"))
        val w = Window.partitionBy(col(idCol))
          .orderBy(col("sim").desc, col("centroid_id"))
        corpus.select(col(idCol), col(vecCol)).crossJoin(broadcast(c))
          .withColumn("sim", round(cosine(col(vecCol), col("cv")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col(idCol), col("centroid_id"),
            zip_with(col(vecCol), col("cv"),
              (a, b) => a.cast("double") - b.cast("double")).as(vecCol))
    }

  /** [[pqTrain]] over IVF residuals instead of raw vectors — the
    * codebook half of residual IVF-PQ. Trains by L2 (not cosine):
    * residuals carry position, and PQ reconstruction error is an L2
    * objective — cosine-training a residual codebook measurably hurts
    * recall (direction clusters, positional encode). */
  def pqTrainResidual(corpus: DataFrame, centroids: DataFrame, m: Int,
      ksub: Int, iters: Int, dim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqTrain(
      ivfResiduals(corpus, centroids, idCol, vecCol)
        .select(col(idCol), col(vecCol)),
      m, ksub, iters, dim, idCol, vecCol, metric = "l2")

  /** Residual IVF-PQ search: vectors are stored as PQ codes of their
    * residual v − c(list), so dot(q, v) ≈ dot(q, c) + dot(q, r̂) — the
    * first term is exact per probed list (one dot against nlist
    * centroids, already paid by probe selection) and the second is the
    * standard ADC lookup-table fold seeded with it. Same probe/assign/
    * broadcast shape as [[ivfPqTopK]]; the only extra work is the
    * row-local residual subtraction at encode time and one double add
    * at score time — equal code bytes, strictly more faithful scores. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, m: Int, ksub: Int,
      dim: Int, k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", shards: Int = 64): DataFrame = {
    val sd = dim / m
    val cbLit = typedlit(collectCodebook(codebooks, m, ksub))
    val c = centroids.select(col(idCol).as("centroid_id"),
      col(vecCol).as("cv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        pqLutExpr(col(vecCol), cbLit, m, sd).as("lut"))
      .crossJoin(broadcast(c))
      .withColumn("csim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("lut"), col("centroid_id"),
        dot(col("qv"), col("cv")).as("qdotc"))
    val assigned = ivfResiduals(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        pqCodesL2Expr(col(vecCol), cbLit, m, ksub, sd).as("codes"))
    val scored = broadcast(probes).join(assigned, "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        pqScoreExpr(col("lut"), col("codes"), m, ksub, col("qdotc")))
    perQueryTopK(scored, k, shards)
  }

  /** Lloyd's k-means over an embedding column — the trainer for the
    * IVF coarse quantizer ([[ivfAssign]]'s centroid input). Each
    * iteration is one distributed pass: broadcast-centroid assignment
    * (identical scoring to ivfAssign — rounded cosine, id tiebreak)
    * then a per-(centroid, dimension) mean. Only the k×dim centroid
    * matrix ever reaches the driver — the standard Lloyd driver state,
    * NOT a data collect; the corpus pass stays fully distributed.
    *
    * Determinism contract (what makes the v10 oracle possible): init =
    * the k lowest-id vectors; the mean's summation is an explicit
    * LEFT FOLD over members in ascending id (double addition is not
    * associative, so an unordered partial-agg sum would differ run to
    * run and engine to engine). The ordered fold costs a per-cell
    * collect_list bounded by the cluster size — k-means training runs
    * on samples at 100 TB scale, where that bound is the sample size
    * over k. Empty clusters keep their previous position. */
  def kmeansFit(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metric: String = "cosine"): DataFrame = {
    require(k >= 1 && iters >= 0, "k >= 1 and iters >= 0 required")
    require(metric == "cosine" || metric == "l2",
      s"metric must be cosine or l2, got $metric")
    val spark = corpus.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = corpus.select(col(idCol).cast("long").as("_id"),
      transform(col(vecCol), x => x.cast("double")).as("_v"))
    val cSchema = StructType(Seq(
      StructField("centroid_id", LongType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    // LocalRelation-backed (not parallelize): the k×dim centroid matrix
    // is driver state — consumers collect it (assignFold literals) or
    // write it frozen, and a LocalRelation serves both without a scan
    // job. Same rows, same schema.
    def toDf(cs: Seq[(Long, Seq[Double])]) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        cs.map { case (i, v) => Row(i, v) }.asJava, cSchema)
    }
    var centroids: Seq[(Long, Seq[Double])] = base.orderBy(col("_id"))
      .limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    for (_ <- 0 until iters) {
      // cosine clusters direction (raw embeddings); l2 clusters
      // position (residuals — the Lloyd's objective PQ reconstruction
      // error actually minimizes). Same rounded-score + id tiebreak —
      // assignment is the row-local [[assignFold]] against the driver's
      // own centroid state (it was ALREADY a Seq here): the previous
      // crossJoin+window shipped every vector k× through an exchange
      // per Lloyd iteration.
      val best = assignFold(col("_v"), centroids.sortBy(_._1),
        if (metric == "cosine") (v, cv) => round(cosine(v, cv), 6)
        else (v, cv) => round(sqDist(v, cv), 6),
        pickMax = metric == "cosine")
      val assigned = base.withColumn("__best", best)
        .select(col("__best")("cid").as("centroid_id"), col("_id"),
          col("_v"))
      // Per-(centroid, dim) mean with the SAME left-fold-in-ascending-id
      // summation, computed as a running-frame WINDOW sum instead of a
      // sort_array(collect_list) fold. Bit-equality argument: Spark's
      // Sum over an ordered frame accumulates incrementally in frame
      // order — the buffer starts empty, the first update evaluates
      // coalesce(sum, 0.0) + x1 = 0.0 + x1, then acc + x row by row —
      // exactly the fold's summation sequence (including 0.0 + x1 and
      // its -0.0 canonicalization); ordering ties (duplicate ids)
      // reproduce sort_array's (id, value) tiebreak by ordering on
      // both. Nulls: the fold turned any null member into a null mean
      // (acc + null = null) while a window Sum skips nulls, so that
      // case is restored from the non-null count. Why the rewrite:
      // collect_list holds EVERY member value of a (centroid, dim)
      // cell in one unspillable aggregation buffer — the §5 OOM class
      // at corpus scale — where WindowExec streams each partition
      // through a spillable row array; and the per-centroid array now
      // assembles on the driver from the k×dim mean CELLS (the same
      // centroid matrix the driver already holds) instead of through a
      // second shuffle's collect_list. Plan: 2 Exchanges + 2
      // object-hash aggregates → 1 Exchange + 1 Window.
      val wOrd = Window.partitionBy(col("centroid_id"), col("pos"))
        .orderBy(col("_id"), col("col"))
      val wAll = wOrd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val cells = assigned
        .select(col("centroid_id"), col("_id"), posexplode(col("_v")))
        .select(col("centroid_id"), col("pos"),
          row_number().over(wOrd).as("__rn"),
          sum(col("col")).over(wAll).as("__sum"),
          count(lit(1)).over(wAll).as("__n"),
          count(col("col")).over(wAll).as("__nn"))
        .filter(col("__rn") === 1)
        .select(col("centroid_id"), col("pos"),
          when(col("__nn") < col("__n"), lit(null).cast("double"))
            .otherwise(col("__sum") / col("__n")).as("mean"))
        .collect()
      val upd: Map[Long, Seq[Double]] = cells
        .groupBy(_.getLong(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1))
            .map(r => if (r.isNullAt(2)) null
              else java.lang.Double.valueOf(r.getDouble(2)))
            .toSeq.asInstanceOf[Seq[Double]]
        }
      centroids = centroids.map { case (cid, old) =>
        (cid, upd.getOrElse(cid, old))
      }
    }
    toDf(centroids)
  }
}
