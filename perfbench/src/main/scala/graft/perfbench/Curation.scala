package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.dedup.Dedup
import graft.expressions.TextStatsExpressions
import graft.io.ManagedParquetTable
import graft.text.TextFunctions

/** The e4-shaped training-data curation chain over one corpus batch:
  * tagged ingest (`BronzeIngest.indexedIngestBatch`), the scored
  * language gate and token floor, exact dedup on the normalized-text
  * fingerprint, SimHash near-duplicate pairs (radius 1) folded by
  * `connectedComponents`, Bloom decontamination against the
  * doc_id % 89 == 0 benchmark slice, PII redaction, chunk/split/pack, and
  * the JSONL shard export with its on-disk row count. The DuckDB oracle
  * of catalog gate e4 replays the same chain. */
final class Curation(ctx: Ctx) {
  import Curation.Batch
  import ctx.{span, spark}

  private val BenchPred: Column = col("doc_id") % 89 === 0

  /** Ingests `batch` (doc ids in [lo, hi)) into `table` and curates it. */
  def run(table: ManagedParquetTable, batch: DataFrame, batchId: Long,
      lo: Long, hi: Long, shards: Path): Batch = {
    span("streaming.indexed_ingest") {
      graft.streaming.BronzeIngest.indexedIngestBatch(table, batch, batchId,
        "perfbench-corpus", Nil)
    }
    val corpus = table.read().filter(col("doc_id") >= lo && col("doc_id") < hi)
    val exact = span("text.functions") {
      val sc = TextStatsExpressions.lang_id_scored(col("text"))
      val st = TextStatsExpressions.text_stats(col("text"))
      val gated = corpus.filter(sc.getField("lang") === "en" &&
          sc.getField("conf_permille") >= lit(500) &&
          st.getField("n_tokens") >= lit(20))
        .select(col("doc_id"), md5(TextFunctions.normalizedText(col("text"))).as("_fp"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("_fp").orderBy("doc_id")
      val ids = gated.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).select(col("doc_id"))
      corpus.join(ids, Seq("doc_id"), "left_semi").select(col("doc_id"), col("text"))
        .persist(MEMORY_AND_DISK)
    }
    val pairs = span("dedup.near_dups") {
      val p = Dedup.simhashNearDups(exact, maxDist = 1).persist(MEMORY_AND_DISK)
      p.count()
      p
    }
    val near = span("dedup.components") {
      Dedup.dedupByClusters(exact, Dedup.connectedComponents(pairs.select("id_a", "id_b")))
    }
    val clean = span("dedup.decontaminate") {
      Dedup.bloomDecontaminate(near.filter(!BenchPred),
        corpus.filter(BenchPred).select(col("doc_id"), col("text")),
        expectedItems = 1L << 18)
    }
    val packed = span("text.functions") {
      val red = clean.select(col("doc_id"), TextFunctions.redactPii(concat(col("text"),
        lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567 or 10.0.0."),
        pmod(col("doc_id"), lit(256)).cast("string"))).as("red"))
      val b = pmod(pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L),
        lit(1000000007L)), lit(100L))
      val chunks = TextFunctions.chunkDocuments(red, "red", chunkTokens = 32, overlap = 8)
        .withColumn("shard", col("doc_id") % 8)
        .withColumn("split", when(b < 90, lit("train")).when(b < 95, lit("valid"))
          .otherwise(lit("test")))
      graft.operators.Packing.packSequences(chunks, "n_chunk_tokens",
        concat_ws("/", col("split"), col("shard")), Seq(col("doc_id"), col("chunk_idx")),
        capacity = 64)
    }
    val (written, onDisk) = span("io.export") {
      val n = graft.io.TrainingExport.writeJsonlShards(packed.drop("red"),
        keyCol = "doc_id", nShards = 8, path = shards.toString)
      (n, spark.read.textFile(shards.toString).count())
    }
    Batch(written, onDisk, exact, pairs)
  }

  /** (verified near-dup value pairs, SimHash band-collision candidate
    * pairs) under the 4 x 8-bit banding simhashNearDups blocks on. Costs
    * jobs, so only the traced run computes it. */
  def candidatePairs(exact: DataFrame): (Long, Long) = {
    val sh = exact.select(Dedup.simhash(col("text")).as("sh")).distinct()
    val banded = sh.select(col("sh"), posexplode(array((0 until 4).map(b =>
      shiftright(col("sh"), 8 * b).bitwiseAND(lit(255L))): _*)))
    val cand = banded.as("l").join(banded.as("r"),
        col("l.pos") === col("r.pos") && col("l.col") === col("r.col") &&
          col("l.sh") < col("r.sh"))
      .select(col("l.sh").as("a"), col("r.sh").as("b")).distinct()
      .persist(MEMORY_AND_DISK)
    try (cand.filter(Dedup.hammingDist(col("a"), col("b")) <= 1).count(), cand.count())
    finally cand.unpersist()
  }
}

object Curation {
  /** Result of one batch: rows the export observed and rows on disk; the
    * exact-dedup survivors and near-dup pairs stay persisted until
    * [[Batch.release]], so traced runs can count candidates afterwards. */
  final case class Batch(exported: Long, onDisk: Long, exact: DataFrame,
      pairs: DataFrame) {
    def release(): Unit = { pairs.unpersist(); exact.unpersist() }
  }
}
