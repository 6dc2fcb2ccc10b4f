package graft.queries

import graft.{GQuery, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's end-to-end pipeline shapes (SURVEY.md §3) exercised
  * deterministically on the testdata star schema, plus the multimodal
  * binary-column plumbing a training-data pipeline needs. */
object EtlShape {

  /** §3.2 gold-enrich shape: fact ⟕ dim with FR→EN-style renames (P1),
    * right-key drop (P2/P3 hygiene via Seq-join), type coercion (F2/F3),
    * and a deterministic processing-date column (F5's shape; literal so
    * the gate compare is stable). */
  val goldEnrich: GQuery = GQuery(
    "e1_gold_enrich_shape",
    (s, d) => {
      val fact = Tables.orders(s, d)
        .withColumnRenamed("o_custkey", "employee_id")
        .withColumn("total_price", col("o_totalprice").try_cast("double"))
      val dim = Tables.customer(s, d)
        .withColumnRenamed("c_custkey", "employee_id")
        .withColumnRenamed("c_name", "employee_name")
        .select("employee_id", "employee_name", "c_mktsegment")
      fact
        .join(broadcast(dim), Seq("employee_id"), "left")
        .withColumn("gold_processing_date", lit("2026-01-01"))
        .select(col("o_orderkey"), col("employee_id"), col("employee_name"),
          col("c_mktsegment"), col("total_price"), col("gold_processing_date"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey AS employee_id,
              c_name AS employee_name, c_mktsegment,
              CAST(o_totalprice AS DOUBLE) AS total_price,
              '2026-01-01' AS gold_processing_date
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
            ORDER BY o_orderkey"""))

  /** Multimodal plumbing (audio/video-shaped): treat document text bytes
    * as an opaque binary payload, carry typed metadata, run the
    * deterministic stub "decoder" (StubCodec — retained for payload
    * kinds the JDK cannot decode; images get the real ImageIO path in
    * m2 below): byte length + pseudo width/height derived from the
    * payload hash. The Spark-side schema/partitioning/batch shape is
    * real; only this codec is fake. */
  val multimodalMeta: GQuery = GQuery(
    "m1_multimodal_decode_stub",
    (s, d) => {
      val payload = Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"),
          col("source"))
      payload.select(
        col("doc_id"), col("source"),
        octet_length(col("payload")).as("n_bytes"),
        // stub codec: dims from the byte-length hash (deterministic)
        (pmod(octet_length(col("payload")) * 2654435761L, lit(1920L)) + 1)
          .as("width"),
        (pmod(octet_length(col("payload")) * 40503L, lit(1080L)) + 1)
          .as("height"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source, strlen(text) AS n_bytes,
              (strlen(text) * 2654435761) % 1920 + 1 AS width,
              (strlen(text) * 40503) % 1080 + 1 AS height
            FROM documents ORDER BY doc_id"""))

  /** REAL image decode (javax.imageio, JDK-only): deterministic PNG/BMP
    * fixtures are encoded per doc_id (DataGen.imageBytes — dimensions,
    * format and dHash are pure functions of the id), then decoded
    * through the partition-batched [[graft.multimodal.Multimodal]]
    * pipeline with [[graft.multimodal.Multimodal.ImageIoCodec]]:
    * header-parsed width/height/format + 64-bit dHash over a 9×8
    * block-mean grayscale grid. The oracle states the expected decode
    * output arithmetically — any header-parse or hash defect breaks the
    * row hash. */
  val imageDecode: GQuery = GQuery(
    "m2_image_decode",
    (s, d) => {
      val enc = udf((id: Long) => graft.etl.DataGen.imageBytes(id))
      // the encode UDF + decode are CPU-bound per row, but the id list
      // comes off ONE parquet file (1-2 partitions at bench scale) —
      // spread the ids first so codec work uses every core. At corpus
      // scale the scan is already wide and repartitionForBlobs governs.
      // The ordered-output contract is established BEFORE the codec:
      // a post-decode orderBy's range exchange executes its child
      // twice (sampling pass + shuffle pass — every image decoded 2x);
      // range-sorting the bare id frame costs two scans of a LONG
      // column instead, and the codec stages are order-preserving
      // (narrow maps), so the emitted row order is identical.
      val assets = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
        .repartitionByRange(s.sparkContext.defaultParallelism,
          col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .withColumn("payload", enc(col("doc_id")))
      graft.multimodal.Multimodal
        .decodeAndFeaturize(assets, "payload",
          graft.multimodal.Multimodal.ImageIoCodec)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("format"), col("phash"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS width,
              CAST(16 + (doc_id * 13) % 48 AS BIGINT) AS height,
              CASE WHEN doc_id % 3 = 0 THEN 'bmp' ELSE 'png' END AS format,
              CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE -1 END AS BIGINT)
                AS phash
            FROM documents ORDER BY doc_id"""))

  /** REAL audio decode (javax.sound.sampled, JDK-only): deterministic
    * WAV fixtures per doc_id (DataGen.audioBytes — a square wave whose
    * sample rate, length and amplitude are pure functions of the id,
    * so peak = rms = amplitude exactly), parsed back through the
    * partition-batched [[graft.multimodal.Multimodal.decodeAudio]]
    * pipeline. The oracle re-derives every decoded field
    * arithmetically — a container-parse or framing defect breaks the
    * row hash. */
  val audioDecode: GQuery = GQuery(
    "m3_audio_decode",
    (s, d) => {
      val enc = udf((id: Long) => graft.etl.DataGen.audioBytes(id))
      // m2-style fan-out: the id list comes off ONE parquet file (1-2
      // scan partitions at bench scale), so without a spread the whole
      // encode+container-parse chain runs serially on one core —
      // measured ~2.5 s at sf0.1 vs ~0.4 s spread (the earlier "no
      // fan-out needed" note predated the regenerated corpus). The
      // shuffle moves only (doc_id) longs; at corpus scale the scan is
      // already wide and repartitionForBlobs governs.
      val assets = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
        .repartitionByRange(s.sparkContext.defaultParallelism,
          col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .withColumn("payload", enc(col("doc_id")))
      // ordered-output contract established before the codec — see m2:
      // a post-decode orderBy would decode every payload twice
      graft.multimodal.Multimodal.decodeAudio(assets, "payload")
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("duration_ms"),
          col("peak").cast("long").as("peak"),
          col("rms"),
          col("n_frames").cast("long").as("n_frames"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(8000 * (1 + doc_id % 2) AS BIGINT) AS sample_rate,
              CAST(800 + (doc_id * 37) % 1600 AS BIGINT) AS n_samples,
              CAST((800 + (doc_id * 37) % 1600) * 1000
                   // (8000 * (1 + doc_id % 2)) AS BIGINT) AS duration_ms,
              CAST(100 + (doc_id * 11) % 900 AS BIGINT) AS peak,
              CAST(100 + (doc_id * 11) % 900 AS DOUBLE) AS rms,
              CAST((800 + (doc_id * 37) % 1600 - 256) // 128 + 1 AS BIGINT)
                AS n_frames
            FROM documents ORDER BY doc_id"""))

  // --- E2: end-to-end ingest replay fixture -------------------------------

  /** Deterministic Debezium-envelope JSONL backlog: inserts, updates
    * (filtered by P11), and tombstones, with planted nulls. Written
    * idempotently to a stable absolute path so the DuckDB oracle can
    * read the SAME bytes via read_json. */
  private val replayFixtureFile: String = {
    val base = sys.env.getOrElse("GRAFT_FIXTURE_DIR",
      "/root/repo/target/fixtures")
    s"$base/e2_replay/backlog.jsonl"
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private lazy val replayFixtureDir: String = {
    val sports = Seq("Course à pied", "Vélo", "Natation", "Marche")
    val baseUs = 1722470400000000L // 2024-08-01T00:00:00Z in epoch-µs
    val lines = (1 to 240).map { i =>
      if (i % 17 == 0) """{"payload": {"op": "d", "after": null}}"""
      else {
        val op = if (i % 10 == 0) "u" else "c"
        val dist = if (i % 7 == 0) "null" else (i * 100).toString
        val comment =
          if (i % 3 == 0) "null" else jsonStr(s"Commentaire n°$i")
        s"""{"payload": {"op": "$op", "after": {"ID": $i,""" +
          s""" "ID_salarie": ${i % 100 + 1},""" +
          s""" "Date_de_debut": ${baseUs + i * 3600000000L},""" +
          s""" "Sport_type": ${jsonStr(sports((i - 1) % 4))},""" +
          s""" "Distance_m": $dist,""" +
          s""" "Date_de_fin": ${baseUs + i * 3600000000L + 5400000000L},""" +
          s""" "Commentaire": $comment}}}"""
      }
    }
    val f = java.nio.file.Paths.get(replayFixtureFile)
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    f.getParent.toString
  }

  /** E2: the whole bronze path under one oracle gate — bounded backlog
    * replay (S2/S3) → Debezium decode + insert-only filter (S4/P11) →
    * µs-epoch timestamps (F1) → broadcast dim enrich (J1). The oracle
    * parses the identical JSONL in DuckDB and replays the same
    * semantics in SQL. processing_timestamp (F5) is dropped — wall
    * clock is untestable by construction; e1 gates its deterministic
    * analog. */
  val ingestReplay: GQuery = GQuery(
    "e2_ingest_replay",
    (s, d) => {
      val decoded = graft.streaming.BronzeIngest.batchReplay(s, replayFixtureDir)
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").cast("int").as("ID_salarie"),
          col("c_name"), col("c_mktsegment"))
      decoded.drop("processing_timestamp")
        .join(broadcast(dim), Seq("ID_salarie"), "left")
        .select(
          col("ID").cast("long").as("id"),
          col("ID_salarie").cast("long").as("employee_id"),
          // calendar-rendered (not raw timestamps): pandas materializes
          // Spark parquet ns-unit vs DuckDB µs-unit int64 and hash-differs
          date_format(col("Date_de_debut"), "yyyy-MM-dd HH:mm:ss")
            .as("start_ts"),
          date_format(col("Date_de_fin"), "yyyy-MM-dd HH:mm:ss")
            .as("end_ts"),
          col("Sport_type").as("sport_type"),
          coalesce(col("Distance_m").cast("long"), lit(-1L)).as("distance_m"),
          coalesce(col("Commentaire"), lit("")).as("comment"),
          col("c_name"), col("c_mktsegment"))
        .orderBy(col("id"))
    },
    Some(s"""SELECT CAST(payload.after.ID AS BIGINT) AS id,
              CAST(payload.after.ID_salarie AS BIGINT) AS employee_id,
              strftime(make_timestamp(payload.after.Date_de_debut),
                '%Y-%m-%d %H:%M:%S') AS start_ts,
              strftime(make_timestamp(payload.after.Date_de_fin),
                '%Y-%m-%d %H:%M:%S') AS end_ts,
              payload.after.Sport_type AS sport_type,
              coalesce(CAST(payload.after.Distance_m AS BIGINT), -1)
                AS distance_m,
              coalesce(payload.after.Commentaire, '') AS comment,
              c.c_name, c.c_mktsegment
            FROM read_json('$replayFixtureFile',
              columns={payload: 'STRUCT(op VARCHAR, after STRUCT(
                ID BIGINT, ID_salarie BIGINT, Date_de_debut BIGINT,
                Sport_type VARCHAR, Distance_m BIGINT, Date_de_fin BIGINT,
                Commentaire VARCHAR))'}) j
            LEFT JOIN customer c ON payload.after.ID_salarie = c.c_custkey
            WHERE payload.op = 'c' AND payload.after IS NOT NULL
            ORDER BY id"""))

  /** S11 raw-parquet escape hatch + U1: per-file scan union with a
    * provenance column, deterministic order. */
  val unionScan: GQuery = GQuery(
    "s11_multi_scan_union",
    (s, d) => {
      val a = Tables.nation(s, d).withColumn("src", lit("nation"))
        .select(col("n_nationkey").as("key"), col("n_name").as("name"), col("src"))
      val b = Tables.region(s, d).withColumn("src", lit("region"))
        .select(col("r_regionkey").as("key"), col("r_name").as("name"), col("src"))
      a.unionByName(b).orderBy(col("src"), col("key"))
    },
    Some("""SELECT * FROM (
              SELECT n_nationkey AS key, n_name AS name, 'nation' AS src
              FROM nation
              UNION ALL
              SELECT r_regionkey, r_name, 'region' FROM region)
            ORDER BY src, key"""))

  /** S21: statistics-pruned scan of a z-order-clustered managed table.
    * The orders fact is rewritten clustered on (o_custkey, o_orderkey)
    * into a fresh ManagedParquetTable (per-file min/max recorded from
    * the parquet footers at write), then read back through readWhere —
    * the planning path that drops every file whose footer bounds
    * cannot satisfy the predicate before the scan starts. The oracle
    * is the plain filter over the raw table: any mis-skip (a pruned
    * file that held matching rows) breaks the row hash. */
  val prunedScan: GQuery = GQuery(
    "s21_pruned_scan",
    (s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_s21_tbl").toString + "/orders"
      val t = new graft.io.ManagedParquetTable(s, dir)
      t.overwriteClustered(
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice")),
        Seq("o_custkey", "o_orderkey"), numFiles = 8)
      t.readWhere(col("o_custkey") <= 150 && col("o_orderkey") > 1000)
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey,
              CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders
            WHERE o_custkey <= 150 AND o_orderkey > 1000
            ORDER BY o_orderkey"""))

  /** S22: hive-partitioned layout + partition pruning — the directory
    * half of data layout (s21 covers per-file statistics). Orders are
    * rewritten partitionBy(o_orderstatus); the filtered read resolves
    * the predicate at PLANNING time from the directory structure
    * (PartitionFilters in the scan — PlanSpec asserts it), so
    * non-matching partitions are never listed, let alone read. At
    * 100 TB partition pruning is the first and cheapest pruning tier:
    * it cuts the file LISTING, which stats/row-group pruning cannot. */
  val partitionedScan: GQuery = GQuery(
    "s22_partitioned_scan",
    (s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_s22_tbl").toString + "/orders"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
      s.read.parquet(dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus
            FROM orders WHERE o_orderstatus = 'F'
            ORDER BY o_orderkey"""))

  /** S23: bucketed co-located join — both sides written bucketBy(8) on
    * the join key, so the SortMergeJoin consumes bucket layout directly:
    * ZERO Exchange on either input (PlanSpec asserts it). At 100 TB this
    * is THE recurring-join optimization: the fact table's shuffle is
    * paid once at write time and amortized over every subsequent join
    * on that key. The merge hint forces SMJ so the co-location (not a
    * broadcast) is what's exercised; results are layout-invariant, so
    * the oracle is the plain join. */
  val bucketedJoin: GQuery = GQuery(
    "s23_bucketed_join",
    (s, d) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_s23_tbl").toString
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").option("path", s"$base/orders_b")
        .saveAsTable("graft_s23_orders")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").option("path", s"$base/lineitem_b")
        .saveAsTable("graft_s23_lineitem")
      s.table("graft_s23_orders").hint("merge")
        .join(s.table("graft_s23_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey, count(*) AS n_items,
              CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                AS qty_cents
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_custkey ORDER BY o_custkey"""))

  /** S24: Delta-style MERGE (upsert) through the managed table — the
    * reference's gold table is Delta, and MERGE is its daily-load verb.
    * Base = orders ≤ 2000; updates = keys 1500..2500 with price·1.1 in
    * exact cents arithmetic ((cents·11) div 10 — BIGINT end to end), so
    * 1500..2000 update in place and 2001..2500 insert. One atomic
    * commit; the oracle states the same upsert as upd ∪ (base ∖ upd). */
  val mergeUpsert: GQuery = GQuery(
    "s24_merge_upsert",
    (s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_s24_tbl").toString + "/orders_m"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), Exact.cents(col("o_totalprice")).as("price_cents"))
      val base = o.filter(col("o_orderkey") <= 2000)
      val updates = o
        .filter(col("o_orderkey") >= 1500 && col("o_orderkey") <= 2500)
        .withColumn("price_cents",
          Exact.idiv(col("price_cents") * 11, lit(10)))
      val t = new graft.io.ManagedParquetTable(s, dir)
      t.overwrite(base)
      t.merge(updates, Seq("o_orderkey"))
      t.read().orderBy(col("o_orderkey"))
    },
    Some("""WITH base AS (SELECT o_orderkey, o_custkey,
              CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
              FROM orders WHERE o_orderkey <= 2000),
            upd AS (SELECT o_orderkey, o_custkey,
              (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                AS price_cents
              FROM orders WHERE o_orderkey BETWEEN 1500 AND 2500)
            SELECT * FROM upd
            UNION ALL
            SELECT b.* FROM base b LEFT JOIN upd u
              ON b.o_orderkey = u.o_orderkey
            WHERE u.o_orderkey IS NULL
            ORDER BY o_orderkey"""))

  /** S25: CDC apply — fold a create/update/delete change stream to
    * final state (latest seq per key wins; a winning delete removes the
    * key). The change stream is built deterministically from orders
    * (u for keys ≡0 mod 7 at seq 2, d for keys ≡0 mod 13 at seq 3);
    * the oracle derives the final state independently from the same
    * rules — an update survives only where no later delete hit. */
  val cdcApply: GQuery = GQuery(
    "s25_cdc_apply",
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").as("key"),
        Exact.cents(col("o_totalprice")).as("price_cents"))
      val creates = o.select(col("key"), lit(1L).as("seq"),
        lit("c").as("op"), col("price_cents"))
      val updates = o.filter(col("key") % 7 === 0)
        .select(col("key"), lit(2L).as("seq"), lit("u").as("op"),
          Exact.idiv(col("price_cents") * 11, lit(10)).as("price_cents"))
      val deletes = o.filter(col("key") % 13 === 0)
        .select(col("key"), lit(3L).as("seq"), lit("d").as("op"),
          lit(null).cast("long").as("price_cents"))
      graft.streaming.BronzeIngest.applyCdc(
        creates.unionByName(updates).unionByName(deletes),
        Seq("key"), "seq", "op")
        .orderBy(col("key"))
    },
    Some("""SELECT o_orderkey AS key,
              CASE WHEN o_orderkey % 7 = 0
                THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
                AS price_cents
            FROM orders WHERE o_orderkey % 13 != 0
            ORDER BY key"""))

  /** S26: BLOOM file-skipping — the equality tier the s21 min/max
    * sidecar cannot serve. Orders land in two segments INTERLEAVED on
    * o_orderkey (evens/odds), so both files' [min,max] span the whole
    * key domain and range pruning keeps everything; the per-file Bloom
    * index proves the wrong-parity file dead for a point lookup (a
    * negative probe is a proof — blooms have no false negatives).
    * Pruning can only drop provably-dead files, so the oracle is the
    * plain filter over the raw table. */
  val bloomPrunedScan: GQuery = GQuery(
    "s26_bloom_pruned_scan",
    (s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_s26_tbl").toString + "/orders"
      val t = new graft.io.ManagedParquetTable(s, dir)
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), Exact.cents(col("o_totalprice")).as("price_cents"))
      t.overwrite(o.filter(col("o_orderkey") % 2 === 0).coalesce(1))
      t.append(o.filter(col("o_orderkey") % 2 === 1).coalesce(1))
      t.buildBloomIndex(Seq("o_orderkey"))
      // a conjunction of an equality (bloom tier) and a range (stats
      // tier) — pruning must compose; disjunctions would yield no
      // prunable conjuncts at all (kept-all, still correct)
      t.readWhere(col("o_orderkey") === 1235L && col("o_custkey") >= 0L)
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey,
              CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders WHERE o_orderkey = 1235 AND o_custkey >= 0
            ORDER BY o_orderkey"""))

  /** M4: image near-duplicate pairs over the deterministic fixtures —
    * decode + dHash + banding + Hamming verify end to end. The fixture
    * hashes are a pure function of parity (even ids → solid image,
    * dHash 0; odd → gradient, dHash all-ones), so the TRUE pair set is
    * exactly the same-parity pairs at distance 0 and the oracle can
    * state it relationally. Capped to doc_id < 200 to keep the pair
    * output gate-sized; the operator itself is corpus-scale
    * (MultimodalSpec drives the non-degenerate geometry cases). */
  val imageNearDupsQ: GQuery = GQuery(
    "m4_image_neardups",
    (s, d) => {
      val enc = udf((id: Long) => graft.etl.DataGen.imageBytes(id))
      val assets = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
        .filter(col("doc_id") < 200)
        .withColumn("payload", enc(col("doc_id")))
      graft.multimodal.Multimodal.imageNearDups(assets, "payload")
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id
              FROM documents WHERE doc_id < 200)
            SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS dist
            FROM ids a JOIN ids b
              ON a.id < b.id AND a.id % 2 = b.id % 2
            ORDER BY id_a, id_b"""))

  /** MV1: incremental aggregate materialized view — the O(delta)
    * refresh a 100 TB warehouse needs (a per-batch full re-aggregate
    * is the one thing that cannot ship at scale). The gate drives the
    * full lifecycle: initial full compute, appends refreshed by
    * reading ONLY the new files, an aligned delete whose dropped
    * segment is maintained purely from stored per-file partials
    * (count/sum subtract; min/max groups the removed rows could have
    * set re-merge from surviving partials — the table is never
    * rescanned), and a scattered delete whose rewrite flows through
    * the same removal+append machinery. Both removal refreshes are
    * REQUIRED to resolve incrementally. The oracle aggregates the
    * equivalent final live set directly. */
  val incrementalView: GQuery = GQuery(
    "mv1_incremental_view",
    (s, d) => {
      import graft.io.IncrementalAggView.AggSpec
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv1").toString
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"),
        Exact.cents(col("o_totalprice")).as("price_cents"))
      val t = new graft.io.ManagedParquetTable(s, root + "/orders_t")
      val v = new graft.io.IncrementalAggView(s, root + "/orders_t",
        root + "/orders_v", Seq("o_orderpriority"),
        Seq(AggSpec("count", "", "cnt"),
          AggSpec("sum", "price_cents", "sum_cents"),
          AggSpec("min", "price_cents", "min_cents"),
          AggSpec("max", "price_cents", "max_cents")))
      t.append(o.filter(col("o_orderkey") % 3 === 0))
      v.refresh() // initial: full compute + per-file partials
      t.append(o.filter(col("o_orderkey") % 3 === 1))
      v.refresh() // incremental: aggregates ONLY the appended files
      t.append(o.filter(col("o_orderkey") % 3 === 2))
      v.refresh()
      // aligned delete: the %3==1 batch's segment drops whole (no
      // rewrite) → pure partials-subtract refresh, no table rescan
      t.deleteWhere(col("o_orderkey") % 3 === 1)
      v.refresh()
      require(v.lastRefresh == "incremental",
        s"aligned removal must refresh incrementally, got ${v.lastRefresh}")
      // scattered delete: every remaining segment is affected (real
      // Delta without deletion vectors rewrites the same); removals
      // resolve from partials, rewritten survivors merge as appends
      t.deleteWhere(col("o_orderkey") % 10 === 0)
      v.refresh()
      require(v.lastRefresh == "incremental",
        s"scattered removal must refresh incrementally, got ${v.lastRefresh}")
      v.read().orderBy(col("o_orderpriority"))
    },
    Some("""WITH live AS (SELECT o_orderpriority,
              CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
              FROM orders
              WHERE o_orderkey % 3 <> 1 AND o_orderkey % 10 <> 0)
            SELECT o_orderpriority, count(*) AS cnt,
              CAST(sum(price_cents) AS BIGINT) AS sum_cents,
              min(price_cents) AS min_cents,
              max(price_cents) AS max_cents
            FROM live GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  /** MV2: sketch-state materialized view — per-priority distinct
    * customers kept fresh by MERGING HLL sketches of only the
    * appended files (exact distinct is not decomposable; its sketch
    * is — register-wise max union). This is the daily-uniques-
    * without-rescan pattern; contract mirrors a2b: exact counts must
    * hash-match, the sketch estimate must land within 5%. */
  val incrementalDistinct: GQuery = GQuery(
    "mv2_incremental_distinct",
    (s, d) => {
      import graft.io.IncrementalAggView.AggSpec
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv2").toString
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey"))
      val t = new graft.io.ManagedParquetTable(s, root + "/orders_t")
      val v = new graft.io.IncrementalAggView(s, root + "/orders_t",
        root + "/orders_v", Seq("o_orderpriority"),
        Seq(AggSpec("hll", "o_custkey", "cust_sketch")))
      for (m <- 0 to 2) {
        t.append(o.filter(col("o_orderkey") % 3 === m))
        v.refresh() // full once, then sketch-merge per append
      }
      val exact = t.read().groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
      exact.join(v.readFinal(), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_cust"),
          (abs(col("cust_sketch") - col("n_cust")) * 100 <=
            col("n_cust") * 5).as("within_5pct"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
              count(DISTINCT o_custkey) AS n_cust,
              true AS within_5pct
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  /** MV3: JOIN-aware incremental MV — the reference's gold shape
    * (fact ⟕ two dims → grouped measures, gold/bronzeToGold.py:132-163)
    * maintained incrementally on BOTH axes: fact appends/deletes
    * refresh O(delta) from per-file partials (inner fact-grain state
    * keyed by the FK), and a DIM UPDATE re-merges only the bounded
    * state — the fact table is never rescanned for either (the spec
    * proves it by hiding the fact segments during the dim refresh).
    * Lifecycle: three fact appends, a dim update moving every 100th
    * customer to nation 0, then a scattered fact delete. The oracle
    * states the final joined aggregate with the dim update applied
    * relationally. */
  val joinView: GQuery = GQuery(
    "mv3_join_view",
    (s, d) => {
      import graft.io.IncrementalAggView.AggSpec
      import graft.io.IncrementalJoinAggView
      import graft.io.IncrementalJoinAggView.Dim
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv3").toString
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"),
        Exact.cents(col("o_totalprice")).as("price_cents"))
      val factT = new graft.io.ManagedParquetTable(s, root + "/orders_t")
      // dims as managed tables, join columns renamed to the fact side
      val custT = new graft.io.ManagedParquetTable(s, root + "/cust_t")
      custT.overwrite(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")))
      val natT = new graft.io.ManagedParquetTable(s, root + "/nat_t")
      natT.overwrite(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name")))
      val v = new IncrementalJoinAggView(s, root + "/orders_t",
        root + "/orders_v", Seq("o_custkey"),
        Seq(Dim(root + "/cust_t", Seq("o_custkey"), Seq("c_nationkey")),
          Dim(root + "/nat_t", Seq("c_nationkey"), Seq("n_name"))),
        Seq("n_name"),
        Seq(AggSpec("count", "", "cnt"),
          AggSpec("sum", "price_cents", "sum_cents")))
      for (m <- 0 to 2) {
        factT.append(o.filter(col("o_orderkey") % 3 === m))
        v.refresh()
      }
      require(v.lastRefresh == "incremental",
        s"fact appends must refresh incrementally, got ${v.lastRefresh}")
      // dim update: every 100th customer moves to nation 0 — no
      // fact-side work, just the bounded state re-merge
      custT.merge(Tables.customer(s, d)
        .filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("o_custkey"),
          (col("c_nationkey") * 0).as("c_nationkey")),
        Seq("o_custkey"))
      v.refresh()
      require(v.lastRefresh == "dim-remerge",
        s"dim update must resolve as dim-remerge, got ${v.lastRefresh}")
      // scattered fact delete flows through the partials machinery
      factT.deleteWhere(col("o_orderkey") % 10 === 0)
      v.refresh()
      require(v.lastRefresh == "incremental",
        s"fact delete must refresh incrementally, got ${v.lastRefresh}")
      v.read().orderBy(col("n_name"))
    },
    Some("""WITH cust AS (SELECT c_custkey,
              CASE WHEN c_custkey % 100 = 0 THEN 0
                   ELSE c_nationkey END AS c_nationkey
              FROM customer),
            live AS (SELECT o_custkey,
              CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
              FROM orders WHERE o_orderkey % 10 <> 0)
            SELECT n.n_name, count(*) AS cnt,
              CAST(sum(l.price_cents) AS BIGINT) AS sum_cents
            FROM live l
            LEFT JOIN cust c ON l.o_custkey = c.c_custkey
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name ORDER BY n.n_name"""))

  /** Shared fixture for the version-history gates: three appends of
    * the orders table split by o_orderkey mod 3 → delta versions
    * 0, 1, 2. */
  private def threeAppendTable(s: SparkSession, d: String) = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_vh").toString
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority"),
      Exact.cents(col("o_totalprice")).as("price_cents"))
    val t = new graft.io.ManagedParquetTable(s, root + "/orders_t")
    for (m <- 0 to 2) t.append(o.filter(col("o_orderkey") % 3 === m))
    t
  }

  /** S27: version-diff change feed — `changesSince(v)` resolves the
    * file-set delta between a historical snapshot and now and tags
    * rows insert/delete, the outgoing-CDC complement of the incoming
    * CDC apply (s25). Append-only history → exact row inserts. */
  val versionChanges: GQuery = GQuery(
    "s27_version_changes",
    (s, d) => threeAppendTable(s, d).changesSince(0L)
      .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, o_orderpriority,
              CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
              'insert' AS _change_type
            FROM orders WHERE o_orderkey % 3 IN (1, 2)
            ORDER BY o_orderkey"""))

  /** S28: time travel — `readAt(v)` reconstructs the historical
    * snapshot from the delta log (checkpoint + commit replay),
    * the contract `bronze/test7.py:76-80` exercises against real
    * Delta with versionAsOf. */
  val timeTravel: GQuery = GQuery(
    "s28_time_travel",
    (s, d) => threeAppendTable(s, d).readAt(1L)
      .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, o_orderpriority,
              CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders WHERE o_orderkey % 3 IN (0, 1)
            ORDER BY o_orderkey"""))

  /** S29: deletion vectors — a scattered DELETE lands as row
    * tombstones (one scan → (file, row) sidecar the read path
    * anti-joins) instead of a whole-table rewrite, the real-Delta DV
    * answer to the copy-on-write cliff. The gate stacks two scattered
    * DV deletes — REQUIRING the file set to stay byte-identical — and
    * then runs a rewriting delete over the tombstoned segments, which
    * must not resurrect any tombstoned row. The oracle states the
    * final live set relationally. */
  val deletionVectors: GQuery = GQuery(
    "s29_deletion_vectors",
    (s, d) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_s29").toString
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"),
        Exact.cents(col("o_totalprice")).as("price_cents"))
      val t = new graft.io.ManagedParquetTable(s, root + "/orders_t")
      for (m <- 0 to 2) t.append(o.filter(col("o_orderkey") % 3 === m))
      val before = t.deltaSnapshotFiles().toSet
      t.deleteWhereDV(col("o_orderkey") % 10 === 0) // touches every file
      t.deleteWhereDV(col("price_cents") < 3000000L) // tombstones stack
      require(t.deltaSnapshotFiles().toSet == before,
        "a DV delete must not add, remove or rewrite any data file")
      // rewriting delete over tombstoned segments: survivors are read
      // THROUGH the tombstones (resurrection would break the oracle)
      t.deleteWhere(col("o_orderkey") % 3 === 1)
      t.read().groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("price_cents")).as("sum_cents"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS cnt,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
            FROM orders
            WHERE o_orderkey % 10 <> 0
              AND CAST(round(o_totalprice * 100) AS BIGINT) >= 3000000
              AND o_orderkey % 3 <> 1
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  /** S30: SCD Type 2 dimension build — orders replayed as each
    * customer's order-priority change feed; one row per contiguous run
    * of equal priority with its validity interval (operators/Scd.scala;
    * incremental applyDelta path spec-verified in ScdSpec). The oracle
    * replays the identical run-collapse with window functions. */
  val scd2Build: GQuery = GQuery(
    "s30_scd2",
    (s, d) => graft.operators.Scd.scd2(
      Tables.orders(s, d).select(
        col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("ts"),
        col("o_orderkey").as("oid")),
      keyCols = Seq("custkey"), attrCols = Seq("priority"),
      tsCol = "ts", idCol = "oid")
      .orderBy(col("custkey"), col("valid_from"), col("change_id")),
    Some("""WITH c AS (SELECT o_custkey AS custkey,
              o_orderpriority AS priority, o_orderdate AS ts,
              o_orderkey AS oid FROM orders),
            l AS (SELECT *, lag(priority) OVER
                (PARTITION BY custkey ORDER BY ts, oid) AS prev FROM c),
            ch AS (SELECT custkey, priority, ts, oid FROM l
              WHERE prev IS DISTINCT FROM priority),
            v AS (SELECT custkey, priority, oid AS change_id,
                ts AS valid_from,
                lead(ts) OVER (PARTITION BY custkey ORDER BY ts, oid)
                  AS valid_to
              FROM ch)
            SELECT custkey, priority, change_id, valid_from, valid_to,
              (valid_to IS NULL) AS is_current
            FROM v ORDER BY custkey, valid_from, change_id"""))

  val all: Seq[GQuery] =
    Seq(goldEnrich, multimodalMeta, imageDecode, audioDecode, ingestReplay,
      unionScan, prunedScan, partitionedScan, bucketedJoin, mergeUpsert,
      cdcApply, bloomPrunedScan, imageNearDupsQ, incrementalView,
      incrementalDistinct, joinView, versionChanges, timeTravel,
      deletionVectors, scd2Build)
}
