package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, n-gram shingling, quality scoring, language-ID
  * heuristics, and deterministic document fingerprinting.
  *
  * Everything here is a pure Column expression (higher-order array
  * functions, no UDFs) so it stays inside Catalyst, distributes
  * embarrassingly (per-row, no shuffle), and scales linearly to 100 TB:
  * the only shuffles in the downstream dedup pipelines come from the
  * groupBy/join stages, never from these row-local transforms.
  *
  * The base hash is a polynomial rolling hash mod 2^61-ish prime chosen
  * to be exactly reproducible in ANSI SQL (DuckDB oracle parity):
  * h = fold(chars)(h*31 + codepoint) % 1e9+7.
  */
object TextFunctions {

  val HashPrime = 1000000007L

  /** Whitespace tokens of lowercased text, empty strings dropped.
    * Native kernel; [[tokensHof]] is the composed reference form. */
  def tokens(text: Column): Column =
    graft.expressions.TextKernelExpressions.tokenize(text)

  def tokensHof(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** Distinct sorted token set (for set-similarity measures). */
  def tokenSet(text: Column): Column = array_sort(array_distinct(tokens(text)))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-boundary token count: words + punctuation marks as
    * separate tokens (`\w+|[^\w\s]`), the standard pre-tokenizer shape. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Word n-gram shingles joined with single spaces ("a b c" style).
    * Native kernel; [[wordShinglesHof]] is the composed reference form. */
  def wordShingles(text: Column, n: Int): Column =
    graft.expressions.TextKernelExpressions.word_shingles(text, n)

  def wordShinglesHof(text: Column, n: Int): Column = {
    val t = tokensHof(text)
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(t) - n),
        j => concat_ws(" ", slice(t, j + 1, lit(n)))))
  }

  /** Deterministic polynomial rolling hash of a string, mod 1e9+7 —
    * cross-engine reproducible (same fold in DuckDB via list_reduce).
    * Used as the base hash for fingerprints, MinHash, and SimHash so the
    * whole dedup pipeline is oracle-checkable. */
  def polyHash(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * 31L + c) % HashPrime)

  /** 32-bit variant (mod 2^32) — full-width bits for SimHash voting. */
  def polyHash32(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * 31L + c) % 4294967296L)

  /** Document fingerprint: rolling hash over the normalized text
    * (lowercase, punctuation stripped, whitespace collapsed) — stable
    * under formatting noise, exact under content change. Native
    * expression kernel (same fold as [[polyHash]]). */
  def fingerprint(text: Column): Column =
    graft.expressions.TextHashExpressions.poly_hash(normalizedText(text))

  /** Canonical text form for near-exact comparison. */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Normalization contract for the learned-merges BPE kernel: lowercase,
    * restricted to [a-z0-9 ] so every symbol is one ASCII char (engine-
    * independent splitting, unambiguous SQL-oracle encoding). */
  def bpeNormalize(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9 ]", "")

  // ---- document chunking (context-window preparation) ----

  /** Split documents into token-bounded overlapping chunks — the
    * standard context-window preparation step of a training-data
    * pipeline. Chunk i covers tokens [i·stride, i·stride + chunkTokens)
    * with stride = chunkTokens − overlap; every token is covered, the
    * last chunk may be short, empty docs yield zero chunks.
    *
    * Pure Column implementation (tokenize kernel → sequence/slice/
    * explode): per-row, no shuffle, linear to 100 TB. Output columns:
    * input columns + (chunk_idx, chunk_text, n_chunk_tokens), one row
    * per chunk. */
  def chunkDocuments(docs: org.apache.spark.sql.DataFrame, textCol: String,
      chunkTokens: Int = 128, overlap: Int = 16): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got ($chunkTokens, $overlap)")
    val clash = Seq("_toks", "_chunk", "chunk_idx", "chunk_text",
      "n_chunk_tokens").filter(docs.columns.contains)
    require(clash.isEmpty,
      s"input frame already has column(s) ${clash.mkString(", ")}")
    val stride = chunkTokens - overlap
    val toks = tokens(col(textCol))
    // stride-starts covering all tokens: ceil((size − overlap)/stride),
    // min 1 for non-empty docs (values < 2^31 are exact in the double)
    val nChunks = when(size(toks) === 0, lit(0))
      .otherwise(greatest(
        ceil((size(toks) - overlap).cast("double") / stride).cast("int"),
        lit(1)))
    docs
      .withColumn("_toks", toks)
      // sequence(0, -1) yields [0, -1] (descending step inference), so
      // empty docs need an explicit empty array → explode drops the row
      .withColumn("chunk_idx",
        explode(when(nChunks === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), nChunks - 1))))
      .withColumn("_chunk",
        slice(col("_toks"), col("chunk_idx") * stride + 1, lit(chunkTokens)))
      .withColumn("chunk_text", concat_ws(" ", col("_chunk")))
      .withColumn("n_chunk_tokens", size(col("_chunk")))
      .drop("_toks", "_chunk")
  }

  // ---- repetition / boilerplate scoring ----

  /** Per-doc bigram repetition stats — the Gopher-style boilerplate
    * signal (a high top-bigram share flags templated/spun text). All
    * outputs are exact integers (ratios left to the caller) so the
    * stats are bit-identical across engines. top_bigram ties break
    * lexicographically; docs under 2 tokens report zeros/''.
    * Two keyed aggregations (doc,bigram) → (doc): map-side partials,
    * payload never wider than one bigram string. */
  def bigramRepetition(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val bg = docs.select(col(idCol),
      explode(wordShingles(col(textCol), 2)).as("bg"))
    val counts = bg.groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col(idCol))
    val agg = counts.withColumn("top_c", max(col("c")).over(w))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("c")).as("top_count"),
        min(when(col("c") === col("top_c"), col("bg"))).as("top_bigram"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L))
          .as("n_distinct_bigrams"),
        coalesce(col("top_count"), lit(0L)).as("top_count"),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"))
  }

  // ---- PII redaction ----

  /** (name, pattern, replacement) triples, applied in order. Patterns
    * stay in the common Java-regex ∩ RE2 subset (classes, bounded
    * repeats, \b ASCII word boundary — no lookaround, no backrefs) so
    * the same strings redact identically in Spark and in RE2-based
    * engines. SSN (3-2-4) and phone (3-3-4) shapes are disjoint;
    * counts are per-category over the pre-redaction text. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("phone", "\\b[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}\\b", "<PHONE>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"))

  /** Scrub emails / SSNs / phone numbers / IPv4s, in that order. Pure
    * per-row projection — codegen'd regexp_replace chain, no shuffle. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (_, p, r)) =>
      regexp_replace(t, p, r)
    }

  /** Per-category match counts over the ORIGINAL text, as a struct of
    * n_email / n_ssn / n_phone / n_ip. */
  def piiCounts(text: Column): Column =
    struct(PiiPatterns.map { case (n, p, _) =>
      size(regexp_extract_all(text, lit(p), lit(0))).as(s"n_$n")
    }: _*)

  // ---- term salience (tf-idf) and vocabulary ----

  /** Top-k salient terms per document by tf·idf, with a RATIONAL idf:
    * idf = (N · idfScale) div df — a monotone transform of N/df kept in
    * exact integer arithmetic so rankings are bit-identical across
    * engines (float ln() differs in the last ulp between libms, which
    * is enough to flip a rank at scale). Ties break on term asc.
    *
    * Scale shape: explode → two keyed aggregations (map-side partials),
    * doc-frequency joined back on term (AQE broadcasts it while the
    * vocabulary fits; at web-corpus vocab sizes it degrades to a
    * shuffle join on term, which is the correct plan), corpus size N
    * folded in via a broadcast cross join — the corpus itself is
    * never collected or re-scanned. */
  def tfIdfTopK(docs: DataFrame, textCol: String, idCol: String,
      k: Int, idfScale: Long = 1000000L): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df derived FROM tf (its rows are exactly the distinct (doc, term)
    // pairs): the explode+partial-agg subplan is shared, so ReuseExchange
    // tokenizes the corpus once instead of twice
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_nd"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr(s"(_nd * $idfScale) div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Corpus vocabulary: top-n terms by total occurrences (ties on term
    * asc), with document frequency — the vocab-build step before
    * tokenizer training. */
  def vocabulary(docs: DataFrame, textCol: String, idCol: String,
      topN: Int): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("term"))
    terms.groupBy(col("term"))
      .agg(count(lit(1)).as("n_occur"),
        count_distinct(col(idCol)).as("df"))
      .orderBy(col("n_occur").desc, col("term"))
      .limit(topN)
  }

  // ---- quality scoring (length / punctuation / stopword ratios) ----

  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that")

  /** Fraction of tokens that are (English) stopwords; 0 for empty docs. */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0)).otherwise(
      size(filter(t, x => x.isin(EnStopwords: _*))).cast("double") / size(t))
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
        .cast("double") / length(text))

  /** Fraction of characters that are ASCII letters or spaces. */
  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(lower(text), "[a-z ]", "")))
        .cast("double") / length(text))

  // ---- language ID (marker-token heuristic) ----

  /** Public-knowledge high-frequency marker words per language. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "de", "que", "es", "en", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"))

  /** Marker-hit count for one language's marker set. */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(array_intersect(tokenSet(text), lit(markers.toArray)))

  /** Heuristic language guess: argmax of marker hits, first-listed wins
    * ties, "unknown" when nothing matches. */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, m) => l -> langScore(text, m) }
    val best = greatest(scores.map(_._2): _*)
    // foldRight nests first-listed language outermost → it wins ties
    scores.foldRight(lit("unknown"): Column) { case ((l, sc), acc) =>
      when(sc === best && best > 0, lit(l)).otherwise(acc)
    }
  }
}
