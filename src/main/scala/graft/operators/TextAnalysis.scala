package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{HashFns => H}

/** Text-analysis operators for training-data pipelines: token stats,
  * quality scoring, language ID, document fingerprinting.
  *
  * All features are single-projection expressions over the text column
  * (no UDFs); the only shuffles are final per-doc group-bys where a
  * join against a broadcast stopword table is involved.
  */
object TextAnalysis {

  /** Stopword lists per language (tiny → broadcast side of any join). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "de", "y", "un"),
    "zh" -> Seq("de", "shi", "bu", "le"))

  private def toks(c: Column): Column = Dedup.tokens(c)

  /** t_tokens: token count / distinct count / average token length. */
  def tTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", toks(col("text")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        (aggregate(transform(col("toks"), t => length(t)), lit(0), (a, x) => a + x)
          / size(col("toks"))).as("avg_token_len"))
      .orderBy("doc_id")

  /** t_pack: sequence packing — the training-data op that turns a
    * document corpus into fixed-token-budget training sequences.
    * Documents pack contiguously per language shard in doc_id order
    * (streaming packing: seq_id = floor(tokens-before-me / budget)),
    * and the output reports per-sequence document count, token count,
    * and fill ratio — the metric a data loader uses to size its
    * batches and measure padding waste.
    *
    * Scale shape: one window running-sum per shard (the shard key is
    * the natural parallelism unit) and one group-by — no driver state,
    * no sort beyond the shard-local window order. At 100 TB the shard
    * key becomes (lang, file-bucket) to bound any one window
    * partition; the packing stays deterministic because the order key
    * travels with the rows.
    */
  def tPack(spark: SparkSession, dir: String): DataFrame = {
    val budget = 512
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(toks(col("text"))).cast("long").as("n_toks"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("seq_id", floor((col("cum") - col("n_toks")) / budget).cast("long"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("seq_tokens"))
      .withColumn("fill", round(col("seq_tokens").cast("double") / budget, 6))
      .orderBy("lang", "seq_id")
  }

  /** t_decontaminate: benchmark decontamination — find training
    * documents that overlap an evaluation set (here: docs 0-9 stand in
    * for the benchmark corpus). Both sides reduce to DISTINCT 5-char
    * shingle hashes; the eval side is tiny and broadcast, so the
    * detector is an inverted-index equi-join on the hash — never a
    * text-to-text comparison. Reports each (train doc, eval doc) pair
    * with containment ratio (shared / |eval shingle set|) ≥ 0.6 —
    * the metric a pipeline thresholds on before dropping
    * contaminated documents. At 100 TB the eval
    * side stays broadcastable by construction (benchmarks are small);
    * the corpus side is one explode + one shuffle-free broadcast join
    * + one group-by.
    */
  def tDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val k = Dedup.ShingleK
    val sh = Tables.documents(spark, dir)
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), explode(array_distinct(
        graft.expressions.TextHashExprs.shingleHashes(col("text"), k))).as("h"))
    val evalSide = sh.filter(col("doc_id") < 10)
    val evalSizes = evalSide.groupBy(col("doc_id").as("sz_id"))
      .agg(count(lit(1)).as("eval_sh"))
    val hits = sh.filter(col("doc_id") >= 10)
      .join(broadcast(evalSide.select(col("doc_id").as("eval_id"), col("h").as("eh"))),
        col("h") === col("eh"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_shared"))
    hits.join(broadcast(evalSizes), col("eval_id") === col("sz_id"))
      .select(col("doc_id"), col("eval_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("eval_sh"), 6).as("containment"))
      // unrelated same-language docs share ~0.3-0.4 of generic 5-char
      // shingles; real contamination lives in the >= 0.6 tail
      .filter(col("containment") >= 0.6)
      .orderBy("doc_id", "eval_id")
  }

  /** t_quality: heuristic quality score from length / punctuation /
    * digit / stopword-ratio features. The arithmetic expression tree is
    * written identically in the oracle so doubles match bit-for-bit.
    */
  /** The t_quality score over an arbitrary text column — factored so
    * the drift-consumer gate (s_drift_consumer) can score the SAME
    * document under two text variants and pin the shift a vocabulary
    * drift induces in a distribution-calibrated consumer. Identical
    * arithmetic tree to [[tQuality]] (the oracle replays it).
    */
  private[graft] def qualityOf(text: Column): Column = {
    val en = stopwords("en")
    val tk = toks(text)
    val nChars = length(text)
    val punct = nChars - length(regexp_replace(text, "[.,!?;:]", ""))
    val stopHits = size(filter(tk, t => t.isin(en: _*)))
    round(
      least(nChars, lit(500)) / lit(500.0) * lit(0.4)
        + (stopHits / size(tk)) * lit(0.4)
        + (lit(1.0) - punct / nChars) * lit(0.2), 6)
  }

  def tQuality(spark: SparkSession, dir: String): DataFrame = {
    val en = stopwords("en")
    Tables.documents(spark, dir)
      .withColumn("toks", toks(col("text")))
      .withColumn("n_chars_t", length(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("punct",
        col("n_chars_t") - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .withColumn("digits",
        col("n_chars_t") - length(regexp_replace(col("text"), "[0-9]", "")))
      .withColumn("stop_hits",
        size(filter(col("toks"), t => t.isin(en: _*))))
      .select(col("doc_id"), col("n_toks").cast("long").as("n_toks"),
        (col("stop_hits") / col("n_toks")).as("stop_ratio"),
        (col("punct") / col("n_chars_t")).as("punct_ratio"),
        (col("digits") / col("n_chars_t")).as("digit_ratio"),
        round(
          least(col("n_chars_t"), lit(500)) / lit(500.0) * lit(0.4)
            + (col("stop_hits") / col("n_toks")) * lit(0.4)
            + (lit(1.0) - col("punct") / col("n_chars_t")) * lit(0.2),
          6).as("quality"))
      .orderBy("doc_id")
  }

  /** t_langid: stopword-hit language scoring; prediction = argmax hits
    * (ties → lexicographically smallest language; zero hits → 'und').
    * The stopword table is broadcast; one shuffle to count per (doc,
    * lang).
    */
  def tLangid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stops = stopwords.toSeq
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }
      .toDF("cand_lang", "word")
    val docToks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("tok"))
    val hits = docToks.join(broadcast(stops), col("tok") === col("word"))
      .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("cand_lang").asc)
    val best = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id").as("hd"), col("cand_lang"), col("hits"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(best, col("doc_id") === col("hd"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cand_lang"), lit("und")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy("doc_id")
  }

  /** t_ngrams: global top-20 token bigrams — bigram generation is one
    * map-side array expression (zip of the token array with its own
    * tail), so the only shuffle is the count group-by.
    */
  def tNgrams(spark: SparkSession, dir: String): DataFrame =
    docBigrams(spark, dir)
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)

  /** t_rep_ngrams: intra-document repetition score — the fraction of
    * a document's token 3-grams occupied by its single most repeated
    * 3-gram, with the drop flag a pipeline thresholds on (the
    * Gopher-style repetition filter: boilerplate, scraped menus and
    * loop-generated text score high and are removed before training;
    * this is the within-document complement of the cross-document
    * dedup suite). Trigram generation is one map-side array zip (no
    * self-join, no explode-join); the only shuffle is the
    * (doc, trigram) count group-by, partial-aggregated and bounded by
    * document length — partitions by doc at any corpus size.
    */
  def tRepNgrams(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .withColumn("toks", toks(col("text")))
      .filter(size(col("toks")) >= 3)
    val tri = t.select(col("doc_id"),
      (size(col("toks")) - 2).cast("long").as("n_tri"),
      explode(zip_with(
        zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 2),
          slice(col("toks"), lit(2), size(col("toks")) - 2),
          (a, b) => concat(a, lit(" "), b)),
        slice(col("toks"), lit(3), size(col("toks")) - 2),
        (ab, c) => concat(ab, lit(" "), c))).as("tri"))
    tri.groupBy("doc_id", "n_tri", "tri").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tri").agg(max(col("c")).as("top_n"))
      .select(col("doc_id"), col("n_tri"), col("top_n"),
        round(col("top_n") / col("n_tri").cast("double"), 6).as("rep_ratio"),
        (col("top_n") / col("n_tri").cast("double") > 0.2).as("repetitive"))
      .orderBy("doc_id")
  }

  /** t_tfidf: top-3 terms per document by tf·idf (idf = ln(N/df)).
    * Scale shape: tf is a (doc, term) group-by; the df table is a
    * |vocab|-sized aggregate joined back on term (at 100 TB that join
    * shuffles on term — no driver-side vocab); top-3 via per-doc
    * window. Output restricted to doc_id < 100 to keep the dump small.
    */
  def tTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docToks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val tf = docToks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df from tf, not from a second pass over the corpus: tf's rows are
    // already distinct (doc, term), so count(*) per term == distinct
    // docs per term — one less explode+shuffle
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // corpus size as a broadcast 1-row aggregate, not a driver .count()
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok").asc)
    scored.filter(col("doc_id") < 100)
      .withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "tok", "tfidf")
      .orderBy("doc_id", "rnk")
  }

  /** t_bm25: Okapi BM25 lexical ranking (k1=1.2, b=0.75, the
    * Robertson/Lucene idf form ln((N−df+0.5)/(df+0.5)+1)) — the
    * standard text scorer a hybrid-search user pairs with the vector
    * tiers (v_rrf_fusion's lexical leg uses raw shingle overlap; this
    * is the length-normalized, idf-weighted upgrade). Scale shape: an
    * inverted-index join — the 3 query documents' DISTINCT terms
    * broadcast against the (doc, term, tf) table, so candidate
    * generation is an equi-join on the term and never a text-to-text
    * pair scan; df and doc lengths derive from that same table (one
    * tokenize pass over the corpus); corpus stats ride a broadcast
    * 1-row aggregate. The per-document score sums its matched terms
    * through a tok-sorted 0.0-seeded fold, so IEEE addition order is
    * pinned and the DuckDB oracle replays it bit-for-bit (the msum
    * discipline; a bare SUM(double) would be partition-order noise).
    */
  def tBm25(spark: SparkSession, dir: String): DataFrame =
    bm25Ranked(spark, dir, nq = 3, k = 5)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")

  /** The reusable BM25 leg: per query document (doc_id < nq), the
    * top-k BM25-ranked other documents — (q_id, rnk, doc_id, score).
    * Shared by the standalone t_bm25 gate and the v_hybrid_bm25
    * fusion.
    */
  private[operators] def bm25Ranked(spark: SparkSession, dir: String,
                                    nq: Int, k: Int): DataFrame =
    bm25RankedDocs(Tables.documents(spark, dir).select("doc_id", "text"), nq, k)

  /** The same BM25 leg over an explicit (doc_id, text) frame — lets
    * virtual corpora (Knn.nearDupDocs) route through the identical
    * scorer.
    */
  private[operators] def bm25RankedDocs(docs: DataFrame,
                                        nq: Int, k: Int): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val docToks = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val tf = docToks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .transform(graft.Materialize.forceCached) // feeds tf, df, dl, AND the query side
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    // exact-integer sums keep avgdl deterministic across partitionings
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qt = tf.filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("tok").as("qtok"))
    val contrib = tf.join(broadcast(qt),
        col("tok") === col("qtok") && col("doc_id") =!= col("q_id"))
      .join(df, "tok").join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"), col("tok"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / (col("sum_dl").cast("double") / col("n_docs"))))
        ).as("c"))
    val scored = contrib.groupBy("q_id", "doc_id")
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("tok"), col("c")))),
        lit(0.0), (acc, s) => acc + s.getField("c")), 6).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
      .select("q_id", "rnk", "doc_id", "score")
  }

  /** t_bpe_tokens: BPE-style pre-tokenization counting — pieces are
    * maximal letter runs, digit runs, or single punctuation marks
    * (the split a byte-pair tokenizer's pre-tokenizer makes before
    * merges). One map-side regexp_extract_all per doc; no shuffle but
    * the final sort.
    */
  def tBpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("pieces",
        regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .select(col("doc_id"),
        size(col("pieces")).cast("long").as("n_pieces"),
        size(filter(col("pieces"), p => p.rlike("^[a-z]"))).cast("long").as("n_alpha"),
        size(filter(col("pieces"), p => p.rlike("^[0-9]"))).cast("long").as("n_num"),
        (aggregate(transform(col("pieces"), p => length(p)), lit(0), (a, x) => a + x)
          / size(col("pieces"))).as("avg_piece_len"))
      .orderBy("doc_id")

  /** t_pipeline: the end-to-end corpus-cleaning pipeline as ONE
    * declarative query — exact-dedup keeper selection ∘ quality
    * threshold ∘ language-ID agreement, reported per language. This is
    * the composition a training-data run executes; expressing it as a
    * single plan lets Catalyst share the documents scan and pipeline
    * the filters instead of materializing intermediate corpora.
    */
  def tPipeline(spark: SparkSession, dir: String): DataFrame = {
    val keepers = Dedup.dExact(spark, dir).select(col("keep_doc_id").as("doc_id"))
    val quality = tQuality(spark, dir).select(col("doc_id"), col("n_toks"), col("quality"))
    val langs = tLangid(spark, dir).select(col("doc_id"), col("lang"), col("pred_lang"))
    quality
      .join(keepers, "doc_id") // drop exact-dup non-keepers
      .join(langs, "doc_id")
      .filter(col("quality") >= 0.5 && col("pred_lang") === col("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        (sum(floor(col("quality") * 1000000 + lit(0.5)).cast("long"))
          / lit(1000000.0)).as("sum_quality"))
      .orderBy("lang")
  }

  /** Email / phone-shaped patterns shared by t_pii_redact and its
    * oracle. Both RE2 (DuckDB) and java.util.regex (Spark) give these
    * identical semantics (no backrefs/lookaround).
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val phoneRe = "[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"

  /** t_pii_redact: PII scrubbing — the pre-training compliance pass.
    * Counts email/phone-shaped matches and emits the md5 of the
    * redacted text (the full redacted corpus would be the real output;
    * hashing keeps the dump small while still proving byte-identical
    * redaction). One map-side projection, no shuffle but the sort.
    */
  def tPiiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("lt", lower(col("text")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("lt"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("lt"), lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("lt"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("red_hash"))
      .orderBy("doc_id")

  /** t_readability: Flesch-style reading-ease score from word /
    * sentence / vowel-group counts (the vowel-group count is the
    * standard syllable proxy). All three counts are regexp extractions
    * in one projection; the score arithmetic is written identically in
    * the oracle so the doubles match.
    */
  def tReadability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("w", greatest(lit(1), size(toks(col("text")))))
      .withColumn("s", greatest(lit(1),
        size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0)))))
      .withColumn("y", greatest(lit(1),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))))
      .select(col("doc_id"),
        col("w").cast("long").as("n_words"),
        col("s").cast("long").as("n_sentences"),
        col("y").cast("long").as("n_vowel_groups"),
        round(lit(206.835) - lit(1.015) * (col("w") / col("s"))
          - lit(84.6) * (col("y") / col("w")), 4).as("flesch"))
      .orderBy("doc_id")

  /** t_entropy: character-level Shannon entropy (nats) — the
    * gibberish/boilerplate detector in quality filtering (low entropy
    * = repeated padding, high = random noise). FP determinism: the
    * per-char counts are sorted by character and folded left-to-right
    * from 0.0, which is bit-identical to DuckDB's list_reduce over
    * the same sorted list (0.0 + x ≡ x), so the oracle hash-matches
    * despite the transcendental ln.
    */
  def tEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("[\\s\\S]"), lit(0))).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("ch"), col("c")))),
          s => s.getField("c")).as("cs"),
        sum(col("c")).as("n"),
        count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("n").as("n_chars"), col("n_distinct"),
        round(-aggregate(
          transform(col("cs"), c => (c / col("n")) * log(c / col("n"))),
          lit(0.0), (acc, t) => acc + t), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** Per-doc token bigrams, long format (doc_id, bigram). */
  private def docBigrams(spark: SparkSession, dir: String): DataFrame =
    Dedup.spread(Tables.documents(spark, dir))
      .withColumn("toks", toks(col("text")))
      .select(col("doc_id"),
        explode(when(size(col("toks")) < 2, array().cast("array<string>"))
          .otherwise(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            (a, b) => concat(a, lit(" "), b)))).as("bigram"))

  /** t_bigram_lm: language-model-style quality score — each document's
    * mean bigram log-probability under the corpus bigram distribution
    * (the perplexity proxy used to flag gibberish: rare transitions →
    * very negative score). Scale shape: the bigram stats table is a
    * term-shuffled aggregate joined back on the bigram (no driver
    * vocab); per-doc scores fold the per-bigram log-probs
    * deterministically (sorted list, 0.0-seeded left fold ≡ DuckDB
    * list_reduce — same trick as t_entropy).
    */
  /** t_mix_report: training-mix weighting — per-language token counts
    * and temperature-adjusted sampling weights w_l ∝ p_l^(1/2) (the
    * multilingual α=0.5 temperature standard: upsample the tail so
    * low-resource languages aren't drowned, without flattening the
    * mix entirely). Token counts are exact integers; shares and
    * weights derive from them in a fixed order, with the Σ√p
    * normalizer folded over the language list sorted by name (one
    * ~5-row aggregate — fp-deterministic, the t_entropy trick), so
    * every double is bit-reproducible by the oracle.
    */
  def tMixReport(spark: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast("long")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("t_tot"),
        transform(array_sort(collect_list(struct(col("lang"), col("n_tokens")))),
          s => s.getField("n_tokens")).as("all_counts"))
      .select(col("t_tot"),
        aggregate(col("all_counts"), lit(0.0),
          (acc, x) => acc + sqrt(x / col("t_tot"))).as("z"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("t_tot"), 6).as("share"),
        round(sqrt(col("n_tokens") / col("t_tot")) / col("z"), 6).as("weight"))
      .orderBy("lang")
  }

  /** t_mix_sample: make the t_mix_report weights ACTIONABLE — a
    * deterministic downsample to the temperature-balanced mixture.
    * Per language the resampling factor is weight/share (how far the
    * temperature target sits from the corpus's natural share),
    * normalized so the most under-represented language keeps 100% —
    * a pure DOWNSAMPLE, never upsampling (duplication is the dedup
    * suite's enemy). For the α=0.5 temperature that normalized ratio
    * has a CLOSED FORM from raw token counts — (weight/share)/max ≡
    * √(nt_min/nt_L) — and the engine computes exactly that: dividing
    * the 6-dp-rounded report columns instead would turn a sub-ppm
    * language's share into 0.0 and its rate into NULL/∞ (engine vs
    * oracle divergence) — precisely the rare language that must
    * anchor rate 1. Each doc then draws a reproducible uniform from
    * md5("mix_"+doc_id) (20-bit bucket) and survives iff it lands
    * under the language's rate — rerunning the pipeline anywhere
    * reproduces the same corpus, and an appended shard samples
    * consistently without coordination (the d_source_cap hash-order
    * idea applied to Bernoulli thinning). Scale shape: one per-lang
    * aggregate, rates broadcast, the thinning a map-side filter — no
    * shuffle touches the corpus beyond the final per-lang count.
    */
  def tMixSample(spark: SparkSession, dir: String): DataFrame = {
    // materialized: the min-tokens probe and the rate table both read
    // it — uncached, the corpus-wide token count would run twice
    val per = graft.Materialize.forceCached(
      Tables.documents(spark, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks(col("text"))).cast("long")).as("n_tokens")))
    val ntmin = per.agg(min(col("n_tokens")).as("nt_min"))
    val rates = per.crossJoin(broadcast(ntmin))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(sqrt(col("nt_min").cast("double") / col("n_tokens")), 6).as("rate"))
    val u = H.md5Long(concat(lit("mix_"), col("doc_id").cast("string")), 15) % 1048576L
    val kept = Tables.documents(spark, dir)
      .select(col("lang").as("klang"), col("doc_id"),
        size(toks(col("text"))).cast("long").as("ntok"))
      .join(broadcast(rates.select(col("lang").as("klang"), col("rate"))), "klang")
      .filter(u < floor(col("rate") * lit(1048576.0)).cast("long"))
      .groupBy("klang")
      .agg(count(lit(1)).as("n_kept"), sum(col("ntok")).as("tokens_kept"))
    rates.join(kept, col("lang") === col("klang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_tokens"), coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        col("rate"))
      .orderBy("lang")
  }

  /** t_dsir: DSIR-style importance weighting (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling") —
    * score every document by how target-like its hashed n-gram
    * distribution is. Features are bigrams hashed into 1024 buckets
    * (the hashing trick — vocabulary-free, so the feature space is
    * fixed no matter the corpus); the target distribution is the
    * English subset, the raw distribution the whole corpus; a doc's
    * weight is the mean add-1-smoothed log p_target/p_raw over its
    * bigram occurrences, and docs with positive weight are selected.
    * Scale shape: one bucket-keyed count aggregate (1024 groups — the
    * "LM" is a broadcastable table by construction), joined back to
    * the bigram stream; the per-doc mean folds a sorted list (the
    * t_bigram_lm fp-determinism trick).
    */
  def tDsir(spark: SparkSession, dir: String): DataFrame = {
    val buckets = 1024
    val langs = Tables.documents(spark, dir).select("doc_id", "lang")
    // feeds both the count aggregate and the score join — materialize
    // so the bigram hashing runs once (see Dedup.forceCached)
    val feat = graft.Materialize.forceCached(
      docBigrams(spark, dir).join(langs, "doc_id")
        .withColumn("bucket", H.md5Long(col("bigram"), 8) % buckets))
    val cnt = feat.groupBy("bucket")
      .agg(count(lit(1)).as("r_cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_cnt"))
    val tot = cnt.agg(sum(col("r_cnt")).as("r_tot"), sum(col("t_cnt")).as("t_tot"))
    val scored = feat.join(cnt, "bucket").crossJoin(broadcast(tot))
      .select(col("doc_id"), col("bucket"),
        (log((col("t_cnt") + 1) / (col("t_tot") + buckets).cast("double")) -
          log((col("r_cnt") + 1) / (col("r_tot") + buckets).cast("double"))).as("lr"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        transform(array_sort(collect_list(struct(col("bucket"), col("lr")))),
          s => s.getField("lr")).as("lrs"))
      .select(col("doc_id"), col("n_feats"),
        round(aggregate(col("lrs"), lit(0.0), (acc, x) => acc + x)
          / col("n_feats"), 6).as("avg_logratio"))
      .withColumn("dsir_selected", col("avg_logratio") > 0)
      .orderBy("doc_id")
  }

  /** t_ppl_filter: perplexity filter — the classic CCNet-style quality
    * cut: score every document by the corpus bigram LM (t_bigram_lm's
    * mean log-prob), convert to perplexity, and flag the WORST DECILE
    * PER LANGUAGE (per-lang cuts are the production norm — a uniform
    * global threshold just drops whichever language the LM models
    * worst). Scale shape: the ranking window partitions by lang, so
    * each shard sorts in parallel and no global sort exists; the cut
    * rank n_lang/10 comes from a count window over the same partition
    * (no driver pass, no second scan).
    */
  def tPplFilter(spark: SparkSession, dir: String): DataFrame = {
    val lm = tBigramLm(spark, dir).select("doc_id", "avg_logprob")
    val langs = Tables.documents(spark, dir).select("doc_id", "lang")
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_logprob").asc, col("doc_id").asc)
    val wLang = Window.partitionBy("lang")
    lm.join(langs, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_lang", count(lit(1)).over(wLang))
      .select(col("doc_id"), col("lang"),
        round(exp(-col("avg_logprob")), 6).as("ppl"),
        (col("rn") <= floor(col("n_lang") / 10)).as("flagged"))
      .orderBy("doc_id")
  }

  def tBigramLm(spark: SparkSession, dir: String): DataFrame = {
    // materialized: the bigram stream feeds BOTH the LM count aggregate
    // and the score join — uncached, the tokenize+explode pass ran
    // twice (r17; same reason t_dsir caches its feature stream)
    val bg = graft.Materialize.forceCached(docBigrams(spark, dir))
    val stats = bg.groupBy("bigram").agg(count(lit(1)).as("cnt"))
    val total = stats.agg(sum(col("cnt")).as("n_total"))
    val scored = bg.join(stats, "bigram").crossJoin(broadcast(total))
      .select(col("doc_id"), col("bigram"),
        log(col("cnt") / col("n_total").cast("double")).as("lp"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        transform(array_sort(collect_list(struct(col("bigram"), col("lp")))),
          s => s.getField("lp")).as("lps"))
      .select(col("doc_id"), col("n_bigrams"),
        round(aggregate(col("lps"), lit(0.0), (acc, x) => acc + x)
          / col("n_bigrams"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** t_fingerprint: winnowing-style fingerprint — the 4 smallest
    * distinct 5-gram hashes per document (long format).
    */
  def tFingerprint(spark: SparkSession, dir: String): DataFrame =
    // bottom-4 per doc computed inside one array expression (sort the
    // distinct hashes, slice 4) — no explode + window shuffle at all
    Dedup.spread(Tables.documents(spark, dir)
      .filter(length(col("text")) >= Dedup.ShingleK))
      .select(col("doc_id"),
        posexplode(slice(
          array_sort(array_distinct(
            graft.expressions.TextHashExprs.shingleHashes(col("text"), Dedup.ShingleK))),
          1, 4)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
      .orderBy("doc_id", "pos")

  /** t_curation_pipeline: the r7 curation stages composed into ONE
    * declarative plan — the per-source funnel report a training-data
    * run produces: raw docs → Gopher quality gate → span-dedup drop →
    * per-source cap. The Gopher features are one map-side projection
    * over the spread scan (no join); the only join is the span-dup
    * flag (equi-join on doc_id against d_span_dedup's output). One
    * window per source ranks survivors first (survives desc, then the
    * cap order), so a survivor's row number is its rank among the
    * source's survivors, and one aggregate per source yields every
    * funnel count. Assumes doc_id is a key.
    */
  def tCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val spanDrop = Dedup.dSpanDedup(spark, dir)
      .select(col("doc_id").as("sd_id"), col("drop_flag"))
    val ord = graft.functions.HashFns
      .md5Long(concat(lit("cap_"), col("doc_id").cast("string")), 15)
    val docs = Dedup.spread(Tables.documents(spark, dir).select("doc_id", "source", "text"))
    val w = Window.partitionBy("source")
      .orderBy(col("survives").desc, col("ord"), col("doc_id"))
    gopherFeatures(docs)
      .select(col("doc_id"), col("source"), col("keep"), ord.as("ord"))
      .join(spanDrop, col("doc_id") === col("sd_id"), "left")
      .withColumn("survives", col("keep") && !coalesce(col("drop_flag"), lit(false)))
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
        count(when(col("survives"), 1)).as("n_survive"),
        count(when(col("survives") && col("rn") <= Dedup.SourceCap, 1)).as("n_kept"))
      .orderBy("source")
  }

  /** t_curation_pipeline2: the r8–r10 curation additions composed as
    * ONE plan — the successor of t_curation_pipeline (whose stages
    * predate them). Per document: Gopher quality gate (map-side) →
    * MAXIMAL-span EXCISION (d_span_excise_max's rewrite accounting:
    * the doc survives with its duplicated passages removed, instead of
    * d_span_dedup's whole-doc drop) → semantic dedup keepers
    * (multiprobe SemDeDup components over the doc embeddings, doc_id ≡
    * vec_id) → temperature-mixture downsampling at t_mix_sample's
    * rates computed over the SURVIVORS' post-excision token mass →
    * fixed-budget sequence packing of the final kept docs. Reported as
    * a per-language funnel (n_docs → n_quality → n_survive → n_kept,
    * plus the sampling rate, kept tokens, and packed sequence count).
    * Proves the new stages compose without a driver round-trip: one
    * plan, every stage's shuffle shape unchanged from its standalone
    * gate.
    */
  def tCurationPipeline2(spark: SparkSession, dir: String): DataFrame = {
    val quality = tGopherQuality(spark, dir).select(col("doc_id"), col("keep"))
    // post-excision token accounting: kept words after removing the
    // >= MinExciseLen maximal duplicated regions (keeper-aware)
    val excised = Dedup.spanExciseMax(Tables.documents(spark, dir))
      .select(col("doc_id").as("x_id"),
        (col("n_words") - col("n_removed")).as("n_toks"))
    val sem = Dedup.dSemdedup(spark, dir)
      .select(col("vec_id").as("s_id"), col("is_keeper"))
    val staged = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(quality, "doc_id")
      .join(excised, col("doc_id") === col("x_id"))
      .join(sem, col("doc_id") === col("s_id"))
      .withColumn("survives", col("keep") && col("is_keeper") === 1L)
      .select("doc_id", "lang", "keep", "survives", "n_toks")
      .transform(graft.Materialize.forceCached)
    val per = staged.filter(col("survives")).groupBy("lang")
      .agg(count(lit(1)).as("n_survive"), sum(col("n_toks")).as("lang_tokens"))
    val ntmin = per.agg(min(col("lang_tokens")).as("nt_min"))
    val rates = per.crossJoin(broadcast(ntmin))
      .select(col("lang").as("rlang"), col("n_survive"),
        round(sqrt(col("nt_min").cast("double") / col("lang_tokens")), 6).as("rate"))
    val u = H.md5Long(concat(lit("mix2_"), col("doc_id").cast("string")), 15) % 1048576L
    val sampled = staged.filter(col("survives"))
      .join(broadcast(rates.select(col("rlang"), col("rate"))),
        col("lang") === col("rlang"))
      .filter(u < floor(col("rate") * lit(1048576.0)).cast("long"))
    val wp = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = sampled
      .withColumn("cum", sum(col("n_toks")).over(wp))
      .withColumn("seq_id", floor((col("cum") - col("n_toks")) / 512).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_toks")).as("tokens_kept"),
        (max(col("seq_id")) + 1).as("n_seqs"))
    staged.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"))
      .join(rates, col("lang") === col("rlang"), "left")
      .join(packed, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_quality"),
        coalesce(col("n_survive"), lit(0L)).as("n_survive"),
        coalesce(col("rate"), lit(0.0)).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        coalesce(col("n_seqs"), lit(0L)).as("n_seqs"))
      .orderBy("lang")
  }

  /** Dimensionality of the feature-hashed document embedding. */
  val HashEmbedDim = 32

  /** t_hash_embed: feature-hashing document embeddings (the hashing
    * trick, Weinberger et al. 2009) — each token lands in dimension
    * md5(token) % 32 with a ±1 sign drawn from the next hash bit, and
    * the document's embedding is the signed count per dimension. The
    * zero-vocabulary bridge from the text tables into the engine's
    * vector operators: deterministic, needs no fitted dictionary, and
    * at 100 TB is exactly one explode + one (doc, dim) sum — the same
    * shuffle as a token count. Emitted in long (doc_id, dim, weight)
    * form; dims a document never touches are implicit zeros.
    */
  def tHashEmbed(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.functions.HashFns.tokenHash32(col("tok"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"), (h % HashEmbedDim).as("dim"),
        when(floor(h / lit(HashEmbedDim)) % 2 === 0, 1L)
          .otherwise(-1L).as("sign"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("sign")).as("weight"))
      .orderBy("doc_id", "dim")
  }

  /** t_bpe_train: BPE tokenizer TRAINING at corpus scale — the learn
    * side of t_bpe_tokens (HF/SentencePiece train corpora with exactly
    * this loop): 5 merge rounds, each = count adjacent symbol pairs
    * weighted by word frequency → take the most frequent pair (ties
    * lexicographic) → fuse it everywhere. Scale shape: the corpus is
    * touched ONCE (the word-frequency group-by); every round then runs
    * over the distinct-word table — pair counting is one map-side
    * explode + one (x, y) sum, the argmax is a TakeOrdered (1-row
    * driver collect, the centroid-sidecar pattern), and the fuse is a
    * map-side literal string replace. Symbols travel as a
    * space-delimited, space-PADDED string, so the fuse is a
    * delimiter-safe non-regex replace both engines scan left-to-right
    * identically; the fuse itself is the HF-EXACT greedy list-walk
    * ([[bpeFuse]] — r10 closed the r8 deferral where a single-pass
    * string replace shared the delimiter between adjacent occurrences
    * and pushed the second merge to a later round). The oracle
    * replays all 5 rounds as unrolled CTEs, list-walk included
    * (list_reduce with the same accumulator).
    */
  /** The shared BPE training behind t_bpe_train / t_bpe_apply.
    * Training is expensive (5 argmax jobs over the distinct-word
    * table), so the learned MERGES — plain driver data, the tokenizer
    * model — are memoized per (session, dir): t_bpe_train and
    * t_bpe_apply in the same suite share ONE training pass (the
    * tokenizer contract: train once, apply everywhere). Only the
    * merges memoize, never a cached frame: callers' between-query
    * cleanup (Verify unpersists all RDDs per dump) must not be able
    * to strand a memoized plan on dead blocks. The returned vocab is
    * rebuilt as PURE LINEAGE — the base spaced vocab with the learned
    * merges applied as 5 literal map-side replaces, exactly the
    * evolution training performed.
    */
  private val bpeMergeCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, String, String, Long)]]()

  /** HF-exact greedy list-walk fuse of merge pair (x, y) over the
    * space-padded symbol string: walk the symbols left-to-right
    * rebuilding the padded prefix; when the prefix's LAST symbol is
    * exactly x (`endsWith " x"` — symbols never contain spaces, so
    * the test is boundary-exact) and the incoming symbol is y,
    * appending y WITHOUT its space is the merge. A merged symbol can
    * never re-merge within the round (that would need x == x·y), so
    * no flag is carried — this reproduces HF's merge walk exactly,
    * including adjacent repeats (" a b a b " fuses BOTH in one round;
    * odd same-symbol runs pair from the left: 5×a → aa aa a). The r8
    * single-pass `replace` shared the delimiter between adjacent
    * occurrences and deferred the second merge to a later round — the
    * one documented HF departure, closed in r10 (Round10Spec pins the
    * divergence corpus; the oracle replays this walk with
    * list_reduce and the same accumulator).
    */
  private[graft] def bpeFuse(sp: Column, x: String, y: String): Column =
    concat(aggregate(split(trim(sp), " "), lit(""),
      (acc, s) => when(acc.endsWith(lit(s" $x")) && s === lit(y),
        concat(acc, lit(y))).otherwise(concat(acc, lit(" "), s))), lit(" "))

  /** The initial space-padded per-character vocab over distinct words. */
  private def bpeBaseVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"),
        concat(lit(" "), trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" "))
          .as("sp"), col("f"))

  private def bpeVocab(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    val merges = bpeMergeCache.computeIfAbsent(
      spark.sparkContext.applicationId + "#" + dir,
      _ => bpeTrainMerges(spark, dir))
    val vocab = merges.foldLeft(bpeBaseVocab(spark, dir)) {
      case (v, (_, x, y, _)) =>
        v.select(col("w"), bpeFuse(col("sp"), x, y).as("sp"), col("f"))
    }
    (vocab, merges)
  }

  private def bpeTrainMerges(spark: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] = {
    val rounds = 5
    var vocab = bpeBaseVocab(spark, dir)
      .transform(graft.Materialize.forceCached)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val best = vocab
        .select(col("f"), split(trim(col("sp")), " ").as("a"))
        .select(col("f"), explode(zip_with(col("a"),
          slice(col("a"), lit(2), greatest(size(col("a")) - 1, lit(0))),
          (x, y) => struct(x.as("x"), y.as("y")))).as("p"))
        .filter(col("p.y").isNotNull)
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("x").asc, col("y").asc)
        .limit(1).collect()(0)
      val bx = best.getString(0)
      val by = best.getString(1)
      val bn = best.getLong(2)
      merges += ((r.toLong, bx, by, bn))
      val prev = vocab
      vocab = vocab
        .select(col("w"), bpeFuse(col("sp"), bx, by).as("sp"), col("f"))
        .transform(graft.Materialize.forceCached)
      // the new round's frame is fully materialized — the superseded
      // one is never read again, so its blocks release immediately
      graft.Materialize.release(prev)
    }
    // only the merges leave this function — the final training frame's
    // blocks are dead too
    graft.Materialize.release(vocab)
    merges.result()
  }

  def tBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeVocab(spark, dir)._2.toDF("round", "x", "y", "n").orderBy("round")
  }

  /** t_bpe_apply: the serving half of t_bpe_train — tokenize the whole
    * corpus with the learned merges and report per-document
    * compression (the chars-per-piece ratio a tokenizer buys, the
    * number that decides training-set token budgets). The merged
    * piece count lives on the DISTINCT-word vocabulary, so applying
    * the tokenizer to the corpus is one (word → piece-count) equi-join
    * and a per-doc sum — documents are never re-segmented. The oracle
    * replays training AND application.
    */
  def tBpeApply(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = bpeVocab(spark, dir)
    val pieces = vocab.select(col("w"),
      size(split(trim(col("sp")), " ")).cast("long").as("np"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .join(pieces, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("np")).as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_pieces"),
        round(col("n_chars").cast("double") / col("n_pieces"), 6).as("chars_per_piece"))
      .orderBy("doc_id")
  }

  /** t_quality_clf: model-based quality filtering in the fasttext/DCLM
    * serving shape — a LINEAR classifier over feature-hashed tokens
    * scores every document and the score gates the keep decision. The
    * weight vector stands in for an offline-trained model (production
    * swaps the md5-derived weights for learned ones — same plan): a
    * token contributes w(dim) = md5("w_" + dim) % 2001 − 1000 where
    * dim = md5(token) % 32 (t_hash_embed's bucketing), so scoring is a
    * pure map-side expression — explode, weight arithmetic, one
    * (doc_id) sum. No vocabulary, no model object on the executors,
    * and the whole forward pass is integer, so the oracle replays it
    * exactly. At 100 TB this is the same one-shuffle cost as t_tokens.
    */
  def tQualityClf(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.functions.HashFns.tokenHash32(col("tok"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"),
        (H.md5Long(concat(lit("w_"), (h % HashEmbedDim).cast("string")), 8) % 2001 - 1000)
          .as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        round(col("score").cast("double") / col("n_tokens"), 6).as("mean_w"),
        (col("score") > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** t_gopher_quality: the Gopher rule set (Rae et al. 2021, §A1.1) as
    * one map-side projection — the document-level quality gate a
    * pretraining pipeline runs on every crawl shard. Per document:
    * word count bounds, mean word length bounds, stop-word floor, and
    * alphabetic-word floor, each as an explicit flag plus the combined
    * keep decision. (The repetition rule lives in t_rep_ngrams; the
    * symbol-ratio rules collapse to alpha_frac on this corpus.)
    *
    * Scale shape: zero joins, zero shuffles before the output sort —
    * every feature is a higher-order expression over the token array
    * computed once per row inside whole-stage codegen. All arithmetic
    * is integer sums + one double division, written identically in the
    * DuckDB oracle so flags and fractions hash-match exactly. A
    * document without tokens gets NULL per-word features (as DuckDB's
    * x / 0) and keep = false.
    */
  def tGopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherFeatures(Tables.documents(spark, dir).select("doc_id", "text")).orderBy("doc_id")

  /** The t_gopher_quality feature projection over any frame with a
    * `text` column: every other input column passes through, followed
    * by the features, flags and keep decision.
    */
  def gopherFeatures(docs: DataFrame): DataFrame = {
    val en = stopwords("en")
    val wlenSum = aggregate(transform(col("w"), t => length(t)),
      lit(0), (acc, x) => acc + x)
    // NULL for a document without tokens instead of DIVIDE_BY_ZERO
    def perWord(c: Column): Column =
      round(c.cast("double") / nullif(col("n_words"), lit(0L)), 6)
    val passThrough = docs.columns.filter(_ != "text").map(col).toSeq
    docs.select(passThrough :+ toks(col("text")).as("w"): _*)
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("mean_wlen", perWord(wlenSum))
      .withColumn("stop_count",
        size(filter(col("w"), t => t.isin(en: _*))).cast("long"))
      .withColumn("alpha_frac",
        perWord(size(filter(col("w"), t => t.rlike("^[a-z]+$")))))
      .withColumn("flag_words",
        col("n_words") >= 30 && col("n_words") <= 5000)
      .withColumn("flag_wlen", col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0)
      .withColumn("flag_stop", col("stop_count") >= 2)
      .withColumn("flag_alpha", col("alpha_frac") >= 0.8)
      .withColumn("keep",
        col("flag_words") && col("flag_wlen") && col("flag_stop") && col("flag_alpha"))
      .select(passThrough ++ Seq("n_words", "mean_wlen", "stop_count", "alpha_frac",
        "flag_words", "flag_wlen", "flag_stop", "flag_alpha", "keep").map(col): _*)
  }
}
