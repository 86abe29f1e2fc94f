package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Rnd.round

import graft.functions.GraftFunctions
import graft.sources.Tables

/** Text-analysis suite for the LLM-pipeline surface (SURVEY.md §2.5).
  *
  * Every metric is a pure column expression over one pruned scan of
  * `documents` — no UDFs, no shuffles except the term-stats aggregate
  * (keyed on token, partial-agg'd map-side). Custom codegen'd
  * expressions (`token_count`, `rolling_fp`) carry the hot paths.
  */
object TextAnalysis {

  /** Corpus stopword list — shared with Curate so the quality gates
    * and the standalone quality score agree by construction.
    */
  val stopwords: Seq[String] = Seq("the", "a")

  private def tokensCol: Column = split(col("text"), " ")

  // value carries its registry id so eviction unregisters the model —
  // the registry stays bounded by the memo, never a JVM-lifetime leak
  private val bpeModels =
    new graft.util.CorpusMemo[(String, graft.functions.Bpe.Model)](
      4, { case (id, _) => graft.functions.Bpe.unregister(id) })

  /** Real BPE token counts under a tokenizer TRAINED ON THIS CORPUS
    * (rows-only — a learned vocabulary isn't SQL-expressible; BpeSpec
    * pins the algebra). Training splits the scalable way: the cluster
    * aggregates the word-frequency dictionary, the driver learns
    * merges on those bounded counts (Sennrich '16 — BPE trainers
    * operate on word frequencies, not raw text), and scoring returns
    * to the cluster as one codegen'd expression carrying the merge
    * table in the plan. Whitespace and BPE counts side by side: the
    * gap is what whitespace budgeting would mis-size packs by.
    */
  /** The corpus-trained tokenizer, built once per (session, corpus)
    * and registered under a memo-owned id — shared by `qBpeTokens`
    * and the real-id packing (`Pretrain.qPackBpe`). The id carries
    * the FULL corpus path (not a 32-bit hashCode that can collide
    * across corpora and silently cross-wire vocabularies).
    */
  private[graft] def corpusModel(t: Tables): (String, graft.functions.Bpe.Model) =
    bpeModels.getOrBuild(t) {
      val freshId =
        s"__graft_corpus_${System.identityHashCode(t.spark)}_${t.sfDir}"
      val m = graft.functions.Bpe.trainOn(t.documents)
      graft.functions.Bpe.register(freshId, m)
      // oracle decision-replay exports (no-ops outside graft.Verify):
      // given the learned merge ranks and the vocabulary, the greedy
      // lowest-rank-leftmost merge loop, the id mapping (unk = max+1),
      // and everything downstream replay in plain SQL — see the
      // q_bpe_tokens / q_pack_bpe oracles' recursive CTE
      val s = t.spark
      import s.implicits._
      graft.util.OracleExports.export(
        m.merges.zipWithIndex.map { case ((a, b), r) => (a, b, r) }
          .toDF("a", "b", "rank"), "bpe_merges")
      graft.util.OracleExports.export(
        m.vocab.toSeq.toDF("symbol", "id"), "bpe_vocab")
      (freshId, m)
    }

  def qBpeTokens(t: Tables): DataFrame = {
    val (id, _) = corpusModel(t)
    t.documents.select(col("doc_id"),
        graft.functions.Bpe.tokenCount(id, col("text")).as("n_bpe"),
        GraftFunctions.tokenCount(col("text")).as("n_ws"))
      .orderBy("doc_id")
  }

  /** Tokenizer ROUND-TRIP gate: `bpe_decode(bpe_encode(text))` must
    * equal text with whitespace removed, per document — the encoder
    * whitespace-tokenizes, so word-boundary whitespace is the ONE
    * lossy step, and any other loss (dropped word, mangled merge,
    * unk leakage — decode maps unk to U+FFFD precisely so it can
    * never silently pass) flips the flag. The corpus-trained
    * vocabulary covers its own corpus, so every flag must be true.
    *
    * DuckDB-oracled as a DECISION REPLAY with an INDEPENDENT decode:
    * the per-doc id stream exports; the oracle joins ids to the
    * exported vocabulary, string_aggs in position order, and compares
    * against raw `documents.text` itself — a Spark-side decode bug
    * diverges the flags, and both engines check against the same
    * untokenized source.
    */
  def qBpeRoundtrip(t: Tables): DataFrame = {
    val (id, _) = corpusModel(t)
    val enc = t.documents.select(col("doc_id"), col("text"),
      graft.functions.Bpe.encode(id, col("text")).as("ids"))
    graft.util.OracleExports.export(
      enc.select(col("doc_id"), posexplode(col("ids")).as(Seq("pos", "id"))),
      "bpe_ids")
    enc.select(col("doc_id"),
        size(col("ids")).as("n_tokens"),
        (graft.functions.Bpe.decode(id, col("ids")) ===
          regexp_replace(col("text"), "\\s+", "")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY per language — BPE tokens per whitespace
    * word, the standard multilingual tokenizer-evaluation metric (a
    * language with fertility ≫ 1 is paying more sequence length per
    * word, i.e. the vocabulary underserves it — the number that
    * drives per-language vocab budgeting before a big train). One
    * scan, one tiny group agg; the sums are exact integer-valued
    * doubles (< 2^53) so the ratio is bit-identical across engines.
    * Oracled via the same recursive-CTE merge replay as q_bpe_tokens.
    */
  def qBpeFertility(t: Tables): DataFrame = {
    val (id, _) = corpusModel(t)
    t.documents.select(col("lang"),
        graft.functions.Bpe.tokenCount(id, col("text")).as("n_bpe"),
        GraftFunctions.tokenCount(col("text")).as("n_ws"))
      .filter(col("n_ws") > 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_bpe").cast("double")) / sum(col("n_ws").cast("double")), 4)
          .as("fertility"))
      .orderBy("lang")
  }

  /** Token counts: custom codegen'd whitespace-run counter plus a
    * BPE-ish sub-word proxy (runs of letters / digits / punctuation as
    * separate tokens — the shape of a byte-level BPE pre-tokenizer).
    */
  def qTokenCount(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        GraftFunctions.tokenCount(col("text")).as("n_tokens"),
        size(filter(split(col("text"), "[^A-Za-z0-9]+"), x => x =!= "")).as("n_bpeish"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  /** Quality scoring: length, mean token length, stopword ratio,
    * uppercase/punctuation incidence → one bounded [0,1] score.
    * Heuristics follow the public C4 (Raffel et al., JMLR 2020) and
    * Gopher (Rae et al., 2021) filter families: doc length bounds,
    * symbol ratios, stopword presence.
    */
  def qQualityScore(t: Tables): DataFrame = {
    val nTok = size(tokensCol)
    val nStop = size(filter(tokensCol, x => x.isin(stopwords.map(lit): _*)))
    val meanTokLen = (length(col("text")) - nTok + 1).cast("double") / nTok
    val stopRatio = nStop.cast("double") / nTok
    val lenScore = least(nTok.cast("double") / 50.0, lit(1.0))
    val score = round(lenScore * 0.5 + least(stopRatio * 5.0, lit(1.0)) * 0.3 +
      when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.0) * 0.2, 2)
    t.documents
      .select(col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
        round(meanTokLen, 2).as("mean_tok_len"),
        round(stopRatio, 2).as("stop_ratio"),
        score.as("quality"))
      .orderBy("doc_id")
  }

  /** Unigram entropy per document — the information-theoretic quality
    * gate (low entropy = repetitive/boilerplate text, the signal
    * behind C4-class heuristics that length/stopword ratios miss).
    * H = -Σ p·ln p over the doc's token distribution, computed as one
    * explode → per-(doc, token) count → per-doc agg: two partial-agg'd
    * hash aggs keyed on bounded-width values, no window. The entropy
    * sum is over ≤|vocabulary| terms per doc, so double summation
    * order stays engine-comparable under the 4-decimal rounding.
    */
  def qEntropy(t: Tables): DataFrame = {
    val tok = t.documents.select(col("doc_id"), explode(tokensCol).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val totals = tf.groupBy("doc_id").agg(sum("tf").as("n_tok"),
      count(lit(1)).as("n_distinct"))
    tf.join(totals, "doc_id")
      .withColumn("p", col("tf").cast("double") / col("n_tok"))
      .groupBy("doc_id")
      .agg(round(-sum(col("p") * log(col("p"))), 4).as("entropy"),
        first("n_tok").as("n_tok"), first("n_distinct").as("n_distinct"))
      .orderBy("doc_id")
  }

  /** Within-document repetition — the Gopher repetition filters (Rae
    * et al., 2021 §A1.1): fraction of duplicated unigrams and bigrams
    * per document. High-repetition docs are boilerplate/spam at corpus
    * scale. Pure per-row projections (split + array_distinct), one
    * pruned scan, no shuffle before the output sort.
    */
  def qRepetition(t: Tables): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), x => x =!= "")
    val nTok = size(toks)
    // guarded so sub-2-token rows never evaluate sequence(0, -1) /
    // element_at(_, 0) — correctness must not depend on the later
    // n_tokens filter being optimizer-pushed below this projection
    val bigrams = when(nTok >= 2,
      transform(sequence(lit(0), nTok - 2),
        i => concat(element_at(toks, i + 1), lit(" "), element_at(toks, i + 2))))
      .otherwise(array())
    t.documents
      .select(col("doc_id"), nTok.as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        size(array_distinct(bigrams)).as("n_distinct_bi"))
      .filter(col("n_tokens") >= 2)
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct") / col("n_tokens"), 4).as("dup_unigram_ratio"),
        round(lit(1.0) - col("n_distinct_bi") / (col("n_tokens") - 1), 4).as("dup_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** Language ID by stopword-marker voting: count hits per language's
    * marker set, argmax with a deterministic tie order. (On real
    * corpora the marker sets are the top-k stopwords per language; the
    * synthetic corpus shares one vocabulary, so this exercises the
    * operator shape + accuracy accounting, not linguistics.)
    */
  def qLangId(t: Tables): DataFrame = {
    def hits(markers: Seq[String]): Column =
      size(filter(tokensCol, x => x.isin(markers.map(lit): _*)))
    val enHits = hits(Seq("the", "a", "is"))
    val frHits = hits(Seq("le", "la", "et"))
    val esHits = hits(Seq("el", "los", "y"))
    val deHits = hits(Seq("der", "und", "die"))
    val pred = when(enHits >= frHits && enHits >= esHits && enHits >= deHits && enHits > 0, "en")
      .when(frHits >= esHits && frHits >= deHits && frHits > 0, "fr")
      .when(esHits >= deHits && esHits > 0, "es")
      .when(deHits > 0, "de")
      .otherwise("unknown")
    t.documents
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"))
      .withColumn("is_hit", (col("pred_lang") === col("lang")).cast("int"))
      .orderBy("doc_id")
  }

  /** Document fingerprints (rows-only): order-sensitive rolling hash —
    * unlike the shingle-set hashes, permuted token order changes the
    * fingerprint. One codegen'd expression per row.
    */
  def qFingerprint(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), GraftFunctions.rollingFp(col("text")).as("fp"))
      .orderBy("doc_id")

  /** TF-IDF top terms per document: tf and df from two partial-agg'd
    * passes over the exploded tokens, idf joined back on the token
    * key, window top-3 per doc on the rounded score (rounding before
    * ranking keeps the order engine-portable).
    */
  def qTfidf(t: Tables, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = t.documents.select(col("doc_id"), explode(tokensCol).as("token"))
    // lazily checkpointed: tf feeds BOTH the df derivation and the
    // score join — without the pin each reader re-runs the full
    // explode+shuffle; with it the corpus pays one token pass
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    // df FOLDS from tf (one row per (doc, token) ⇒ per-token row count
    // IS the distinct-doc count) — the second corpus-scale explode +
    // the countDistinct expand both disappear
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // df BROADCASTS like the BM25 twin's df table (vocab-bounded by
    // construction); without the hint the checkpointed tf side has no
    // size estimate and the score join planned as a SortMergeJoin
    // that re-exchanged the corpus-scale (doc, token) table by token
    // (guide §3.1). The corpus doc count is one bounded scalar — a
    // driver literal, not a 1-row frame cross-joined via a
    // broadcast-nested-loop (same numbers: long/long division either
    // way).
    val nDocs = t.documents.count()
    val scored = tf.join(broadcast(df), "token")
      .withColumn("score", round(col("tf") * log(lit(nDocs) / col("df")), 4))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))))
      .filter(col("rk") <= topK)
      .select("doc_id", "token", "score", "rk")
      .orderBy("doc_id", "rk")
  }

  /** BM25 retrieval scoring (Robertson-Spärck Jones; the Okapi form
    * with k1/b defaults) for a fixed query-term set against every
    * document — the ranking a corpus-search or hard-negative-mining
    * pass needs. Structure: the term filter lands BEFORE the tf
    * aggregation (only query terms shuffle), doc lengths and corpus
    * stats are two partial-agg'd passes, df and the 2-row corpus
    * frame broadcast back. Scores are rounded before ranking so the
    * per-term ordering is engine-portable (ties broken by doc_id).
    * The arithmetic is assembled in the exact operand order the
    * oracle SQL uses — double float ops are non-associative, so
    * structural identity is what makes the hash compare exact.
    */
  def qBm25(t: Tables, terms: Seq[String] = Seq("spark", "merge", "window"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = t.documents.select(col("doc_id"), explode(tokensCol).as("token"))
    // doc length = the token ARRAY's size — same number the explode
    // row count gives (split never yields an empty array), with no
    // explode and no shuffle: dl and the corpus stats become pure
    // scan-level projections/aggregates, so the only corpus-scale
    // explode left is the term-filtered tf path below
    val dl = t.documents.select(col("doc_id"), size(tokensCol).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = tok.filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1))
    val denom = col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
    val scored = tf.join(dl, "doc_id").join(broadcast(df), "token")
      .crossJoin(broadcast(corpus))
      .withColumn("score", round(idf * col("tf") * lit(k1 + 1) / denom, 4))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("token").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= topK)
      .select("token", "doc_id", "tf", "score", "rk")
      .orderBy("token", "rk")
  }

  /** Term statistics: explode tokens → (tf, df) per term → top 50.
    * Both aggregates are partial-agg'd; the shuffle carries one row
    * per (partition, term), not per token instance.
    */
  def qTermStats(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), explode(tokensCol).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(50)

  /** Per-language heavy hitters via the Misra-Gries sketch
    * ([[graft.functions.TopKAgg]]): one bounded (≤ capacity counters)
    * buffer per language regardless of vocabulary width — where the
    * exact `qTermStats` shuffle carries every distinct term, this
    * carries at most `capacity` per map partition per group. The
    * synthetic vocabulary fits the sketch, so counts are EXACT and the
    * DuckDB oracle gates them; at a web-scale vocabulary the same plan
    * degrades to the sketch's N/(capacity+1) deficit guarantee
    * (TopKAggSpec proves both regimes).
    */
  def qHeavyHitters(t: Tables, k: Int = 10, capacity: Int = 128): DataFrame = {
    val mg = udaf(new graft.functions.TopKAgg(capacity),
      org.apache.spark.sql.Encoders.STRING)
    t.documents
      .select(col("lang"), explode(tokensCol).as("token"))
      .groupBy("lang")
      .agg(mg(col("token")).as("hh"))
      .select(col("lang"), explode(col("hh")).as(Seq("term", "cnt")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("cnt").desc, col("term"))))
      .filter(col("rk") <= k)
      .orderBy("lang", "rk")
  }
}
