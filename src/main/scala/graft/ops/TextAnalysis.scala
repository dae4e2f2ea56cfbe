package graft.ops

import graft.functions.TextFunctions
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for the training-data pipeline: token counting
  * (whitespace + regex), quality scoring, n-gram-heuristic language ID,
  * and rolling-hash document fingerprinting. All pure per-row column
  * expressions — map-side only, no shuffle beyond the final sort, so
  * they stream through 100 TB at scan speed.
  */
object TextAnalysis {

  /** stopword profiles for the language-ID heuristic (tiny on purpose —
    * the interesting part is the deterministic argmax plumbing). */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "los", "de"),
    "fr" -> Seq("le", "la", "les", "des"),
    "zh" -> Seq("de", "le", "shi", "bu"))

  private def toks(c: Column): Column = split(c, " ")

  /** whitespace tokens vs regex word-ish tokens (BPE-flavored classes:
    * letter runs / digit runs / single punctuation). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select("doc_id", "text")
      .orderBy("doc_id") // sort raw, project above: the range-sampling pass must not re-run the regexes
      .select(
        col("doc_id"),
        size(filter(toks(col("text")), t => t =!= "")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .cast("long").as("re_tokens"))

  /** length/stopword/char-class quality metrics; ratios are exact-int
    * divisions so both engines produce identical doubles. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val t       = toks(col("text"))
    val nTok    = size(filter(t, x => x =!= "")).cast("long")
    val nChars  = length(col("text")).cast("long")
    val alphaCt = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
    val stopCt  = TextFunctions.countInSetCol(t, Seq("the", "a", "of", "and"))
    // zero guards: Spark returns NULL on x/0 while DuckDB returns ±Inf —
    // pin empty-doc rows to 0.0 on both sides so the compare can't split
    Tables.documents(spark, dir)
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        nChars.as("n_chars"),
        when(nTok === 0, 0.0).otherwise(nChars.cast("double") / nTok).as("chars_per_token"),
        when(nChars === 0, 0.0).otherwise(alphaCt.cast("double") / nChars).as("alpha_ratio"),
        when(nTok === 0, 0.0).otherwise(stopCt.cast("double") / nTok).as("stopword_ratio"))
  }

  /** language ID: count stopword-profile hits per language, argmax with
    * deterministic alphabetical tie-break; emitted next to the labeled
    * lang for eyeball accuracy. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = filter(toks(col("text")), x => x =!= "")
    val scores = Profiles.map { case (lang, words) =>
      lang -> TextFunctions.countInSetCol(t, words)
    }
    // argmax by (score desc, lang asc) via array of structs + array_max:
    // struct ordering is field-by-field, so (score, negated-lang) works;
    // simpler: sort_array desc on (score, lang) structs is not
    // lexicographically invertible per-field — use explicit fold instead.
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("s"), lit(scores.head._1).as("l"))) { case (acc, (lang, sc)) =>
      when(sc > acc.getField("s"), struct(sc.as("s"), lit(lang).as("l"))).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select("doc_id", "lang", "text")
      .orderBy("doc_id")
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        best.getField("l").as("predicted_lang"),
        best.getField("s").as("score"))
  }

  /** rolling polynomial fingerprint (mod 1e9+7) over the raw characters. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))

  /** Feature hashing (the "hashing trick", Weinberger et al., ICML'09):
    * every document becomes a fixed 64-bucket sparse vector with NO
    * vocabulary — bucket = token-hash mod 64, sign = the next hash bit,
    * weight = signed occurrence count. This is how text features reach
    * a learner at 100 TB when a fitted vocabulary is impossible: the op
    * is a stateless per-row map (explode → codegen'd rolling-hash →
    * groupBy (doc, bucket) with map-side partial sums), needs no second
    * pass, no broadcast, and no driver state, and the output width is
    * fixed regardless of corpus vocabulary. Long-form (doc_id, bucket,
    * w) output — the sparse representation one feeds to a trainer.
    * Weights are exact BIGINTs; the token hash is the same mod-1e9+7
    * polynomial as `fingerprint`, so the oracle recomputes it in SQL. */
  def featureHash(spark: SparkSession, dir: String): DataFrame = {
    val B = 64
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(filter(TextFunctions.tokens(col("text")), t => t =!= "")).as("t"))
      .select(col("doc_id"), TextFunctions.fingerprint(col("t")).as("h"))
      .select(col("doc_id"), (col("h") % B).as("bucket"),
        // `div`, not `/`: Spark's `/` on longs is DOUBLE division
        when(expr(s"(h div $B) % 2") === 0, lit(1L)).otherwise(lit(-1L)).as("s"))
      .groupBy("doc_id", "bucket")
      .agg(sum("s").as("w"))
      .orderBy("doc_id", "bucket")
  }

  private val UlmMaxWordLen = 12
  private val UlmPieceMax   = 4
  private val UlmMinCount   = 5L

  /** Unigram-LM subword scoring (the serving half of SentencePiece's
    * unigram model, Kudo 2018 — the sibling of [[bpeEncode]] for the
    * OTHER mainstream tokenizer family): seed a piece vocabulary from
    * corpus substring frequencies (every ≤[[UlmPieceMax]]-char substring
    * weighted by word frequency; singles always kept for coverage,
    * longer pieces pruned below [[UlmMinCount]]), assign each piece its
    * unigram log-probability, and score every word by its VITERBI-best
    * segmentation — the per-doc sum is the subword-LM quality signal a
    * curation pipeline thresholds on (gibberish and keyboard-mash score
    * far below fluent text under any subword LM).
    *
    * Scale shape: the corpus is scanned once (word counts); everything
    * after — candidate pieces, probabilities, the per-WORD Viterbi DP —
    * is VOCABULARY-sized (the bpe_train convention), and the per-doc
    * re-attach is one broadcastable word→score equi-join. The DP runs
    * as a driver-captured-map UDF over the distinct-word table: an
    * imperative O(len·[[UlmPieceMax]]) loop per word, deliberately off
    * the corpus path (the ann_ivf "interpreted on the tiny side only"
    * convention).
    *
    * Determinism contract: log-probs quantized to integer MICROS
    * (round(ln·1e6) — the tfidf ln convention, coarse enough that a
    * cross-engine libm ULP cannot move a boundary in practice), DP adds
    * exact longs, and the output is the tie-FREE best SCORE (never the
    * segmentation, whose tie-breaks would be engine-specific). The
    * oracle replays the vocabulary in SQL and replaces the DP with an
    * exhaustive recursive-CTE path search — same max by definition. */
  def unigramScore(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val toksCol = filter(TextFunctions.tokens(col("text")), t => t =!= "")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksCol).as("w"))
    val words = ck.ckpt(toks
      .groupBy("w").agg(count(lit(1)).as("f"))
      .filter(length(col("w")) <= UlmMaxWordLen)) // vocabulary-sized; feeds piece counting + DP
    val cand = words
      .select(col("f"), explode(flatten(
        transform(sequence(lit(1), lit(UlmPieceMax)), k =>
          when(length(col("w")) >= k,
            transform(sequence(lit(1), length(col("w")) - k + 1),
              i => col("w").substr(i, k)))
            .otherwise(array().cast("array<string>"))))).as("p"))
      .groupBy("p").agg(sum("f").as("c"))
      .filter(length(col("p")) === 1 || col("c") >= UlmMinCount)
    val total = cand.agg(sum("c")).head().getLong(0)
    // piece → quantized log-prob: vocab-sized driver metadata (the
    // centroid-literal convention)
    val lq: Map[String, Long] = cand.collect().map { r =>
      r.getString(0) -> math.round(math.log(r.getLong(1).toDouble / total) * 1e6)
    }.toMap
    val viterbi = udf { (w: String) =>
      val L    = w.length
      val NEG  = Long.MinValue / 4
      val best = Array.fill(L + 1)(NEG)
      best(0) = 0L
      var p = 1
      while (p <= L) {
        var k = 1
        while (k <= UlmPieceMax && k <= p) {
          if (best(p - k) > NEG) lq.get(w.substring(p - k, p)).foreach { q =>
            if (best(p - k) + q > best(p)) best(p) = best(p - k) + q
          }
          k += 1
        }
        p += 1
      }
      best(L)
    }
    val wordScores = words.select(col("w"), viterbi(col("w")).as("ws"))
    toks.join(broadcast(wordScores), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("ws").as("score_micros"))
      .orderBy("doc_id")
  }

  /** WordPiece greedy encoding (Wu et al. 2016 — BERT's tokenizer,
    * completing the tokenizer-family triptych beside [[bpeEncode]]
    * (merge-list replay) and [[unigramScore]] (Viterbi LM)): a
    * POSITIONAL piece vocabulary — word-initial pieces and `##`
    * continuation pieces are distinct entries — seeded from corpus
    * substring frequencies under the unigram constants (singles always
    * kept for coverage, longer pieces pruned below [[UlmMinCount]]),
    * then every word encoded by greedy LONGEST-MATCH-FIRST: at each
    * position take the longest vocabulary piece, never backtrack.
    * Because both single-char families are coverage-complete, the walk
    * cannot dead-end, so no word falls to `[UNK]` and the greedy path
    * is total. Output per doc: word count, WordPiece token count, and
    * words kept whole (encoded as one piece) — the fertility stats a
    * tokenizer design review reads.
    *
    * Scale shape = [[unigramScore]]'s: one corpus scan (word counts),
    * vocabulary-sized candidate/count tables, the greedy loop as a
    * driver-captured-set UDF over the distinct-word table (O(len·
    * [[UlmPieceMax]]) per word, off the corpus path), one broadcast
    * word→count equi-join back.
    *
    * Oracle equivalence: greedy longest-match-first = the complete
    * segmentation path whose piece-LENGTH sequence is lexicographically
    * MAXIMAL (greedy always exists since singles cover every position,
    * and any other path first deviates by choosing a shorter piece —
    * i.e. a smaller digit at that step). [[UlmPieceMax]] ≤ 9 keeps each
    * length a single digit, so the oracle enumerates all paths
    * recursive-CTE-style (the unigram machinery) carrying a digit-
    * string key and keeps `max(key)` per word. */
  def wordpieceEncode(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val toksCol = filter(TextFunctions.tokens(col("text")), t => t =!= "")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksCol).as("w"))
    // the trained tokenizer (word → piece count) is an [[Artifacts]]
    // memo; piece-vocabulary training and the greedy segmentation
    // replay ride the cold run only
    val wp = Artifacts.memo(spark, ("wordpiece_np", dir)) { ck =>
      // vocabulary-sized; feeds piece counting + encode
      val words = ck.ckpt(toks
        .groupBy("w").agg(count(lit(1)).as("f"))
        .filter(length(col("w")) <= UlmMaxWordLen))
      val startCand = words.select(col("f"), explode(
          transform(sequence(lit(1), least(lit(UlmPieceMax), length(col("w")))),
            k => col("w").substr(lit(1), k))).as("s"))
        .withColumn("st", lit(true))
      val contCand = words.filter(length(col("w")) >= 2)
        .select(col("f"), explode(flatten(
          transform(sequence(lit(1), lit(UlmPieceMax)), k =>
            when(length(col("w")) - 1 >= k,
              transform(sequence(lit(2), length(col("w")) - k + 1),
                i => col("w").substr(i, k)))
              .otherwise(array().cast("array<string>"))))).as("s"))
        .withColumn("st", lit(false))
      val pieces = startCand.union(contCand)
        .groupBy("st", "s").agg(sum("f").as("c"))
        .filter(length(col("s")) === 1 || col("c") >= UlmMinCount)
        .collect()
      val startV: Set[String] =
        pieces.collect { case r if r.getBoolean(0) => r.getString(1) }.toSet
      val contV: Set[String] =
        pieces.collect { case r if !r.getBoolean(0) => r.getString(1) }.toSet
      val greedy = udf { (w: String) =>
        var pos = 0
        var n   = 0L
        while (pos < w.length) {
          var k = math.min(UlmPieceMax, w.length - pos)
          while (k > 1 && !(if (pos == 0) startV(w.substring(pos, pos + k))
                            else contV(w.substring(pos, pos + k)))) k -= 1
          pos += k // k = 1 always matches: singles are coverage-complete
          n += 1
        }
        n
      }
      ck.ckpt(words.select(col("w"), greedy(col("w")).as("np")))
    }
    toks.join(broadcast(wp), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("np").as("n_pieces"),
        sum(when(col("np") === 1, 1L).otherwise(0L)).as("n_whole"))
      .orderBy("doc_id")
  }

  private val wordpieceSql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
       |  FROM documents
       |), words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks
       |  WHERE length(w) <= $UlmMaxWordLen GROUP BY w
       |), cand AS (
       |  SELECT TRUE AS st, substr(w.w, 1, CAST(k AS INT)) AS s, CAST(SUM(f) AS BIGINT) AS c
       |  FROM words w, (SELECT unnest(generate_series(1, $UlmPieceMax)) AS k) ks
       |  WHERE k <= length(w.w) GROUP BY s
       |  UNION ALL
       |  SELECT FALSE, substr(w.w, CAST(i AS INT), CAST(k AS INT)), CAST(SUM(f) AS BIGINT)
       |  FROM words w, (SELECT unnest(generate_series(1, $UlmPieceMax)) AS k) ks,
       |       (SELECT unnest(generate_series(2, $UlmMaxWordLen)) AS i) pos
       |  WHERE i + k - 1 <= length(w.w) GROUP BY 2
       |), pieces AS (
       |  SELECT st, s, CAST(length(s) AS BIGINT) AS len, c FROM cand
       |  WHERE length(s) = 1 OR c >= $UlmMinCount
       |), seg AS (
       |  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n, '' AS key FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + q.len, s.n + 1, s.key || CAST(q.len AS VARCHAR)
       |  FROM seg s JOIN pieces q ON q.st = (s.pos = 0)
       |    AND q.s = substr(s.w, CAST(s.pos + 1 AS INT), CAST(q.len AS INT))
       |  WHERE s.pos + q.len <= length(s.w)
       |), complete AS (
       |  SELECT w, n, key FROM seg WHERE pos = length(w)
       |), greedy AS (
       |  SELECT w, n FROM (
       |    SELECT w, n, row_number() OVER (PARTITION BY w ORDER BY key DESC) AS rn
       |    FROM complete)
       |  WHERE rn = 1
       |)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(SUM(g.n) AS BIGINT) AS n_pieces,
       |       CAST(SUM(CASE WHEN g.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole
       |FROM toks t JOIN greedy g ON g.w = t.w
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Per-language fertility of the WordPiece tokenizer — THE table a
    * multilingual tokenizer review reads before fixing a vocabulary
    * (high-fertility languages pay more sequence length per word and
    * train worse; cf. the fertility analyses in the mBERT/XLM-R
    * literature): rolls [[wordpieceEncode]]'s per-doc stats up by the
    * fixture's `lang` label. Fertility = pieces per word and the
    * whole-word share, both as exact integral micros of the grouped
    * sums (never an average of per-doc ratios — that would weight docs,
    * not words).
    *
    * Scale shape: inherits wordpiece_encode's (corpus scan + vocab-
    * sized model + broadcast re-attach); the rollup adds one ≤|langs|-
    * row aggregate and a broadcast lang attach. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = wordpieceEncode(spark, dir)
    val langs  = Tables.documents(spark, dir).select("doc_id", "lang")
    perDoc.join(langs, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_pieces").as("n_pieces"), sum("n_whole").as("n_whole"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"), col("n_whole"),
        expr("CAST((CAST(n_pieces AS DECIMAL(38,0)) * 1000000) div n_words AS BIGINT)")
          .as("fertility_micros"),
        expr("CAST((CAST(n_whole AS DECIMAL(38,0)) * 1000000) div n_words AS BIGINT)")
          .as("whole_ratio_micros"))
      .orderBy("lang")
  }

  private val tokenizerFertilitySql: String =
    s"""WITH wp AS ($wordpieceSql)
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(wp.n_words) AS BIGINT) AS n_words,
       |       CAST(sum(wp.n_pieces) AS BIGINT) AS n_pieces,
       |       CAST(sum(wp.n_whole) AS BIGINT) AS n_whole,
       |       CAST((CAST(sum(wp.n_pieces) AS HUGEINT) * 1000000)
       |            // sum(wp.n_words) AS BIGINT) AS fertility_micros,
       |       CAST((CAST(sum(wp.n_whole) AS HUGEINT) * 1000000)
       |            // sum(wp.n_words) AS BIGINT) AS whole_ratio_micros
       |FROM wp JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  private val unigramScoreSql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
       |  FROM documents
       |), words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks
       |  WHERE length(w) <= $UlmMaxWordLen GROUP BY w
       |), cand AS (
       |  SELECT substr(w.w, CAST(i AS INT), CAST(k AS INT)) AS p, CAST(SUM(w.f) AS BIGINT) AS c
       |  FROM words w,
       |       (SELECT unnest(generate_series(1, $UlmPieceMax)) AS k) ks,
       |       (SELECT unnest(generate_series(1, $UlmMaxWordLen)) AS i) pos
       |  WHERE i + k - 1 <= length(w.w)
       |  GROUP BY p
       |), pieces AS (
       |  SELECT p, c FROM cand WHERE length(p) = 1 OR c >= $UlmMinCount
       |), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM pieces),
       |pq AS (
       |  SELECT p, CAST(length(p) AS BIGINT) AS len,
       |         CAST(round(ln(CAST(c AS DOUBLE) / t) * 1000000) AS BIGINT) AS lq
       |  FROM pieces CROSS JOIN tot
       |),
       |seg AS (
       |  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS score FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + q.len, s.score + q.lq
       |  FROM seg s JOIN pq q ON q.p = substr(s.w, CAST(s.pos + 1 AS INT), CAST(q.len AS INT))
       |  WHERE s.pos + q.len <= length(s.w)
       |),
       |best AS (SELECT w, MAX(score) AS ws FROM seg WHERE pos = length(w) GROUP BY w)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(SUM(b.ws) AS BIGINT) AS score_micros
       |FROM toks t JOIN best b ON b.w = t.w
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** TF-IDF top-3 terms per document — the classic corpus-statistics op
    * of a training-data pipeline (keyword extraction, quality features).
    *
    * Plan shape at 100 TB: explode → (doc, term) partial-counted hash
    * agg (tf); term-level df agg over the already-reduced tf table; the
    * doc count and df join back by term (df is vocabulary-sized — far
    * smaller than the corpus). Ranking is per-doc top-k via
    * row_number over a (doc) window — the window partitions by doc_id,
    * so state is one doc's terms, never the corpus.
    *
    * Determinism: tf/df/n are exact ints; score = round(tf·ln(n/df), 6)
    * (6dp absorbs libm ULP drift); ranking uses the ROUNDED score with
    * term-asc tiebreak so both engines rank identically. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs  = Tables.documents(spark, dir).select("doc_id", "text")
    val terms = docs.select(col("doc_id"),
      explode(filter(toks(col("text")), t => t =!= "")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n  = docs.agg(count(lit(1)).as("n"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("doc_id", "rn", "term", "tf", "score")
      .orderBy("doc_id", "rn")
  }

  /** [[lsaTopic]] power-iteration sweeps — the dominant direction of a
    * ~30-term vocabulary contracts in a few; 6 keeps the unrolled
    * oracle readable while the spec pins convergence. */
  private val LsaIters = 6

  /** Latent semantic analysis, first component (Deerwester et al.
    * 1990) — the dominant right-singular vector of the doc×term tf-idf
    * matrix via power iteration on AᵀA, computed ON THE CELLS (the
    * sparse (doc, term, weight) table — never a materialized matrix):
    * the term loading that explains the most corpus variance, i.e. the
    * corpus' principal "topic". Each half-step is one equi-join +
    * partial aggregate (u = A·v doc-sized, v = Aᵀ·u vocab-sized) with
    * MAX-normalization instead of an L2 norm — an exact integer
    * division, no sqrt — and every iterate quantizes to micros, so the
    * whole trajectory is bit-replayable cross-engine (the als_rank1
    * convention; this is the same alternating shape with a shared
    * fixed matrix). idf is the quantized-ln micros form.
    *
    * Scale shape: per sweep, exactly two cell-table equi-joins keyed
    * on term/doc with partial-aggregated rollups — the distributed
    * power-iteration shape (pagerank's algebra on a bipartite graph);
    * factor vectors are vocab-/corpus-sized, never cell-sized. */
  def lsaTopic(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    // SPARK_GRAFT_LSA_DEBUG=1: per-phase wall times on stderr (cells
    // build vs each sweep) — the phase-profile diagnostic that splits
    // "the sweeps got slower" from "the cells checkpoint is evicting"
    val debug = sys.env.get("SPARK_GRAFT_LSA_DEBUG").contains("1")
    var t0 = System.nanoTime()
    def mark(phase: String): Unit = if (debug) {
      System.err.println(f"[lsa] $phase: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      t0 = System.nanoTime()
    }
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val tf = docs.select(col("doc_id"),
        explode(filter(toks(col("text")), t => t =!= "")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val cells = ck.ckpt(tf.join(dfT, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf") * expr("CAST(round(ln(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT)"))
          .as("a")), org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // SERIALIZED: the cell table is pinned for all 12 half-steps and
      // is the whole memory story here (2.6 GB deserialized at 256×
      // grown, where the measured 64→256 excess was exactly the first-
      // sweep eviction churn of these blocks spilling to disk) —
      // compact bytes keep more of it resident and bound the transient
       // feeds every half-step
    mark("cells checkpoint")
    var v = ck.ckpt(cells.select(col("term")).distinct()
      .select(col("term"), lit(1000000L).as("v")))
    // Round-22: checkpoint the PRE-normalization aggregates u0/v0, not
    // the normalized vectors. The r21 fully-lazy sweep relied on
    // ReuseExchange to dedupe u0's two plan arms (max arm + stream arm)
    // — under AQE that reuse is not guaranteed across independently
    // re-optimized stages, and the driver's cold bench measured the
    // sweep 0.84× (VERDICT r21 #3: the cells⋈v join likely ran twice).
    // The r20 shape (checkpoint the normalized u) still ran u0 twice
    // INSIDE the one checkpoint job, because the uMax broadcast arm
    // recomputes the aggregate. Checkpointing u0 itself makes each
    // cells join run exactly once per sweep: the max arm and the
    // normalized projection are both cheap doc-/vocab-sized lazy reads
    // of the checkpoint.
    var v0Ckpt: DataFrame = null
    (1 to LsaIters).foreach { it =>
      // doc-sized; feeds the max arm + the v half-step
      val u0 = ck.ckpt(cells.join(v, "term")
        .groupBy("doc_id")
        .agg(expr("CAST(sum(CAST(a AS DECIMAL(38,0)) * v) div 1000000 AS DECIMAL(38,0))").as("u")))
      val uMax = u0.agg(max("u").as("m"))
      val u = u0.crossJoin(broadcast(uMax))
        .select(col("doc_id"),
          expr("CAST((u * 1000000) div m AS BIGINT)").as("u"))
      // vocab-sized; feeds the max arm + next sweep
      val v0 = ck.ckpt(cells.join(u, "doc_id")
        .groupBy("term")
        .agg(expr("CAST(sum(CAST(a AS DECIMAL(38,0)) * u) div 1000000 AS DECIMAL(38,0))").as("vv")))
      val vMax = v0.agg(max("vv").as("m"))
      val prev = v
      val prevV0 = v0Ckpt
      v = v0.crossJoin(broadcast(vMax))
        .select(col("term"), expr("CAST((vv * 1000000) div m AS BIGINT)").as("v"))
      v0Ckpt = v0
      if (it == 1) ck.free(prev) // the seed-v checkpoint
      if (prevV0 != null) ck.free(prevV0) // superseded sweep
      ck.free(u0) // dead once v0 materialized
      mark(s"sweep $it")
    }
    // the output is lazy over the final v0 checkpoint only; the scope
    // frees the cell table (the query's whole memory story)
    v.orderBy(desc("v"), col("term"))
      .limit(20)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("v"), col("term"))).cast("long"))
      .select(col("rank"), col("term"), col("v").as("loading_micros"))
      .orderBy("rank")
  }

  private val lsaSql: String = {
    val sweeps = (1 to LsaIters).map { i =>
      s"""u${i}0 AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(CAST(a AS HUGEINT) * v) // 1000000 AS HUGEINT) AS u
         |  FROM cells JOIN v${i - 1} USING (term) GROUP BY doc_id
         |), u$i AS MATERIALIZED (
         |  SELECT doc_id, CAST((u * 1000000) // (SELECT max(u) FROM u${i}0) AS BIGINT) AS u
         |  FROM u${i}0
         |), v${i}0 AS MATERIALIZED (
         |  SELECT term, CAST(sum(CAST(a AS HUGEINT) * u) // 1000000 AS HUGEINT) AS vv
         |  FROM cells JOIN u$i USING (doc_id) GROUP BY term
         |), v$i AS MATERIALIZED (
         |  SELECT term, CAST((vv * 1000000) // (SELECT max(vv) FROM v${i}0) AS BIGINT) AS v
         |  FROM v${i}0
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
       |    FROM documents)
       |  GROUP BY doc_id, term
       |), dft AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
       |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |cells AS MATERIALIZED (
       |  SELECT doc_id, tf.term,
       |         tf * CAST(round(ln(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT) AS a
       |  FROM tf JOIN dft USING (term) CROSS JOIN nn
       |), v0 AS (
       |  SELECT DISTINCT term, CAST(1000000 AS BIGINT) AS v FROM cells
       |),
       |$sweeps,
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY v DESC, term) AS rank
       |  FROM v$LsaIters
       |)
       |SELECT CAST(rank AS BIGINT) AS rank, term, v AS loading_micros
       |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  /** Heavy-hitters over the token stream via our Misra-Gries
    * `TypedImperativeAggregate` (SketchFunctions.MGTopK) — frequency
    * analysis over tokens is a staple LLM-corpus diagnostic, and the
    * sketch is the O(capacity)-memory way to run it over 100 TB where
    * an exact token groupBy would shuffle the whole vocabulary.
    *
    * Verification contract (same shape as kmv_distinct): the fixture
    * vocabulary (31 distinct tokens) sits below the sketch capacity
    * (64), the regime where Misra-Gries provably never decrements or
    * trims — the summary IS the exact count map, merge-shape invariant,
    * so the per-token verdict (`sketch_exact`) is deterministically
    * true and the whole row hash-checks against the exact DuckDB
    * top-10. The lossy regime (capacity < distinct) and its N/(cap+1)
    * error bound are pinned under adversarial partitionings in
    * SketchSpec, where an in-process exact side exists. */
  def topkFrequent(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Tables.documents(spark, dir)
      .select(explode(filter(toks(col("text")), t => t =!= "")).as("token"))
    val sketch = tokens
      .agg(graft.functions.SketchFunctions.mgTopK(col("token"), 64).as("mg"))
      .select(explode(col("mg")).as(Seq("token", "n_sketch")))
    val exact = tokens.groupBy("token").agg(count(lit(1)).as("n"))
    exact.join(broadcast(sketch), Seq("token"), "left")
      .select(col("token"), col("n"),
        (coalesce(col("n_sketch"), lit(0L)) === col("n")).as("sketch_exact"))
      .orderBy(col("n").desc, col("token"))
      .limit(10)
  }

  /** BM25 retrieval parameters. The derived constants are interpolated
    * into the oracle as exact decimal literals (the planeWeightsF
    * pattern) so both engines multiply bit-identical operands rather
    * than re-deriving `k1+1` under their own parser/fold rules. */
  val Bm25Terms: Seq[String] = Seq("spark", "query", "vector")
  private val K1        = 1.2
  private val B         = 0.75
  private val K1p1      = K1 + 1.0
  private val OneMinusB = 1.0 - B
  private[ops] val Bm25TopN  = 10

  private def dec(d: Double): String = new java.math.BigDecimal(d).toPlainString

  /** BM25-scored top-k retrieval for a fixed query term set — the
    * search/decontamination-retrieval staple next to tfidf.
    *
    * Scale shape: per-term tf is a codegen'd per-row count (one hash
    * probe per token — no explode, no (doc, term) shuffle since the
    * query terms are fixed and few); corpus stats (N, Σdl, per-term df)
    * are ONE partial-aggregated row, broadcast back; scoring is a pure
    * map; top-k is TakeOrderedAndProject (per-partition bounded heaps +
    * driver merge of k·p rows), never a global sort. 100 TB of text →
    * one aggregate + one scan.
    *
    * Determinism: tf/dl/df/N are exact ints, every float expression is
    * written in the same association order on both engines, and the
    * score is rounded to 6dp (absorbing libm ln ULP drift) with doc_id
    * tiebreak before the top-k cut. */
  /** Per-document token-distribution Shannon entropy — the
    * repetitiveness quality signal [[tokenDiversity]]'s type-token
    * ratio only approximates (TTR can't tell "one token repeated 99×
    * plus 99 singletons" from a flat distribution; entropy can), and
    * the standard spam/keyword-stuffing detector beside
    * `repetition_quality`. H = ln n − (Σ_t c_t·ln c_t)/n over the
    * doc's token counts, every ln a quantized-micros ln of an exact
    * INTEGER (the psi_drift convention — cross-engine stable where a
    * float Σ p·ln p is not); quantization is monotone so H ≥ 0 holds
    * exactly. Normalized entropy H/ln(n_distinct) ∈ [0,1] rides along
    * (NULL for single-type docs).
    *
    * Scale shape: one (doc_id, token)-keyed partial-aggregated count,
    * then a per-doc aggregate over its distinct-token cells — state
    * bounded by per-doc vocabulary, no windows. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(expr("c * CAST(round(ln(c) * 1000000) AS BIGINT)")).as("sclnc"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("""CAST(round(ln(n_tokens) * 1000000) AS BIGINT)
               |  - CAST(sclnc div n_tokens AS BIGINT)""".stripMargin).as("entropy_micros"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("entropy_micros"),
        when(col("n_distinct") > 1L,
          expr("""CAST((CAST(entropy_micros AS DECIMAL(38,0)) * 1000000)
                 |     div CAST(round(ln(n_distinct) * 1000000) AS BIGINT) AS BIGINT)""".stripMargin))
          .as("norm_entropy_micros"))
      .orderBy("doc_id")

  private val tokenEntropySql: String =
    """WITH cells AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      |    FROM documents)
      |  GROUP BY doc_id, tok
      |), agg AS (
      |  SELECT doc_id,
      |         CAST(sum(c) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_distinct,
      |         CAST(sum(c * CAST(round(ln(c) * 1000000) AS BIGINT)) AS BIGINT) AS sclnc
      |  FROM cells GROUP BY doc_id
      |), ent AS (
      |  SELECT doc_id, n_tokens, n_distinct,
      |         CAST(round(ln(n_tokens) * 1000000) AS BIGINT)
      |           - CAST(sclnc // n_tokens AS BIGINT) AS entropy_micros
      |  FROM agg
      |)
      |SELECT doc_id, n_tokens, n_distinct, entropy_micros,
      |       CASE WHEN n_distinct > 1
      |            THEN CAST((CAST(entropy_micros AS HUGEINT) * 1000000)
      |                      // CAST(round(ln(n_distinct) * 1000000) AS BIGINT) AS BIGINT)
      |       END AS norm_entropy_micros
      |FROM ent ORDER BY doc_id""".stripMargin

  /** [[proximitySearch]] query — three terms common enough in the
    * fixture vocabulary that co-occurring windows exist to rank. */
  private val ProxTerms = Seq("slow", "scan", "table")

  /** Minimal-window proximity ranking (the classic MINDIST passage/
    * proximity feature — Clarke et al.'s cover density, the positional
    * signal BM25's bag-of-words score cannot see: "are the query terms
    * NEAR each other?"). For each document containing all
    * [[ProxTerms]], the score is 10⁶ div (length of the shortest token
    * window containing all of them), top-50 by (score, doc_id). The
    * shortest window ends at some query-term position i and starts at
    * the latest-seen position of the rarest-behind term:
    * len(i) = i − min_t(last position of t ≤ i) + 1 — so one ordered
    * pass carrying |Q| running maxima finds the exact minimum, the
    * standard two-pointer argument made window-functional. Pure
    * integers end to end.
    *
    * Scale shape: the corpus explodes ONLY at query-term positions
    * (the scan drops every other token before any shuffle — for a
    * 3-term query this is a tiny fraction of the token stream), the
    * running maxima are DOC-partitioned windows over those few
    * positions (bounded state, the doc_chunks class), and the top-50
    * is TakeOrderedAndProject. */
  def proximitySearch(spark: SparkSession, dir: String): DataFrame = {
    val positions = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), t => t =!= ""))
          .as(Seq("pos", "tok")))
      .filter(col("tok").isin(ProxTerms: _*))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val lasts = positions.select(
      Seq(col("doc_id"), col("pos")) ++ ProxTerms.zipWithIndex.map { case (t, i) =>
        max(when(col("tok") === t, col("pos"))).over(w).as(s"lp$i")
      }: _*)
    val terms = ProxTerms.indices.map(i => col(s"lp$i"))
    lasts
      .filter(terms.map(_.isNotNull).reduce(_ && _))
      .select(col("doc_id"), (col("pos") - least(terms: _*) + 1L).as("wlen"))
      .groupBy("doc_id").agg(min("wlen").as("min_window"))
      .select(col("doc_id"), col("min_window"),
        expr("CAST(1000000 div min_window AS BIGINT)").as("prox_score"))
      .orderBy(desc("prox_score"), col("doc_id"))
      .limit(50)
  }

  private val proximitySql: String = {
    val inList = ProxTerms.map(t => s"'$t'").mkString(", ")
    val lastCols = ProxTerms.zipWithIndex
      .map { case (t, i) => s"max(CASE WHEN tok = '$t' THEN pos END) OVER w AS lp$i" }
      .mkString(",\n    ")
    val lps = ProxTerms.indices.map(i => s"lp$i")
    s"""WITH toksed AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
       |  FROM documents
       |), positions AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ts[i] AS tok
       |  FROM toksed, unnest(generate_series(1, len(ts))) AS u(i)
       |  WHERE ts[i] IN ($inList)
       |), lasts AS (
       |  SELECT doc_id, pos,
       |    $lastCols
       |  FROM positions
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), wins AS (
       |  SELECT doc_id, pos - LEAST(${lps.mkString(", ")}) + 1 AS wlen
       |  FROM lasts WHERE ${lps.map(_ + " IS NOT NULL").mkString(" AND ")}
       |)
       |SELECT doc_id, CAST(min(wlen) AS BIGINT) AS min_window,
       |       CAST(1000000 // min(wlen) AS BIGINT) AS prox_score
       |FROM wins GROUP BY doc_id
       |ORDER BY prox_score DESC, doc_id LIMIT 50""".stripMargin
  }

  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val t      = filter(toks(col("text")), x => x =!= "")
    val tfCols = Bm25Terms.indices.map(i =>
      TextFunctions.countInSetCol(t, Seq(Bm25Terms(i))).as(s"tf_$i"))
    val pertf = Tables.documents(spark, dir).select(
      Seq(col("doc_id"), size(t).cast("long").as("dl")) ++ tfCols: _*)
    val statsAggs = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")) ++
      Bm25Terms.indices.map(i => sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = pertf.agg(statsAggs.head, statsAggs.tail: _*)
    val avgdl = col("sumdl").cast("double") / col("n")
    val score = Bm25Terms.indices.map { i =>
      val tf = col(s"tf_$i")
      val df = col(s"df_$i")
      log((col("n").cast("double") - df + 0.5) / (df + 0.5) + 1.0) *
        (tf * lit(K1p1)) / (tf + lit(K1) * (lit(OneMinusB) + lit(B) * col("dl") / avgdl))
    }.reduce(_ + _)
    pertf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopN)
  }

  private[ops] val bm25Sql: String = {
    val tfExprs = Bm25Terms.indices.map(i =>
      s"CAST(len(list_filter(string_split(text, ' '), t -> t = '${Bm25Terms(i)}')) AS BIGINT) AS tf_$i")
      .mkString(",\n    ")
    val dfExprs = Bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val scoreTerms = Bm25Terms.indices.map(i =>
      s"""ln((CAST(s.n AS DOUBLE) - s.df_$i + 0.5) / (s.df_$i + 0.5) + 1.0)
         |    * (d.tf_$i * ${dec(K1p1)}) / (d.tf_$i + ${dec(K1)} * (${dec(OneMinusB)} + ${dec(B)} * d.dl / s.avgdl))"""
        .stripMargin).mkString("\n  + ")
    s"""WITH pertf AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS dl,
       |    $tfExprs
       |  FROM documents
       |), stats AS (
       |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, $dfExprs
       |  FROM pertf
       |)
       |SELECT d.doc_id, d.dl, round(
       |  $scoreTerms, 6) AS score
       |FROM pertf d CROSS JOIN stats s
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopN""".stripMargin
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio 1971 /
    * RM1-style): run [[bm25Search]] for the fixed query terms, treat
    * its top-[[Bm25TopN]] documents as relevant, and rank the
    * candidate EXPANSION terms they contain by feedback mass × rarity
    * — weight(t) = (Σ_fb tf) · idf_micros(t), idf in the same
    * BM25-Robertson form the retrieval stage used, rounded to integral
    * micros (the psi_drift ln convention) so the ranking is hash-
    * exact. Original query terms are excluded; ties break on the term.
    * This is the second half of the classic two-pass retrieval loop
    * (search → expand → re-search) an IR-based curation pipeline runs.
    *
    * Scale shape: the corpus-sized work is the (doc, term) tf
    * aggregation [[tfidf]] already ships; the feedback join restricts
    * it to a BROADCAST 10-doc set before any further aggregation, and
    * the df margin shuffles (term, count) partials only. Output is a
    * 10-row term table. */
  def prfExpand(spark: SparkSession, dir: String): DataFrame = {
    val top = bm25Search(spark, dir).select("doc_id")
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val terms = docs.select(col("doc_id"),
      explode(filter(toks(col("text")), t => t =!= "")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val fb = tf.join(broadcast(top), "doc_id")
      .filter(!col("term").isin(Bm25Terms: _*))
      .groupBy("term").agg(sum("tf").as("sum_tf"), count(lit(1)).as("n_docs_fb"))
    fb.join(dfc, "term").crossJoin(broadcast(n))
      .select(col("term"), col("sum_tf"), col("n_docs_fb"), col("df"),
        expr("""CAST(round(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
               |     * 1000000) AS BIGINT)""".stripMargin).as("idf_micros"))
      .withColumn("weight_micros", col("sum_tf") * col("idf_micros"))
      .orderBy(desc("weight_micros"), col("term"))
      .limit(Bm25TopN)
  }

  private val prfExpandSql: String = {
    val exclude = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH top AS (
       |  SELECT doc_id FROM ($bm25Sql)
       |), termsx AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM termsx GROUP BY 1, 2
       |), dfc AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
       |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
       |), fb AS (
       |  SELECT term, CAST(sum(tf) AS BIGINT) AS sum_tf,
       |         CAST(count(*) AS BIGINT) AS n_docs_fb
       |  FROM tf JOIN top USING (doc_id)
       |  WHERE term NOT IN ($exclude) GROUP BY term
       |)
       |SELECT f.term, f.sum_tf, f.n_docs_fb, d.df,
       |       CAST(round(ln((CAST(n.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |            * 1000000) AS BIGINT) AS idf_micros,
       |       f.sum_tf *
       |       CAST(round(ln((CAST(n.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |            * 1000000) AS BIGINT) AS weight_micros
       |FROM fb f JOIN dfc d USING (term) CROSS JOIN nn n
       |ORDER BY weight_micros DESC, term LIMIT $Bm25TopN""".stripMargin
  }

  /** [[coocPmi]] minimum pair support (noise floor below which PMI
    * estimates are rank-garbage — the standard word2vec/GloVe prune). */
  private val PmiMinCount = 5L

  /** Skip-gram co-occurrence PMI over a ±2-token forward window — THE
    * preprocessing statistic of embedding training (word2vec's unigram
    * table, GloVe's co-occurrence matrix, PPMI-SVD embeddings all start
    * here), and the windowed generalization of [[TextAnalysis]]'s
    * adjacent-only `bigram_lift`: PMI(w₁,w₂) = ln(c₁₂·T / (c₁·c₂))
    * over pair events, with margins taken on the pair table itself.
    * The ln argument is formed from exact integer products with ONE
    * double division before the log (the psi_drift convention), so the
    * integral-micros PMI is hash-stable cross-engine. Pairs below
    * [[PmiMinCount]] support are pruned; top-100 by PMI ships.
    *
    * Scale shape: the window pairing is a SHIFTED EQUI-JOIN — each
    * token emits its two forward target positions and joins on
    * (doc, position), so fan-out is exactly 2 rows/token, never the
    * len² a doc-keyed self-join would plan; everything downstream is
    * (vocab²-bounded) pair-cell aggregation with map-side partials
    * and broadcast margins re-attach. */
  def coocPmi(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val toksed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(filter(toks(col("text")), t => t =!= "")).as(Seq("pos", "w")))
    val left = toksed.select(col("doc_id"),
      explode(array(col("pos") + 1, col("pos") + 2)).as("pos"), col("w").as("w1"))
    // vocab²-bounded; feeds margins, total and output
    val pairs = ck.ckpt(left
      .join(toksed.select(col("doc_id"), col("pos"), col("w").as("w2")),
        Seq("doc_id", "pos"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val tot = pairs.agg(sum("c12").as("tp"))
    val lm = pairs.groupBy("w1").agg(sum("c12").as("cl"))
    val rm = pairs.groupBy("w2").agg(sum("c12").as("cr"))
    pairs.filter(col("c12") >= PmiMinCount)
      .join(broadcast(lm), "w1").join(broadcast(rm), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"), col("cl"), col("cr"),
        expr("""CAST(round(ln(CAST(c12 * tp AS DOUBLE) / CAST(cl * cr AS DOUBLE))
               |     * 1000000) AS BIGINT)""".stripMargin).as("pmi_micros"))
      .orderBy(desc("pmi_micros"), col("w1"), col("w2"))
      .limit(100)
  }

  private val coocPmiSql: String =
    s"""WITH toksed AS (
       |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS w FROM documents
       |), prs AS (
       |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS pr
       |  FROM toksed
       |  UNION ALL
       |  SELECT unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+2]))
       |  FROM toksed
       |), sp AS (
       |  SELECT string_split(pr, ' ')[1] AS w1, string_split(pr, ' ')[2] AS w2 FROM prs
       |), pairs AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM sp GROUP BY w1, w2
       |), tot AS (SELECT CAST(sum(c12) AS BIGINT) AS tp FROM pairs
       |), lm AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS cl FROM pairs GROUP BY w1
       |), rm AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS cr FROM pairs GROUP BY w2
       |)
       |SELECT p.w1, p.w2, p.c12, l.cl, r.cr,
       |       CAST(round(ln(CAST(p.c12 * t.tp AS DOUBLE) / CAST(l.cl * r.cr AS DOUBLE))
       |            * 1000000) AS BIGINT) AS pmi_micros
       |FROM pairs p JOIN lm l USING (w1) JOIN rm r USING (w2) CROSS JOIN tot t
       |WHERE p.c12 >= $PmiMinCount
       |ORDER BY pmi_micros DESC, w1, w2 LIMIT 100""".stripMargin

  /** Per-class precision / recall / F1 of the [[langId]] classifier
    * against the labeled `lang` column, plus the unweighted MACRO-F1
    * row — the readout [[langConfusion]]'s matrix feeds but doesn't
    * compute, and the number a curation pipeline actually thresholds
    * before trusting a language filter ("is de-recall ≥ 0.8?"). All
    * ratios are exact integral micros; F1 collapses to the single
    * division 2·tp·10⁶ div (pred_n + label_n) — P and R's harmonic
    * mean has an exact rational form, so no composed floored divisions
    * drift cross-engine. Zero-denominator classes ship NULL (the
    * group_auc convention), and macro-F1 averages F1 over the classes
    * that HAVE one.
    *
    * Scale shape: [[langId]] is a per-row codegen'd argmax; everything
    * after lives on the ≤|langs|² confusion cells (two ≤|langs|-row
    * margins + the diagonal, full-outer-joined). */
  def classifierPrf(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val cells = ck.ckpt(langId(spark, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))) // ≤|langs|² rows; feeds both margins + diagonal
    val labelM = cells.groupBy(col("labeled_lang").as("cls"))
      .agg(sum("n").as("label_n"))
    val predM = cells.groupBy(col("predicted_lang").as("cls"))
      .agg(sum("n").as("pred_n"))
    val diag = cells.filter(col("labeled_lang") === col("predicted_lang"))
      .select(col("labeled_lang").as("cls"), col("n").as("tp"))
    val perClass = ck.ckpt(labelM.join(predM, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("label_n"), lit(0L)).as("label_n"),
        coalesce(col("pred_n"), lit(0L)).as("pred_n"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("cls"), col("label_n"), col("pred_n"), col("tp"),
        when(col("pred_n") > 0,
          expr("CAST((CAST(tp AS DECIMAL(38,0)) * 1000000) div pred_n AS BIGINT)"))
          .as("precision_micros"),
        when(col("label_n") > 0,
          expr("CAST((CAST(tp AS DECIMAL(38,0)) * 1000000) div label_n AS BIGINT)"))
          .as("recall_micros"),
        when(col("pred_n") + col("label_n") > 0,
          expr("CAST((CAST(2 * tp AS DECIMAL(38,0)) * 1000000) div (pred_n + label_n) AS BIGINT)"))
          .as("f1_micros"))) // ≤|langs| rows; feeds the macro row and the output
    val macroRow = perClass.filter(col("f1_micros").isNotNull)
      .agg(count(lit(1)).as("nc"), sum("f1_micros").as("sf"))
      .select(lit("MACRO").as("cls"), lit(0L).as("label_n"), lit(0L).as("pred_n"),
        lit(0L).as("tp"), lit(null).cast("long").as("precision_micros"),
        lit(null).cast("long").as("recall_micros"),
        expr("CAST(sf div nc AS BIGINT)").as("f1_micros"))
    perClass.unionByName(macroRow).orderBy("cls")
  }

  private lazy val classifierPrfSql: String =
    s"""WITH pred AS ($langCaseSql),
       |cells AS (
       |  SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY labeled_lang, predicted_lang
       |), lm AS (SELECT labeled_lang AS cls, CAST(sum(n) AS BIGINT) AS label_n FROM cells GROUP BY 1),
       |pm AS (SELECT predicted_lang AS cls, CAST(sum(n) AS BIGINT) AS pred_n FROM cells GROUP BY 1),
       |dg AS (SELECT labeled_lang AS cls, n AS tp FROM cells WHERE labeled_lang = predicted_lang),
       |per_class AS (
       |  SELECT coalesce(l.cls, p.cls) AS cls,
       |         coalesce(l.label_n, 0) AS label_n,
       |         coalesce(p.pred_n, 0) AS pred_n,
       |         coalesce(d.tp, 0) AS tp
       |  FROM lm l FULL OUTER JOIN pm p ON l.cls = p.cls
       |  LEFT JOIN dg d ON d.cls = coalesce(l.cls, p.cls)
       |), scored AS (
       |  SELECT cls, label_n, pred_n, tp,
       |         CASE WHEN pred_n > 0 THEN CAST((CAST(tp AS HUGEINT) * 1000000) // pred_n AS BIGINT) END AS precision_micros,
       |         CASE WHEN label_n > 0 THEN CAST((CAST(tp AS HUGEINT) * 1000000) // label_n AS BIGINT) END AS recall_micros,
       |         CASE WHEN pred_n + label_n > 0
       |              THEN CAST((CAST(2 * tp AS HUGEINT) * 1000000) // (pred_n + label_n) AS BIGINT) END AS f1_micros
       |  FROM per_class
       |), macro AS (
       |  SELECT 'MACRO' AS cls, CAST(0 AS BIGINT) AS label_n, CAST(0 AS BIGINT) AS pred_n,
       |         CAST(0 AS BIGINT) AS tp, CAST(NULL AS BIGINT) AS precision_micros,
       |         CAST(NULL AS BIGINT) AS recall_micros,
       |         CAST(sum(f1_micros) // count(*) AS BIGINT) AS f1_micros
       |  FROM scored WHERE f1_micros IS NOT NULL
       |)
       |SELECT * FROM scored UNION ALL SELECT * FROM macro ORDER BY cls""".stripMargin

  private val langCaseSql: String = {
    // identical argmax fold in SQL: nested CASE chain, same > comparisons
    val scoreSql = Profiles.map { case (lang, words) =>
      lang -> s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"
    }
    val (l0, s0) = scoreSql.head
    var accS     = s0
    var accL     = s"'$l0'"
    for ((lang, sc) <- scoreSql.tail) {
      val newS = s"CASE WHEN $sc > ($accS) THEN $sc ELSE $accS END"
      val newL = s"CASE WHEN $sc > ($accS) THEN '$lang' ELSE $accL END"
      accS = newS
      accL = newL
    }
    s"SELECT doc_id, lang AS labeled_lang, CAST($accL AS VARCHAR) AS predicted_lang, CAST($accS AS BIGINT) AS score FROM documents ORDER BY doc_id"
  }

  /** Confusion matrix + per-class recall for the [[langId]] n-gram
    * heuristic against the fixture's labeled `lang` column — the
    * evaluation table a pipeline reads before trusting a language
    * filter (the classifier-eval sibling of roc_auc, for the
    * multi-class case). One row per (labeled, predicted) pair with the
    * count and the labeled class's exact-micros recall share
    * (count div class total); diagonal rows are the per-class recall.
    *
    * Scale shape: langId is a per-row codegen'd argmax (zero shuffle);
    * the matrix collapse is a ≤|langs|² partial-aggregated groupBy and
    * the class totals re-attach via a broadcast-able equi-join on the
    * ≤|langs|-row margin. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val cells = ck.ckpt(langId(spark, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))) // ≤|langs|² cells; feeds the margin and the output
    val margin = cells.groupBy("labeled_lang").agg(sum("n").as("class_n"))
    cells.join(broadcast(margin), "labeled_lang")
      .select(col("labeled_lang"), col("predicted_lang"), col("n"), col("class_n"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div class_n AS BIGINT)")
          .as("share_micros"))
      .orderBy("labeled_lang", "predicted_lang")
  }

  private val langConfusionSql: String =
    s"""WITH pred AS ($langCaseSql),
       |cells AS (
       |  SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY labeled_lang, predicted_lang
       |), margin AS (
       |  SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS class_n
       |  FROM cells GROUP BY labeled_lang
       |)
       |SELECT c.labeled_lang, c.predicted_lang, c.n, m.class_n,
       |       CAST((CAST(c.n AS HUGEINT) * 1000000) // m.class_n AS BIGINT) AS share_micros
       |FROM cells c JOIN margin m USING (labeled_lang)
       |ORDER BY labeled_lang, predicted_lang""".stripMargin

  /** Cohen's kappa between the fixture's labeled `lang` and the
    * [[langId]] heuristic — the chance-corrected single-number
    * agreement score behind [[langConfusion]]'s matrix (and THE
    * inter-annotator-agreement statistic when two labeling passes —
    * human raters, two classifier versions, model-vs-heuristic — must
    * be compared before trusting either as training labels):
    * κ = (p₀−p_e)/(1−p_e) = (A·N − S)/(N² − S) with A = agreement
    * count, S = Σ_class row_margin·col_margin — an EXACT integer
    * rational. κ can be negative (below-chance agreement), so the
    * micros division extracts sign and divides non-negative operands
    * (truncation toward zero on both engines; bare `div`/`//` disagree
    * on negatives). N·A and N² ride in DECIMAL(38,0)/HUGEINT and the
    * wide intermediates ship as digit strings (autocorr convention).
    *
    * Scale shape: one per-row codegen'd argmax pass collapses to
    * ≤|langs|² (labeled, predicted, n) cells with map-side partials;
    * everything after runs on that constant-size frame. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val cells = ck.ckpt(langId(spark, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))) // ≤|langs|² cells; feeds margins, totals, agree
    val rowm = cells.groupBy(col("labeled_lang").as("cls")).agg(sum("n").as("ra"))
    val colm = cells.groupBy(col("predicted_lang").as("cls")).agg(sum("n").as("cp"))
    val chance = rowm.join(colm, Seq("cls"))
      .agg(coalesce(sum(col("ra").cast("decimal(38,0)") * col("cp")), lit(0L).cast("decimal(38,0)"))
        .as("s"))
    val totals = cells.agg(
      sum("n").as("n_total"),
      coalesce(sum(when(col("labeled_lang") === col("predicted_lang"), col("n"))), lit(0L))
        .as("n_agree"))
    totals.crossJoin(chance)
      .select(col("n_total"), col("n_agree"),
        (col("n_agree").cast("decimal(38,0)") * col("n_total") - col("s"))
          .cast("decimal(38,0)").as("num"),
        (col("n_total").cast("decimal(38,0)") * col("n_total") - col("s"))
          .cast("decimal(38,0)").as("den"))
      .select(col("n_total"), col("n_agree"),
        col("num").cast("string").as("num"),
        col("den").cast("string").as("den"),
        expr("""CASE WHEN den = 0 THEN NULL
               |ELSE CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
               |  ((abs(num) * 1000000) div den) AS BIGINT) END""".stripMargin)
          .as("kappa_micros"))
  }

  private val cohensKappaSql: String =
    s"""WITH pred AS ($langCaseSql),
       |cells AS (
       |  SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY labeled_lang, predicted_lang
       |), rowm AS (SELECT labeled_lang AS cls, sum(n) AS ra FROM cells GROUP BY labeled_lang
       |), colm AS (SELECT predicted_lang AS cls, sum(n) AS cp FROM cells GROUP BY predicted_lang
       |), chance AS (
       |  SELECT coalesce(sum(CAST(ra AS HUGEINT) * cp), 0) AS s
       |  FROM rowm JOIN colm USING (cls)
       |), totals AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
       |         CAST(coalesce(sum(CASE WHEN labeled_lang = predicted_lang THEN n END), 0)
       |              AS BIGINT) AS n_agree
       |  FROM cells
       |)
       |SELECT n_total, n_agree,
       |       CAST(CAST(n_agree AS HUGEINT) * n_total - s AS VARCHAR) AS num,
       |       CAST(CAST(n_total AS HUGEINT) * n_total - s AS VARCHAR) AS den,
       |       CASE WHEN CAST(n_total AS HUGEINT) * n_total - s = 0 THEN NULL
       |            ELSE CAST((CASE WHEN CAST(n_agree AS HUGEINT) * n_total - s < 0
       |                            THEN -1 ELSE 1 END) *
       |              ((abs(CAST(n_agree AS HUGEINT) * n_total - s) * 1000000)
       |               // (CAST(n_total AS HUGEINT) * n_total - s)) AS BIGINT) END
       |         AS kappa_micros
       |FROM totals CROSS JOIN chance""".stripMargin

  /** Token-diversity metrics per document: token count, vocabulary size,
    * type-token ratio, and Gini–Simpson diversity. The frequency core
    * (n_tokens, n_distinct, Σ c·(c−1)) is ONE codegen'd pass per row
    * (`TokenStats`) — zero shuffle; the explode + groupBy(doc, token)
    * formulation would ship every token of 100 TB of text through a
    * shuffle to compute three longs per document. Simpson is the
    * hash-gateable diversity choice: its core is exact integers and the
    * two ratios are single divisions of exact longs, where Shannon
    * entropy's per-engine log2 differs in the last ULP between JVM and
    * C libm (quantization measured unstable — see ShingleMath). */
  def tokenDiversity(spark: SparkSession, dir: String): DataFrame = {
    val n = col("s").getField("n_tokens")
    val d = col("s").getField("n_distinct")
    val cc = col("s").getField("sum_cc")
    Tables.documents(spark, dir)
      .select("doc_id", "text")
      .orderBy("doc_id") // sort raw; the range-sampling pass must not re-run the kernel
      .select(col("doc_id"),
        TextFunctions.tokenStats(coalesce(col("text"), lit(""))).as("s"))
      .select(
        col("doc_id"),
        n.as("n_tokens"), d.as("n_distinct"), cc.as("sum_cc"),
        when(n > 0L, round(d.cast("double") / n.cast("double"), 6))
          .otherwise(0.0).as("ttr"),
        when(n > 1L, round(lit(1.0) - cc.cast("double") / (n * (n - 1L)).cast("double"), 6))
          .otherwise(0.0).as("simpson"))
  }

  /** Corpus-level bigram collocation lift: how much more often two
    * words co-occur adjacently than their unigram frequencies predict —
    * lift = P(w1w2) / (P(w1)·P(w2)) — the collocation/multi-word-
    * expression staple of corpus diagnostics. Emitted as EXACT integral
    * micros via decimal(38) integral division (PMI's log form measured
    * cross-engine quantization flips; the rational core is hash-safe).
    *
    * Scale: bigrams come from the codegen'd [[graft.functions.TextFunctions.wordBigramsCol]]
    * kernel (one pass per row, empties dropped pre-pairing, no
    * interpreted lambdas), and everything after the map side is
    * (gram, count) cells — vocabulary-sized, not corpus-sized. The
    * unigram side joins by plain equi-join (vocabulary is unbounded at
    * 100 TB, so no forced broadcast; AQE picks one when it fits). */
  /** Corpus-side reductions shared by [[bigramLift]]/[[lmBigramScore]]
    * — split out so the column-pruning spec can pin the scan shape of
    * the exact pipeline the served (checkpoint-truncated) queries
    * materialize. */
  private[graft] def unigramCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(filter(toks(col("text")), t => t =!= "")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))

  private[graft] def bigramCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextFunctions.wordBigramsCol(col("text"))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cb"))

  def bigramLift(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val docs = Tables.documents(spark, dir).select("text")
    // vocabulary-sized; feeds the total + both join sides. Checkpoint,
    // not cache: materialized once, freed with this scope, never pinned
    // in the CacheManager across the rest of a bench run
    val uni = ck.ckpt(unigramCounts(docs))
    // distinct-bigram-sized; feeds the total + the lift rows
    val big = ck.ckpt(bigramCounts(docs))
    val nuT = uni.agg(sum("c").as("nu"))
    val nbT = big.agg(sum("cb").as("nb")) // total BEFORE the support filter
    big.filter(col("cb") >= 5)
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .withColumn("w2", substring_index(col("b"), " ", -1))
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nuT)).crossJoin(broadcast(nbT))
      .select(
        col("b").as("bigram"), col("cb").as("n_pair"),
        col("c1").as("n_w1"), col("c2").as("n_w2"),
        expr("""CAST((CAST(cb AS DECIMAL(38,0)) * nu * nu * 1000000)
               |     div (CAST(nb AS DECIMAL(38,0)) * c1 * c2) AS BIGINT)""".stripMargin)
          .as("lift_micros"))
      .orderBy(desc("lift_micros"), col("bigram"))
      .limit(100)
  }

  private val bigramLiftSql: String =
    """WITH toksed AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents
      |), uni AS (
      |  SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM toksed) GROUP BY t
      |), big AS (
      |  SELECT b, count(*) AS cb FROM (
      |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
      |    FROM toksed WHERE len(w) >= 2) GROUP BY b
      |), tot AS (
      |  SELECT (SELECT sum(c) FROM uni) AS nu, (SELECT sum(cb) FROM big) AS nb
      |)
      |SELECT b AS bigram, CAST(cb AS BIGINT) AS n_pair,
      |       CAST(u1.c AS BIGINT) AS n_w1, CAST(u2.c AS BIGINT) AS n_w2,
      |       CAST((CAST(cb AS HUGEINT) * nu * nu * 1000000)
      |            // (CAST(nb AS HUGEINT) * u1.c * u2.c) AS BIGINT) AS lift_micros
      |FROM big CROSS JOIN tot
      |JOIN uni u1 ON u1.t = string_split(b, ' ')[1]
      |JOIN uni u2 ON u2.t = string_split(b, ' ')[2]
      |WHERE cb >= 5
      |ORDER BY lift_micros DESC, bigram LIMIT 100""".stripMargin

  /** Bigram language-model predictability score per document — the
    * CCNet-style "train a cheap LM on the corpus, keep the predictable
    * documents" quality filter. For every adjacent token pair the model
    * probability is add-one-smoothed P(w2|w1) = (c(w1w2)+1)/(c(w1)+V);
    * a document's score is the mean of those probabilities (low mean ≈
    * high perplexity ≈ gibberish/boilerplate candidates for dropping).
    *
    * Determinism: the classic −Σlog₂P form is NOT hash-gateable (JVM vs
    * C libm log₂ differs in the last ULP; measured unstable — see
    * `tokenDiversity`/`bigramLift` notes), so each probability is
    * emitted as EXACT integral micros via decimal(38) integral division
    * and the document aggregate stays in exact longs end to end — the
    * same rational-core convention as `bigram_lift`.
    *
    * Scale shape: unigram/bigram model tables are vocabulary-sized
    * (map-side partial agg off the codegen'd one-pass
    * [[graft.functions.TextFunctions.wordBigramsCol]] kernel); per-doc
    * occurrences collapse to (doc, bigram, k) BEFORE the model joins,
    * so the enrichment shuffles carry distinct-per-doc grams, not every
    * token of 100 TB; V rides along as a broadcast 1-row aggregate. The
    * final per-doc aggregate is a plain partial-agg sum of longs. */
  /** Memoized per (session, dir): the bigram-LM score table feeds
    * SEVEN registered queries (roc_auc, pr_auc, group_auc,
    * calibration_ece, isotonic_calibrate, conformal_filter,
    * perplexity_filter — and mcnemar transitively), each of which was
    * re-running the three corpus passes (unigram, bigram, per-doc
    * bigram) from scratch. At production scale a scored corpus IS a
    * persisted artifact consumers read, not a recomputation — the
    * quantizer-artifact argument applied to a doc-count-sized table,
    * held as a checkpoint in the block manager (executor storage that
    * distributes on a cluster; MEMORY_AND_DISK, spill-safe). */
  def lmBigramScore(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, ("lm_score", dir))(ck => ck.ckpt(computeLmBigramScore(spark, dir)))

  private def computeLmBigramScore(
      spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val docs = Tables.documents(spark, dir)
    // vocabulary-sized; feeds V and the w1 join
    val uni = ck.ckpt(unigramCounts(docs))
    val vT = uni.agg(count(lit(1)).as("v"))
    val big = bigramCounts(docs)
    val docb = docs
      .select(col("doc_id"), explode(TextFunctions.wordBigramsCol(col("text"))).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("k"))
    val scored = docb
      .join(big, "b")
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .crossJoin(broadcast(vT))
      .select(col("doc_id"), col("k"),
        expr("""CAST((CAST(cb AS DECIMAL(38,0)) + 1) * 1000000
               |     div (CAST(c1 AS DECIMAL(38,0)) + v) AS BIGINT)""".stripMargin)
          .as("tm"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("tm")).as("sum_micros"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_micros"), lit(0L)).as("sum_micros"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0L,
          expr("sum_micros div n_bigrams")).otherwise(lit(0L)).as("avg_micros"))
      .orderBy("doc_id")
  }

  /** Zipf rank-frequency profile of the corpus vocabulary — the
    * diagnostic behind "is this corpus natural text or template spam?"
    * (natural language follows freq ∝ 1/rank; machine-generated or
    * boilerplate-heavy corpora visibly don't): terms ranked by
    * (count desc, term) and bucketed by power-of-two rank octave, one
    * row per octave with term count, frequency mass, and the exact
    * Σ count·rank composite (constant per octave under perfect Zipf).
    *
    * Exactness: the octave is the BIT LENGTH of the rank
    * (length(bin(rank)) − 1) — floor(log2(x)) via libm is not
    * hash-gateable (log(x)/log(2) misrounds at exact powers of two;
    * the token_diversity lesson again); the binary-string length is
    * integer-exact on both engines.
    *
    * Scale shape: cells-before-windows — the global rank runs over
    * (term, count) VOCABULARY-sized cells (the inverted_index/
    * vocab_coverage posture), never over tokens; buckets then partial-
    * aggregate ~30 octave rows. */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    val uni = unigramCounts(Tables.documents(spark, dir))
    uni
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("t"))).cast("long"))
      .withColumn("bucket", (length(bin(col("rank"))) - 1).cast("long"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_terms"),
        sum("c").as("sum_cnt"),
        min("c").as("min_cnt"),
        max("c").as("max_cnt"),
        expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * rank) AS BIGINT)").as("rank_weighted"))
      .orderBy("bucket")
  }

  private val zipfSql: String =
    """WITH toksed AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents
      |), uni AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(w) AS t FROM toksed) GROUP BY t
      |), ranked AS (
      |  SELECT t, c, CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT) AS rank
      |  FROM uni
      |), b AS (
      |  SELECT c, rank, CAST(length(bin(rank)) - 1 AS BIGINT) AS bucket FROM ranked
      |)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_terms,
      |       CAST(sum(c) AS BIGINT) AS sum_cnt,
      |       CAST(min(c) AS BIGINT) AS min_cnt,
      |       CAST(max(c) AS BIGINT) AS max_cnt,
      |       CAST(sum(CAST(c AS HUGEINT) * rank) AS BIGINT) AS rank_weighted
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Heaps'-law vocabulary growth curve — the tokenizer-sizing
    * diagnostic beside [[zipfProfile]]'s rank-frequency view: how fast
    * does the vocabulary grow as the corpus grows? One row per doc-id
    * octave (bit length of doc_id+1 — zipf_profile's exact integer
    * octave): cumulative token count and cumulative DISTINCT token
    * count up to each octave boundary, both exact.
    *
    * Scale shape: no per-prefix rescan — each token reduces to its
    * FIRST-OCCURRENCE doc (one min aggregate over the exploded stream,
    * vocabulary-sized result) and each octave's vocab is a cumulative
    * sum over ≤64 bit-length cells; token totals come from the same
    * per-doc collapse. Nothing is quadratic in prefixes. */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(filter(split(col("text"), " "), x => x =!= "")).as("t"))
    // octave of a doc id: bit length of doc_id + 1 (octave k holds ids < 2^k)
    val octave = (c: Column) => length(bin(c + 1)).cast("long")
    val firstSeen = toks.groupBy("t").agg(min("doc_id").as("d0"))
      .groupBy(octave(col("d0")).as("octave")).agg(count(lit(1)).as("new_vocab"))
    val tokCnt = toks.groupBy(octave(col("doc_id")).as("octave"))
      .agg(count(lit(1)).as("toks"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("octave")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    tokCnt.join(firstSeen, Seq("octave"), "full_outer")
      .select(col("octave"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("new_vocab"), lit(0L)).as("new_vocab"))
      .withColumn("cum_tokens", sum("toks").over(w))
      .withColumn("cum_vocab", sum("new_vocab").over(w))
      .orderBy("octave")
  }

  private val heapsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      |  FROM documents
      |), fs AS (
      |  SELECT length(bin(d0 + 1)) AS octave, CAST(count(*) AS BIGINT) AS new_vocab
      |  FROM (SELECT t, min(doc_id) AS d0 FROM toks GROUP BY t) GROUP BY octave
      |), tc AS (
      |  SELECT length(bin(doc_id + 1)) AS octave, CAST(count(*) AS BIGINT) AS toks
      |  FROM toks GROUP BY octave
      |), j AS (
      |  SELECT coalesce(tc.octave, fs.octave) AS octave,
      |         coalesce(tc.toks, 0) AS toks, coalesce(fs.new_vocab, 0) AS new_vocab
      |  FROM tc FULL OUTER JOIN fs ON tc.octave = fs.octave
      |)
      |SELECT CAST(octave AS BIGINT) AS octave, toks, new_vocab,
      |       CAST(sum(toks) OVER (ORDER BY octave) AS BIGINT) AS cum_tokens,
      |       CAST(sum(new_vocab) OVER (ORDER BY octave) AS BIGINT) AS cum_vocab
      |FROM j ORDER BY octave""".stripMargin

  /** TextRank keyword extraction (Mihalcea–Tarau 2004): PageRank over
    * the word co-occurrence graph — nodes are corpus terms, an
    * undirected edge connects each ADJACENT token pair — and the top-20
    * terms by rank are the corpus keywords. The graph centrality form
    * of "important term", complementing tf-idf's frequency form.
    *
    * Scale shape: the corpus collapses to DISTINCT bigram pairs
    * (vocabulary-bounded, never corpus-sized) before any iteration;
    * [[Graph.pageRankOn]] then runs wholly on that dictionary graph —
    * the corpus is scanned exactly once, every iterative join is
    * vocabulary-sized. Node keys stay the word STRINGS (the iteration
    * only ever joins on the key, never does arithmetic with it), so no
    * string-indexing window is needed. Determinism is pageRankOn's
    * contract (exact-nanos contribution sums, 9dp re-round per round);
    * the final cut is a TakeOrdered (rank desc, term). */
  def textrankKeywords(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(explode(TextFunctions.wordBigramsCol(col("text"))).as("b"))
      .distinct()
      .select(substring_index(col("b"), " ", 1).as("src"),
        substring_index(col("b"), " ", -1).as("dst"))
    // undirected co-occurrence: feed both directions; pageRankOn's
    // simple-graph normalization drops self-loops and re-dedups
    val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRankOn(edges)
      .orderBy(desc("rank"), col("node"))
      .limit(20)
      .select(col("node").as("term"), col("out_deg"), col("rank"))
  }

  private val textrankSql: String =
    s"""WITH toksed AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents
       |), bg AS (
       |  SELECT DISTINCT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
       |  FROM toksed WHERE len(w) >= 2
       |), p0 AS (
       |  SELECT string_split(b, ' ')[1] AS src, string_split(b, ' ')[2] AS dst FROM bg
       |), edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM p0 UNION ALL SELECT dst, src FROM p0)
       |  WHERE src <> dst
       |),
       |${Graph.pageRankIterCtes}
       |SELECT f.node AS term, CAST(coalesce(deg.d, 0) AS BIGINT) AS out_deg, f.r AS rank
       |FROM ${Graph.pageRankFinalCte} f LEFT JOIN deg ON f.node = deg.src
       |ORDER BY rank DESC, term LIMIT 20""".stripMargin

  private[ops] val lmBigramSql: String =
    """WITH toksed AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents
      |), uni AS (
      |  SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM toksed) GROUP BY t
      |), vt AS (SELECT count(*) AS v FROM uni
      |), big AS (
      |  SELECT b, count(*) AS cb FROM (
      |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
      |    FROM toksed WHERE len(w) >= 2) GROUP BY b
      |), docb AS (
      |  SELECT doc_id, b, count(*) AS k FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
      |    FROM toksed WHERE len(w) >= 2) GROUP BY doc_id, b
      |), terms AS (
      |  SELECT d.doc_id, d.k,
      |         CAST(((CAST(big.cb AS HUGEINT) + 1) * 1000000)
      |              // (CAST(u.c AS HUGEINT) + vt.v) AS BIGINT) AS tm
      |  FROM docb d JOIN big USING (b)
      |  JOIN uni u ON u.t = string_split(d.b, ' ')[1]
      |  CROSS JOIN vt
      |), agg AS (
      |  SELECT doc_id, sum(k) AS n_bigrams, sum(k * tm) AS sum_micros FROM terms GROUP BY doc_id
      |)
      |SELECT doc.doc_id,
      |       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       CAST(coalesce(a.sum_micros, 0) AS BIGINT) AS sum_micros,
      |       CAST(CASE WHEN coalesce(a.n_bigrams, 0) > 0
      |                 THEN a.sum_micros // a.n_bigrams ELSE 0 END AS BIGINT) AS avg_micros
      |FROM documents doc LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc.doc_id""".stripMargin

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007 — THE
    * web-scale n-gram LM, built precisely because Kneser-Ney smoothing
    * doesn't distribute cheaply while count ratios do): the model is
    * the raw trigram/bigram/unigram count tables from the TRAINING half
    * of the corpus (doc_id even), and the SCORING half (doc_id odd) is
    * held out, so unseen trigrams genuinely back off —
    * S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂), else 0.4·c(w₂w₃)/c(w₂), else
    * 0.4²·c(w₃)/N, else 0 (OOV). Scoring one's own training set would
    * never exercise a backoff branch; held-out scoring is also the
    * methodologically right perplexity-filter shape.
    *
    * Determinism: each branch is ONE exact integral division to micros
    * (c·10⁶ div c', c·400000 div c', c·160000 div N — DECIMAL(38)/
    * HUGEINT dividends, non-negative so floor = truncate), the per-doc
    * aggregate sums exact longs. The log form is cross-engine unstable
    * (lm_bigram_score note); the rational core is not.
    *
    * Scale shape: count tables are vocabulary-sized (map-side partials
    * off the codegen'd `WordTrigrams`/`WordBigrams` kernels); per-doc
    * occurrences collapse to (doc, trigram, k) BEFORE the model joins,
    * so the enrichment equi-joins carry distinct-per-doc grams; N rides
    * along as a broadcast 1-row aggregate. */
  def stupidBackoff(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val docs  = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val held  = docs.filter(col("doc_id") % 2 === 1)
    val uni = ck.ckpt(unigramCounts(train)) // feeds N + the w3 join
    val nT  = uni.agg(sum("c").as("n"))
    val big = ck.ckpt(bigramCounts(train)) // feeds prefix + suffix joins
    val tri = train
      .select(explode(TextFunctions.wordTrigramsCol(col("text"))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cg"))
    val docg = held
      .select(col("doc_id"), explode(TextFunctions.wordTrigramsCol(col("text"))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("k"))
      .withColumn("pre", substring_index(col("g"), " ", 2))
      .withColumn("suf", expr("substr(g, instr(g, ' ') + 1)"))
      .withColumn("w2", substring_index(col("suf"), " ", 1))
      .withColumn("w3", substring_index(col("g"), " ", -1))
    val scored = docg
      .join(tri, Seq("g"), "left")
      .join(big.select(col("b").as("pre"), col("cb").as("c_pre")), Seq("pre"), "left")
      .join(big.select(col("b").as("suf"), col("cb").as("c_suf")), Seq("suf"), "left")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), Seq("w2"), "left")
      .join(uni.select(col("t").as("w3"), col("c").as("c3")), Seq("w3"), "left")
      .crossJoin(broadcast(nT))
      .select(col("doc_id"), col("k"), expr(
        """CASE
          |  WHEN cg IS NOT NULL AND c_pre IS NOT NULL THEN
          |    CAST((CAST(cg AS DECIMAL(38,0)) * 1000000) div c_pre AS BIGINT)
          |  WHEN c_suf IS NOT NULL AND c2 IS NOT NULL THEN
          |    CAST((CAST(c_suf AS DECIMAL(38,0)) * 400000) div c2 AS BIGINT)
          |  WHEN c3 IS NOT NULL THEN
          |    CAST((CAST(c3 AS DECIMAL(38,0)) * 160000) div n AS BIGINT)
          |  ELSE CAST(0 AS BIGINT)
          |END""".stripMargin).as("sm"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_trigrams"), sum(col("k") * col("sm")).as("sum_micros"))
    held.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("sum_micros"), lit(0L)).as("sum_micros"),
        when(coalesce(col("n_trigrams"), lit(0L)) > 0L,
          expr("sum_micros div n_trigrams")).otherwise(lit(0L)).as("avg_micros"))
      .orderBy("doc_id")
  }

  private val stupidBackoffSql: String =
    """WITH train AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents WHERE doc_id % 2 = 0
      |), held AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents WHERE doc_id % 2 = 1
      |), uni AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(w) AS t FROM train) GROUP BY t
      |), nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni
      |), big AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS cb FROM (
      |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
      |    FROM train WHERE len(w) >= 2) GROUP BY b
      |), tri AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS cg FROM (
      |    SELECT unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |    FROM train WHERE len(w) >= 3) GROUP BY g
      |), docg AS (
      |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS k FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |    FROM held WHERE len(w) >= 3) GROUP BY doc_id, g
      |), scored AS (
      |  SELECT d.doc_id, d.k,
      |    CASE
      |      WHEN tri.cg IS NOT NULL AND p.cb IS NOT NULL THEN
      |        CAST((CAST(tri.cg AS HUGEINT) * 1000000) // p.cb AS BIGINT)
      |      WHEN s.cb IS NOT NULL AND u2.c IS NOT NULL THEN
      |        CAST((CAST(s.cb AS HUGEINT) * 400000) // u2.c AS BIGINT)
      |      WHEN u3.c IS NOT NULL THEN
      |        CAST((CAST(u3.c AS HUGEINT) * 160000) // nt.n AS BIGINT)
      |      ELSE CAST(0 AS BIGINT)
      |    END AS sm
      |  FROM docg d
      |  LEFT JOIN tri ON tri.g = d.g
      |  LEFT JOIN big p ON p.b = string_split(d.g, ' ')[1] || ' ' || string_split(d.g, ' ')[2]
      |  LEFT JOIN big s ON s.b = string_split(d.g, ' ')[2] || ' ' || string_split(d.g, ' ')[3]
      |  LEFT JOIN uni u2 ON u2.t = string_split(d.g, ' ')[2]
      |  LEFT JOIN uni u3 ON u3.t = string_split(d.g, ' ')[3]
      |  CROSS JOIN nt
      |), agg AS (
      |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams,
      |         CAST(sum(k * sm) AS BIGINT) AS sum_micros
      |  FROM scored GROUP BY doc_id
      |)
      |SELECT h.doc_id,
      |       CAST(coalesce(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
      |       CAST(coalesce(a.sum_micros, 0) AS BIGINT) AS sum_micros,
      |       CASE WHEN coalesce(a.n_trigrams, 0) > 0
      |            THEN coalesce(a.sum_micros, 0) // a.n_trigrams
      |            ELSE CAST(0 AS BIGINT) END AS avg_micros
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) h
      |LEFT JOIN agg a ON a.doc_id = h.doc_id
      |ORDER BY h.doc_id""".stripMargin

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form) — [[stupidBackoff]]'s docstring
    * notes KN was historically skipped at web scale, but the BIGRAM
    * interpolated form distributes exactly as cheaply as count ratios:
    * every model quantity is one aggregate over the bigram-TYPE table
    * (continuation count N₁₊(·w) = distinct left contexts, fertility
    * N₁₊(w·) = distinct right contexts, context total c(w₁·) = Σ c),
    * so the "hard" part of KN is two extra vocabulary-sized frames.
    * Train/held split and output shape mirror [[stupidBackoff]]:
    *   P(w₂|w₁) = max(c₁₂−D,0)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/B
    * with D = 3/4 (exact rational) and B = total bigram types. An
    * unseen context w₁ falls back to the continuation distribution
    * N₁₊(·w₂)/B alone; a fully-OOV w₂ scores 0 — both documented
    * conventions mirrored by the oracle.
    *
    * Determinism: D = 3/4 keeps every term one exact integral division
    * to micros (DECIMAL(38)/HUGEINT dividends, all non-negative so
    * floor = truncate); per-doc sums are exact longs — the
    * stupid_backoff convention, no doubles anywhere.
    *
    * Scale shape: the model tables are vocabulary-sized with map-side
    * partial aggregation; held-doc occurrences collapse to (doc,
    * bigram, k) BEFORE the model equi-joins; B rides along as a
    * broadcast 1-row aggregate. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val docs  = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val held  = docs.filter(col("doc_id") % 2 === 1)
    val big = ck.ckpt(bigramCounts(train)) // feeds split + B + the g join
    val bs = big.select(col("b"), col("cb"),
      substring_index(col("b"), " ", 1).as("w1"),
      substring_index(col("b"), " ", -1).as("w2"))
    val ctx = bs.groupBy("w1")
      .agg(sum("cb").as("ctx"), count(lit(1)).as("nfwd"))
    val nbw = bs.groupBy("w2").agg(count(lit(1)).as("nbw"))
    val bT  = big.agg(count(lit(1)).as("bt"))
    val docg = held
      .select(col("doc_id"), explode(TextFunctions.wordBigramsCol(col("text"))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("k"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
    val scored = docg
      .join(big.select(col("b").as("g"), col("cb")), Seq("g"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(nbw, Seq("w2"), "left")
      .crossJoin(broadcast(bT))
      .select(col("doc_id"), col("k"), expr(
        """CASE
          |  WHEN ctx IS NOT NULL THEN
          |    (CASE WHEN cb IS NOT NULL
          |          THEN CAST((CAST(cb AS DECIMAL(38,0)) * 4000000 - 3000000)
          |                    div (4 * ctx) AS BIGINT)
          |          ELSE CAST(0 AS BIGINT) END)
          |    + CAST((CAST(nfwd AS DECIMAL(38,0)) * coalesce(nbw, 0) * 3000000)
          |           div (CAST(ctx AS DECIMAL(38,0)) * 4 * bt) AS BIGINT)
          |  WHEN nbw IS NOT NULL THEN
          |    CAST((CAST(nbw AS DECIMAL(38,0)) * 1000000) div bt AS BIGINT)
          |  ELSE CAST(0 AS BIGINT)
          |END""".stripMargin).as("sm"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"), sum(col("k") * col("sm")).as("sum_micros"))
    held.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_micros"), lit(0L)).as("sum_micros"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0L,
          expr("sum_micros div n_bigrams")).otherwise(lit(0L)).as("avg_micros"))
      .orderBy("doc_id")
  }

  private val kneserNeySql: String =
    """WITH train AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents WHERE doc_id % 2 = 0
      |), held AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents WHERE doc_id % 2 = 1
      |), big AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS cb FROM (
      |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
      |    FROM train WHERE len(w) >= 2) GROUP BY b
      |), bs AS (
      |  SELECT b, cb, string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2 FROM big
      |), ctx AS (
      |  SELECT w1, CAST(sum(cb) AS BIGINT) AS ctx, CAST(count(*) AS BIGINT) AS nfwd
      |  FROM bs GROUP BY w1
      |), nb AS (
      |  SELECT w2, CAST(count(*) AS BIGINT) AS nbw FROM bs GROUP BY w2
      |), bt AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM big
      |), docg AS (
      |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS k FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
      |    FROM held WHERE len(w) >= 2) GROUP BY doc_id, g
      |), scored AS (
      |  SELECT d.doc_id, d.k,
      |    CASE
      |      WHEN c.ctx IS NOT NULL THEN
      |        (CASE WHEN bg.cb IS NOT NULL
      |              THEN CAST((CAST(bg.cb AS HUGEINT) * 4000000 - 3000000)
      |                        // (4 * c.ctx) AS BIGINT)
      |              ELSE CAST(0 AS BIGINT) END)
      |        + CAST((CAST(c.nfwd AS HUGEINT) * coalesce(n.nbw, 0) * 3000000)
      |               // (CAST(c.ctx AS HUGEINT) * 4 * bt.bt) AS BIGINT)
      |      WHEN n.nbw IS NOT NULL THEN
      |        CAST((CAST(n.nbw AS HUGEINT) * 1000000) // bt.bt AS BIGINT)
      |      ELSE CAST(0 AS BIGINT)
      |    END AS sm
      |  FROM docg d
      |  LEFT JOIN big bg ON bg.b = d.g
      |  LEFT JOIN ctx c ON c.w1 = string_split(d.g, ' ')[1]
      |  LEFT JOIN nb n ON n.w2 = string_split(d.g, ' ')[2]
      |  CROSS JOIN bt
      |), agg AS (
      |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |         CAST(sum(k * sm) AS BIGINT) AS sum_micros
      |  FROM scored GROUP BY doc_id
      |)
      |SELECT h.doc_id,
      |       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       CAST(coalesce(a.sum_micros, 0) AS BIGINT) AS sum_micros,
      |       CASE WHEN coalesce(a.n_bigrams, 0) > 0
      |            THEN coalesce(a.sum_micros, 0) // a.n_bigrams
      |            ELSE CAST(0 AS BIGINT) END AS avg_micros
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) h
      |LEFT JOIN agg a ON a.doc_id = h.doc_id
      |ORDER BY h.doc_id""".stripMargin

  /** BPE tokenizer-training primitive: corpus-wide adjacent-symbol-pair
    * frequencies plus three unrolled merge rounds (the Sennrich
    * byte-pair-encoding training loop; same unrolled-iteration
    * convention as `kmeans_embed`/`pagerank`). Output: the top-10 pairs
    * of each round (rank 1 = the merge that round applies).
    *
    * Words are lowercase `[a-z]+` runs; each word is represented as a
    * bracket-wrapped symbol string ("hello" → "<h><e><l><l><o>") so a
    * merge is a plain literal replace("<x><y>" → "<xy>") — boundary-safe
    * (a pair can never match inside or across other symbols) and
    * greedy-left-to-right over consecutive occurrences, i.e. canonical
    * BPE merge semantics, identical in Spark and DuckDB.
    *
    * Scale: the ONLY corpus-sized pass is word extraction + counting
    * (codegen'd regexp + map-side partial agg). Everything after runs on
    * the vocabulary-sized (word, freq) table: pair counts come from the
    * codegen'd [[graft.functions.TextFunctions.symbolPairsCol]] kernel
    * weighted by word frequency (exactly the corpus-wide counts), and
    * each merge is a broadcast of a single 1-row top pair. At 100 TB the
    * vocabulary is bounded (≪ corpus), so merge rounds cost nothing
    * extra; more rounds = more chained vocabulary-local stages, never
    * another corpus scan. */
  /** One BPE merge round: broadcast the 1-row top pair of `pc` into a
    * literal replace over the symbol strings. Preserves every other
    * column of `sym` (e.g. the original word for [[bpeEncode]]). */
  private[graft] def applyMerge(sym: DataFrame, pc: DataFrame): DataFrame = {
    val top = pc.orderBy(desc("n"), col("pair")).limit(1).select(
      concat(lit("<"), replace(col("pair"), lit(" "), lit("><")), lit(">")).as("pat"),
      concat(lit("<"), replace(col("pair"), lit(" "), lit("")), lit(">")).as("rep"))
    sym.crossJoin(broadcast(top))
      .withColumn("s", replace(col("s"), col("pat"), col("rep")))
      .drop("pat", "rep")
  }

  /** Frequency-weighted adjacent-symbol-pair counts of a (s, f[, ...])
    * symbol table — vocabulary-sized input, distinct-pair-sized output. */
  private def pairCounts(sym: DataFrame): DataFrame = Checkpoints.scope { ck =>
    // distinct-pair-sized; feeds both the top-10 and the merge
    ck.ckpt(sym.select(explode(TextFunctions.symbolPairsCol(col("s"))).as("pair"), col("f"))
      .groupBy("pair").agg(sum("f").as("n")))
  }

  def bpePairs(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val words = Tables.documents(spark, dir)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    // vocabulary-sized; root of the merge chain
    val sym0 = ck.ckpt(words
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("s"), col("f")))

    val p0   = pairCounts(sym0)
    val sym1 = applyMerge(sym0, p0)
    val p1   = pairCounts(sym1)
    val sym2 = applyMerge(sym1, p1)
    val p2   = pairCounts(sym2)

    def top10(pc: DataFrame, round: Int): DataFrame =
      pc.orderBy(desc("n"), col("pair")).limit(10)
        .select(lit(round).as("round"), col("pair"), col("n").as("n_pair"))

    top10(p0, 0).unionAll(top10(p1, 1)).unionAll(top10(p2, 2))
      .orderBy(col("round"), desc("n_pair"), col("pair"))
  }

  private val bpePairsSql: String = {
    // one merge round over CTE sym<i>: pair counts, top-1 merge, rewrite
    def pairsCte(i: Int): String =
      s"""p$i AS (
         |  SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
         |    SELECT unnest(list_transform(range(1, len(a)), k -> a[k] || ' ' || a[k+1])) AS pair, f
         |    FROM (SELECT regexp_extract_all(s, '<([a-z]+)>', 1) AS a, f FROM sym$i))
         |  GROUP BY pair
         |)""".stripMargin
    def mergeCte(i: Int): String =
      s"""m${i + 1} AS (SELECT pair FROM p$i ORDER BY n DESC, pair LIMIT 1),
         |sym${i + 1} AS (
         |  SELECT replace(s, '<' || replace(m${i + 1}.pair, ' ', '><') || '>',
         |                    '<' || replace(m${i + 1}.pair, ' ', '') || '>') AS s, f
         |  FROM sym$i CROSS JOIN m${i + 1}
         |)""".stripMargin
    s"""WITH words AS (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
       |  GROUP BY w
       |), sym0 AS (
       |  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS s, f FROM words
       |), ${pairsCte(0)},
       |${mergeCte(0)},
       |${pairsCte(1)},
       |${mergeCte(1)},
       |${pairsCte(2)}
       |SELECT * FROM (
       |  (SELECT 0 AS round, pair, n AS n_pair FROM p0 ORDER BY n DESC, pair LIMIT 10)
       |  UNION ALL
       |  (SELECT 1 AS round, pair, n AS n_pair FROM p1 ORDER BY n DESC, pair LIMIT 10)
       |  UNION ALL
       |  (SELECT 2 AS round, pair, n AS n_pair FROM p2 ORDER BY n DESC, pair LIMIT 10)
       |) ORDER BY round, n_pair DESC, pair""".stripMargin
  }

  /** BPE ENCODE — the serving half of the tokenizer story ([[bpePairs]]
    * is training): re-derive the first three merges from the corpus,
    * apply them to the vocabulary, and report per-doc pre/post token
    * counts — the "how many tokens is my corpus" question every
    * training-data pipeline answers before packing sequences.
    *
    * Scale: the corpus-sized passes are word extraction into a
    * (doc, word, count) table and the final join back — everything BPE
    * (the merge chain, the per-word token count) runs on the
    * vocabulary-sized symbol table, so more merge rounds never re-scan
    * the corpus. The (doc, word) join equi-joins on the word; post-merge
    * token count = number of '<' symbol openers, an exact length
    * difference identical in both engines. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    // feeds the vocabulary derivation AND the final join
    val docWords = ck.ckpt(Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c")))

    // the trained tokenizer (word → token count) is an [[Artifacts]]
    // memo; training rides the cold run, every warm encode is corpus
    // scan + vocab join only
    val vocab = Artifacts.memo(spark, ("bpe_vocab", dir)) { ck =>
      val words = docWords.groupBy("w").agg(sum("c").as("f"))
      val sym0 = ck.ckpt(words
        .select(col("w"), regexp_replace(col("w"), "(.)", "<$1>").as("s"), col("f")))
      val sym1 = applyMerge(sym0, pairCounts(sym0))
      val sym2 = applyMerge(sym1, pairCounts(sym1))
      val sym3 = applyMerge(sym2, pairCounts(sym2))
      ck.ckpt(sym3.select(col("w"),
        (length(col("s")) - length(replace(col("s"), lit("<"), lit("")))).cast("long").as("toks")))
    }

    // no broadcast hint: AQE broadcasts the vocabulary when it is small
    // enough and falls back to a shuffle join when a 100 TB corpus's
    // vocabulary isn't — a forced hint would pin the OOM-risk choice
    val agg = docWords.join(vocab, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"), sum(col("c") * col("toks")).as("n_tokens"))
    Tables.documents(spark, dir).select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy("doc_id")
  }

  private val bpeEncodeSql: String = {
    def pairsCte(i: Int): String =
      s"""p$i AS (
         |  SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
         |    SELECT unnest(list_transform(range(1, len(a)), k -> a[k] || ' ' || a[k+1])) AS pair, f
         |    FROM (SELECT regexp_extract_all(s, '<([a-z]+)>', 1) AS a, f FROM sym$i))
         |  GROUP BY pair
         |)""".stripMargin
    def mergeCte(i: Int): String =
      s"""m${i + 1} AS (SELECT pair FROM p$i ORDER BY n DESC, pair LIMIT 1),
         |sym${i + 1} AS (
         |  SELECT w, replace(s, '<' || replace(m${i + 1}.pair, ' ', '><') || '>',
         |                       '<' || replace(m${i + 1}.pair, ' ', '') || '>') AS s, f
         |  FROM sym$i CROSS JOIN m${i + 1}
         |)""".stripMargin
    s"""WITH docw AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
       |  GROUP BY doc_id, w
       |), words AS (
       |  SELECT w, CAST(sum(c) AS BIGINT) AS f FROM docw GROUP BY w
       |), sym0 AS (
       |  SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS s, f FROM words
       |), ${pairsCte(0)},
       |${mergeCte(0)},
       |${pairsCte(1)},
       |${mergeCte(1)},
       |${pairsCte(2)},
       |${mergeCte(2)},
       |vocab AS (
       |  SELECT w, CAST(length(s) - length(replace(s, '<', '')) AS BIGINT) AS toks FROM sym3
       |), agg AS (
       |  SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_words,
       |         CAST(sum(d.c * v.toks) AS BIGINT) AS n_tokens
       |  FROM docw d JOIN vocab v USING (w) GROUP BY d.doc_id
       |)
       |SELECT doc.doc_id,
       |       CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
       |FROM documents doc LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc.doc_id""".stripMargin
  }

  /** Merge budget of [[bpeTrain]] — a real tokenizer trains 30k-100k
    * merges; 20 is enough to prove the loop shape (every round beyond
    * the third exercises the same code path) while keeping the chained
    * 20-CTE DuckDB oracle tractable. */
  val BpeTrainMerges = 20

  /** The general N-merge BPE training loop ([[bpePairs]] is the 3-round
    * unrolled demo). Per round: pair counts over the VOCABULARY-sized
    * symbol table (one explode + partial agg — never a corpus re-scan),
    * the 1-row top pair collected to the driver (bounded metadata, the
    * kmeans-centroid convention — 2 strings + 1 long per round), and a
    * literal replace applied to the symbol table, which is then lazily
    * `localCheckpoint`ed so round r's plan is O(1) — LogicalRDD +
    * one Project — regardless of r (the graph-family discipline;
    * pinned in PlanSpec) while the materialization rides the next
    * round's job. Early-exits when no pair remains. Returns the
    * merge list (round, pair, n) and the final symbol table. */
  private[graft] def bpeTrainLoop(
      sym0: DataFrame, rounds: Int): (Seq[(Int, String, Long)], DataFrame) = Checkpoints.scope { ck =>
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var sym = sym0
    // the round superseded when `sym` was last rewritten; freeable only
    // once the successor MATERIALIZES (the lazy checkpoint rides the
    // next round's job), so the free sits after the collect below
    var prevSym: DataFrame = null
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // NOT pairCounts(): that helper localCheckpoints (it feeds two
      // consumers in bpePairs); here the counts feed exactly one top-1
      // collect, so materializing them would add a per-round job
      val top = sym
        .select(explode(TextFunctions.symbolPairsCol(col("s"))).as("pair"), col("f"))
        .groupBy("pair").agg(sum("f").as("n"))
        .orderBy(desc("n"), col("pair")).limit(1).collect()
      // that job materialized sym's checkpoint — the superseded round's
      // vocabulary-sized blocks are dead now (the caller's sym0 is not
      // this scope's, so freeing it is a no-op)
      if (prevSym ne null) ck.free(prevSym)
      prevSym = null
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        out += ((r, pair, top(0).getLong(1)))
        val pat = "<" + pair.replace(" ", "><") + ">"
        val rep = "<" + pair.replace(" ", "") + ">"
        // lazy checkpoint: plan truncates to LogicalRDD immediately, but
        // materialization rides the NEXT round's pair-count job instead
        // of paying a dedicated job per round (20 jobs, not 40)
        prevSym = sym
        sym = ck.lazyCkpt(sym.withColumn("s", replace(col("s"), lit(pat), lit(rep))))
        r += 1
      }
    }
    // the final prevSym stays: the returned sym's lazy checkpoint still
    // reads it, so the scope keeps both
    (out.toSeq, sym)
  }

  /** BPE TRAIN — the merges.txt artifact a tokenizer ships: the first
    * [[BpeTrainMerges]] merge rules (round, pair, frequency at merge
    * time), trained with the iterative loop rather than [[bpePairs]]'s
    * unrolled three rounds. The corpus is scanned exactly once (word
    * extraction + counting); every round after that is vocabulary-local,
    * so at 100 TB the merge budget prices in vocabulary passes, not
    * corpus passes. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    // vocabulary-sized root of the merge chain
    val sym0 = ck.ckpt(words
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("s"), col("f")))
    val (merges, _) = bpeTrainLoop(sym0, BpeTrainMerges)
    merges.toDF("round", "pair", "n_pair").orderBy("round")
  }

  /** [[bpeTrain]]'s oracle: the identical loop as 20 chained CTE rounds
    * (pair counts → top-1 merge → literal rewrite), emitting each
    * round's merged pair. Same tie-break (n DESC, pair ASC) both sides.
    * The chained CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and
    * each sym_i is referenced twice (its pair counts and the next
    * rewrite), so 20 un-materialized rounds expand 2^20 subtrees. */
  private val bpeTrainSql: String = {
    def pairsCte(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
         |    SELECT unnest(list_transform(range(1, len(a)), k -> a[k] || ' ' || a[k+1])) AS pair, f
         |    FROM (SELECT regexp_extract_all(s, '<([a-z]+)>', 1) AS a, f FROM sym$i))
         |  GROUP BY pair
         |)""".stripMargin
    def mergeCte(i: Int): String =
      s"""m${i + 1} AS MATERIALIZED (SELECT pair, n FROM p$i ORDER BY n DESC, pair LIMIT 1),
         |sym${i + 1} AS MATERIALIZED (
         |  SELECT replace(s, '<' || replace(m.pair, ' ', '><') || '>',
         |                    '<' || replace(m.pair, ' ', '') || '>') AS s, f
         |  FROM sym$i CROSS JOIN m${i + 1} m
         |)""".stripMargin
    val ctes = (0 until BpeTrainMerges)
      .map(i => pairsCte(i) + ",\n" + mergeCte(i)).mkString(",\n")
    val sel = (1 to BpeTrainMerges)
      .map(i => s"SELECT $i AS round, pair, n AS n_pair FROM m$i")
      .mkString("\nUNION ALL\n")
    s"""WITH words AS (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
       |  GROUP BY w
       |), sym0 AS (
       |  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS s, f FROM words
       |),
       |$ctes
       |$sel
       |ORDER BY round""".stripMargin
  }

  /** Vocabulary coverage curve — the tokenizer-design question "how much
    * of the corpus do the top-k tokens cover": top-30 tokens by count
    * with exact cumulative corpus share in integral micros.
    *
    * Scale: token counting is the usual explode + partial-agg reduction
    * to a vocabulary-sized table; the global order is a
    * `TakeOrderedAndProject` top-30 cut (never a full vocabulary sort),
    * and the running sum then runs over a CONSTANT 30-row set — bounded
    * work at any corpus size. The corpus-total rides along as a 1-row
    * broadcast (the tfidf convention); shares divide in decimal(38)
    * integral micros (the bigram_lift convention — a 100 TB corpus
    * overflows cum·10⁶ in long). */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val tokens = Tables.documents(spark, dir)
      .select(explode(filter(toks(col("text")), t => t =!= "")).as("token"))
    val counts = ck.ckpt(tokens.groupBy("token").agg(count(lit(1)).as("n")))
    val tot = counts.agg(sum("n").as("tot"))
    val top = counts.orderBy(desc("n"), col("token")).limit(30)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n"), col("token"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(desc("n"), col("token"))).cast("long"))
      .withColumn("cum_n", sum("n").over(w))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("token"), col("n"), col("cum_n"),
        expr("CAST(CAST(cum_n AS DECIMAL(38,0)) * 1000000 div tot AS BIGINT)")
          .as("cum_share_micros"))
      .orderBy("rank")
  }

  private val vocabCoverageSql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY token
      |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
      |top AS (
      |  SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
      |  FROM counts ORDER BY n DESC, token LIMIT 30
      |)
      |SELECT rank, token, n,
      |       CAST(sum(n) OVER (ORDER BY rank) AS BIGINT) AS cum_n,
      |       CAST(CAST(sum(n) OVER (ORDER BY rank) AS HUGEINT) * 1000000
      |            // (SELECT t FROM tot) AS BIGINT) AS cum_share_micros
      |FROM top ORDER BY rank""".stripMargin

  final case class TermDoc(term: String, doc_id: Long)
  final case class PostBuf(var items: List[Long])

  /** Keeps the k smallest doc_ids per term — the bounded posting-list
    * Aggregator: partial buffers never exceed k entries, so a stopword
    * appearing in every document of a 100 TB corpus still costs O(k)
    * memory per partition instead of materializing its full posting
    * list (the failure mode of a naive sort_array(collect_list)). */
  class PostingsAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[TermDoc, PostBuf, Seq[Long]] {
    private def insert(items: List[Long], v: Long): List[Long] =
      if (items.sizeIs >= k && v >= items.last) items
      else {
        val (front, back) = items.span(_ < v)
        (front ::: v :: back).take(k)
      }
    override def zero: PostBuf = PostBuf(Nil)
    override def reduce(b: PostBuf, v: TermDoc): PostBuf = {
      b.items = insert(b.items, v.doc_id); b
    }
    override def merge(a: PostBuf, b: PostBuf): PostBuf = {
      a.items = b.items.foldLeft(a.items)(insert); a
    }
    override def finish(b: PostBuf): Seq[Long] = b.items
    override def bufferEncoder: org.apache.spark.sql.Encoder[PostBuf] =
      org.apache.spark.sql.Encoders.product[PostBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  private val PostingsK = 10

  /** Inverted-index construction — the retrieval-side artifact next to
    * [[bm25Search]]'s scoring: per term, document frequency plus the
    * first [[PostingsK]] doc_ids of its posting list, top-100 terms by
    * df. The (term, doc) pairs dedup with map-side partial aggregation;
    * posting lists come from the bounded [[PostingsAgg]] so hot terms
    * (stopwords) never materialize corpus-sized lists anywhere; the
    * final cut is a TakeOrdered top-100, never a vocabulary sort.
    * Postings emit as a comma-joined string (array hashing is
    * engine-ambiguous; strings are not). */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    import spark.implicits._
    val td = ck.ckpt(Tables.documents(spark, dir)
      .select(explode(filter(toks(col("text")), t => t =!= "")).as("term"), col("doc_id"))
      .distinct()) // feeds both the df count and the posting-list aggregate
    val dfCounts = td.groupBy("term").agg(count(lit(1)).as("df"))
    val posts = td.as[TermDoc]
      .groupByKey(_.term)
      .agg(new PostingsAgg(PostingsK).toColumn.name("p"))
      .toDF("term", "p")
    dfCounts.join(posts, "term")
      .select(col("term"), col("df"),
        size(col("p")).cast("long").as("n_postings"),
        array_join(transform(col("p"), x => x.cast("string")), ",").as("postings"))
      .orderBy(desc("df"), col("term"))
      .limit(100)
  }

  private val invertedIndexSql: String =
    s"""WITH td AS (
       |  SELECT DISTINCT t.term, doc_id FROM documents,
       |  LATERAL (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term) t
       |), agg AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df,
       |         list_sort(list(doc_id))[1:$PostingsK] AS p
       |  FROM td GROUP BY term
       |)
       |SELECT term, df, CAST(len(p) AS BIGINT) AS n_postings,
       |       array_to_string(p, ',') AS postings
       |FROM agg ORDER BY df DESC, term LIMIT 100""".stripMargin

  /** Multinomial naive-Bayes language classifier (Manning, Raghavan &
    * Schütze IR ch. 13 — the supervised upgrade of [[langId]]'s fixed
    * stopword heuristic, TRAINED on the corpus itself): even doc_ids
    * train, odd doc_ids test. Laplace-smoothed class-conditional
    * log-likelihoods decompose as
    * log p(d|c) = Σ_t c_t·ln(cnt_tc + 1) − (Σ_t c_t)·ln(tok_c + V),
    * so out-of-vocabulary tokens contribute ln(1) = 0 and the score
    * needs only an equi-join of test token cells against the model
    * plus one broadcast of the 5 per-class constants. Every ln is
    * quantized to micros BEFORE summation, making the score an exact
    * integer — the argmax (ties → lexicographically first language)
    * is hash-stable across engines. Output: per test doc, actual vs
    * predicted language and the winning score.
    *
    * Scale shape: model build is one token-cell aggregate over train
    * docs; scoring is test-cells ⋈ model on token (both reduced
    * forms) then a ≤5-row-per-doc argmax window — no all-pairs, no
    * global window, no driver state. */
  def naiveBayes(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val docs = Tables.documents(spark, dir)
    val tokens = docs
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    // reused by the model and both per-class totals
    val trainCells = ck.ckpt(tokens.filter(expr("doc_id % 2 = 0"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt")))
    val classTotals = trainCells.groupBy("lang").agg(sum("cnt").as("tok_c"))
    val vocabAndDocs = trainCells.agg(countDistinct("tok").as("v"))
      .crossJoin(docs.filter(expr("doc_id % 2 = 0"))
        .agg(count(lit(1)).as("n_train")))
    val classConst = classTotals.crossJoin(broadcast(vocabAndDocs))
      .join(docs.filter(expr("doc_id % 2 = 0")).groupBy("lang")
        .agg(count(lit(1)).as("n_docs_c")), Seq("lang"))
      .select(col("lang").as("c_lang"),
        expr("CAST(round(ln(CAST(tok_c + v AS DOUBLE)) * 1000000) AS BIGINT)").as("denom_micros"),
        expr("CAST(round(ln(CAST(n_docs_c AS DOUBLE) / n_train) * 1000000) AS BIGINT)").as("prior_micros"))
    val model = trainCells.select(col("lang").as("m_lang"), col("tok"),
      expr("CAST(round(ln(CAST(cnt + 1 AS DOUBLE)) * 1000000) AS BIGINT)").as("lnl_micros"))
    val testCells = tokens.filter(expr("doc_id % 2 = 1"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val matchPart = testCells.join(model, Seq("tok"))
      .groupBy("doc_id", "m_lang")
      .agg(sum(col("c") * col("lnl_micros")).as("match_micros"))
    val testDocs = docs.filter(expr("doc_id % 2 = 1"))
      .join(testCells.groupBy("doc_id").agg(sum("c").as("doc_total")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("doc_total"))
      .select(col("doc_id"), col("lang"), col("doc_total"))
    val scored = testDocs.crossJoin(broadcast(classConst))
      .join(matchPart,
        testDocs("doc_id") === matchPart("doc_id") && col("c_lang") === col("m_lang"), "left")
      .select(testDocs("doc_id"), col("lang"), col("c_lang"),
        (col("prior_micros") + coalesce(col("match_micros"), lit(0L))
          - col("doc_total") * col("denom_micros")).as("score_micros"))
    val wDoc = Window.partitionBy(scored("doc_id"))
      .orderBy(col("score_micros").desc, col("c_lang").asc)
    scored.withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("actual"), col("c_lang").as("predicted"),
        col("score_micros"), (col("lang") === col("c_lang")).as("correct"))
      .orderBy("doc_id")
  }

  private val naiveBayesSql: String =
    """WITH tokens AS (
      |  SELECT doc_id, lang,
      |         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      |  FROM documents
      |), train_cells AS (
      |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tokens WHERE doc_id % 2 = 0 GROUP BY lang, tok
      |), class_totals AS (
      |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS tok_c FROM train_cells GROUP BY lang
      |), vd AS (
      |  SELECT (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM train_cells) AS v,
      |         (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 2 = 0) AS n_train
      |), class_const AS (
      |  SELECT ct.lang AS c_lang,
      |         CAST(round(ln(CAST(ct.tok_c + vd.v AS DOUBLE)) * 1000000) AS BIGINT) AS denom_micros,
      |         CAST(round(ln(CAST(nd.n_docs_c AS DOUBLE) / vd.n_train) * 1000000) AS BIGINT) AS prior_micros
      |  FROM class_totals ct CROSS JOIN vd
      |  JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_c
      |        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang) nd ON nd.lang = ct.lang
      |), model AS (
      |  SELECT lang AS m_lang, tok,
      |         CAST(round(ln(CAST(cnt + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS lnl_micros
      |  FROM train_cells
      |), test_cells AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM tokens WHERE doc_id % 2 = 1 GROUP BY doc_id, tok
      |), match_part AS (
      |  SELECT tc.doc_id, m.m_lang, CAST(sum(tc.c * m.lnl_micros) AS BIGINT) AS match_micros
      |  FROM test_cells tc JOIN model m ON m.tok = tc.tok
      |  GROUP BY tc.doc_id, m.m_lang
      |), test_docs AS (
      |  SELECT d.doc_id, d.lang,
      |         CAST(coalesce((SELECT sum(c) FROM test_cells t WHERE t.doc_id = d.doc_id), 0) AS BIGINT) AS doc_total
      |  FROM documents d WHERE d.doc_id % 2 = 1
      |), scored AS (
      |  SELECT td.doc_id, td.lang, cc.c_lang,
      |         cc.prior_micros + coalesce(mp.match_micros, 0)
      |           - td.doc_total * cc.denom_micros AS score_micros
      |  FROM test_docs td CROSS JOIN class_const cc
      |  LEFT JOIN match_part mp ON mp.doc_id = td.doc_id AND mp.m_lang = cc.c_lang
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY score_micros DESC, c_lang) AS rn
      |  FROM scored
      |)
      |SELECT doc_id, lang AS actual, c_lang AS predicted,
      |       CAST(score_micros AS BIGINT) AS score_micros,
      |       (lang = c_lang) AS correct
      |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("naive_bayes", naiveBayesSql)(naiveBayes),
    QueryDef.sql("bpe_pairs", bpePairsSql)(bpePairs),
    QueryDef.sql("bpe_encode", bpeEncodeSql)(bpeEncode),
    QueryDef.sql("bpe_train", bpeTrainSql)(bpeTrain),
    QueryDef.sql("vocab_coverage", vocabCoverageSql)(vocabCoverage),
    QueryDef.sql("zipf_profile", zipfSql)(zipfProfile),
    QueryDef.sql("inverted_index", invertedIndexSql)(invertedIndex),
    QueryDef.sql("bigram_lift", bigramLiftSql)(bigramLift),
    QueryDef.sql("lm_bigram_score", lmBigramSql)(lmBigramScore),
    QueryDef.sql("token_diversity",
      """WITH toks AS (
        |  SELECT doc_id, t.tok FROM documents,
        |  LATERAL (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok) t
        |), per AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        |         CAST(sum(c * (c - 1)) AS BIGINT) AS sum_cc
        |  FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
        |       coalesce(p.n_distinct, 0) AS n_distinct,
        |       coalesce(p.sum_cc, 0) AS sum_cc,
        |       CASE WHEN coalesce(p.n_tokens, 0) > 0
        |            THEN round(CAST(p.n_distinct AS DOUBLE) / CAST(p.n_tokens AS DOUBLE), 6)
        |            ELSE 0.0 END AS ttr,
        |       CASE WHEN coalesce(p.n_tokens, 0) > 1
        |            THEN round(1.0 - CAST(p.sum_cc AS DOUBLE)
        |                             / CAST(p.n_tokens * (p.n_tokens - 1) AS DOUBLE), 6)
        |            ELSE 0.0 END AS simpson
        |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin)(tokenDiversity),
    QueryDef.sql("token_count",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)(tokenCount),
    QueryDef.sql("text_quality",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) = 0 THEN 0.0
        |       ELSE CAST(length(text) AS DOUBLE)
        |            / len(list_filter(string_split(text, ' '), t -> t <> '')) END AS chars_per_token,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |            / length(text) END AS alpha_ratio,
        |  CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(string_split(text, ' '),
        |            t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |            / len(list_filter(string_split(text, ' '), t -> t <> '')) END AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)(textQuality),
    QueryDef.sql("lang_id", langCaseSql)(langId),
    QueryDef.sql("lang_confusion", langConfusionSql)(langConfusion),
    QueryDef.sql("classifier_prf", classifierPrfSql)(classifierPrf),
    QueryDef.sql("cohens_kappa", cohensKappaSql)(cohensKappa),
    QueryDef.sql("lsa_topic", lsaSql)(lsaTopic),
    QueryDef.sql("tfidf",
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rn, term, tf, score FROM (
        |  SELECT t.doc_id, t.term, t.tf,
        |         round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS score,
        |         row_number() OVER (PARTITION BY t.doc_id
        |           ORDER BY round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) DESC, t.term) AS rn
        |  FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n
        |) x WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)(tfidf),
    QueryDef.sql("topk_frequent",
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY token
        |)
        |SELECT token, n, TRUE AS sketch_exact FROM c
        |ORDER BY n DESC, token LIMIT 10""".stripMargin)(topkFrequent),
    QueryDef.sql("bm25_search", bm25Sql)(bm25Search),
    QueryDef.sql("proximity_search", proximitySql)(proximitySearch),
    QueryDef.sql("token_entropy", tokenEntropySql)(tokenEntropy),
    QueryDef.sql("prf_expand", prfExpandSql)(prfExpand),
    QueryDef.sql("cooc_pmi", coocPmiSql)(coocPmi),
    QueryDef.sql("fingerprint",
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(generate_series(1, length(text)),
        |      i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)(fingerprint),
    QueryDef.sql("unigram_score", unigramScoreSql)(unigramScore),
    QueryDef.sql("wordpiece_encode", wordpieceSql)(wordpieceEncode),
    QueryDef.sql("tokenizer_fertility", tokenizerFertilitySql)(tokenizerFertility),
    QueryDef.sql("stupid_backoff", stupidBackoffSql)(stupidBackoff),
    QueryDef.sql("kneser_ney", kneserNeySql)(kneserNey),
    QueryDef.sql("textrank_keywords", textrankSql)(textrankKeywords),
    QueryDef.sql("heaps_law", heapsSql)(heapsLaw),
    QueryDef.sql("feature_hash",
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        |  FROM documents
        |), hashed AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(t)),
        |        i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        |  FROM toks
        |)
        |SELECT doc_id, h % 64 AS bucket,
        |       CAST(sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
        |FROM hashed GROUP BY doc_id, bucket
        |ORDER BY doc_id, bucket""".stripMargin)(featureHash),
  )
}
