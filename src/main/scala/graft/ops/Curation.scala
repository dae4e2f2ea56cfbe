package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the steps between "raw crawl" and
  * "training set" that every large-scale LLM data pipeline runs after
  * the text-analysis / dedup passes: PII redaction, benchmark
  * decontamination, repetition-based quality filters (Gopher-style),
  * chunking for training windows, and deterministic weighted /
  * stratified sampling.
  *
  * Scale posture shared by the module: redaction / chunking /
  * repetition metrics are per-row (or per-row + one partial-agg
  * shuffle of reduced forms) and stream through 100 TB at scan speed;
  * decontamination broadcasts the benchmark n-gram set (benchmark
  * suites are MBs, corpora are TBs) so the corpus is never shuffled;
  * sampling is a pure function of the row key, so assignment is
  * reproducible under any partitioning and re-runs never migrate a
  * row between samples.
  *
  * Determinism contract with the DuckDB oracle: integer arithmetic
  * everywhere except (a) int/int → double divisions (bit-identical
  * across engines per IEEE-754) and (b) the weighted-sample key, where
  * the one libm call (ln) is rounded to 9 dp with a doc_id tie-break —
  * the same ULP-absorption convention as tfidf's score.
  */
object Curation {

  private def toks(c: Column): Column = filter(split(c, " "), t => t =!= "")

  // ---------------------------------------------------------------- PII

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}"
  private val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** The fixtures carry no PII (synthetic token text), so the query
    * first APPENDS a deterministic PII-bearing suffix (email + E.164-ish
    * phone + IPv4, all pure functions of doc_id) and then redacts it —
    * the redaction expressions are the operator under test, and they
    * must fire on every row. Counts are taken pre-redaction; the
    * redacted text must contain no residual match (asserted in
    * CurationSpec). Everything is per-row regex work on codegen'd
    * expressions — scan speed, no shuffle. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val synth = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1-415-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))
    Tables.documents(spark, dir)
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"), synth.as("synth"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("synth"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("synth"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(col("synth"), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("synth"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>").as("redacted"))
  }

  // ----------------------------------------------------------- chunking

  /** Shared chunk generation (window 120 chars, stride 90) — per-row
    * array work, no shuffle. Split out so `docChunks` (which adds a
    * presentation sort) and `sequencePack` (which repartitions — a sort
    * here would be dead work the moment the exchange destroys it) build
    * on the same chunks. */
  private def chunkBase(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), length(col("text")), lit(90))).as(Seq("pos", "off")))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("off").cast("long").as("off"),
        col("text").substr(col("off"), lit(120)).as("chunk"))

  /** Overlapping fixed-window chunking — the "split documents into
    * training windows with overlap" step (window 120 chars, stride 90,
    * so consecutive chunks share 30). Offsets come from `sequence` +
    * `posexplode`; the chunk is a `substr` — per-row array work, no
    * shuffle, and the output carries (doc_id, chunk_id, off) so a
    * downstream pack/shuffle can always reassemble provenance. */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    chunkBase(spark, dir)
      .withColumn("chunk_chars", length(col("chunk")).cast("long"))
      .orderBy("doc_id", "chunk_id")

  /** [[spanCorruption]] start rate (5% of tokens open a span) and the
    * fixed span width (3 tokens) — ≈15% of tokens masked, the T5
    * corruption-rate / mean-span-3 default. */
  private val SpanStartPerMille = 50L
  private val SpanWidth = 3

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4) — the
    * pretraining-objective transform a training-data pipeline runs
    * LAST, after curation picked the docs: ~15% of each document's
    * tokens are masked in multi-token spans, each maximal masked run
    * collapses to one `<extra_id_k>` sentinel in the INPUT, and the
    * TARGET is the sentinel-delimited sequence of the masked spans.
    * Span starts are a pure hash of (doc_id, position) — so the same
    * doc always corrupts the same way (epoch-stable, resumable) and
    * both engines plant identical spans; overlapping starts merge into
    * one longer run, exactly like overlapping T5 spans. The hash is
    * QUADRATIC in the position (u = a_d·(pos+1)² + b_d·(pos+1) mod p,
    * per-doc Knuth-derived a/b): the affine bootstrap_ci form is a
    * Weyl sequence whose consecutive positions step u by a CONSTANT
    * far above the threshold, making adjacent starts — and therefore
    * span merges — structurally impossible (measured: zero merges
    * corpus-wide); the quadratic's step varies per position, restoring
    * them. All terms stay ≤ 10⁶·10¹⁰ in plain BIGINT on both engines. Ships per doc: token/masked/
    * span counts plus the md5 of BOTH reconstructed sequences, so the
    * hash gate certifies the full input/target round-trip; the spec
    * additionally proves input+target reassemble the original text.
    *
    * Scale shape: tokens explode once, the mask/run/sentinel algebra
    * is three DOC-partitioned windows over the doc's own tokens
    * (bounded state = one document, the doc_chunks class — never a
    * global order), and the reassembly is the line_dedup positional
    * groupBy. One shuffle keyed on doc_id carries (pos, token). */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), t => t =!= ""))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"),
        (expr("""(((doc_id % 999983) * 2654435761) % 999983 * (pos + 1) * (pos + 1)
                | + ((doc_id % 999983) * 40503) % 999983 * (pos + 1)) % 999983""".stripMargin)
          < SpanStartPerMille * 1000).as("starts"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val masked = toks.withColumn("m",
      max(when(col("starts"), lit(1)).otherwise(lit(0)))
        .over(w.rowsBetween(-(SpanWidth - 1), 0)) === 1)
    val runs = masked
      .withColumn("run_start", col("m") && !coalesce(lag(col("m"), 1).over(w), lit(false)))
      .withColumn("k",
        sum(when(col("run_start"), 1L).otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
    val pieces = runs.select(col("doc_id"), col("pos"), col("m"), col("run_start"), col("k"), col("tok"),
      when(!col("m"), col("tok"))
        .when(col("run_start"), concat(lit("<extra_id_"), col("k").cast("string"), lit(">")))
        .as("in_piece"),
      when(col("run_start"),
        concat(lit("<extra_id_"), col("k").cast("string"), lit("> "), col("tok")))
        .when(col("m"), col("tok"))
        .as("tgt_piece"))
    pieces.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("run_start"), 1L).otherwise(0L)).as("n_spans"),
        md5(array_join(transform(sort_array(collect_list(
          when(col("in_piece").isNotNull, struct(col("pos"), col("in_piece").as("p"))))),
          x => x.getField("p")), " ")).as("input_md5"),
        md5(array_join(transform(sort_array(collect_list(
          when(col("tgt_piece").isNotNull, struct(col("pos"), col("tgt_piece").as("p"))))),
          x => x.getField("p")), " ")).as("target_md5"))
      .orderBy("doc_id")
  }

  private val spanCorruptionSql: String =
    s"""WITH toksed AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ts[i] AS tok,
       |         (((doc_id % 999983) * 2654435761) % 999983 * i * i
       |          + ((doc_id % 999983) * 40503) % 999983 * i) % 999983
       |           < ${SpanStartPerMille * 1000} AS starts
       |  FROM toksed, unnest(generate_series(1, len(ts))) AS u(i)
       |), masked AS (
       |  SELECT *, max(CASE WHEN starts THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN ${SpanWidth - 1} PRECEDING AND CURRENT ROW) = 1 AS m
       |  FROM toks
       |), runs AS (
       |  SELECT *, m AND NOT coalesce(lag(m, 1) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS run_start
       |  FROM masked
       |), ks AS (
       |  SELECT *, sum(CASE WHEN run_start THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS k
       |  FROM runs
       |), pieces AS (
       |  SELECT doc_id, pos, m, run_start,
       |         CASE WHEN NOT m THEN tok
       |              WHEN run_start THEN '<extra_id_' || CAST(k AS VARCHAR) || '>' END AS in_piece,
       |         CASE WHEN run_start THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok
       |              WHEN m THEN tok END AS tgt_piece
       |  FROM ks
       |)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |       CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       |       md5(coalesce(string_agg(in_piece, ' ' ORDER BY pos), '')) AS input_md5,
       |       md5(coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '')) AS target_md5
       |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CDC gram window / divisor: boundaries where the 16-code-point
    * rolling hash ≡ 0 mod 64 → expected chunk ≈ 64 code points (~5
    * chunks per fixture doc). */
  private val CdcWindow  = 16
  private val CdcDivisor = 64L

  /** Content-defined chunking — the chunk-level-dedup companion to the
    * fixed-window `doc_chunks`: boundaries are a pure function of a
    * 16-code-point rolling-hash window (`ShingleMath.cdcChunks`), so an
    * insertion or deletion re-synchronizes within one window and every
    * chunk past the edit keeps its fingerprint — fixed-size chunking
    * shifts EVERY downstream chunk, which is why incremental corpus
    * dedup (rsync/LBFS-style) keys on content-defined spans. Output is
    * (doc, chunk ordinal, span, fingerprint); the fingerprint is the
    * chunk-level dedup key a delta-ingest pipeline joins on.
    *
    * Scale shape: the entire chunker is ONE codegen'd pass per row at
    * scan speed — no window functions, no join-back, no shuffle before
    * the (doc_id, chunk) rows exist (the lag/lead formulation the
    * oracle uses would shuffle every gram position; the kernel keeps
    * text inside the scan). Boundary-shift invariance is pinned in
    * `CurationSpec`. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions
          .cdcChunksCol(col("text"), CdcWindow, CdcDivisor)).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.c_start").as("c_start"), col("c.c_len").as("c_len"), col("c.fp").as("fp"))
      .orderBy("doc_id", "chunk_idx")

  private val cdcChunksSql: String = {
    val w = CdcWindow
    s"""WITH grams AS (
       |  SELECT doc_id, i AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(CAST(i AS INT), CAST(i AS INT) + ${w - 1}),
       |        j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - ${w - 1})) AS i)
       |  WHERE length(text) >= $w
       |), starts AS (
       |  SELECT doc_id, 0 AS s FROM documents WHERE length(text) > 0
       |  UNION ALL
       |  SELECT doc_id, pos - 1 AS s FROM grams WHERE pos >= 2 AND h % $CdcDivisor = 0
       |), spans AS (
       |  SELECT doc_id, s,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx,
       |    lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
       |  FROM starts
       |)
       |SELECT sp.doc_id, CAST(sp.chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sp.s AS BIGINT) AS c_start,
       |  CAST(coalesce(sp.nxt, length(d.text)) - sp.s AS BIGINT) AS c_len,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(CAST(sp.s + 1 AS INT), CAST(coalesce(sp.nxt, length(d.text)) AS INT)),
       |      j -> CAST(ascii(substr(d.text, CAST(j AS INT), 1)) AS BIGINT))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
       |FROM spans sp JOIN documents d USING (doc_id)
       |ORDER BY sp.doc_id, sp.chunk_idx""".stripMargin
  }

  // ----------------------------------------------------------- packing

  /** Token budget per packed training sequence and the bucket fan-out.
    * Budget 48 ≥ the 27-token ceiling a 120-char chunk can reach, so
    * greedy never meets an unplaceable chunk and the ≤-budget invariant
    * is strict; 32 buckets = one per local core (at cluster scale:
    * a multiple of executor parallelism). */
  private val PackBudget  = 48L
  private val PackBuckets = 32

  /** Sequence packing — the last stage of the chunk → pack training-data
    * chain: fill fixed-token-budget training sequences with chunks,
    * greedily, never splitting a chunk, emitting full provenance
    * (bucket, seq, pos → doc_id, chunk_id) so the downstream writer can
    * join text back by key and a sample in any sequence traces to its
    * source span.
    *
    * Packing rule (the determinism contract, mirrored exactly by the
    * oracle's recursive CTE): chunks are hash-bucketed by doc_id
    * (pure-function bucket — reproducible under any partitioning),
    * ordered (doc_id, chunk_id) within bucket, and folded left to
    * right: a chunk joins the open sequence unless its tokens would
    * push the fill past the budget, in which case it opens the next
    * sequence. Greedy-FIRST-fit-on-a-fixed-order, not best-fit: best
    * fit needs the whole bucket resident; this rule needs three longs.
    *
    * Scale shape: the only shuffle carries (bucket, doc_id, chunk_id,
    * n_tokens) — four longs per chunk, never chunk text; the fold is a
    * streaming O(1)-state `mapPartitions` pass over each bucket's
    * sorted run (state: open-seq fill + counters, reset on bucket
    * change), which is the genuine per-partition-imperative case the
    * RDD escape hatch exists for — no window function, no global sort,
    * no collect. Sequence ids are (bucket, seq-within-bucket), a pure
    * function of the data, so re-runs and re-partitionings reproduce
    * the identical packing at any scale. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunkTok = chunkBase(spark, dir)
      .select(
        pmod(col("doc_id"), lit(PackBuckets)).cast("int").as("bucket"),
        col("doc_id"), col("chunk_id"),
        size(toks(col("chunk"))).cast("long").as("n_tokens"))
    chunkTok
      .repartition(PackBuckets, col("bucket"))
      .sortWithinPartitions("bucket", "doc_id", "chunk_id")
      .as[(Int, Long, Long, Long)]
      .mapPartitions { it =>
        // a partition holds one or more whole buckets (hash co-location),
        // each a contiguous sorted run; all state resets on bucket change
        var bucket = Int.MinValue
        var seq, pos, fill = 0L
        it.map { case (b, docId, chunkId, nTok) =>
          if (b != bucket) { bucket = b; seq = 0L; pos = 0L; fill = nTok }
          else if (fill + nTok > PackBudget) { seq += 1L; pos = 0L; fill = nTok }
          else { pos += 1L; fill += nTok }
          (b.toLong, seq, pos, docId, chunkId, nTok)
        }
      }
      .toDF("bucket", "seq", "pos", "doc_id", "chunk_id", "n_tokens")
      .orderBy("doc_id", "chunk_id")
  }

  private val sequencePackSql: String =
    s"""WITH RECURSIVE offs AS (
       |  SELECT doc_id, text, unnest(range(1, length(text) + 1, 90)) AS off
       |  FROM documents
       |), ch AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1 AS BIGINT) AS chunk_id,
       |    substr(text, CAST(off AS INT), 120) AS chunk
       |  FROM offs
       |), tok AS (
       |  SELECT doc_id % $PackBuckets AS bucket, doc_id, chunk_id,
       |    CAST(len(list_filter(string_split(chunk, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
       |    row_number() OVER (PARTITION BY doc_id % $PackBuckets
       |                       ORDER BY doc_id, chunk_id) AS rn
       |  FROM ch
       |), packed AS (
       |  SELECT bucket, rn, doc_id, chunk_id, n_tokens,
       |         CAST(0 AS BIGINT) AS seq, CAST(0 AS BIGINT) AS pos, n_tokens AS fill
       |  FROM tok WHERE rn = 1
       |  UNION ALL
       |  SELECT t.bucket, t.rn, t.doc_id, t.chunk_id, t.n_tokens,
       |         CASE WHEN p.fill + t.n_tokens > $PackBudget THEN p.seq + 1 ELSE p.seq END,
       |         CASE WHEN p.fill + t.n_tokens > $PackBudget THEN CAST(0 AS BIGINT) ELSE p.pos + 1 END,
       |         CASE WHEN p.fill + t.n_tokens > $PackBudget THEN t.n_tokens ELSE p.fill + t.n_tokens END
       |  FROM tok t JOIN packed p ON t.bucket = p.bucket AND t.rn = p.rn + 1
       |)
       |SELECT CAST(bucket AS BIGINT) AS bucket, seq, pos, doc_id, chunk_id, n_tokens
       |FROM packed ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------- decontamination

  /** Benchmark decontamination: flag corpus documents sharing any
    * word-5-gram with a "benchmark" set (stand-in: doc_id % 50 == 0 —
    * in production, the eval suites). The corpus side computes its
    * distinct 5-grams map-side (one array expression per row); the
    * benchmark n-gram set is DISTINCT'd and BROADCAST — benchmark
    * suites are tiny next to the corpus, so the corpus never shuffles:
    * the semi-join is a map-side hash probe. At 100 TB you'd hash the
    * n-grams to int64 fingerprints before the join to shrink the
    * broadcast; here they stay strings so the oracle can mirror them. */
  def ngramDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // distinct 5-gram shingles via the codegen'd WordNGrams kernel — the
    // interpreted transform(sequence(slice+array_join)) composition it
    // replaces cost ~µs per gram and dominated this query's runtime
    // (it was evaluated over the corpus on both join sides). Raw
    // single-space tokenization (empties kept), mirrored by the oracle;
    // identical on the space-normalized fixtures.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShinglesDistinct(col("text"), 5).as("ngs"))
    val exploded = docs.select(col("doc_id"), explode(col("ngs")).as("ng"))
    val bench    = exploded.filter(col("doc_id") % 50 === 0).select("ng").distinct()
    val matched = exploded
      .join(broadcast(bench), Seq("ng"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"))
    docs
      .select(col("doc_id"), size(col("ngs")).cast("long").as("n_ngrams"))
      .join(matched, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_ngrams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (col("doc_id") % 50 === 0).as("is_benchmark"),
        (coalesce(col("n_matched"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** [[substringDecontaminate]] span length (code points). Scaled to
    * the fixtures' few-hundred-char synthetic docs the way a production
    * run scales its ≥50-char rule to web documents: long enough that a
    * match is a copied span, not a common phrase (the fixture's planted
    * duplicate structure populates matches at every SF — 58/98/3803
    * contaminated docs at sf0.001/0.01/0.1), short enough that the
    * bench slice actually intersects the corpus. */
  val DecontamLen = 20

  /** Exact long-substring decontamination — the strict complement of
    * [[ngramDecontaminate]]'s fixed-word-5-gram flags (the GPT-3/PaLM
    * n-gram rule): flag a corpus document containing ANY
    * ≥[[DecontamLen]]-code-point span that appears verbatim in the
    * benchmark set (stand-in: doc_id % 50 == 0). Detection is via the
    * [[graft.functions.TextFunctions.gramHashesCol]] rolling-hash
    * kernel (`substring_dup`'s machinery, cross-corpus): any shared
    * span of length ≥ L shares all its length-L windows, so comparing
    * the fixed-L window fingerprints detects every qualifying span with
    * zero misses. A SINGLE 30-bit polynomial is too weak for the flag
    * to mean anything (the spec's exact-string cross-check caught a
    * real collision on the 500-doc fixture; at 100 TB every bench
    * fingerprint would collide constantly), so the fingerprint is the
    * 60-bit pair (h_L, h_{L-1}) of the length-L and length-(L−1)
    * windows at the same position packed into one long — independent
    * polynomials, collision odds ~positions²/2⁶⁰; production would
    * widen to 128 bits the same way. The oracle replays both
    * polynomials, and the spec pins hash flags == exact-string truth.
    *
    * Scale shape: the benchmark side reduces to DISTINCT int64-sized
    * fingerprints and BROADCASTS (eval suites are MBs against a 100 TB
    * corpus — this is precisely why production decontamination hashes
    * spans instead of joining strings); the corpus side is one
    * codegen'd map pass (explode of the per-row hash array) probed
    * map-side by the broadcast semi-join, then a partial-aggregated
    * per-doc count. The corpus never shuffles text. */
  def substringDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // 2^30 > P = 1e9+7, so h1 * 2^30 + h2 packs the pair losslessly
    // into 60 bits; h2 is the length-(L-1) window at the SAME position,
    // so zip lengths align after slicing to h1's count
    val h1 = graft.functions.TextFunctions.gramHashesCol(col("text"), DecontamLen)
    val h2 = graft.functions.TextFunctions.gramHashesCol(col("text"), DecontamLen - 1)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        zip_with(h1, slice(h2, lit(1), size(h1)),
          (a, b) => a * lit(1073741824L) + b).as("hs"))
    val pos   = docs.select(col("doc_id"), explode(col("hs")).as("h"))
    val bench = pos.filter(col("doc_id") % 50 === 0).select("h").distinct()
    val matched = pos.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(bench), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"))
    docs
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_spans"))
      .join(matched, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_spans"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (col("doc_id") % 50 === 0).as("is_benchmark"),
        (coalesce(col("n_matched"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  private val substringDecontaminateSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(CAST(i AS INT), CAST(i AS INT) + ${DecontamLen - 1}),
       |        j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) * 1073741824
       |    + list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(CAST(i AS INT), CAST(i AS INT) + ${DecontamLen - 2}),
       |        j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - ${DecontamLen - 1})) AS i)
       |  WHERE length(text) >= $DecontamLen
       |), spans AS (
       |  SELECT doc_id, count(*) AS n_spans FROM grams GROUP BY doc_id
       |), m AS (
       |  SELECT doc_id, count(*) AS n_matched FROM grams
       |  WHERE doc_id % 50 <> 0
       |    AND h IN (SELECT DISTINCT h FROM grams WHERE doc_id % 50 = 0)
       |  GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
       |  (d.doc_id % 50 = 0) AS is_benchmark,
       |  coalesce(m.n_matched, 0) > 0 AS contaminated
       |FROM documents d
       |LEFT JOIN spans s ON d.doc_id = s.doc_id
       |LEFT JOIN m ON d.doc_id = m.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------- repetition quality

  /** Gopher-style repetition metrics: duplicate-token fraction, top
    * single-token fraction, top-bigram fraction — the "reject
    * boilerplate / keyboard-mash documents" quality gate. Token and
    * bigram counts reduce per (doc, term) with map-side partial
    * aggregation (shuffle rows are (doc_id, term-hashable, count) —
    * never raw text), then collapse to one row per doc. Fractions are
    * int/int → double divisions, bit-identical across engines. */
  def repetitionQuality(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), toks(col("text")).as("w"))
    val uni = base
      .select(col("doc_id"), explode(col("w")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"), max("c").as("top_token_n"))
    val bi = base
      .select(col("doc_id"),
        explode(when(size(col("w")) >= 2,
          transform(sequence(lit(1), size(col("w")) - 1),
            i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_n"))
    uni.join(bi, Seq("doc_id"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens")).as("dup_token_frac"),
        (col("top_token_n").cast("double") / col("n_tokens")).as("top_token_frac"),
        (col("top_bigram_n").cast("double") / (col("n_tokens") - 1)).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ sampling

  /** Deterministic weighted sampling-without-replacement (Efraimidis–
    * Spirakis A-Res): key = ln(u)/w with u a pure LCG-style function of
    * doc_id and w = n_chars; the global top-k by key IS a weighted
    * sample. Reproducible under any partitioning (the key is row-local)
    * and the top-k is a partial-agg (per-partition top-k, merge) — no
    * full sort at scale (Spark's sort+limit pushes the limit into each
    * partition). In production u = xxhash64(doc_id, seed)/2^64; here an
    * LCG mod a prime so the oracle dialect can reproduce it exactly.
    * The one libm call (ln) is rounded to 9 dp, ties broken by doc_id —
    * the tfidf ULP-absorption convention. */
  /** Overflow-safe deterministic sampling hashes: doc_id is reduced mod
    * [[HashReduceMod]] BEFORE the Knuth/LCG multiply, bounding the
    * product at ~2.7e15 ≪ 2⁶³. Without the reduction, Spark wraps the
    * Long silently past doc_id ≈ 3.5e9 while DuckDB raises BIGINT
    * overflow — a cross-engine divergence at exactly the advertised
    * corpus scale. The oracle SQL applies the identical reduction. */
  private[graft] val HashReduceMod = 1000003L

  /** (doc_id mod R)·2654435761 mod `mod` — the stratified/mixture
    * membership hash. */
  private[graft] def knuthBucket(doc: Column, mod: Long): Column =
    ((doc % HashReduceMod) * 2654435761L) % mod

  /** (doc_id mod R)·1103515245 + 12345 mod R, shifted to 1..R — the
    * weighted-sample uniform key. */
  private[graft] def lcgKey(doc: Column): Column =
    ((doc % HashReduceMod) * 1103515245L + 12345L) % HashReduceMod + 1L

  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = lcgKey(col("doc_id")).cast("double") / lit(1000004.0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        round(log(u) / col("n_chars"), 9).as("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(50)
  }

  /** Deterministic stratified sampling with an audit row per stratum —
    * rebalance the corpus by language (downsample the dominant `en`,
    * keep more of the tail languages). Membership is a pure function of
    * doc_id (Knuth-multiplicative bucket 0–99 vs a per-stratum rate),
    * so the sample is stable across runs and partitionings; the audit
    * (total vs sampled counts and chars) is one partial-agg groupBy —
    * conditional aggregation, single pass, no second scan. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = knuthBucket(col("doc_id"), 100L)
    val rate   = when(col("lang") === "en", 10L).otherwise(40L)
    val keep   = bucket < rate
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        max(rate).as("rate_pct"),
        count(lit(1)).as("n_total"),
        count(when(keep, 1)).as("n_sampled"),
        coalesce(sum(when(keep, col("n_chars"))), lit(0L)).as("chars_sampled"))
      .orderBy("lang")
  }

  /** Target mixture over `documents.lang` and the sample fraction —
    * the "rebalance the corpus to a target domain mix" knob of a
    * training-data build. Weights sum to 1 and cover every fixture
    * lang; feasibility (quota ≤ available) is checked loudly. */
  private val MixtureWeights: Seq[(String, Double)] =
    Seq("de" -> 0.20, "en" -> 0.35, "es" -> 0.17, "fr" -> 0.15, "zh" -> 0.13)
  private val MixturePct = 45L

  /** Hamilton/largest-remainder apportionment of `total` seats over
    * `weights`: floor every ideal share, hand the remaining seats to
    * the largest fractional parts (ties → lang asc). Pure double/long
    * arithmetic mirrored op-for-op by the oracle's SQL, so both
    * engines produce the identical quota vector. */
  private[graft] def largestRemainder(total: Long, weights: Seq[(String, Double)]): Seq[(String, Long)] = {
    val ideal  = weights.map { case (l, w) => (l, total * w) }
    val floors = ideal.map { case (l, q) => (l, math.floor(q).toLong) }
    val rest   = (total - floors.map(_._2).sum).toInt
    val bump = ideal.zip(floors)
      .map { case ((l, q), (_, f)) => (l, q - math.floor(q), f) }
      .sortBy { case (l, frac, _) => (-frac, l) }
      .take(rest).map(_._1).toSet
    floors.map { case (l, f) => (l, if (bump(l)) f + 1 else f) }
  }

  /** Batch size of [[trainShuffle]]'s emitted training order. */
  private val ShuffleBatch = 64L

  /** Deterministic global training shuffle — the order-randomization
    * step every epoch of LLM training consumes (and the one most often
    * botched at scale with either a driver-side permutation or a true
    * global sort): every doc gets the portable Knuth hash key
    * ([[knuthBucket]] — pure row function, reproducible under any
    * partitioning; change the salt to get the next epoch), the global
    * position in (h, doc_id) order is a [[PrefixScan]] row count (no
    * task holds more than one range partition), and positions group
    * into fixed-size training batches. Hash order is a uniform permutation for
    * training purposes while staying resumable: batch k is the same
    * rows on every rerun, so a crashed epoch restarts mid-stream. */
  def trainShuffle(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), knuthBucket(col("doc_id"), 1000003L).as("h"))
    PrefixScan(docs, Nil, Seq(col("h"), col("doc_id")), "pos" -> lit(1L)).rows
      .select(col("doc_id"), col("h"), col("pos"),
        expr(s"(pos - 1) div $ShuffleBatch").as("batch_id"))
      .orderBy("pos")
  }

  private val trainShuffleSql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, ((doc_id % 1000003) * 2654435761) % 1000003 AS h FROM documents
       |), r AS (
       |  SELECT doc_id, h,
       |         CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos
       |  FROM keyed
       |)
       |SELECT doc_id, h, pos, (pos - 1) // $ShuffleBatch AS batch_id
       |FROM r ORDER BY pos""".stripMargin

  /** Domain-mixture sampling: draw an exact-proportion sample — quota_l
    * docs of each lang, quotas the largest-remainder apportionment of
    * S = 45% of the corpus over [[MixtureWeights]] — so the output mix
    * hits the target EXACTLY (stratified_sample's per-row coin flips
    * only hit it in expectation). Membership is the quota_l smallest
    * rows per lang by the deterministic key (h, doc_id) with
    * h = ((doc_id mod 1000003)·2654435761) mod 1000003 — a pure,
    * overflow-safe row function ([[knuthBucket]]), so the sample is
    * reproducible under any partitioning at any doc_id range.
    *
    * Scale shape: per-lang ranks and counts come from one
    * [[PrefixScan]] grouped by lang, so no task holds a whole language
    * however skewed the mix; quotas are k-row driver work. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        knuthBucket(col("doc_id"), 1000003L).as("h"))
    val scan   = PrefixScan(docs, Seq("lang"), Seq(col("h"), col("doc_id")), "rank" -> lit(1L))
    val counts = scan.totals.map { case (Seq(l), Seq(n)) => l.asInstanceOf[String] -> n }
    val total  = counts.values.sum
    val s      = total * MixturePct / 100L
    val quotas = largestRemainder(s, MixtureWeights)
    quotas.foreach { case (l, q) =>
      require(q <= counts.getOrElse(l, 0L),
        s"mixture_sample: quota $q for lang $l exceeds available ${counts.getOrElse(l, 0L)}")
    }
    scan.rows
      .filter(col("rank") <= element_at(typedLit(quotas.toMap), col("lang")))
      .select(col("doc_id"), col("lang"), col("rank"))
      .orderBy("lang", "rank")
  }

  /** Balanced multi-epoch mixture — the UPSAMPLING complement of
    * [[mixtureSample]]'s downsampling quotas, and the shape every
    * data-mixing recipe with "rare sources repeat for >1 epoch" uses:
    * every language is brought to exactly T = max language count by
    * REPEATING documents — each doc of language l appears
    * base = ⌊T/avail_l⌋ times, and the first T mod avail_l docs in the
    * deterministic (hash, doc_id) order appear once more (Hamilton
    * exactness: Σ reps = T per language, no randomness). The dominant
    * language repeats 1×; a 10×-rarer one ~10×. Output is the emitted
    * training stream (doc_id, lang, copy).
    *
    * Scale shape: each doc's per-language rank and the per-language
    * counts come from one [[PrefixScan]] grouped by lang; T and the
    * counts are an O(langs) broadcast; the explode is map-side. */
  def epochMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        knuthBucket(col("doc_id"), 1000003L).as("h"))
    val scan  = PrefixScan(docs, Seq("lang"), Seq(col("h"), col("doc_id")), "rank" -> lit(1L))
    val avail = scan.totals.map { case (Seq(l), Seq(n)) => l.asInstanceOf[String] -> n }
    val t = avail.values.max
    val base  = avail.map { case (l, a) => l -> t / a }
    val extra = avail.map { case (l, a) => l -> t % a }
    scan.rows
      .withColumn("reps",
        element_at(typedLit(base), col("lang")) +
          when(col("rank") <= element_at(typedLit(extra), col("lang")), 1L).otherwise(0L))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("reps"))).as("copy"))
      .orderBy("lang", "doc_id", "copy")
  }

  private val epochMixtureSql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, ((doc_id % 1000003) * 2654435761) % 1000003 AS h
      |  FROM documents
      |), avail AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS a FROM docs GROUP BY lang
      |), t AS (SELECT max(a) AS t FROM avail
      |), ranked AS (
      |  SELECT doc_id, lang,
      |         CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rank
      |  FROM docs
      |), reps AS (
      |  SELECT r.doc_id, r.lang,
      |         (t.t // av.a) + CASE WHEN r.rank <= t.t % av.a THEN 1 ELSE 0 END AS reps
      |  FROM ranked r JOIN avail av USING (lang) CROSS JOIN t
      |)
      |SELECT doc_id, lang, CAST(unnest(generate_series(1, reps)) AS BIGINT) AS copy
      |FROM reps ORDER BY lang, doc_id, copy""".stripMargin

  private val mixtureSampleSql: String = {
    val weightCase = MixtureWeights
      .map { case (l, w) => s"WHEN '$l' THEN CAST($w AS DOUBLE)" }
      .mkString("CASE lang ", " ", " ELSE CAST(0 AS DOUBLE) END")
    s"""WITH docs AS (
       |  SELECT doc_id, lang, ((doc_id % 1000003) * 2654435761) % 1000003 AS h FROM documents
       |), cnt AS (
       |  SELECT lang, count(*) AS n FROM docs GROUP BY lang
       |), tot AS (
       |  SELECT CAST((sum(n) * $MixturePct) // 100 AS BIGINT) AS s FROM cnt
       |), ideal AS (
       |  SELECT lang, (SELECT s FROM tot) * ($weightCase) AS q FROM cnt
       |), fl AS (
       |  SELECT lang, CAST(floor(q) AS BIGINT) AS f, q - floor(q) AS frac FROM ideal
       |), bump AS (
       |  SELECT lang, f, row_number() OVER (ORDER BY frac DESC, lang) AS rr FROM fl
       |), quota AS (
       |  SELECT lang, f + CASE WHEN rr <= (SELECT s FROM tot) - (SELECT sum(f) FROM fl)
       |                        THEN 1 ELSE 0 END AS quota
       |  FROM bump
       |), ranked AS (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
       |  FROM docs
       |)
       |SELECT r.doc_id, r.lang, CAST(r.rank AS BIGINT) AS rank
       |FROM ranked r JOIN quota q ON r.lang = q.lang
       |WHERE r.rank <= q.quota
       |ORDER BY r.lang, r.rank""".stripMargin
  }

  // ----------------------------------------------------------- CMS query

  /** Count-Min point queries for a fixed watchlist of keys (partkeys
    * 1–10) over the lineitem stream — the O(depth·width)-memory way to
    * track known-key frequencies over 100 TB where an exact groupBy
    * would shuffle the whole key domain. Our own
    * `TypedImperativeAggregate` (SketchFunctions.CMSFreq): update
    * map-side, elementwise-add merge through the shuffle, so the sketch
    * is a pure function of the input multiset (SketchSpec pins
    * order/partition/merge-shape invariance).
    *
    * Verification contract (kmv/approx_percentile convention): the
    * driver-checked columns are the exact count plus two deterministic
    * verdicts — `lower_ok` (CMS never undercounts: every occurrence
    * lands in all its cells) and `upper_ok` (collision excess ≤ 8× the
    * per-row expectation N/width, and the min over 4 independent rows
    * sits far inside that; the oracle states both as literal TRUE). */
  def cmsWatchlist(spark: SparkSession, dir: String): DataFrame = {
    val targets = (1 to 10).map(_.toString)
    val li  = Tables.lineitem(spark, dir).select(col("l_partkey").cast("string").as("pk"))
    val agg = li.agg(
      graft.functions.SketchFunctions.cmsFreq(col("pk"), targets, 4, 4096).as("cms"),
      count(lit(1)).as("n_total"))
    val est = agg.select(explode(col("cms")).as(Seq("pk", "est")), col("n_total"))
    // filter on the NUMERIC key before the string cast so the predicate
    // pushes into the parquet scan (a cast-first filter would not)
    val exact = Tables.lineitem(spark, dir)
      .filter(col("l_partkey").between(1, 10))
      .select(col("l_partkey").cast("string").as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("n_exact"))
    exact.join(broadcast(est), Seq("pk"))
      .select(
        col("pk").cast("long").as("partkey"),
        col("n_exact"),
        (col("est") >= col("n_exact")).as("lower_ok"),
        (col("est") - col("n_exact") <= col("n_total") * lit(8L) / lit(4096L) + lit(16L))
          .as("upper_ok"))
      .orderBy("partkey")
  }

  // ------------------------------------------------------------- oracles

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** End-to-end curation pipeline composition: quality gates (token
    * count, character density) feeding exact-fingerprint dedup, each
    * document labeled with its first failing stage — the keep/reject
    * audit a production corpus build ships beside the filtered output.
    * Stage order matters and is part of the contract: dedup runs on
    * QUALITY-PASSING docs only (a rejected doc never claims a
    * fingerprint group), mirroring real pipelines where cheap per-row
    * gates run before anything that shuffles.
    *
    * Scale shape: stats + fingerprint are one codegen'd map pass
    * (`TokenStats`, `RollingHash`); the only shuffle carries (fp,
    * doc_id) longs for the min-id group + the label join-back. The
    * corpus is the shifted self-union `dedup_exact_docs` uses, so dup
    * verdicts exist at every SF. Thresholds are integer-exact
    * cross-engine (n_chars·100 > n_tokens·572 — no division). */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    // NULL text is normalized to '' ONCE at the source, mirrored by the
    // oracle's coalesce in its corpus CTE — so a NULL document flows
    // through stats → quality gate → fingerprint identically on both
    // engines (it gets n_tokens=0 → 'too_short', never a NULL-keyed
    // fingerprint group)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    val corpus = docs.union(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val t = corpus
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.TextFunctions.tokenStats(col("text")).getField("n_tokens").as("n_tokens"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val flagged = ck.ckpt(t.withColumn("qfail",
      when(col("n_tokens") < 30L, "too_short")
        .when(col("n_chars") * 100L > col("n_tokens") * 572L, "low_density")))
      // consumed twice (group min + the label join-back); the rows are
      // (id, 3 longs, reason) — text is already dropped, so this
      // materializes the reduced stats table, not the corpus. Checkpoint,
      // not cache: scope-owned, never CacheManager-pinned
    val firstIds = flagged.filter(col("qfail").isNull)
      .groupBy("fp").agg(min("doc_id").as("keep_id"))
    flagged.join(firstIds, Seq("fp"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("qfail"),
          when(col("doc_id") =!= col("keep_id"), "dup").otherwise("kept")).as("verdict"))
      .orderBy("doc_id")
  }

  private val pipelineSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, coalesce(text, '') AS text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, coalesce(text, '') FROM documents
      |), t AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(text)),
      |        i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
      |  FROM corpus
      |), flagged AS (
      |  SELECT *, CASE WHEN n_tokens < 30 THEN 'too_short'
      |                 WHEN n_chars * 100 > n_tokens * 572 THEN 'low_density' END AS qfail
      |  FROM t
      |), firstids AS (
      |  SELECT fp, min(doc_id) AS keep_id FROM flagged WHERE qfail IS NULL GROUP BY fp
      |)
      |SELECT f.doc_id, f.n_tokens,
      |       coalesce(f.qfail, CASE WHEN f.doc_id <> i.keep_id THEN 'dup' ELSE 'kept' END) AS verdict
      |FROM flagged f LEFT JOIN firstids i ON f.fp = i.fp
      |ORDER BY f.doc_id""".stripMargin

  /** Linear quality-classifier scoring — the fastText-style "trained
    * filter" shape of a corpus pipeline: a per-document integer feature
    * vector (alpha chars, non-alpha chars, stopword hits, token count)
    * dotted with LITERAL integer weights plus a bias, sign → keep/drop.
    * The weights stand in for an offline-trained model's (swapping in
    * real ones changes only the literals); what the operator pins down
    * is the SERVING shape: one codegen'd map pass over the corpus, zero
    * shuffle, exact-integer margins so the decision boundary cannot
    * drift cross-engine. Splits the fixtures ~72/28 keep/drop at every
    * SF. Complements `curation_pipeline`'s hand-written threshold gates
    * (rules) with the learned-score form (model). */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val t  = split(col("text"), " ")
    val nt = size(filter(t, x => x =!= "")).cast("long")
    val nc = length(col("text")).cast("long")
    val na = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
    val ns = graft.functions.TextFunctions.countInSetCol(t, Seq("the", "a", "of", "and"))
    val margin = lit(8L) * na - lit(6L) * (nc - na) + lit(40L) * ns + lit(2L) * nt - lit(1200L)
    Tables.documents(spark, dir)
      .select(col("doc_id"), margin.as("margin"), (margin > 0L).as("keep"))
      .orderBy("doc_id")
  }

  /** Differentially-private count release over the
    * (nation, market-segment) customer histogram — the third privacy
    * gate beside `k_anonymity`'s generalization and `l_diversity`'s
    * sensitive-attribute test: instead of suppressing small groups,
    * EVERY released count carries Laplace(1/ε) noise (ε = 1, count
    * sensitivity 1 — the Dwork et al. 2006 mechanism), so no exact
    * group size ever leaves the system. The noise is DERANDOMIZED the
    * way every deterministic op here is (`bootstrap_ci`'s Poisson
    * trick, `weighted_sample`'s hash keys): u = Knuth-multiplicative
    * hash of the integer group key over 2³¹, pushed through the exact
    * inverse Laplace CDF — noise = −sign(u−½)·ln(1−2|u−½|) — where the
    * ln argument is the exact dyadic rational t/2³¹, micros-quantized
    * (the psi/dsir ln convention) so both engines add identical noise.
    * Rerun-stability is a feature for a VERIFIABLE pipeline artifact;
    * a production deployment swaps the hash for a sealed RNG seed and
    * nothing else changes.
    *
    * Scale shape: one partial-aggregated pass to quasi-id-cardinality
    * cells; noise is a per-cell scalar expression — no shuffle after
    * the count, no per-group state. */
  def dpCountRelease(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").cast("long").as("nationkey"), col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"))
    cells
      // integer group key -> 31-bit Knuth hash (exact on both engines)
      .withColumn("gkey",
        col("nationkey") * 100000L + length(col("segment")).cast("long") * 7L +
          ascii(substring(col("segment"), 1, 1)).cast("long") * 131L +
          ascii(substring(col("segment"), 2, 1)).cast("long"))
      .withColumn("h31", expr("(gkey * 2654435761) % 2147483648"))
      .withColumn("sgn", when(col("h31") >= 1073741824L, 1L).otherwise(-1L))
      // t = 1 - 2|u - 1/2| as the exact dyadic rational t_num / 2^31
      .withColumn("t_num",
        greatest(lit(1L), lit(2147483648L) - lit(2L) * abs(col("h31") - lit(1073741824L))))
      .withColumn("ln_t_micros",
        expr("CAST(round(ln(CAST(t_num AS DOUBLE) / 2147483648.0) * 1000000) AS BIGINT)"))
      .select(col("nationkey"), col("segment"), col("n"), col("h31"), col("sgn"),
        col("ln_t_micros"),
        (col("n") * 1000000L + col("sgn") * col("ln_t_micros")).as("released_micros"))
      .orderBy("nationkey", "segment")
  }

  private val dpCountReleaseSql: String =
    """WITH cells AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS segment,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM customer GROUP BY 1, 2
      |), keyed AS (
      |  SELECT *, nationkey * 100000 + CAST(length(segment) AS BIGINT) * 7
      |            + CAST(ascii(substr(segment, 1, 1)) AS BIGINT) * 131
      |            + CAST(ascii(substr(segment, 2, 1)) AS BIGINT) AS gkey
      |  FROM cells
      |), hashed AS (
      |  SELECT *, (gkey * 2654435761) % 2147483648 AS h31 FROM keyed
      |), noised AS (
      |  SELECT *,
      |    CASE WHEN h31 >= 1073741824 THEN 1 ELSE -1 END AS sgn,
      |    greatest(1, 2147483648 - 2 * abs(h31 - 1073741824)) AS t_num
      |  FROM hashed
      |)
      |SELECT nationkey, segment, n, CAST(h31 AS BIGINT) AS h31, CAST(sgn AS BIGINT) AS sgn,
      |  CAST(round(ln(CAST(t_num AS DOUBLE) / 2147483648.0) * 1000000) AS BIGINT)
      |    AS ln_t_micros,
      |  n * 1000000 + sgn *
      |    CAST(round(ln(CAST(t_num AS DOUBLE) / 2147483648.0) * 1000000) AS BIGINT)
      |    AS released_micros
      |FROM noised ORDER BY nationkey, segment""".stripMargin

  /** McNemar's paired test between the two keep gates a curation
    * pipeline actually has to choose between: the rule-based
    * [[qualityClassifier]] (keep) and the LM-based [[perplexityFilter]]
    * (keep = CCNet's "head" tercile). Marginal accuracy comparisons
    * mislead on PAIRED decisions; McNemar looks only at the
    * DISAGREEMENT cells — b = rule-only keeps, c = LM-only keeps — and
    * χ² = (b−c)²/(b+c) asks whether the disagreement is asymmetric
    * (i.e. whether switching gates would systematically change the
    * kept corpus, not just reshuffle it). The statistic is a pure
    * rational of counts → exact integral micros in DECIMAL(38)/HUGEINT
    * (no continuity correction — the exact form both engines agree
    * on); agreement rate ships in exact micros alongside.
    *
    * Scale shape: both gates are corpus scans (the classifier is
    * zero-shuffle; the LM gate adds its vocabulary-cell machinery);
    * the pairing is one doc_id equi-join collapsing immediately into a
    * single 4-cell aggregate — nothing after the join is data-sized. */
  /** Fleiss' kappa (Fleiss 1971) across the pipeline's three
    * independent keep gates — the rule-based [[qualityClassifier]],
    * the published [[gopherRules]] pack, and the LM
    * [[perplexityFilter]] head tercile — treating each gate as a rater
    * of every document: [[mcnemar]] asks whether TWO gates
    * systematically disagree; kappa asks how much agreement the whole
    * PANEL has beyond chance, the number that decides whether
    * "2-of-3 votes" is a meaningful ensemble or correlated noise.
    * κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) over n=3 raters / 2 categories collapses
    * to one exact rational of two integers — num = 3N·S₁/2 − E,
    * den = 9N² − E with S₁ = Σ_d r(r−1)+(3−r)(2−r) (always even) and
    * E = R² + (3N−R)² — so κ ships as sign-extracted exact micros
    * (DECIMAL(38)/HUGEINT; den = 0 → NULL). The vote histogram
    * (n_r0..n_r3) rides along as the diagnostic the scalar hides.
    *
    * Scale shape: three doc_id-keyed equi-joins of per-row gates, a
    * ≤4-row vote histogram (partial-aggregated), then constant-size
    * algebra — the corpus is scanned by each gate and never again. */
  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val q  = qualityClassifier(spark, dir).select(col("doc_id"), col("keep").cast("long").as("k1"))
    val g  = gopherRules(spark, dir).select(col("doc_id"), col("keep").cast("long").as("k2"))
    val lm = perplexityFilter(spark, dir)
      .select(col("doc_id"), (col("band") === "head").cast("long").as("k3"))
    val hist = q.join(g, "doc_id").join(lm, "doc_id")
      .select((col("k1") + col("k2") + col("k3")).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n"))
    hist.agg(
        sum("n").as("n_docs"),
        sum(when(col("r") === 0, col("n")).otherwise(0L)).as("n_r0"),
        sum(when(col("r") === 1, col("n")).otherwise(0L)).as("n_r1"),
        sum(when(col("r") === 2, col("n")).otherwise(0L)).as("n_r2"),
        sum(when(col("r") === 3, col("n")).otherwise(0L)).as("n_r3"),
        sum(col("r") * col("n")).as("rr"),
        sum((col("r") * (col("r") - 1) + (lit(3L) - col("r")) * (lit(2L) - col("r"))) * col("n"))
          .as("s1"))
      .select(col("n_docs"), col("n_r0"), col("n_r1"), col("n_r2"), col("n_r3"),
        expr("CAST((CAST(s1 AS DECIMAL(38,0)) * 1000000) div (6 * n_docs) AS BIGINT)")
          .as("p_bar_micros"),
        expr("""CAST(((CAST(rr AS DECIMAL(38,0)) * rr
               |      + CAST(3 * n_docs - rr AS DECIMAL(38,0)) * (3 * n_docs - rr)) * 1000000)
               |     div (CAST(9 AS DECIMAL(38,0)) * n_docs * n_docs) AS BIGINT)""".stripMargin)
          .as("p_e_micros"),
        expr("""CASE WHEN CAST(9 AS DECIMAL(38,0)) * n_docs * n_docs
               |          - (CAST(rr AS DECIMAL(38,0)) * rr
               |             + CAST(3 * n_docs - rr AS DECIMAL(38,0)) * (3 * n_docs - rr)) = 0
               |     THEN CAST(NULL AS BIGINT) ELSE
               |  CAST(CASE WHEN 3 * CAST(n_docs AS DECIMAL(38,0)) * s1 div 2
               |                 - (CAST(rr AS DECIMAL(38,0)) * rr
               |                    + CAST(3 * n_docs - rr AS DECIMAL(38,0)) * (3 * n_docs - rr)) < 0
               |            THEN -1 ELSE 1 END *
               |    ((abs(3 * CAST(n_docs AS DECIMAL(38,0)) * s1 div 2
               |          - (CAST(rr AS DECIMAL(38,0)) * rr
               |             + CAST(3 * n_docs - rr AS DECIMAL(38,0)) * (3 * n_docs - rr))) * 1000000)
               |     div (CAST(9 AS DECIMAL(38,0)) * n_docs * n_docs
               |          - (CAST(rr AS DECIMAL(38,0)) * rr
               |             + CAST(3 * n_docs - rr AS DECIMAL(38,0)) * (3 * n_docs - rr))))
               |  AS BIGINT) END""".stripMargin)
          .as("kappa_micros"))
  }

  // lazy: perplexityBandsCtes / gopherRulesSql are declared further down
  private lazy val fleissSql: String =
    s"""WITH $perplexityBandsCtes,
       |qc AS (
       |  SELECT doc_id,
       |    CASE WHEN (8 * CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
       |     - 6 * (CAST(length(text) AS BIGINT)
       |            - CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT))
       |     + 40 * CAST(len(list_filter(string_split(text, ' '),
       |                  t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT)
       |     + 2 * CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
       |     - 1200) > 0 THEN 1 ELSE 0 END AS k1
       |  FROM documents
       |), gp AS (
       |  SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS k2 FROM ($gopherRulesSql) gsub
       |), votes AS (
       |  SELECT q.k1 + g.k2 + (CASE WHEN b.band = 'head' THEN 1 ELSE 0 END) AS r
       |  FROM qc q JOIN gp g USING (doc_id) JOIN bands b USING (doc_id)
       |), hist AS (
       |  SELECT r, CAST(count(*) AS BIGINT) AS n FROM votes GROUP BY r
       |), agg AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN r = 0 THEN n ELSE 0 END) AS BIGINT) AS n_r0,
       |         CAST(sum(CASE WHEN r = 1 THEN n ELSE 0 END) AS BIGINT) AS n_r1,
       |         CAST(sum(CASE WHEN r = 2 THEN n ELSE 0 END) AS BIGINT) AS n_r2,
       |         CAST(sum(CASE WHEN r = 3 THEN n ELSE 0 END) AS BIGINT) AS n_r3,
       |         CAST(sum(r * n) AS BIGINT) AS rr,
       |         CAST(sum((r * (r - 1) + (3 - r) * (2 - r)) * n) AS BIGINT) AS s1
       |  FROM hist
       |)
       |SELECT n_docs, n_r0, n_r1, n_r2, n_r3,
       |  CAST((CAST(s1 AS HUGEINT) * 1000000) // (6 * n_docs) AS BIGINT) AS p_bar_micros,
       |  CAST(((CAST(rr AS HUGEINT) * rr
       |         + CAST(3 * n_docs - rr AS HUGEINT) * (3 * n_docs - rr)) * 1000000)
       |       // (CAST(9 AS HUGEINT) * n_docs * n_docs) AS BIGINT) AS p_e_micros,
       |  CASE WHEN CAST(9 AS HUGEINT) * n_docs * n_docs
       |            - (CAST(rr AS HUGEINT) * rr
       |               + CAST(3 * n_docs - rr AS HUGEINT) * (3 * n_docs - rr)) = 0
       |       THEN CAST(NULL AS BIGINT) ELSE
       |    CAST(CASE WHEN 3 * CAST(n_docs AS HUGEINT) * s1 // 2
       |                   - (CAST(rr AS HUGEINT) * rr
       |                      + CAST(3 * n_docs - rr AS HUGEINT) * (3 * n_docs - rr)) < 0
       |              THEN -1 ELSE 1 END *
       |      ((abs(3 * CAST(n_docs AS HUGEINT) * s1 // 2
       |            - (CAST(rr AS HUGEINT) * rr
       |               + CAST(3 * n_docs - rr AS HUGEINT) * (3 * n_docs - rr))) * 1000000)
       |       // (CAST(9 AS HUGEINT) * n_docs * n_docs
       |            - (CAST(rr AS HUGEINT) * rr
       |               + CAST(3 * n_docs - rr AS HUGEINT) * (3 * n_docs - rr))))
       |    AS BIGINT) END AS kappa_micros
       |FROM agg""".stripMargin

  def mcnemar(spark: SparkSession, dir: String): DataFrame = {
    val rule = qualityClassifier(spark, dir).select(col("doc_id"), col("keep"))
    val lm = perplexityFilter(spark, dir)
      .select(col("doc_id"), (col("band") === "head").as("keep_lm"))
    rule.join(lm, "doc_id")
      .agg(
        sum(when(col("keep") && col("keep_lm"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("keep") && !col("keep_lm"), 1L).otherwise(0L)).as("n_rule_only"),
        sum(when(!col("keep") && col("keep_lm"), 1L).otherwise(0L)).as("n_lm_only"),
        sum(when(!col("keep") && !col("keep_lm"), 1L).otherwise(0L)).as("n_neither"))
      .select(col("n_both"), col("n_rule_only"), col("n_lm_only"), col("n_neither"),
        expr("""CASE WHEN n_rule_only + n_lm_only = 0 THEN NULL ELSE
               |CAST((CAST(n_rule_only - n_lm_only AS DECIMAL(38,0))
               |      * (n_rule_only - n_lm_only) * 1000000)
               |     div (n_rule_only + n_lm_only) AS BIGINT) END""".stripMargin)
          .as("chi2_micros"),
        expr("""CAST(((n_both + n_neither) * 1000000)
               |     div (n_both + n_rule_only + n_lm_only + n_neither) AS BIGINT)"""
          .stripMargin).as("agree_micros"))
  }

  /** The Gopher quality-rule pack (Rae et al. 2021, App. A1.1 — the
    * published heuristic filter every web-scale LLM corpus cites,
    * alongside C4's): per document, each WORD-level rule evaluated
    * exactly plus the conjunction. Rules are integer-exact
    * (cross-multiplied, never a double ratio): word count ∈ [50, 10⁵];
    * mean word length ∈ [3, 10] (3·n_words ≤ total_word_chars ≤
    * 10·n_words); symbol-to-word ratio ≤ 0.1 (symbols = '#' and '…'
    * as '...'); ≥80 % of words contain an alphabetic char; ≥2 DISTINCT
    * members of Gopher's 8-stopword set present. Gopher's two
    * LINE-level rules (bullet starts, ellipsis line ends) need line
    * structure the single-line fixture docs don't have and are
    * deliberately out of scope — documented, not silently faked.
    *
    * Scale shape: pure per-row codegen'd string/array arithmetic —
    * zero shuffle, streams at scan speed; the total-word-chars count
    * is `length(replace(text, ' ', ''))`, not a token aggregate.
    *
    * On the synthetic fixture the stop-word rule rejects every doc
    * (the generator vocabulary carries only 'the' from Gopher's set) —
    * the PUBLISHED thresholds are kept rather than bent to the
    * fixture; `CurationSpec` proves each rule flips both ways on
    * constructed docs. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOn(Tables.documents(spark, dir))

  /** [[gopherRules]] over an arbitrary (doc_id, text) frame — split out
    * so specs can flip every rule on hand-built docs. */
  private[graft] def gopherRulesOn(docs: DataFrame): DataFrame = {
    val t   = filter(split(col("text"), " "), x => x =!= "")
    val nw  = size(t).cast("long")
    val twc = length(regexp_replace(col("text"), " ", "")).cast("long")
    val nAlpha = size(filter(t, x => x.rlike("[A-Za-z]"))).cast("long")
    val nHash  = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long")
    val nEll = expr("CAST((length(text) - length(replace(text, '...', ''))) div 3 AS BIGINT)")
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = stops.map(w => when(array_contains(t, w), 1L).otherwise(0L)).reduce(_ + _)
    docs
      .select(col("doc_id"),
        nw.as("n_words"), twc.as("n_word_chars"), nAlpha.as("n_alpha_words"),
        (nHash + nEll).as("n_symbols"), nStop.as("n_stop_distinct"))
      .select(col("doc_id"), col("n_words"), col("n_word_chars"),
        col("n_alpha_words"), col("n_symbols"), col("n_stop_distinct"),
        (col("n_words") >= 50L && col("n_words") <= 100000L).as("r_wordcount"),
        (lit(3L) * col("n_words") <= col("n_word_chars") &&
          col("n_word_chars") <= lit(10L) * col("n_words")).as("r_wordlen"),
        (lit(10L) * col("n_symbols") <= col("n_words")).as("r_symbol"),
        (lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words")).as("r_alpha"),
        (col("n_stop_distinct") >= 2L).as("r_stop"))
      .withColumn("keep",
        col("r_wordcount") && col("r_wordlen") && col("r_symbol") &&
          col("r_alpha") && col("r_stop"))
      .orderBy("doc_id")
  }

  private val gopherRulesSql: String = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopSum = stops
      .map(w => s"(CASE WHEN list_contains(w, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH f AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w,
       |         CAST(length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_word_chars,
       |         CAST(length(text) - length(regexp_replace(text, '#', '', 'g')) AS BIGINT)
       |           + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT)
       |           AS n_symbols
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, n_word_chars,
       |         CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
       |           AS n_alpha_words,
       |         n_symbols, CAST($stopSum AS BIGINT) AS n_stop_distinct
       |  FROM f
       |)
       |SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_symbols, n_stop_distinct,
       |       (n_words >= 50 AND n_words <= 100000) AS r_wordcount,
       |       (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words) AS r_wordlen,
       |       (10 * n_symbols <= n_words) AS r_symbol,
       |       (5 * n_alpha_words >= 4 * n_words) AS r_alpha,
       |       (n_stop_distinct >= 2) AS r_stop,
       |       ((n_words >= 50 AND n_words <= 100000)
       |        AND (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words)
       |        AND (10 * n_symbols <= n_words)
       |        AND (5 * n_alpha_words >= 4 * n_words)
       |        AND (n_stop_distinct >= 2)) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — data selection
    * via importance resampling, THE published method for tilting a raw
    * corpus toward a target domain): each document scores
    * w(d) = Σ_t k_d(t)·ln(p_target(t)/p_raw(t)) under Laplace-smoothed
    * unigram LMs — here target = the `src0` slice, raw = the whole
    * corpus — and selection keeps positive-weight (more-target-like-
    * than-background) documents. Per-type log ratio is ONE double ln of
    * an exact integer ratio ((c_T+1)·(N_B+V)) / ((c_B+1)·(N_T+V)),
    * micros-quantized before the exact per-doc integer sum (the
    * tfidf/hill ln convention); products stay < 2⁵³ at fixture scales —
    * the true-100 TB form shifts to per-factor quantized logs, noted
    * not faked.
    *
    * Scale shape: both LM tables are vocabulary-sized with map-side
    * partials; documents collapse to (doc, type, k) cells BEFORE the
    * model equi-join (the tfidf shape); N_T/N_B/V ride along as one
    * broadcast 1-row aggregate. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val docs  = Tables.documents(spark, dir)
    val toks  = docs.select(col("doc_id"), col("source"),
      explode(filter(split(col("text"), " "), x => x =!= "")).as("t"))
    val cells = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("k"))
    val uniB = toks.groupBy("t").agg(count(lit(1)).as("cb"))
    val uniT = toks.filter(col("source") === "src0")
      .groupBy("t").agg(count(lit(1)).as("ct"))
    // vocab-sized; feeds the totals and the score join
    val model = ck.ckpt(uniB.join(uniT, Seq("t"), "left")
      .select(col("t"), col("cb"), coalesce(col("ct"), lit(0L)).as("ct")))
    val tot = model.agg(sum("cb").as("nb"), sum("ct").as("nt"),
      count(lit(1)).as("v"))
    val scoredModel = model.crossJoin(broadcast(tot))
      .select(col("t"), expr(
        """CAST(round(ln(CAST((ct + 1) * (nb + v) AS DOUBLE) /
          |              CAST((cb + 1) * (nt + v) AS DOUBLE)) * 1000000) AS BIGINT)"""
          .stripMargin).as("lr_micros"))
    val w = cells.join(scoredModel, Seq("t"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_tokens"),
        sum(col("k") * col("lr_micros")).as("weight_micros"))
    docs.select("doc_id", "source").join(w, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("weight_micros"), lit(0L)).as("weight_micros"),
        (coalesce(col("weight_micros"), lit(0L)) > 0L).as("keep"))
      .orderBy("doc_id")
  }

  private val dsirWeightsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      |  FROM documents
      |), cells AS (
      |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS k FROM toks GROUP BY doc_id, t
      |), unib AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS cb FROM toks GROUP BY t
      |), unit AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS ct FROM toks WHERE source = 'src0' GROUP BY t
      |), model AS (
      |  SELECT b.t, b.cb, coalesce(u.ct, 0) AS ct FROM unib b LEFT JOIN unit u ON u.t = b.t
      |), tot AS (
      |  SELECT CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(ct) AS BIGINT) AS nt,
      |         CAST(count(*) AS BIGINT) AS v
      |  FROM model
      |), scored AS (
      |  SELECT t, CAST(round(ln(CAST((ct + 1) * (nb + v) AS DOUBLE) /
      |                          CAST((cb + 1) * (nt + v) AS DOUBLE)) * 1000000) AS BIGINT)
      |           AS lr_micros
      |  FROM model CROSS JOIN tot
      |), w AS (
      |  SELECT c.doc_id, CAST(sum(c.k) AS BIGINT) AS n_tokens,
      |         CAST(sum(c.k * s.lr_micros) AS BIGINT) AS weight_micros
      |  FROM cells c JOIN scored s ON s.t = c.t GROUP BY c.doc_id
      |)
      |SELECT d.doc_id, d.source,
      |       CAST(coalesce(w.n_tokens, 0) AS BIGINT) AS n_tokens,
      |       CAST(coalesce(w.weight_micros, 0) AS BIGINT) AS weight_micros,
      |       (coalesce(w.weight_micros, 0) > 0) AS keep
      |FROM documents d LEFT JOIN w USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** l-diversity audit (Machanavajjhala et al. 2007 — the follow-up
    * privacy criterion k-anonymity alone misses: a k-anonymous group
    * whose SENSITIVE attribute is constant still leaks it): over the
    * same (nation, segment) quasi-identifier groups as [[kAnonymity]],
    * count the DISTINCT sensitive values (account-balance $1000 bands)
    * per group; a group passes at l ≥ 3. Output: one row per group
    * with its size, l, and the verdict.
    *
    * Scale shape: one partial-aggregated pass to (group, band) cells,
    * then a cells-sized count-distinct-free recount — the
    * two-aggregate form that never holds a distinct set per group. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").as("band"))
      .groupBy("c_nationkey", "c_mktsegment", "band")
      .agg(count(lit(1)).as("nb"))
    cells.groupBy("c_nationkey", "c_mktsegment")
      .agg(sum("nb").as("group_n"), count(lit(1)).as("l_distinct"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("group_n"),
        col("l_distinct"), (col("l_distinct") >= 3L).as("diverse_ok"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  private val lDiversitySql: String =
    """WITH cells AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS band,
      |         CAST(count(*) AS BIGINT) AS nb
      |  FROM customer GROUP BY 1, 2, 3
      |)
      |SELECT c_nationkey, c_mktsegment,
      |       CAST(sum(nb) AS BIGINT) AS group_n,
      |       CAST(count(*) AS BIGINT) AS l_distinct,
      |       (count(*) >= 3) AS diverse_ok
      |FROM cells GROUP BY c_nationkey, c_mktsegment
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** Luhn-checksum PAN validation (ISO/IEC 7812 — the mod-10 checksum
    * every real PII scrubber runs AFTER the 16-digit regex, because
    * half of all random digit runs would otherwise false-positive as
    * card numbers; [[piiRedact]]'s regex pass is the stage before
    * this): the fixture plants one synthetic PAN per doc — valid
    * check digit on even doc_ids, corrupted (+5 mod 10, never equal)
    * on odd — and the generic validator (double every second digit
    * from the right, subtract 9 past 9, sum ≡ 0 mod 10) must recover
    * exactly the planted parity. Output carries the PAN, the
    * validator's verdict, the planted expectation, and their match.
    *
    * Scale shape: pure per-row codegen'd digit arithmetic over a
    * 16-element `sequence` fold — zero shuffle, scan speed. */
  def luhnFilter(spark: SparkSession, dir: String): DataFrame = {
    def digit(src: String, i: String) = s"(ascii(substr($src, $i, 1)) - 48)"
    def luhnTerm(src: String) =
      s"""CAST(CASE WHEN i % 2 = 1
         |  THEN CASE WHEN 2 * ${digit(src, "i")} > 9
         |            THEN 2 * ${digit(src, "i")} - 9 ELSE 2 * ${digit(src, "i")} END
         |  ELSE ${digit(src, "i")} END AS BIGINT)""".stripMargin
    Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("pan15",
        expr("concat('4', lpad(CAST(doc_id % 100000000000000 AS STRING), 14, '0'))"))
      .withColumn("s15", expr(
        s"aggregate(sequence(1, 15), CAST(0 AS BIGINT), (acc, i) -> acc + ${luhnTerm("pan15")})"))
      .withColumn("check_digit", expr("CAST((10 - s15 % 10) % 10 AS BIGINT)"))
      .withColumn("pan", expr(
        """concat(pan15, CAST(CASE WHEN doc_id % 2 = 0 THEN check_digit
          |                        ELSE (check_digit + 5) % 10 END AS STRING))""".stripMargin))
      .withColumn("luhn_valid", expr(
        s"""aggregate(sequence(1, 16), CAST(0 AS BIGINT),
           |          (acc, i) -> acc + ${luhnTerm("pan")}) % 10 = 0""".stripMargin))
      .select(col("doc_id"), col("pan"), col("luhn_valid"),
        (col("doc_id") % 2 === 0).as("expected_valid"),
        (col("luhn_valid") === (col("doc_id") % 2 === 0)).as("verdict_match"))
      .orderBy("doc_id")
  }

  private val luhnFilterSql: String = {
    def digit(src: String) = s"(ascii(substr($src, CAST(i AS INT), 1)) - 48)"
    def luhnSum(src: String, n: Int) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(generate_series(1, $n), i ->
         |    CAST(CASE WHEN i % 2 = 1
         |      THEN CASE WHEN 2 * ${digit(src)} > 9
         |                THEN 2 * ${digit(src)} - 9 ELSE 2 * ${digit(src)} END
         |      ELSE ${digit(src)} END AS BIGINT))), (a, b) -> a + b)""".stripMargin
    s"""WITH p15 AS (
       |  SELECT doc_id,
       |         '4' || lpad(CAST(doc_id % 100000000000000 AS VARCHAR), 14, '0') AS pan15
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, pan15, ${luhnSum("pan15", 15)} AS s15 FROM p15
       |), planted AS (
       |  SELECT doc_id,
       |         pan15 || CAST(CASE WHEN doc_id % 2 = 0 THEN (10 - s15 % 10) % 10
       |                            ELSE ((10 - s15 % 10) % 10 + 5) % 10 END AS VARCHAR) AS pan
       |  FROM s
       |)
       |SELECT doc_id, pan,
       |       (${luhnSum("pan", 16)} % 10 = 0) AS luhn_valid,
       |       (doc_id % 2 = 0) AS expected_valid,
       |       ((${luhnSum("pan", 16)} % 10 = 0) = (doc_id % 2 = 0)) AS verdict_match
       |FROM planted ORDER BY doc_id""".stripMargin
  }

  /** Number of shards for [[shardAssign]] — small so the per-row
    * argmax stays a handful of codegen'd integer ops. */
  private[graft] val NumShards = 8

  /** Rendezvous (highest-random-weight) hash of one (doc, shard)
    * candidate pair — the [[knuthBucket]] family with the shard id
    * mixed in before the Knuth multiply. Products are bounded at
    * ~8.2e16 ≪ 2⁶³, so both engines stay in exact Long/BIGINT range
    * (the e1c8c28 overflow-safety convention). */
  private[graft] def hrwHash(doc: Column, s: Int): Column =
    (((doc % HashReduceMod) * 31L + (s + 1).toLong) * 2654435761L) % 999983L

  /** Deterministic rendezvous winner among `shards`: the candidate with
    * the highest [[hrwHash]], first (= smallest, when the list is
    * ascending) shard on ties. Linear-size expression: one greatest()
    * over the candidate hashes, then a first-match CASE chain. */
  private[graft] def hrwShard(doc: Column, shards: Seq[Int]): Column = {
    val hs = shards.map(s => hrwHash(doc, s))
    val g  = if (hs.size == 1) hs.head else greatest(hs: _*)
    // first-match CASE chain: earlier (smaller) shards win ties
    shards.zip(hs).init.foldRight(lit(shards.last.toLong)) {
      case ((s, h), acc) => when(h === g, lit(s.toLong)).otherwise(acc)
    }
  }

  /** URL canonicalization — the first normalization a web-corpus dedup
    * runs (two crawls of one page must collide BEFORE any content
    * hashing): lowercase scheme/host, strip a default :80 port, strip
    * `www.`, drop the fragment, drop `utm_*` tracking params, sort the
    * surviving query params, collapse a trailing slash. Synthesized
    * messy URLs (deterministic per doc_id, the pii_redact convention)
    * so the oracle can rebuild the identical input. Pure per-row
    * regex/array expressions — zero shuffle, scan speed at 100 TB. */
  def urlNormalize(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("HTTP://WWW.Example"), (col("doc_id") % 20).cast("string"),
      lit(".COM:80/Path/"), col("doc_id").cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&b=2&a="), (col("doc_id") % 7).cast("string"),
      lit("#Frag"), (col("doc_id") % 5).cast("string"))
    val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
    val host = regexp_replace(
      regexp_replace(lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)),
        ":80$", ""),
      "^www\\.", "")
    val rest  = regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^#]*)", 1)
    val path0 = lower(regexp_extract(col("rest"), "^([^?]*)", 1))
    val path  = when(regexp_replace(col("path0"), "/$", "") === "", lit("/"))
      .otherwise(regexp_replace(col("path0"), "/$", ""))
    val query  = regexp_extract(col("rest"), "\\?(.*)$", 1)
    val params = sort_array(filter(split(col("query"), "&"),
      p => p =!= "" && substring(p, 1, 4) =!= "utm_"))
    val qs = when(size(col("params")) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(col("params"), "&")))
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("url", url)
      .withColumn("rest", rest)
      .withColumn("path0", path0)
      .withColumn("query", query)
      .withColumn("params", params)
      .select(col("doc_id"), col("url"),
        concat(scheme, lit("://"), host, path, qs).as("canon"),
        host.as("host"))
      .orderBy("doc_id")
  }

  private val urlNormalizeSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    'HTTP://WWW.Example' || CAST(doc_id % 20 AS VARCHAR) || '.COM:80/Path/'
      |      || CAST(doc_id AS VARCHAR)
      |      || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
      |      || '?utm_source=feed&b=2&a=' || CAST(doc_id % 7 AS VARCHAR)
      |      || '#Frag' || CAST(doc_id % 5 AS VARCHAR) AS url
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':80$', ''),
      |      '^www\.', '') AS host,
      |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1) AS rest
      |  FROM raw
      |), pieces AS (
      |  SELECT doc_id, url, scheme, host,
      |    lower(regexp_extract(rest, '^([^?]*)', 1)) AS path0,
      |    regexp_extract(rest, '\?(.*)$', 1) AS query
      |  FROM parts
      |), cooked AS (
      |  SELECT doc_id, url, scheme, host,
      |    CASE WHEN regexp_replace(path0, '/$', '') = '' THEN '/'
      |         ELSE regexp_replace(path0, '/$', '') END AS path,
      |    list_sort(list_filter(string_split(query, '&'),
      |      p -> p <> '' AND substr(p, 1, 4) <> 'utm_')) AS params
      |  FROM pieces
      |)
      |SELECT doc_id, url,
      |       scheme || '://' || host || path ||
      |         CASE WHEN len(params) = 0 THEN ''
      |              ELSE '?' || array_to_string(params, '&') END AS canon,
      |       host
      |FROM cooked ORDER BY doc_id""".stripMargin

  private[graft] val SourceCap = 15

  final case class SrcKey(source: String, h: Long, doc_id: Long)

  /** Keeps the k lexicographically-smallest (h, doc_id) keys per group —
    * the min-k twin of TopK.TopKAgg; the finished value is just the k-th
    * smallest key (the cap threshold), or (MaxValue, MaxValue) when the
    * group has fewer than k rows (= keep everything). */
  class MinKKeysAgg(k: Int) extends TopK.BoundedAgg[SrcKey, (Long, Long), (Long, Long)](k,
    v => (v.h, v.doc_id),
    items => if (items.sizeIs < k) (Long.MaxValue, Long.MaxValue) else items.last)(
    (a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))

  /** Per-source document cap — the over-represented-domain limiter every
    * web-corpus mixture applies (cap docs per domain at N so one crawl
    * host cannot dominate training): keep the [[SourceCap]] docs with
    * the smallest deterministic (hash, doc_id) key per source.
    *
    * Scale shape: NO corpus shuffle and NO per-source window. A
    * [[MinKKeysAgg]] bounded-heap aggregate (map-side partial, ≤ cap
    * entries per partition per source) reduces each source to its
    * cap-th-smallest key; those ≤ n_sources threshold rows broadcast
    * back and the keep decision is a map-side key comparison. The
    * window row_number formulation — one task per source — lives only
    * in the oracle; a hot domain with billions of docs costs the same
    * as a cold one here. Keys are unique per doc, so exactly
    * min(cap, n) docs survive per source. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("source"), knuthBucket(col("doc_id"), HashReduceMod).as("h"),
        col("doc_id"))
    val thr = docs.as[SrcKey]
      .groupByKey(_.source)
      .agg(new MinKKeysAgg(SourceCap).toColumn.name("t"))
      .toDF("source", "t")
      .select(col("source"), col("t._1").as("th"), col("t._2").as("tid"))
    docs.join(broadcast(thr), "source")
      .filter(col("h") < col("th") ||
        (col("h") === col("th") && col("doc_id") <= col("tid")))
      .select(col("source"), col("doc_id"), col("h"))
      .orderBy("source", "doc_id")
  }

  private val sourceCapSql: String =
    s"""WITH keyed AS (
       |  SELECT source, ((doc_id % $HashReduceMod) * 2654435761) % $HashReduceMod AS h, doc_id
       |  FROM documents
       |), ranked AS (
       |  SELECT source, h, doc_id,
       |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
       |  FROM keyed
       |)
       |SELECT source, doc_id, CAST(h AS BIGINT) AS h
       |FROM ranked WHERE rn <= $SourceCap
       |ORDER BY source, doc_id""".stripMargin

  /** Consistent shard assignment via rendezvous hashing — the routing
    * step that makes a 100 TB corpus re-shardable: each doc goes to the
    * shard maximizing a (doc, shard) hash, so REMOVING a shard moves
    * only that shard's docs (every survivor's per-shard hashes are
    * unchanged, so its argmax can only change if the removed shard held
    * it) — unlike `doc_id % n`, which reshuffles almost everything.
    * The minimal-disruption property is pinned in `CurationSpec`; the
    * oracle gates the assignment itself. Pure per-row integer
    * arithmetic → zero shuffle before the 8-group summary. */
  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), hrwShard(col("doc_id"), 0 until NumShards).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")

  private val shardAssignSql: String = {
    def h(s: Int) =
      s"(((doc_id % $HashReduceMod) * 31 + ${s + 1}) * 2654435761) % 999983"
    val hs = (0 until NumShards).map(h)
    val g  = s"greatest(${hs.mkString(", ")})"
    val shard = (0 until NumShards).init
      .map(s => s"WHEN ${hs(s)} = g THEN CAST($s AS BIGINT)")
      .mkString("CASE ", " ", s" ELSE CAST(${NumShards - 1} AS BIGINT) END")
    s"""WITH hx AS (SELECT doc_id, $g AS g FROM documents),
       |a AS (SELECT doc_id, $shard AS shard FROM hx)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM a GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** Main-content extraction from HTML — the step between "raw crawl"
    * and every text operator in this library (a web corpus arrives as
    * markup; token counts, dedup shingles and quality scores are all
    * computed over the EXTRACTED text): drop `<head>` wholesale, strip
    * `<script>` blocks with their payload, remove known boilerplate
    * containers (nav bar, footer), strip remaining tags, decode
    * entities, collapse whitespace. The fixtures carry no HTML, so the
    * query first WRAPS each doc in a deterministic page (title + style
    * + nav links + the doc text + an inline tracking script + footer —
    * all pure functions of (doc_id, text), the pii_redact convention)
    * and then extracts; the cascade must remove every synthesized
    * boilerplate element and return the document text unharmed
    * (roundtrip pinned in `CurationSpec`). Everything is per-row regex
    * work in codegen'd expressions — scan speed, zero shuffle, and the
    * extraction regexes are non-greedy single-element matches (the
    * synthesized pages nest none of the removed elements). */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p{color:red}</style></head><body>" +
        "<div class=\"nav\"><a href=\"/\">Home</a> | <a href=\"/about\">About</a></div><p>"),
      col("text"),
      lit(" &amp; fin</p><script>track("), (col("doc_id") % 7).cast("string"),
      lit(");</script><footer>&copy; 2026</footer></body></html>"))
    val noHead   = regexp_replace(col("html"), "(?s)<head>.*?</head>", " ")
    val noScript = regexp_replace(noHead, "(?s)<script[^>]*>.*?</script>", " ")
    val noNav    = regexp_replace(noScript, "(?s)<div class=\"nav\">.*?</div>", " ")
    val noFooter = regexp_replace(noNav, "(?s)<footer>.*?</footer>", " ")
    val noTags   = regexp_replace(noFooter, "<[^>]+>", " ")
    val decoded  = regexp_replace(noTags, "&amp;", "&")
    val clean    = trim(regexp_replace(decoded, "\\s+", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("html", page)
      .select(col("doc_id"),
        regexp_extract(col("html"), "<title>([^<]*)</title>", 1).as("title"),
        clean.as("body_text"),
        length(clean).cast("long").as("body_len"))
      .orderBy("doc_id")
  }

  private val htmlExtractSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title><style>p{color:red}</style></head><body>' ||
      |    '<div class="nav"><a href="/">Home</a> | <a href="/about">About</a></div><p>' ||
      |    text || ' &amp; fin</p><script>track(' || CAST(doc_id % 7 AS VARCHAR) ||
      |    ');</script><footer>&copy; 2026</footer></body></html>' AS html
      |  FROM documents
      |), c AS (
      |  SELECT doc_id,
      |    regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
      |    trim(regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(
      |                regexp_replace(html, '(?s)<head>.*?</head>', ' ', 'g'),
      |                '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |              '(?s)<div class="nav">.*?</div>', ' ', 'g'),
      |            '(?s)<footer>.*?</footer>', ' ', 'g'),
      |          '<[^>]+>', ' ', 'g'),
      |        '&amp;', '&', 'g'),
      |      '\s+', ' ', 'g')) AS body_text
      |  FROM h
      |)
      |SELECT doc_id, title, body_text,
      |       CAST(length(body_text) AS BIGINT) AS body_len
      |FROM c ORDER BY doc_id""".stripMargin

  /** minimum group size of [[kAnonymity]]'s release rule. */
  val KAnon = 10

  /** k-anonymity release with a generalization ladder — the privacy
    * gate a curated corpus passes before rows with quasi-identifiers
    * ship (k-anonymity, Sweeney 2002): a customer row is released at
    * the most specific quasi-identifier level whose group holds ≥
    * [[KAnon]] rows — level 0 = (nation, segment); groups under k
    * generalize geography to level 1 = (region, segment), recounted
    * over ONLY the level-0 failures (the iterative suppression rule);
    * still-small groups are fully suppressed (level 2, `*`).
    *
    * Scale shape: the group-count tables are bounded by QUASI-ID
    * CARDINALITY (≤ nations×segments and ≤ regions×segments rows), not
    * data size, so both count passes are map-side partial aggregates
    * whose results broadcast back — the release decision is a map-side
    * key comparison, no per-group window, no data-sized shuffle. The
    * dimension attach is a 25-row broadcast. A billion-row hot group
    * costs the same as a small one. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val dims = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val base = ck.ckpt(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("n_nationkey"),
        col("n_name"), col("r_name")))
      // feeds the level-0 count, the re-attach, and the level-1 recount
    val g0 = base.groupBy("n_nationkey", "c_mktsegment").agg(count(lit(1)).as("n0"))
    val lvl0 = base.join(broadcast(g0), Seq("n_nationkey", "c_mktsegment"))
    val fail0 = lvl0.filter(col("n0") < KAnon)
    val g1 = fail0.groupBy("r_name", "c_mktsegment").agg(count(lit(1)).as("n1"))
    val lvl1 = fail0.join(broadcast(g1), Seq("r_name", "c_mktsegment"))
    lvl0.filter(col("n0") >= KAnon)
      .select(col("c_custkey"), lit(0L).as("level"),
        col("n_name").as("quasi_geo"), col("c_mktsegment").as("quasi_segment"))
      .unionByName(lvl1.filter(col("n1") >= KAnon)
        .select(col("c_custkey"), lit(1L).as("level"),
          col("r_name").as("quasi_geo"), col("c_mktsegment").as("quasi_segment")))
      .unionByName(lvl1.filter(col("n1") < KAnon)
        .select(col("c_custkey"), lit(2L).as("level"),
          lit("*").as("quasi_geo"), lit("*").as("quasi_segment")))
      .orderBy("c_custkey")
  }

  private val kAnonymitySql: String =
    s"""WITH base AS (
       |  SELECT c_custkey, c_mktsegment, n.n_nationkey, n.n_name, r.r_name
       |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       |                  JOIN region r ON n.n_regionkey = r.r_regionkey
       |), g0 AS (
       |  SELECT n_nationkey, c_mktsegment, count(*) AS n0 FROM base GROUP BY 1, 2
       |), lvl0 AS (
       |  SELECT b.*, g.n0 FROM base b JOIN g0 g USING (n_nationkey, c_mktsegment)
       |), fail0 AS (
       |  SELECT * FROM lvl0 WHERE n0 < $KAnon
       |), g1 AS (
       |  SELECT r_name, c_mktsegment, count(*) AS n1 FROM fail0 GROUP BY 1, 2
       |), lvl1 AS (
       |  SELECT f.*, g.n1 FROM fail0 f JOIN g1 g USING (r_name, c_mktsegment)
       |)
       |SELECT c_custkey, CAST(0 AS BIGINT) AS level, n_name AS quasi_geo,
       |       c_mktsegment AS quasi_segment
       |FROM lvl0 WHERE n0 >= $KAnon
       |UNION ALL
       |SELECT c_custkey, CAST(1 AS BIGINT), r_name, c_mktsegment
       |FROM lvl1 WHERE n1 >= $KAnon
       |UNION ALL
       |SELECT c_custkey, CAST(2 AS BIGINT), '*', '*'
       |FROM lvl1 WHERE n1 < $KAnon
       |ORDER BY c_custkey""".stripMargin

  /** CCNet-style perplexity banding (Wenzek et al. 2020): score every
    * document with the corpus bigram LM
    * ([[TextAnalysis.lmBigramScore]]'s exact-micros predictability
    * score — low ≈ high perplexity) and label head / middle / tail by
    * the empirical terciles, the split CCNet uses to keep "head+middle"
    * and drop the gibberish tail. Thresholds are VALUES, not ranks:
    * every document with the same score lands in the same band, so the
    * labeling is reproducible under any partitioning.
    *
    * Scale shape: the tercile scan runs over (score, count) cells whose
    * cardinality is bounded by the score DOMAIN (micros in [0, 10⁶]),
    * never by corpus size — cells-before-windows again — and the two
    * thresholds return to the documents as a broadcast 1-row join. */
  def perplexityFilter(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.lmBigramScore(spark, dir)
      .select("doc_id", "avg_micros")
    val cells = scored.groupBy("avg_micros").agg(count(lit(1)).as("cnt"))
    val cum = cells.withColumn("cum",
      sum("cnt").over(Window.orderBy("avg_micros")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val nT = scored.agg(count(lit(1)).as("n"))
    val th = cum.crossJoin(broadcast(nT)).agg(
      min(when(col("cum") * 3 >= col("n"), col("avg_micros"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("avg_micros"))).as("t2"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("avg_micros"),
        when(col("avg_micros") < col("t1"), lit("tail"))
          .when(col("avg_micros") < col("t2"), lit("middle"))
          .otherwise(lit("head")).as("band"))
      .orderBy("doc_id")
  }

  /** CTE chain ending at per-doc (doc_id, avg_micros, band) — shared
    * by the perplexity_filter oracle and mcnemar's LM-gate replay. */
  private val perplexityBandsCtes: String =
    s"""scored AS (
       |  SELECT doc_id, avg_micros FROM (${TextAnalysis.lmBigramSql}) s
       |), cells AS (
       |  SELECT avg_micros, CAST(count(*) AS BIGINT) AS cnt FROM scored GROUP BY 1
       |), cum AS (
       |  SELECT avg_micros, sum(cnt) OVER (ORDER BY avg_micros
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM cells
       |), nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored
       |), th AS (
       |  SELECT min(CASE WHEN cum * 3 >= nt.n THEN avg_micros END) AS t1,
       |         min(CASE WHEN cum * 3 >= 2 * nt.n THEN avg_micros END) AS t2
       |  FROM cum CROSS JOIN nt
       |), bands AS (
       |  SELECT s.doc_id, s.avg_micros,
       |         CASE WHEN s.avg_micros < th.t1 THEN 'tail'
       |              WHEN s.avg_micros < th.t2 THEN 'middle'
       |              ELSE 'head' END AS band
       |  FROM scored s CROSS JOIN th
       |)""".stripMargin

  private val perplexityFilterSql: String =
    s"""WITH $perplexityBandsCtes
       |SELECT doc_id, avg_micros, band FROM bands ORDER BY doc_id""".stripMargin

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007 — the
    * third rung of the release-privacy ladder after [[kAnonymity]] and
    * [[lDiversity]]: a group can be k-anonymous AND l-diverse yet
    * still leak if its sensitive-value DISTRIBUTION deviates from the
    * table's): per (nation, segment) quasi-identifier group, t = the
    * ordered-domain Earth Mover's Distance between the group's
    * account-balance band distribution and the global one,
    * EMD = Σᵢ|Σ_{j≤i}(p_j − q_j)| / (m−1) over the m bands. Computed
    * as an exact integer rational over the common denominator
    * n_g·N — bands are SHIFTED non-negative before the $1000
    * division because cents go negative in the fixture and
    * Spark `div` truncates while DuckDB `//` floors (they agree only
    * above zero). Groups pass at t ≤ 0.2.
    *
    * Scale shape: one customer scan → (group, band) cells; the grid
    * is groups × the broadcast ≤O(bands) global band table (never
    * customers × bands); the cumulative EMD window runs per group
    * over ≤m cells. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val banded = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000").as("band"))
    val global = banded.groupBy("band").agg(count(lit(1)).as("tcnt"))
      .crossJoin(broadcast(banded.agg(
        count(lit(1)).as("nn"), countDistinct("band").as("m"))))
    val groups = banded.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_g"))
    val cells = banded.groupBy("c_nationkey", "c_mktsegment", "band")
      .agg(count(lit(1)).as("gcnt"))
    val grid = groups.crossJoin(broadcast(global))
      .join(cells, Seq("c_nationkey", "c_mktsegment", "band"), "left")
      .na.fill(0L, Seq("gcnt"))
    val wCum = Window.partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("cum", sum(col("gcnt") * col("nn") - col("tcnt") * col("n_g")).over(wCum))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(max("n_g").as("group_n"),
        expr("CAST((1000000 * sum(abs(cum))) div (max(n_g) * max(nn) * (max(m) - 1)) AS BIGINT)")
          .as("t_micros"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("group_n"),
        col("t_micros"), (col("t_micros") <= 200000L).as("close_ok"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  private val tClosenessSql: String =
    """WITH banded AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS band
      |  FROM customer
      |), tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nn,
      |         CAST(count(DISTINCT band) AS BIGINT) AS m
      |  FROM banded
      |), global_bands AS (
      |  SELECT band, CAST(count(*) AS BIGINT) AS tcnt FROM banded GROUP BY band
      |), groups AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_g
      |  FROM banded GROUP BY 1, 2
      |), cells AS (
      |  SELECT c_nationkey, c_mktsegment, band, CAST(count(*) AS BIGINT) AS gcnt
      |  FROM banded GROUP BY 1, 2, 3
      |), grid AS (
      |  SELECT g.c_nationkey, g.c_mktsegment, g.n_g, b.band, b.tcnt, t.nn, t.m,
      |         coalesce(c.gcnt, 0) AS gcnt
      |  FROM groups g CROSS JOIN global_bands b CROSS JOIN tot t
      |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
      |    AND c.c_mktsegment = g.c_mktsegment AND c.band = b.band
      |), cum AS (
      |  SELECT c_nationkey, c_mktsegment, n_g, nn, m,
      |         CAST(sum(gcnt * nn - tcnt * n_g) OVER w AS BIGINT) AS cum
      |  FROM grid
      |  WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment ORDER BY band
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT c_nationkey, c_mktsegment, CAST(max(n_g) AS BIGINT) AS group_n,
      |       CAST((1000000 * sum(abs(cum))) // (max(n_g) * max(nn) * (max(m) - 1)) AS BIGINT) AS t_micros,
      |       ((1000000 * sum(abs(cum))) // (max(n_g) * max(nn) * (max(m) - 1)) <= 200000) AS close_ok
      |FROM cum GROUP BY c_nationkey, c_mktsegment
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** ε-differentially-private histogram release (Dwork, McSherry,
    * Nissim & Smith, TCC 2006 — the mechanism tier of the privacy
    * ladder: [[kAnonymity]]/[[lDiversity]]/[[tCloseness]] audit a
    * release, DP *constructs* one): per-event-type counts plus
    * Laplace(Δf/ε) noise with sensitivity 1 and ε = 0.5 (b = 2). The
    * noise is SEEDED, not sampled — u ∈ (0,1) comes from the md5 of a
    * versioned seed string + the cell key, pushed through the Laplace
    * inverse CDF (u < ½ → b·ln 2u, else −b·ln 2(1−u)) — so the
    * release is reproducible and hash-gateable across engines while
    * exercising the exact production mechanism shape; a real
    * deployment swaps the seed for a CSPRNG draw (noted, not faked).
    * u is offset by +½/2²⁰ so it can never hit 0, ½, or 1 exactly.
    * The released count is clamped at 0 in the micros domain before
    * the floor division back to a whole count.
    *
    * Scale shape: one partial-aggregated count pass → O(cells) rows;
    * the noise is per-cell codegen'd arithmetic. */
  def dpRelease(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("true_n"))
      .withColumn("h", expr(
        "CAST(conv(substr(md5(concat('dp-seed-v1:', event_type)), 1, 15), 16, 10) AS BIGINT) % 1048576"))
      .withColumn("u", expr("(CAST(h AS DOUBLE) + 0.5) / 1048576.0"))
      .withColumn("noise_micros", expr(
        """CAST(round(CASE WHEN u < 0.5 THEN 2.0 * ln(2.0 * u)
          |ELSE -2.0 * ln(2.0 * (1.0 - u)) END * 1000000) AS BIGINT)""".stripMargin))
      .select(col("event_type"), col("true_n"), col("noise_micros"),
        expr("true_n * 1000000 + noise_micros").as("released_micros"),
        expr("greatest(CAST(0 AS BIGINT), true_n * 1000000 + noise_micros) div 1000000")
          .as("released_n"))
      .orderBy("event_type")
  }

  private val dpReleaseSql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS true_n FROM events GROUP BY 1
      |), seeded AS (
      |  SELECT event_type, true_n,
      |         CAST('0x' || substr(md5('dp-seed-v1:' || event_type), 1, 15) AS BIGINT)
      |           % 1048576 AS h
      |  FROM cells
      |), noised AS (
      |  SELECT event_type, true_n,
      |         CAST(round(CASE WHEN (CAST(h AS DOUBLE) + 0.5) / 1048576.0 < 0.5
      |                         THEN 2.0 * ln(2.0 * ((CAST(h AS DOUBLE) + 0.5) / 1048576.0))
      |                         ELSE -2.0 * ln(2.0 * (1.0 - (CAST(h AS DOUBLE) + 0.5) / 1048576.0))
      |                    END * 1000000) AS BIGINT) AS noise_micros
      |  FROM seeded
      |)
      |SELECT event_type, true_n, noise_micros,
      |       true_n * 1000000 + noise_micros AS released_micros,
      |       greatest(CAST(0 AS BIGINT), true_n * 1000000 + noise_micros) // 1000000 AS released_n
      |FROM noised ORDER BY event_type""".stripMargin

  /** [[blocklistFilter]] phrases with severity weights — the wordlist
    * shape of a production safety/NSFW filter (UT1-style category
    * lists), over the fixture vocabulary so base-text hits occur. */
  private val Blocklist = Seq(("slow scan", 3L), ("big table", 2L), ("hash merge", 1L))

  /** Safety/blocklist filtering with OBFUSCATION-FOLDING normalization —
    * the wordlist gate every production corpus runs (NSFW / toxicity /
    * gambling category lists à la UT1), where the attack surface is
    * leetspeak and punctuation splitting, not the plain phrase. The
    * fixture text is clean lowercase, so (piiRedact convention) the
    * query first APPENDS deterministic leet-obfuscated phrases
    * ("sl0w sc4n" to every 7th doc, "b1g t4bl3" to every 11th — pure
    * functions of doc_id) and the normalizer must fold them back:
    * lower → digit-fold (0→o 1→i 3→e 4→a 5→s 7→t 9→g) → non-letter →
    * space → squeeze. Counts are substring occurrences on the
    * normalized text (split-length, identical non-overlapping
    * semantics in both engines); severity is the weighted hit sum; a
    * doc is blocked on any hit.
    *
    * Scale shape: pure per-row codegen'd string work — scan speed, no
    * shuffle, no driver state; the blocklist itself is a compile-time
    * constant (category lists are KBs against TB corpora). */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val synth = concat(
      col("text"),
      when(col("doc_id") % 7 === 0, lit(" sl0w sc4n")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" b1g t4bl3")).otherwise(lit("")))
    val norm = trim(regexp_replace(regexp_replace(
      translate(lower(synth), "0134579", "oieastg"), "[^a-z]+", " "), " +", " "))
    val hitCols = Blocklist.map { case (p, _) =>
      (size(split(norm, p, -1)) - 1).cast("long").as(s"n_${p.replace(' ', '_')}")
    }
    val sev = Blocklist.map { case (p, w) =>
      col(s"n_${p.replace(' ', '_')}") * lit(w)
    }.reduce(_ + _)
    Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("n_chars")) ++ hitCols: _*)
      .withColumn("severity", sev)
      .withColumn("blocked", col("severity") > 0L)
      .withColumn("rate_micros",
        expr("severity * 1000 * 1000000 div n_chars"))
      .drop("n_chars")
      .orderBy("doc_id")
  }

  private val blocklistFilterSql: String = {
    val hitExprs = Blocklist.map { case (p, _) =>
      s"CAST(len(string_split(norm, '$p')) - 1 AS BIGINT) AS n_${p.replace(' ', '_')}"
    }.mkString(",\n|         ")
    val sevExpr = Blocklist.map { case (p, w) =>
      s"n_${p.replace(' ', '_')} * $w"
    }.mkString(" + ")
    s"""WITH synth AS (
       |  SELECT doc_id, n_chars,
       |         text || CASE WHEN doc_id % 7 = 0 THEN ' sl0w sc4n' ELSE '' END
       |              || CASE WHEN doc_id % 11 = 0 THEN ' b1g t4bl3' ELSE '' END AS t
       |  FROM documents
       |), normed AS (
       |  SELECT doc_id, n_chars,
       |         trim(regexp_replace(regexp_replace(
       |           translate(lower(t), '0134579', 'oieastg'),
       |           '[^a-z]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
       |  FROM synth
       |), hits AS (
       |  SELECT doc_id, n_chars,
       |         $hitExprs
       |  FROM normed
       |)
       |SELECT doc_id, ${Blocklist.map(b => s"n_${b._1.replace(' ', '_')}").mkString(", ")},
       |       CAST($sevExpr AS BIGINT) AS severity,
       |       ($sevExpr) > 0 AS blocked,
       |       CAST(($sevExpr) * 1000 * 1000000 // n_chars AS BIGINT) AS rate_micros
       |FROM hits ORDER BY doc_id""".stripMargin
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("blocklist_filter", blocklistFilterSql)(blocklistFilter),
    QueryDef.sql("dp_release", dpReleaseSql)(dpRelease),
    QueryDef.sql("t_closeness", tClosenessSql)(tCloseness),
    QueryDef.sql("perplexity_filter", perplexityFilterSql)(perplexityFilter),
    QueryDef.sql("fleiss_kappa", fleissSql)(fleissKappa),
    QueryDef.sql("mcnemar",
      s"""WITH $perplexityBandsCtes,
         |qc AS (
         |  SELECT doc_id,
         |    (8 * CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
         |     - 6 * (CAST(length(text) AS BIGINT)
         |            - CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT))
         |     + 40 * CAST(len(list_filter(string_split(text, ' '),
         |                  t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT)
         |     + 2 * CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
         |     - 1200) > 0 AS keep
         |  FROM documents
         |), paired AS (
         |  SELECT q.keep, (b.band = 'head') AS keep_lm
         |  FROM qc q JOIN bands b USING (doc_id)
         |), cellsm AS (
         |  SELECT
         |    CAST(sum(CASE WHEN keep AND keep_lm THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |    CAST(sum(CASE WHEN keep AND NOT keep_lm THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_only,
         |    CAST(sum(CASE WHEN NOT keep AND keep_lm THEN 1 ELSE 0 END) AS BIGINT) AS n_lm_only,
         |    CAST(sum(CASE WHEN NOT keep AND NOT keep_lm THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
         |  FROM paired
         |)
         |SELECT n_both, n_rule_only, n_lm_only, n_neither,
         |  CASE WHEN n_rule_only + n_lm_only = 0 THEN NULL ELSE
         |    CAST((CAST(n_rule_only - n_lm_only AS HUGEINT)
         |          * (n_rule_only - n_lm_only) * 1000000)
         |         // (n_rule_only + n_lm_only) AS BIGINT) END AS chi2_micros,
         |  CAST(((n_both + n_neither) * 1000000)
         |       // (n_both + n_rule_only + n_lm_only + n_neither) AS BIGINT) AS agree_micros
         |FROM cellsm""".stripMargin)(mcnemar),
    QueryDef.sql("html_extract", htmlExtractSql)(htmlExtract),
    QueryDef.sql("k_anonymity", kAnonymitySql)(kAnonymity),
    QueryDef.sql("shard_assign", shardAssignSql)(shardAssign),
    QueryDef.sql("source_cap", sourceCapSql)(sourceCap),
    QueryDef.sql("url_normalize", urlNormalizeSql)(urlNormalize),
    QueryDef.sql("quality_classifier",
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS na,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS ns
        |  FROM documents
        |)
        |SELECT doc_id, 8 * na - 6 * (nc - na) + 40 * ns + 2 * nt - 1200 AS margin,
        |       (8 * na - 6 * (nc - na) + 40 * ns + 2 * nt - 1200) > 0 AS keep
        |FROM f ORDER BY doc_id""".stripMargin)(qualityClassifier),
    QueryDef.sql("curation_pipeline", pipelineSql)(curationPipeline),
    QueryDef.sql("gopher_rules", gopherRulesSql)(gopherRules),
    QueryDef.sql("dsir_weights", dsirWeightsSql)(dsirWeights),
    QueryDef.sql("luhn_filter", luhnFilterSql)(luhnFilter),
    QueryDef.sql("l_diversity", lDiversitySql)(lDiversity),
    QueryDef.sql("dp_count_release", dpCountReleaseSql)(dpCountRelease),
    QueryDef.sql("pii_redact",
      """WITH synth AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@mail.example.com or +1-415-555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |         || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(s, '\+\d{1,2}-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM synth ORDER BY doc_id""".stripMargin)(piiRedact),
    QueryDef.sql("doc_chunks",
      """WITH offs AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1, 90)) AS off
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1 AS BIGINT) AS chunk_id,
        |  CAST(off AS BIGINT) AS off,
        |  substr(text, CAST(off AS INT), 120) AS chunk,
        |  CAST(length(substr(text, CAST(off AS INT), 120)) AS BIGINT) AS chunk_chars
        |FROM offs ORDER BY doc_id, chunk_id""".stripMargin)(docChunks),
    QueryDef.sql("cdc_chunks", cdcChunksSql)(cdcChunks),
    QueryDef.sql("span_corruption", spanCorruptionSql)(spanCorruption),
    QueryDef.sql("sequence_pack", sequencePackSql)(sequencePack),
    QueryDef.sql("ngram_decontaminate",
      s"""WITH toksed AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |), ngr AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 5
         |         THEN list_distinct(list_transform(range(1, len(w) - 3),
         |                i -> array_to_string(w[i:i+4], ' ')))
         |         ELSE CAST([] AS VARCHAR[]) END AS ngs
         |  FROM toksed
         |), ex AS (
         |  SELECT doc_id, unnest(ngs) AS ng FROM ngr
         |), m AS (
         |  SELECT doc_id, count(*) AS n_matched FROM ex
         |  WHERE ng IN (SELECT DISTINCT ng FROM ex WHERE doc_id % 50 = 0)
         |  GROUP BY doc_id
         |)
         |SELECT n.doc_id, CAST(len(n.ngs) AS BIGINT) AS n_ngrams,
         |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
         |  (n.doc_id % 50 = 0) AS is_benchmark,
         |  coalesce(m.n_matched, 0) > 0 AS contaminated
         |FROM ngr n LEFT JOIN m ON n.doc_id = m.doc_id
         |ORDER BY n.doc_id""".stripMargin)(ngramDecontaminate),
    QueryDef.sql("substring_decontaminate", substringDecontaminateSql)(substringDecontaminate),
    QueryDef.sql("repetition_quality",
      s"""WITH toksed AS (
         |  SELECT doc_id, $toksSql AS w FROM documents
         |), uni AS (
         |  SELECT doc_id, t, count(*) AS c
         |  FROM (SELECT doc_id, unnest(w) AS t FROM toksed) GROUP BY doc_id, t
         |), u AS (
         |  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct, max(c) AS top_token_n
         |  FROM uni GROUP BY doc_id
         |), big AS (
         |  SELECT doc_id, b, count(*) AS c
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
         |        FROM toksed WHERE len(w) >= 2) GROUP BY doc_id, b
         |), bt AS (
         |  SELECT doc_id, max(c) AS top_bigram_n FROM big GROUP BY doc_id
         |)
         |SELECT u.doc_id, CAST(u.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(u.n_distinct AS BIGINT) AS n_distinct,
         |  CAST(u.n_tokens - u.n_distinct AS DOUBLE) / u.n_tokens AS dup_token_frac,
         |  CAST(u.top_token_n AS DOUBLE) / u.n_tokens AS top_token_frac,
         |  CAST(bt.top_bigram_n AS DOUBLE) / (u.n_tokens - 1) AS top_bigram_frac
         |FROM u JOIN bt ON u.doc_id = bt.doc_id
         |ORDER BY u.doc_id""".stripMargin)(repetitionQuality),
    QueryDef.sql("weighted_sample",
      """SELECT doc_id, n_chars,
        |  round(ln(CAST(((doc_id % 1000003) * 1103515245 + 12345) % 1000003 + 1 AS DOUBLE)
        |           / 1000004.0) / n_chars, 9) AS skey
        |FROM documents
        |ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin)(weightedSample),
    QueryDef.sql("stratified_sample",
      """SELECT lang,
        |  CAST(CASE WHEN lang = 'en' THEN 10 ELSE 40 END AS BIGINT) AS rate_pct,
        |  count(*) AS n_total,
        |  CAST(count(CASE WHEN ((doc_id % 1000003) * 2654435761) % 100
        |                       < (CASE WHEN lang = 'en' THEN 10 ELSE 40 END)
        |             THEN 1 END) AS BIGINT) AS n_sampled,
        |  CAST(coalesce(sum(CASE WHEN ((doc_id % 1000003) * 2654435761) % 100
        |                              < (CASE WHEN lang = 'en' THEN 10 ELSE 40 END)
        |                    THEN n_chars END), 0) AS BIGINT) AS chars_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)(stratifiedSample),
    QueryDef.sql("mixture_sample", mixtureSampleSql)(mixtureSample),
    QueryDef.sql("train_shuffle", trainShuffleSql)(trainShuffle),
    QueryDef.sql("epoch_mixture", epochMixtureSql)(epochMixture),
    QueryDef.sql("cms_watchlist",
      """SELECT CAST(l_partkey AS BIGINT) AS partkey, count(*) AS n_exact,
        |  TRUE AS lower_ok, TRUE AS upper_ok
        |FROM lineitem WHERE l_partkey BETWEEN 1 AND 10
        |GROUP BY l_partkey ORDER BY partkey""".stripMargin)(cmsWatchlist),
  )
}
