package graft.ops

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline:
  * exact (hash groupBy), MinHash+LSH near-dup, SimHash near-dup,
  * character-n-gram Jaccard, and embedding-cosine near-dup.
  *
  * The synthetic fixtures contain no natural near-duplicates, so the
  * near-dup queries first build a deterministic corpus: every document
  * plus a copy truncated to 80% of its tokens (id + 1,000,000). The
  * construction is pure SQL, so the DuckDB oracle builds the identical
  * corpus and verifies the *full pipeline output* — for MinHash-LSH the
  * oracle is the brute-force O(n²) jaccard join, i.e. it also proves the
  * LSH banding loses no pair above threshold at these parameters.
  *
  * Scale design: signatures (128 hashes) and simhashes are computed
  * map-side per row by codegen'd expressions (`MinHashSig`, `SimHash64`)
  * — no shuffle until the band-bucket join, whose fan-out is #bands per
  * doc. Candidate verification joins only bucket-collision pairs. At
  * 100 TB the brute-force oracle is impossible but LSH cost stays
  * ~linear: bands × docs shuffle rows, skew handled by AQE.
  */
object Dedup {

  /** 128 hashes in 32 bands of 4 — P(detect) at jaccard 0.75 is
    * 1-(1-0.75^4)^32 ≈ 1-8e-6, and corpus near-dup pairs all sit at
    * jaccard ≥ 0.75 (min doc length 10 tokens). */
  val NumHashes = 128
  val NumBands  = 32
  val RowsPerBand: Int = NumHashes / NumBands
  val JaccardThreshold = 0.7

  /** exact dedup: representative (min key) + multiplicity per equal name.
    * `part` has real duplicates (64 names over 2000 rows). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_name")
      .agg(min("p_partkey").as("keep_key"), count(lit(1)).as("n_dups"))
      .orderBy("p_name")

  /** exact dedup over documents (the corpus with constructed duplicates:
    * every doc plus an identical copy at id+1,000,000 — full-text
    * hash-groupBy keeps the min id; at 100 TB one groups on a
    * fingerprint of the text, never the text itself, so the shuffle
    * carries (hash, id) pairs — demonstrated here by grouping on the
    * rolling-hash fingerprint and verifying it reproduces the text
    * grouping exactly on this corpus). */
  def dedupExactDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.union(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    corpus
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("fp")
  }

  /** Dedup with a quality-based keep rule — the composition a real
    * pipeline runs: candidate duplicate groups each keep their
    * highest-QUALITY member, not the arbitrary min-id. Groups form on a
    * lead-3-tokens prefix key (a truncated copy keeps its original's
    * head, so original+copy land in one group; unrelated prefix
    * collisions are deterministic on both sides). Quality = text length
    * with doc_id as the deterministic tiebreak, packed into one
    * orderable BIGINT score so `max_by` and the oracle's `arg_max`
    * compare identically (length dominates; the lower id wins ties via
    * the negated-id term) — so the full-length original beats its
    * truncation whenever they share a group (docs with ≥ 4 tokens;
    * shorter docs truncate into the prefix itself and group apart —
    * both engines compute the same formula, so the compare still
    * holds). The shuffle carries (key, id, score), never text. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    // ids < 2^21, lengths < 2^20 — the packed score fits comfortably
    val score = length(col("text")).cast("long") * 10000000L + (lit(10000000L) - col("doc_id"))
    val prefixKey = concat_ws(" ", slice(split(col("text"), " "), 1, 3))
    corpus
      .select(col("doc_id"), prefixKey.as("pk"), score.as("score"))
      .groupBy("pk")
      .agg(
        max_by(col("doc_id"), col("score")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("pk")
  }

  /** documents ∪ 80%-token-truncated copies (deterministic near-dups). */
  def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val keep = greatest(lit(1), floor(size(toks) * 0.8).cast("int"))
    val truncated = docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), keep)).as("text"))
    docs.union(truncated)
  }

  /** A line is boilerplate for [[lineDedup]] when it appears in more
    * than this many DISTINCT documents (CCNet uses dup-in-shard; the
    * RefinedWeb line-wise rules key on cross-document frequency too). */
  private val LineMaxDocs = 5L

  /** Cross-document repeated-LINE removal (CCNet's line-level dedup /
    * RefinedWeb's line-wise boilerplate correction) — the web-corpus
    * cleaning pass that kills nav bars, cookie banners and copyright
    * footers, which exact-doc and near-dup dedup both miss because
    * every PAGE is unique while its FURNITURE is identical: any line
    * occurring in more than [[LineMaxDocs]] distinct documents is
    * dropped from every document, and the survivors reassemble in
    * their original positions. The fixture text is one flat line, so
    * (the pii_redact convention) a deterministic page is synthesized
    * per doc — a 3-variant nav header, the doc's two body halves, a
    * 2-variant footer — and the GENERIC rule recovers exactly the
    * planted furniture. Output: per doc the kept/dropped line counts
    * and the md5 of the reassembled text (both engines agree on the
    * digest, so the hash gate certifies the full reconstruction).
    *
    * Scale shape: the line-frequency shuffle carries (md5, doc_id) —
    * 16-byte keys, never line text (the media_dedup convention); the
    * count-distinct is a partial-aggregated groupBy on the hash; the
    * verdict re-attaches via an equi-join on the hash and the
    * reassembly is one per-doc groupBy whose state is the doc's own
    * line list. No window, no driver state; a billion-page site's
    * shared header is ONE hot hash cell (AQE skew handles it), not a
    * cross-join. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val lines = ck.ckpt(docs.select(col("doc_id"),
      posexplode(array(
        concat(lit("nav home about contact v"), (col("doc_id") % 3).cast("string")),
        expr("substring(text, 1, length(text) div 2)"),
        expr("substring(text, length(text) div 2 + 1, length(text))"),
        concat(lit("copyright footer y"), (col("doc_id") % 2).cast("string"))))
        .as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("line"),
        md5(col("line")).as("h"))) // feeds the frequency agg and the reassembly
    val freq = lines.groupBy("h").agg(countDistinct("doc_id").as("ndocs"))
    lines.join(freq, "h")
      .groupBy("doc_id")
      .agg(
        sum(when(col("ndocs") <= LineMaxDocs, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("ndocs") > LineMaxDocs, 1L).otherwise(0L)).as("n_dropped"),
        md5(array_join(
          transform(
            sort_array(collect_list(
              when(col("ndocs") <= LineMaxDocs, struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n")).as("kept_md5"))
      .orderBy("doc_id")
  }

  private val lineDedupSql: String =
    s"""WITH lines AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS pos,
       |         'nav home about contact v' || CAST(doc_id % 3 AS VARCHAR) AS line
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1, substr(text, 1, length(text) // 2) FROM documents
       |  UNION ALL
       |  SELECT doc_id, 2, substr(text, length(text) // 2 + 1, length(text)) FROM documents
       |  UNION ALL
       |  SELECT doc_id, 3, 'copyright footer y' || CAST(doc_id % 2 AS VARCHAR) FROM documents
       |), hashed AS (
       |  SELECT doc_id, pos, line, md5(line) AS h FROM lines
       |), freq AS (
       |  SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs FROM hashed GROUP BY h
       |)
       |SELECT doc_id,
       |       CAST(sum(CASE WHEN ndocs <= $LineMaxDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN ndocs > $LineMaxDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       md5(coalesce(string_agg(CASE WHEN ndocs <= $LineMaxDocs THEN line END, chr(10) ORDER BY pos), ''))
       |         AS kept_md5
       |FROM hashed JOIN freq USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** [[corpusDiff]] Hamming budget separating a touched-up page from a
    * rewrite: 16 of 64 simhash bits (set well inside the measured gap —
    * the planted minor edit moves ≤ a few bits, the vocabulary swap
    * moves ~half). */
  private val DiffMinorMax = 16L

  /** Crawl-refresh delta classification — the first question a periodic
    * web crawl answers before any recrawl-budget or dedup decision:
    * which pages are NEW, REMOVED, byte-identical (`unchanged`),
    * touched-up (`changed_minor`: simhash Hamming ≤ [[DiffMinorMax]])
    * or rewritten (`changed_major`)? The second crawl is synthesized
    * deterministically from the fixture (the pii_redact convention):
    * doc_id ≡ 3 (mod 17) pages vanish, ≡ 5 gain a two-word edit, ≡ 7
    * are rewritten with disjoint vocabulary, ≡ 9 spawn a brand-new
    * page; everything else is untouched, and the GENERIC
    * hash-and-distance rule recovers exactly that planting.
    *
    * Scale shape: each crawl reduces per-row to (doc_id, md5, simhash)
    * — 24 bytes/page at scan speed, the codegen'd [[simhashMd5]]
    * kernel — BEFORE the single doc_id-keyed full-outer join, so two
    * 100 TB crawls diff at the cost of shuffling their fingerprint
    * tables, never text. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def sig(df: DataFrame): DataFrame = df.select(col("doc_id"),
      md5(col("text")).as("fp"),
      simhashMd5(filter(tokens(col("text")), t => t =!= "")).as("sh"))
    val crawl2 = base.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 5, concat(col("text"), lit(" updated minor")))
          .when(col("doc_id") % 17 === 7,
            concat(lit("renovated page content entirely rewritten edition "),
              col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      .unionByName(base.filter(col("doc_id") % 17 === 9)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("fresh crawl discovery "), col("doc_id").cast("string")).as("text")))
    sig(base).select(col("doc_id"), col("fp").as("fp1"), col("sh").as("sh1"))
      .join(sig(crawl2).select(col("doc_id"), col("fp").as("fp2"), col("sh").as("sh2")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp1").isNull, "new")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") === col("fp2"), "unchanged")
          .when(hamming64(col("sh1"), col("sh2")).cast("long") <= DiffMinorMax, "changed_minor")
          .otherwise("changed_major").as("status"),
        when(col("fp1").isNotNull && col("fp2").isNotNull,
          hamming64(col("sh1"), col("sh2")).cast("long")).as("hamming"))
      .orderBy("doc_id")
  }

  /** tokenize→sign→pack simhash CTE chain over `src(doc_id, text)` —
    * the dedup_simhash twin, prefixed so [[corpusDiff]] can run it per
    * crawl side. Ends at `${p}codes(doc_id, lo, hi)`. */
  private def simCtes(p: String, src: String): String =
    s"""${p}tok AS (
       |  SELECT doc_id, list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
       |                                t -> md5_number_lower(t)) AS hs
       |  FROM $src
       |), ${p}sigs AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, 63), b ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(hs, h -> 2 * CAST((h >> b) & 1 AS BIGINT) - 1)),
       |           (a, v) -> a + v) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bits
       |  FROM ${p}tok
       |), ${p}codes AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, 32), i -> bits[i] * (CAST(1 AS BIGINT) << (i - 1)))),
       |      (a, v) -> a + v) AS lo,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(33, 64), i -> bits[i] * (CAST(1 AS BIGINT) << (i - 33)))),
       |      (a, v) -> a + v) AS hi
       |  FROM ${p}sigs
       |)""".stripMargin

  private val corpusDiffSql: String =
    s"""WITH c1 AS (
       |  SELECT doc_id, text FROM documents
       |), c2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 17 = 5 THEN text || ' updated minor'
       |              WHEN doc_id % 17 = 7
       |                THEN 'renovated page content entirely rewritten edition ' || CAST(doc_id AS VARCHAR)
       |              ELSE text END AS text
       |  FROM documents WHERE doc_id % 17 <> 3
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |         'fresh crawl discovery ' || CAST(doc_id AS VARCHAR) AS text
       |  FROM documents WHERE doc_id % 17 = 9
       |), f1 AS (SELECT doc_id, md5(text) AS fp FROM c1),
       |f2 AS (SELECT doc_id, md5(text) AS fp FROM c2),
       |${simCtes("a", "c1")},
       |${simCtes("b", "c2")},
       |sides AS (
       |  SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
       |         l.fp AS fp1, r.fp AS fp2,
       |         la.lo AS lo1, la.hi AS hi1, rb.lo AS lo2, rb.hi AS hi2
       |  FROM f1 l
       |  FULL OUTER JOIN f2 r ON l.doc_id = r.doc_id
       |  LEFT JOIN acodes la ON la.doc_id = l.doc_id
       |  LEFT JOIN bcodes rb ON rb.doc_id = r.doc_id
       |)
       |SELECT doc_id,
       |       CASE WHEN fp1 IS NULL THEN 'new'
       |            WHEN fp2 IS NULL THEN 'removed'
       |            WHEN fp1 = fp2 THEN 'unchanged'
       |            WHEN bit_count(xor(hi1, hi2)) + bit_count(xor(lo1, lo2)) <= $DiffMinorMax
       |              THEN 'changed_minor'
       |            ELSE 'changed_major' END AS status,
       |       CASE WHEN fp1 IS NOT NULL AND fp2 IS NOT NULL
       |            THEN CAST(bit_count(xor(hi1, hi2)) + bit_count(xor(lo1, lo2)) AS BIGINT)
       |       END AS hamming
       |FROM sides ORDER BY doc_id""".stripMargin

  /** LSH banding candidate pairs from a (idCol, text) frame, verified by
    * exact set-jaccard.
    *
    * The signature is computed by the FUSED text→minhash kernels
    * (`MinHashCharGrams`/`MinHashWordGrams`): min over a multiset equals
    * min over its set, so the distinct-shingle arrays never exist on the
    * map side — the banding pass is one allocation-free byte walk per
    * row, and only (id, band, bandHash) rows enter the self-join
    * shuffle. The shingle SETS are built only at verification time, on
    * the (tiny) candidate pair set, where `jaccardDistinctCol` computes
    * the exact |∩|/(|A|+|B|-|∩|) rational both engines agree on
    * (array_intersect is O(n²) per pair; the codegen'd kernel is one
    * hash set).
    *
    * Only the band table is materialized (localCheckpoint — the
    * self-join reads it twice; at cluster scale this is the standard
    * materialized signature table of an LSH pipeline). The (id, text)
    * base is NOT: it is a pushed-down column scan both the banding pass
    * and the candidate re-attach read straight from the source.
    */
  /** rows with at least one shingle window (the signature's domain). */
  private def hasWindow(wordGrams: Boolean, n: Int): Column =
    if (wordGrams) size(split(col("text"), " ", -1)) >= n
    else length(col("text")) >= n

  /** (id, band, bandHash) rows from an (idCol, text) frame — the LSH
    * signature/band table. One allocation-free fused kernel pass per
    * row (`MinHashWordGrams`/`MinHashCharGrams`), NumBands output rows
    * per doc. This IS the artifact a production pipeline persists: at
    * 100 TB the index corpus's band table is written once and every
    * subsequent batch only joins against it ([[incrementalDedup]]). */
  private def bandTable(
      docs0: DataFrame, idCol: String, wordGrams: Boolean, n: Int): DataFrame = {
    val sig =
      if (wordGrams) minhashWordGramsCol(col("text"), n, NumHashes)
      else minhashCharGramsCol(col("text"), n, NumHashes)
    docs0.filter(hasWindow(wordGrams, n))
      .select(col(idCol), col("text"))
      .withColumn("sig", sig)
      .select(
        col(idCol),
        explode(transform(sequence(lit(0), lit(NumBands - 1)),
          j => struct(j.as("band"),
            xxhash64(slice(col("sig"), j * RowsPerBand + 1, lit(RowsPerBand)), j).as("bh"))))
          .as("b"))
      .select(col(idCol), col("b.band"), col("b.bh"))
  }

  /** Verify-stage task sizing: candidate rows per verify task. At the
    * measured ~25 µs/pair exact-jaccard cost this is ~0.6 s of CPU per
    * task — big enough to amortize scheduling, small enough that the
    * stage's parallelism tracks candidate VOLUME. */
  private val VerifyRowsPerTask = 25000L

  /** Catalyst's no-job input-size signal: the optimized plan's
    * `sizeInBytes` estimate (file-stat-derived for parquet scans,
    * propagated through union/project). Order-of-magnitude accurate,
    * which is all the [[SizeGateBytes]] gate needs. */
  private def statsBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Input-size gate for the verify-stage sizing job. BELOW it the
    * verify stage just uses `defaultParallelism` — NO sizing job at
    * all: at fixture scale the candidate volume is far under what
    * `defaultParallelism × VerifyRowsPerTask` absorbs, and the r17
    * unconditional checkpoint+count's ~0.5 s fixed cost was the only
    * >30% bench regression vs r15 (`ngram_jaccard` 1.54 → 2.11 s at
    * sf0.1). ABOVE it the EXACT candidate count sizes the stage — the
    * two extra jobs are noise at that scale, and exactness matters: a
    * jobless ΣC(c,2) bucket-stats upper bound was measured DOUBLING
    * prefix_jaccard at sf0.1 (it cannot see the PPJoin positional
    * filter, so it drove the verify exchange to the 4096-part cap;
    * the LSH variant overcounts band multiplicity up to NumBands=32×).
    * Measured stats at the gated callsites: ~0.5 MB at sf0.1,
    * ~3.9 MB at the 8× replica, ~15.8 MB at 32× — 2 MB keeps the
    * serving scale jobless and every probed multiplier exactly
    * sized. */
  private val SizeGateBytes = BigInt(2L << 20)

  /** Sizes the verify stage to the candidate volume. The candidate
    * pair set is ids-only (tiny BYTES) but each pair costs heavy CPU
    * downstream, so partitioning must track candidate ROWS: AQE
    * coalesces by bytes (blind to compute cost) and can only shrink
    * FROM the initial number — a fixed `defaultParallelism`
    * repartition was the round-16 `prefix_jaccard_join` knee (25 → 73
    * µs/row at 32×). Below the [[SizeGateBytes]] input gate this is
    * a plain floor-width repartition with no sizing job; above it the
    * checkpoint materializes the distinct pair set once and the exact
    * count sets the width.
    *
    * Returns the partition count too: the verify pipeline is TWO
    * attach joins (id_a then id_b) and the per-pair compute runs after
    * the SECOND one, so the caller must re-assert the sizing at the
    * id_b exchange as well — sizing only the candidate set leaves the
    * compute stage at the session default (the first, insufficient,
    * round-17 fix attempt: probe showed 32× unchanged at 211 s because
    * the intersect ran in the 16-partition post-join stage). */
  private def sizedForVerify(
      candidates: DataFrame, key: String, inputBytes: BigInt): (DataFrame, Int) = Checkpoints.scope { ck =>
    val floor = candidates.sparkSession.sparkContext.defaultParallelism
    if (inputBytes < SizeGateBytes) (candidates.repartition(floor, col(key)), floor)
    else {
      val ckpt = ck.ckpt(candidates)
      val parts = math.min(4096L,
        math.max(floor.toLong, (ckpt.count() + VerifyRowsPerTask - 1) / VerifyRowsPerTask)).toInt
      (ckpt.repartition(parts, col(key)), parts)
    }
  }

  private def lshCandidatesVerified(
      docs0: DataFrame, idCol: String,
      wordGrams: Boolean, n: Int, threshold: Double): DataFrame = Checkpoints.scope { ck =>
    // same row set the shingle-array pipeline kept: at least one window
    val base = docs0.filter(hasWindow(wordGrams, n)).select(col(idCol), col("text"))
    val bands = ck.ckpt(bandTable(docs0, idCol, wordGrams, n))
    // AQE would coalesce this small ids-only set to ~1 partition (it
    // coalesces by BYTES, blind to downstream compute cost) and the
    // whole verify stage would run single-threaded — the classic
    // small-bytes/heavy-cpu AQE misfire. sizedForVerify pins the verify
    // parallelism explicitly, scaled to the candidate count.
    val (candidates, verifyParts) = sizedForVerify(
      bands.as("l")
        .join(bands.as("r"),
          col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
            col(s"l.$idCol") < col(s"r.$idCol"))
        .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
        .distinct(),
      "id_a", statsBytes(docs0))
    def shinglesOf(t: Column): Column =
      if (wordGrams) wordShinglesDistinct(t, n) else charShinglesDistinct(t, n)
    // Verify attaches TEXTS to the pair set and rebuilds each side's
    // shingle set in the verify stage itself. Shipping text costs fewer
    // shuffle bytes than shipping prebuilt shingle arrays (a char-n-gram
    // array is ~n× its text), and shuffle volume — not CPU — is the
    // binding constraint at scale; the per-pair recompute is fully
    // parallel thanks to the repartition above.
    candidates
      .join(base.select(col(idCol).as("id_a"), col("text").as("ta")), "id_a")
      // the jaccard compute runs in the stage AFTER this second join —
      // re-assert the volume-scaled sizing at the id_b exchange so it
      // does not fall back to the session-default partition count
      .repartition(verifyParts, col("id_b"))
      .join(base.select(col(idCol).as("id_b"), col("text").as("tb")), "id_b")
      .withColumn("jaccard", jaccardDistinctCol(shinglesOf(col("ta")), shinglesOf(col("tb"))))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** MinHash + LSH banding near-dup pairs, verified by exact jaccard. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    lshCandidatesVerified(nearDupCorpus(spark, dir), "doc_id",
      wordGrams = true, n = 3, JaccardThreshold)

  /** Incremental (cross-corpus) near-dedup: flag each document of a NEW
    * batch that near-duplicates the STANDING corpus, without touching
    * the standing corpus's text. This is the shape every growing
    * training corpus actually runs — each crawl snapshot is deduped
    * against the index built from all prior snapshots, not re-deduped
    * all-pairs — and it is asymmetric where [[dedupMinhash]] is
    * symmetric: index docs are never flagged, and index↔index pairs are
    * never formed.
    *
    * Scale shape: the index side enters ONLY as its persisted band
    * table ((id, band, bandHash) — NumBands rows/doc, built once,
    * appended as the corpus grows; here [[bandTable]] materialized via
    * `localCheckpoint` stands in for the stored table). A new batch
    * computes its own signatures map-side and equi-joins the index
    * bands on (band, bandHash); only bucket-collision pairs attach
    * texts for the exact-jaccard verify. Cost per batch is
    * O(batch·bands + collisions) regardless of index size; the 100 TB
    * standing corpus is never rescanned.
    *
    * Output: one row per batch doc — duplicate-match count, the flag,
    * and the first (min-id) matching index doc (NULL when none; batch
    * docs too short to carry a signature window are kept with the same
    * NULL shape, mirrored by the oracle). The DuckDB oracle is the
    * brute-force batch×index jaccard join, so the hash-match also
    * re-proves LSH recall 1.0 at these parameters on the cross pairs. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val corpus = nearDupCorpus(spark, dir)
    val index  = corpus.filter(col("doc_id") < 1000000L)
    val batch  = corpus.filter(col("doc_id") >= 1000000L)
    val n      = 3
    // the standing corpus's stored artifact: its band table
    val indexBands = ck.ckpt(bandTable(index, "doc_id", wordGrams = true, n = n)
      .withColumnRenamed("doc_id", "index_id"))
    val batchBands = bandTable(batch, "doc_id", wordGrams = true, n = n)
    val candidates = batchBands
      .join(indexBands, Seq("band", "bh"))
      .select(col("doc_id"), col("index_id"))
      .distinct()
      // lshCandidatesVerified's AQE note: the ids-only candidate set is
      // tiny in bytes but verify is CPU-heavy — pin its parallelism
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val verified = candidates
      .join(batch.select(col("doc_id"), col("text").as("tb")), "doc_id")
      .join(index.select(col("doc_id").as("index_id"), col("text").as("ti")), "index_id")
      .withColumn("jaccard",
        jaccardDistinctCol(wordShinglesDistinct(col("tb"), n), wordShinglesDistinct(col("ti"), n)))
      .filter(col("jaccard") >= JaccardThreshold)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dups"), min("index_id").as("first_dup"))
    batch.select(col("doc_id"))
      .join(verified, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) > 0).as("is_dup"),
        col("first_dup"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup: 64-bit signature per doc (map-side, codegen'd),
    * candidates via 16-bit chunk collision, verified by exact hamming
    * distance ≤ 3. Pigeonhole over the 4 chunks makes this EXACT: 3
    * differing bits can touch at most 3 chunks, so every hamming≤3 pair
    * shares at least one chunk and is found — the output equals the
    * brute-force all-pairs hamming≤3 set the DuckDB oracle computes
    * (token hash = last-8-md5-bytes LE, recomputable in SQL). At scale
    * the chunk index costs ~4 shuffle rows/doc vs the impossible O(n²).
    */
  val SimhashMaxHamming = 3

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val hashed = ck.ckpt(nearDupCorpus(spark, dir)
      .withColumn("sh", simhashMd5(filter(tokens(col("text")), t => t =!= ""))))
      // materialized: feeds both sides of the self-join (see
      // lshCandidatesVerified for the rationale)
    val chunks = hashed.select(
      col("doc_id"), col("sh"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("chunk"),
          shiftrightunsigned(col("sh"), 16 * j).bitwiseAND(lit(0xFFFFL)).as("ck"))): _*))
        .as("c"))
      .select(col("doc_id"), col("sh"), col("c.chunk"), col("c.ck"))
    val l = chunks.as("l")
    val r = chunks.as("r")
    l.join(r,
        col("l.chunk") === col("r.chunk") && col("l.ck") === col("r.ck") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        col("l.sh").as("ha"), col("r.sh").as("hb"))
      .distinct()
      .withColumn("hamming", hamming64(col("ha"), col("hb")).cast("long"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** character-5-gram jaccard near-dup on a corpus slice. The DuckDB
    * oracle is the brute-force O(n²) join; here the candidate set comes
    * from the same MinHash-LSH banding as dedup_minhash (over char-grams)
    * and candidates are verified with exact jaccard — at these
    * parameters (128 hashes, 32×4 bands, pairs sitting at j≥0.75) LSH
    * recall is effectively 1, so the output equals the brute force at
    * ~linear cost. This *is* the 100 TB shape; the oracle proves it
    * exact at oracle scale. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir).filter(col("doc_id") % 5 === 0)
    lshCandidatesVerified(corpus, "doc_id", wordGrams = false, n = 5, 0.7)
  }

  /** [[prefixJaccardJoin]] threshold, as the rational 9/10 so both the
    * prefix lengths and the final test are pure integer arithmetic.
    * 9/10 and not ngram_jaccard's 0.7: word SETS of the synthetic
    * corpus overlap far more than char-5 shingle sets (probe at 0.7:
    * 32% of ALL pairs qualified — a result set quadratic in the corpus
    * is the operator answering a badly-posed question, not a plan
    * defect; the tight threshold also keeps the prefixes short, which
    * is where the algorithm's selectivity lives). */
  private val PjNum = 9L
  private val PjDen = 10L

  /** EXACT set-similarity self-join via prefix filtering (AllPairs /
    * PPJoin, Bayardo et al. 2007 / Xiao et al. 2008) — the
    * deterministic-recall complement to [[ngramJaccard]]'s LSH path:
    * instead of probabilistic banding, each doc's DISTINCT word set is
    * globally ordered rarest-token-first and only its first
    * |x| − ⌈t·|x|⌉ + 1 tokens are indexed; the prefix-filter theorem
    * guarantees two sets with jaccard ≥ t share at least one PREFIX
    * token under any consistent global order, so candidate generation
    * is a plain equi-join on prefix tokens with recall EXACTLY 1 — the
    * brute-force oracle proves it, not an ε-bound. Verified pairs test
    * 10·|∩| ≥ 7·|∪| in pure integers; jaccard ships as exact micros.
    *
    * Scale shape: the rarest-first rank is a vocabulary-sized window
    * (string_index convention); prefix rows are ≈30% of tokens and
    * rare by construction, so the equi-join fan-out is the prefix
    * index's collision mass, not n² (rarest-first is the ordering that
    * minimizes it) — AND each colliding (token, position) pair must
    * additionally pass the PPJoin positional filter before it becomes
    * a candidate: min(pa,pb) + 1 + min(|a|−pa−1, |b|−pb−1) is an upper
    * bound on the overlap of a pair sharing a token at prefix
    * positions (pa, pb), and jaccard ≥ t needs overlap ≥
    * ⌈t/(1+t)·(|a|+|b|)⌉, so pairs that cannot reach the required
    * overlap never enter the shuffle (at pa=pb=0 this degenerates to
    * the classic length filter 10·min ≥ 9·max — subsumed). Recall
    * stays EXACTLY 1: for a qualifying pair the bound holds at its
    * first shared prefix token (Xiao et al. 2008, Lemma 1), and the
    * pair survives if ANY shared token passes. Measured at the 32×
    * probe this cut the candidate set 54.8M → the qualifying
    * neighborhood, which is what the distinct/verify stages then pay
    * for. Verification re-attaches the two rank arrays to the
    * candidate set only, at a partition count scaled to the measured
    * candidate volume ([[sizedForVerify]]). Same corpus/subset as
    * ngram_jaccard. */
  def prefixJaccardJoin(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val corpus = nearDupCorpus(spark, dir).filter(col("doc_id") % 5 === 0)
    val toksed = corpus
      .select(col("doc_id"),
        array_distinct(filter(split(col("text"), " "), x => x =!= "")).as("ts"))
      .filter(size(col("ts")) > 0)
    val rank = toksed.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .withColumn("r",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c"), col("tok"))).cast("long"))
      .select("tok", "r")
    // feeds the prefix explode and both verify sides
    val ranked = ck.ckpt(toksed.select(col("doc_id"), explode(col("ts")).as("tok"))
      .join(rank, "tok")
      .groupBy("doc_id").agg(sort_array(collect_list(col("r"))).as("rs")))
    // (doc, size, prefix-position, prefix-token): position feeds the
    // positional filter below
    val pref = ranked.select(col("doc_id"), size(col("rs")).cast("long").as("sz"),
      posexplode(expr(
        s"slice(rs, 1, CAST(size(rs) - (($PjNum * size(rs) + ${PjDen - 1}) div $PjDen) + 1 AS INT))"))
        .as(Seq("pos", "p")))
    // required overlap: jaccard >= 9/10  <=>  19*inter >= 9*(sza+szb)
    //   <=>  inter >= ceil(9*(sza+szb)/19)
    val alpha = expr(
      s"CAST(($PjNum * (l.sz + r.sz) + ${PjNum + PjDen - 1}) div ${PjNum + PjDen} AS BIGINT)")
    val ubound = least(col("l.pos"), col("r.pos")).cast("long") + lit(1L) +
      least(col("l.sz") - col("l.pos") - 1L, col("r.sz") - col("r.pos") - 1L)
    // same AQE small-bytes/heavy-cpu note as lshCandidatesVerified —
    // and the verify cost here (array_intersect over full rank arrays)
    // is the heaviest per-pair in the module, so the volume-scaled
    // sizing matters most: the fixed-parallelism form was the measured
    // round-16 knee (25 → 73 µs/row at 32×)
    val (candidates, verifyParts) = sizedForVerify(
      pref.as("l")
        .join(pref.as("r"),
          col("l.p") === col("r.p") && col("l.doc_id") < col("r.doc_id") &&
            ubound >= alpha)
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
        .distinct(),
      "id_a", statsBytes(corpus))
    candidates
      .join(ranked.select(col("doc_id").as("id_a"), col("rs").as("ra")), "id_a")
      // the intersect compute runs after the SECOND attach join — size
      // that exchange to candidate volume too (see sizedForVerify doc)
      .repartition(verifyParts, col("id_b"))
      .join(ranked.select(col("doc_id").as("id_b"), col("rs").as("rb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ra"), col("rb"))).cast("long").as("inter"),
        (size(col("ra")) + size(col("rb"))).cast("long").as("szsum"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("szsum") - col("inter")).as("uni"))
      .filter(col("inter") * PjDen >= col("uni") * PjNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        expr("CAST((CAST(inter AS DECIMAL(38,0)) * 1000000) div uni AS BIGINT)")
          .as("jac_micros"))
      .orderBy("id_a", "id_b")
  }

  // lazy: corpusSql is declared further down the object body
  private lazy val prefixJaccardSql: String =
    s"""WITH $corpusSql, toksed AS (
       |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS ts
       |  FROM corpus WHERE doc_id % 5 = 0
       |), t2 AS (SELECT doc_id, ts FROM toksed WHERE len(ts) > 0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
       |       CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni,
       |       CAST((CAST(len(list_intersect(a.ts, b.ts)) AS HUGEINT) * 1000000)
       |            // (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS BIGINT)
       |         AS jac_micros
       |FROM t2 a JOIN t2 b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.ts, b.ts)) * $PjDen >=
       |      (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) * $PjNum
       |ORDER BY id_a, id_b""".stripMargin

  /** embedding-cosine near-dup: corpus = embeddings ∪ exact copies
    * (id + 1,000,000); pairs with cosine ≥ 0.99 (random pairs max ≈0.4
    * in the fixtures, copies are exactly 1 — wide safety margin).
    *
    * Scale shape: multi-table sign-LSH candidates + exact-cosine verify.
    * `NeardupTables` independent 8-plane bucket codes are computed
    * map-side (codegen'd DotProductF); only (table, code, id) rows enter
    * the self-join shuffle, embeddings re-attach to the (tiny) candidate
    * pair set, and the codegen'd cosine keeps exact pairs only. No
    * driver-side corpus materialization, no O(n²) pair set.
    *
    * Recall: identical vectors (the fixtures' qualifying pairs — random
    * pairs sit at ≤~0.4) collide in every table, so recall is exactly 1
    * here, proven by the brute-force DuckDB oracle. For genuinely
    * near-but-unequal pairs at cos ≥ 0.99 (angle ≤ 8.1°), a single
    * 8-plane table misses with p≈0.31; six independent tables cut that
    * to ≈0.1% — the standard recall/cost dial of multi-table LSH.
    */
  val NeardupTables = 6
  /** plane-family offset keeping these tables independent of ann_lsh's. */
  private val NeardupPlaneBase = 100

  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val corpus = ck.ckpt(base.union(
      base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))))
      // feeds the bucket explode and both candidate re-attach joins
    val buckets = corpus.select(
      col("vec_id"),
      posexplode(array((0 until NeardupTables).map(t =>
        Similarity.bucketCode(col("embedding"),
          NeardupPlaneBase + t * Similarity.NumPlanes)): _*)).as(Seq("t", "code")))
    val candidates = buckets.as("l")
      .join(buckets.as("r"),
        col("l.t") === col("r.t") && col("l.code") === col("r.code") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"))
      .distinct()
    candidates
      .join(corpus.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
      .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
      .withColumn("cos", round(VectorFunctions.cosine(col("ea"), col("eb")), 4))
      .filter(col("cos") >= 0.99)
      .select("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  /** Duplicate-cluster formation: connected components over the near-dup
    * pair graph (the stage after pair detection in a real dedup
    * pipeline — clusters get one representative, the min doc_id).
    * Iterative min-label propagation on DataFrames: each round joins
    * labels across edges and keeps the minimum; converges in
    * O(cluster diameter) rounds (driver loop, checkpointed per round —
    * the standard large-scale CC shape, cf. small-star/large-star).
    * Oracle: recursive-CTE transitive closure over the same
    * (brute-force) pair set.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .groupBy("rep")
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("rep").as("cluster_rep"), col("cluster_size"))
      .orderBy("cluster_rep")

  /** Duplicate-cluster size profile — the operational report a dedup
    * run ships: one row per power-of-two cluster-size octave
    * (octave = bit length of size − 1, the zipf_profile exact-integer
    * bucketing; octave 0 = singletons) with cluster and document
    * counts. Answers "is duplication a few huge template families or
    * many small pairs?" — which decides whether keep-best needs a
    * skew treatment. Rides the memoized [[clusterLabels]] (no second
    * CC run); singletons are the corpus remainder, one count each. */
  def dupClusterProfile(spark: SparkSession, dir: String): DataFrame = {
    val sizes = clusterLabels(spark, dir)
      .groupBy("rep").agg(count(lit(1)).as("sz"))
    val prof = sizes
      .groupBy((length(bin(col("sz"))) - 1).cast("long").as("octave"))
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
    val total = nearDupCorpus(spark, dir).agg(count(lit(1)).as("n"))
    val inClusters = sizes.agg(coalesce(sum("sz"), lit(0L)).as("s"))
    val singletons = total.crossJoin(inClusters)
      .select(lit(0L).as("octave"), (col("n") - col("s")).as("n_clusters"),
        (col("n") - col("s")).as("n_docs"))
    prof.unionAll(singletons).orderBy("octave")
  }

  /** SOFT dedup: keep EVERY document, downweight each by its near-dup
    * cluster size — the training-mixture alternative to
    * [[dedupClusterKeepBest]] dropping n−1 of every n-clone family
    * (SlimPajama-style hard dedup loses paraphrase diversity; the soft
    * form preserves it while keeping each content family's total
    * sampling mass at one document's worth: weight = ⌊10⁶/size⌋
    * micros, singletons at exactly 10⁶). The output is the per-doc
    * weight table a deterministic sampler ([[Curation.weightedSample]]
    * shape) multiplies into its keys.
    *
    * Scale shape: rides the memoized [[clusterLabels]] table (no
    * second CC run — the dedup_clusters convention); one size rollup
    * on the rep key, one re-attach join, and a left join back to the
    * corpus id scan for the singleton rows. Nothing here ever touches
    * text. */
  def dedupSoftWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val sizes  = labels.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
    val lbl = labels.join(sizes, "rep")
      .select(col("id").as("doc_id"), col("rep"), col("cluster_size"))
    nearDupCorpus(spark, dir).select(col("doc_id"))
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("cluster_rep"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_micros",
        expr("CAST(1000000 div cluster_size AS BIGINT)"))
      .orderBy("doc_id")
  }

  private lazy val dedupSoftWeightsSql: String =
    s"""WITH RECURSIVE $corpusSql, $shingleSql,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
       |),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |),
       |lbl AS (
       |  SELECT src AS id, least(src, min(dst)) AS rep FROM reach GROUP BY src
       |),
       |sz AS (
       |  SELECT rep, CAST(count(*) AS BIGINT) AS cluster_size FROM lbl GROUP BY rep
       |)
       |SELECT c.doc_id,
       |  coalesce(l.rep, c.doc_id) AS cluster_rep,
       |  coalesce(s.cluster_size, 1) AS cluster_size,
       |  CAST(1000000 // coalesce(s.cluster_size, 1) AS BIGINT) AS weight_micros
       |FROM corpus c
       |LEFT JOIN lbl l ON l.id = c.doc_id
       |LEFT JOIN sz s ON s.rep = l.rep
       |ORDER BY c.doc_id""".stripMargin

  /** Converged connected-component labels (id → rep = component min id)
    * over the MinHash near-dup pair graph — the shared core of
    * [[dedupClusters]] (cluster census) and [[dedupClusterKeepBest]]
    * (per-cluster representative selection). Covers only ids that
    * appear in at least one near-dup pair; singleton docs are their own
    * cluster and are re-attached by the caller.
    *
    * An [[Artifacts]] memo: in a real pipeline the labels are a
    * materialized TABLE that both the cluster census and the
    * representative selection read — re-running pair detection + label
    * propagation per consumer would be pure duplicated work. */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    Artifacts.memo(spark, ("cluster_labels", dir))(_ => computeClusterLabels(spark, dir))

  private def computeClusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhash(spark, dir).select("id_a", "id_b")
    ccOn(pairs.union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst"), directHandle = true) // one materialized label table
  }

  /** Connected-component representatives over a SYMMETRIC (src, dst)
    * edge table — the label-propagation loop shared by the minhash
    * cluster labels and [[entityResolve]]'s fuzzy-match graph. Generic
    * over the id type: `least`/`min` order longs numerically and
    * strings lexicographically, so components converge on their minimum
    * id either way. Returns (id, rep) for nodes WITH at least one edge;
    * singletons are the caller's left-join concern. */
  private[graft] def ccOn(edges0: DataFrame, maxIters: Int = 20,
                          directHandle: Boolean = false): DataFrame = Checkpoints.scope { ck =>
    // (round-21 note: a lazy-block variant of this loop — self-loop
    // edges + geometric blocks of un-checkpointed rounds — was built
    // and MEASURED SLOWER on both deep and shallow consumers (dbscan
    // 3.8 → 4.9 s, entity_resolve 1.8 → 2.2 s at sf0.1): the eager
    // per-round shape lets AQE broadcast the node-sized label table
    // every round so the edge table never re-shuffles, which beats the
    // saved barriers. Kept as the measured winner.)
    val edges = ck.ckpt(edges0)
    // init = identity fused with the first propagation round: rep0 =
    // min(id, min neighbor). Star components centered on their min id —
    // the dominant shape of a near-dup pair graph — converge right here,
    // so the loop's first pass is already the convergence check.
    var labels = ck.ckpt(edges
      .groupBy("src")
      .agg(least(col("src"), min(col("dst"))).as("rep"))
      .select(col("src").as("id"), col("rep")))
    var iter     = 0
    var changed  = 1L
    // the checkpoint HANDLE behind `labels` (from round 1 on, labels is
    // a rename view Scope.free can't reach)
    var labelsCkpt = labels
    while (changed > 0 && iter < maxIters) {
      // candidate labels from neighbors; keep the min of (own, neighbors').
      // Checkpoint the round's join+groupBy ONCE; both the convergence
      // count and the next labels read the materialized result (the
      // count-then-eager-checkpoint pair used to evaluate it twice —
      // the round-2 1.4× bench regression).
      val next = ck.ckpt(edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("rep").as("nbr_rep"))
        .join(labels, "id")
        .select(col("id"), least(col("rep"), col("nbr_rep")).as("new_rep"), col("rep")))
      changed = next.filter(col("new_rep") < col("rep")).count()
      val prevCkpt = labelsCkpt
      labels = next.select(col("id"), col("new_rep").as("rep"))
      labelsCkpt = next
      ck.free(prevCkpt) // next is materialized; old round is dead
      iter += 1
    }
    // a component with diameter > maxIters would get wrong representatives;
    // fail loudly rather than return a silently-partial clustering.
    if (changed > 0)
      throw new IllegalStateException(
        s"clusterLabels: label propagation did not converge in $maxIters rounds " +
          s"($changed labels still changing) — raise maxIters for deeper components")
    // directHandle (the memoized clusterLabels path) pays ONE extra
    // node-sized checkpoint so the artifact holds a compact (id, rep)
    // table, not the wider round table; single-use lazy consumers
    // (dbscan, entity_resolve) keep the barrier-free view (cold A/B: the
    // unconditional extra barrier cost entity_resolve ~8% for nothing)
    if (directHandle) ck.ckpt(labels) else labels
  }

  /** Per-CLUSTER keep-best — the composition real dedup pipelines run
    * after pair detection: every document lands in its connected
    * component (singletons included), and each cluster keeps its
    * highest-quality member. Quality is the same packed
    * length-then-lower-id score as [[dedupKeepBest]] (which groups on a
    * heuristic prefix key; this groups on the ACTUAL near-dup clusters
    * from [[clusterLabels]]). Scale shape: the labels table is
    * near-dup-members only — orders of magnitude smaller than the
    * corpus — so the left join broadcasts it, and the groupBy shuffle
    * carries (rep, id, score), never text. Oracle: the recursive-CTE
    * transitive closure + arg_max over the same corpus. */
  def dedupClusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
      .select(col("id").as("doc_id"), col("rep"))
    val score = length(col("text")).cast("long") * 10000000L + (lit(10000000L) - col("doc_id"))
    nearDupCorpus(spark, dir)
      .select(col("doc_id"), score.as("score"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("cluster_rep"), col("score"))
      .groupBy("cluster_rep")
      .agg(
        max_by(col("doc_id"), col("score")).as("keep_id"),
        count(lit(1)).as("cluster_size"))
      .orderBy("cluster_rep")
  }

  /** corpus construction as SQL, shared by the near-dup oracles. */
  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         array_to_string(list_slice(string_split(text, ' '), 1,
      |           greatest(1, CAST(floor(len(string_split(text, ' ')) * 0.8) AS INT))), ' ') AS text
      |  FROM documents
      |)""".stripMargin

  private val shingleSql =
    """shingled AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, len(string_split(text, ' ')) - 2),
      |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
      |  FROM corpus
      |  WHERE len(string_split(text, ' ')) >= 3
      |)""".stripMargin

  /** gram length (code points) for exact-substring duplication. */
  val GramLen = 30

  /** Exact-substring duplication detection — the span-level complement
    * of the document-level dedups above (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": memorization comes
    * from repeated SPANS, which whole-document near-dup misses). Every
    * `GramLen`-code-point span is fingerprinted and spans whose
    * fingerprint occurs in ≥2 distinct documents are flagged; output is
    * per-document span/duplicated-span counts and the duplication
    * ratio.
    *
    * Scale shape: gram fingerprinting is ONE codegen'd O(n)
    * sliding-window pass per row (`GramHashes` — not n O(L) re-folds),
    * and text never leaves the scan: the explode emits (doc_id, hash)
    * long pairs, the docs-per-hash count is a two-level aggregation
    * (distinct, then count — both partial-aggregated), and the per-doc
    * roll-up joins flags back on the 8-byte hash. 100 TB of text
    * reduces to ~#positions longs before the first shuffle.
    *
    * Fingerprint collisions (two different spans, one 31-base poly hash
    * mod 1e9+7) are the documented approximation; the oracle computes
    * the identical hash, so the comparison is still exact. */
  def substringDup(spark: SparkSession, dir: String): DataFrame =
    substringDupOn(Tables.documents(spark, dir).select("doc_id", "text"), GramLen)

  /** Span-duplication over an arbitrary (doc_id, text) table — split out
    * so specs can drive it with hand-planted duplicate spans.
    *
    * Shuffle economics: per-position totals come from a map-side
    * `size()` (no shuffle at all); the position stream reduces to
    * (doc, hash, count) in its FIRST exchange (partial-agg dedup);
    * "shared by ≥2 docs" is min(doc)≠max(doc) over that already-reduced
    * table — cheaper than a count-distinct, which would need its own
    * (hash, doc) dedup exchange first — and the flag joins back against
    * the reduced pairs, not the raw position stream. */
  def substringDupOn(docs: DataFrame, l: Int): DataFrame = {
    val dh = docs.select(col("doc_id"), explode(gramHashesCol(col("text"), l)).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    // "shared by ≥2 docs" as a FINE-grained window over the hash (each
    // h group is a handful of docs), not a groupBy(h) + join-back: the
    // join form consumes dh twice, so the corpus-sized explode + first
    // aggregation either recomputes (the 64x probe measured that as a
    // superlinear knee — 10.7 s at 32x -> 97 s at 64x, hash-agg spill
    // paid twice) or materializes ~#positions rows (a 6 GB block-store
    // working set at 64x). The window is one sort-based pass over the
    // same h-keyed exchange the groupBy needed anyway — no second
    // compute, no stored table, spill-graceful (sort, not hash map).
    val w = Window.partitionBy("h")
    val dupPerDoc = dh
      .withColumn("mn", min("doc_id").over(w))
      .withColumn("mx", max("doc_id").over(w))
      .filter(col("mn") =!= col("mx"))
      .groupBy("doc_id").agg(sum("c").as("dup_spans"))
    docs.select(col("doc_id"), size(gramHashesCol(col("text"), l)).cast("long").as("n_grams"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(coalesce(col("dup_spans"), lit(0L)).cast("double") / col("n_grams"), 6))
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  private val substringDupSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, i AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(CAST(i AS INT), CAST(i AS INT) + ${GramLen - 1}),
       |        j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - ${GramLen - 1})) AS i)
       |  WHERE length(text) >= $GramLen
       |), flags AS (
       |  SELECT h, count(DISTINCT doc_id) AS n_docs FROM grams GROUP BY h
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(g.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(g.dup_spans, 0) AS BIGINT) AS dup_spans,
       |  CASE WHEN coalesce(g.n_grams, 0) = 0 THEN 0.0
       |       ELSE round(CAST(g.dup_spans AS DOUBLE) / g.n_grams, 6) END AS dup_ratio
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id, count(*) AS n_grams,
       |         sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS dup_spans
       |  FROM grams gr JOIN flags f ON gr.h = f.h GROUP BY doc_id
       |) g ON d.doc_id = g.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Arbitrary-length EXACT duplicated-span extraction — the
    * deduplicate-text-datasets ExactSubstr operator (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * where [[substringDup]] COUNTS duplicated fixed windows per doc,
    * this emits the maximal duplicated spans THEMSELVES — per
    * document, every maximal run of positions whose
    * [[GramLen]]-code-point window occurs at ≥2 distinct (doc, pos)
    * sites in the corpus (self-repeats included, the Lee et al.
    * convention), merged gaps-and-islands style into
    * (span_start, span_len) ranges. A span duplicated as a whole has
    * every window duplicated, so recall over true duplicated spans of
    * length ≥ GramLen is exact; chained overlaps can merge adjacent
    * duplicated regions (the documented ExactSubstr over-merge — the
    * merged range is still 100% covered by duplicated windows).
    * Corpus: [[containCorpus]] — every doc plus its mid-slice copy,
    * so arbitrary-length planted spans exist by construction.
    *
    * Scale shape (the paper's suffix array, distributed): text
    * reduces to (doc_id, pos, h) longs in ONE codegen'd rolling-hash
    * pass ([[gramHashesCol]] — fixed-width prefix grouping via hash
    * stands in for the lexicographic suffix sort; within-group
    * extension is the island merge); the duplicated flag is
    * count ≥ 2 over the h-keyed window (one sort-exchange, the
    * substring_dup one-pass convention — no join-back, no second
    * corpus consumption); the island merge is a doc-keyed window over
    * the SURVIVING duplicated positions only. No text ever enters a
    * shuffle. Hash collisions are the documented approximation; the
    * oracle computes the identical hash, so the gate stays exact. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOn(containCorpus(spark, dir), GramLen)

  /** Span extraction over an arbitrary (doc_id, text) table — split
    * out so specs can drive it with hand-planted duplicate spans. */
  private[graft] def dupSpansOn(docs: DataFrame, l: Int): DataFrame = {
    val pos = docs
      .select(col("doc_id"), posexplode(gramHashesCol(col("text"), l)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1L).as("pos"), col("h"))
    val dup = pos
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") >= 2)
    dup
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") - min("pos") + l).cast("long").as("span_len"))
      .select("doc_id", "span_start", "span_len")
      .orderBy("doc_id", "span_start")
  }

  /** [[dupSpanReport]] size. */
  val SpanReportK = 20

  /** Corpus-wide TOP-DUPLICATED-SPANS report — the memorization-risk
    * table a dedup pipeline prints before training (Lee et al. 2022's
    * most-memorized-strings analysis): the [[SpanReportK]] most
    * frequent [[GramLen]]-code-point windows across the RAW documents
    * table (natural repetition only — no constructed copies), each
    * with its occurrence count, distinct-document count, a
    * deterministic sample site (min doc, then min pos within it) and
    * the literal span text. Ordered by count desc with the window
    * hash as tiebreak.
    *
    * Scale shape: the corpus reduces to (doc_id, pos, h) longs in the
    * one codegen'd rolling-hash pass; a two-level aggregation
    * ((h, doc) → (h)) is partial-aggregated at both levels, the top-K
    * is a TakeOrdered (per-partition top-K, merge — no full sort),
    * and the sample-site/text attach joins touch only the K winner
    * rows (broadcast-sized). Text appears in no corpus-wide shuffle —
    * only the K sampled substrings are ever extracted. */
  def dupSpanReport(spark: SparkSession, dir: String): DataFrame =
    dupSpanReportOn(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      GramLen, SpanReportK)

  /** Report over an arbitrary (doc_id, text) table — split out so
    * specs can drive it with hand-planted repeats. */
  private[graft] def dupSpanReportOn(docs: DataFrame, l: Int, k: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"), posexplode(gramHashesCol(col("text"), l)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1L).as("pos"), col("h"))
    val perDoc = grams.groupBy("h", "doc_id")
      .agg(count(lit(1)).as("cnt"), min("pos").as("pos_min"))
    val top = perDoc.groupBy("h")
      .agg(sum("cnt").as("n_occ"), count(lit(1)).as("n_docs"),
        min("doc_id").as("sample_doc"))
      .filter(col("n_occ") >= 2)
      .orderBy(col("n_occ").desc, col("h"))
      .limit(k)
    top
      .join(perDoc.select(col("h"), col("doc_id").as("sample_doc"), col("pos_min")),
        Seq("h", "sample_doc"))
      .join(docs.select(col("doc_id").as("sample_doc"), col("text")), "sample_doc")
      .select(col("h"), col("n_occ"), col("n_docs"), col("sample_doc"),
        col("pos_min").as("sample_pos"),
        expr(s"substring(text, CAST(pos_min AS INT), $l)").as("span_text"))
      .orderBy(col("n_occ").desc, col("h"))
  }

  private val dupSpanReportSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, i AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(CAST(i AS INT), CAST(i AS INT) + ${GramLen - 1}),
       |        j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - ${GramLen - 1})) AS i)
       |  WHERE length(text) >= $GramLen
       |), per_doc AS (
       |  SELECT h, doc_id, count(*) AS cnt, min(pos) AS pos_min
       |  FROM grams GROUP BY h, doc_id
       |), top AS (
       |  SELECT h, CAST(sum(cnt) AS BIGINT) AS n_occ,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         min(doc_id) AS sample_doc
       |  FROM per_doc GROUP BY h
       |  HAVING sum(cnt) >= 2
       |  ORDER BY n_occ DESC, h LIMIT $SpanReportK
       |)
       |SELECT t.h AS h, t.n_occ, t.n_docs, t.sample_doc,
       |       CAST(p.pos_min AS BIGINT) AS sample_pos,
       |       substr(d.text, CAST(p.pos_min AS INT), $GramLen) AS span_text
       |FROM top t
       |JOIN per_doc p ON p.h = t.h AND p.doc_id = t.sample_doc
       |JOIN documents d ON d.doc_id = t.sample_doc
       |ORDER BY n_occ DESC, t.h""".stripMargin

  private val dupSpansSql: String =
    s"""WITH toksed AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    array_to_string(w[greatest(1, CAST(floor(len(w) * 0.2) AS INT)) :
       |      greatest(1, CAST(floor(len(w) * 0.2) AS INT)) +
       |      greatest(1, CAST(floor(len(w) * 0.5) AS INT)) - 1], ' ')
       |  FROM toksed
       |), grams AS (
       |  SELECT doc_id, i AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(CAST(i AS INT), CAST(i AS INT) + ${GramLen - 1}),
       |        j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
       |  FROM corpus, LATERAL (SELECT unnest(generate_series(1, length(text) - ${GramLen - 1})) AS i)
       |  WHERE length(text) >= $GramLen
       |), flagged AS (
       |  SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM grams
       |), isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM flagged WHERE c >= 2
       |)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |       CAST(max(pos) - min(pos) + $GramLen AS BIGINT) AS span_len
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin

  /** [[dupPairSpans]] parameters: minimum reported span length (two
    * window widths, so every reported pair shares an arbitrary-length
    * region strictly longer than the seed window) and the seed-gram
    * corpus-frequency cap bounding pair fan-out per site. */
  val PairSpanMin = 2 * GramLen
  val PairFreqCap = 32

  /** Maximal duplicated span PER DOCUMENT PAIR — the full
    * deduplicate-text-datasets ExactSubstr semantics (Lee et al. 2022:
    * report the longest shared span for each offending pair, not just
    * per-doc coverage like [[dupSpans]]): for every document pair
    * (x < y) sharing an exact code-point run of ≥ [[PairSpanMin]]
    * chars, emit the pair, the run's length, and its start offset in
    * BOTH documents. The suffix-automaton longest-match is computed
    * distributed: a shared [[GramLen]]-window seed match at (px, py)
    * lies on the DIAGONAL d = px − py, and a maximal common run of
    * length m contributes exactly m − GramLen + 1 consecutive seeds
    * on that one diagonal — so per-pair maximal spans are
    * gaps-and-islands runs per (x, y, d), the same merge [[dupSpans]]
    * does per doc, and the longest island IS the longest common
    * substring (≥ the window width) of the pair.
    *
    * Scale shape: text reduces to (doc_id, pos, h) longs in the one
    * codegen'd rolling-hash pass; seed matching is an h-keyed
    * self-EQUI-join restricted to grams with corpus frequency ≤
    * [[PairFreqCap]] via the h-keyed window count (the LpDegCap cut:
    * a boilerplate window shared by thousands of sites fans out
    * quadratically exactly where per-pair spans are least
    * informative — production ExactSubstr applies the same seed cap);
    * islands run per (x, y, d) — high-cardinality composite keys,
    * never a global window; the per-pair argmax is one
    * partial-aggregated max-struct with the deterministic tie-break
    * (longest, then smallest x_start, then smallest y_start). No text
    * enters any shuffle. Corpus: [[containCorpus]], so
    * arbitrary-length planted cross-doc spans exist by construction. */
  def dupPairSpans(spark: SparkSession, dir: String): DataFrame =
    dupPairSpansOn(containCorpus(spark, dir), GramLen, PairSpanMin, PairFreqCap)

  /** Gram-table rows per task for [[dupPairSpansOn]]'s volume-scaled
    * stages: the gram table is every text position (3 longs a row), so
    * at the session default partition count a grown corpus packs
    * GB-sized per-partition checkpoint blocks — the 256× probe OOM'd
    * on concurrent block puts at 16 partitions (sizing, not shape; the
    * LpAdjRowsPerTask lesson). ~4M rows ≈ 50 MB serialized blocks. */
  private val PairGramRowsPerTask = 4000000L

  /** Pair-span extraction over an arbitrary (doc_id, text) table —
    * split out so specs can drive it with hand-planted spans. */
  private[graft] def dupPairSpansOn(
      docs: DataFrame, l: Int, minLen: Int, cap: Int): DataFrame = {
    // volume-scaled parallelism. The exact gram count (Σ max(len−l+1,0))
    // is one full corpus scan paid on EVERY invocation — at small
    // volumes purely to learn that the 3-waves floor dominates anyway
    // (round-21 ADVICE). So first bound nPos from the optimizer's size
    // estimate: gram rows ≤ total text chars ≤ uncompressed bytes, and
    // the plan estimate is scan bytes × compression factor; ×8 covers
    // parquet text compression ratios with margin, and the skip
    // additionally demands a 4× band below the floor (round-22 ADVICE
    // fix: zstd/dictionary text can compress >8×, and a CBO
    // misestimate on a non-scan input must not silently
    // under-partition — with the band, skipping is safe to a combined
    // 32× underestimate). Skips are logged so under-partitioning is
    // observable, never silent.
    val floorParts = 3L * docs.sparkSession.sparkContext.defaultParallelism
    val nPosBound = docs.queryExecution.optimizedPlan.stats.sizeInBytes * 8
    val nPos =
      if (nPosBound / PairGramRowsPerTask <= floorParts / 4) {
        System.err.println(s"[dup_pair_spans] exact gram sizing skipped: " +
          s"plan-stats bound $nPosBound chars stays >=4x under the " +
          s"${floorParts}-task floor; gram stage runs at the floor")
        0L
      } else Option(docs
        .agg(sum(greatest(length(col("text")) - (l - 1), lit(0)))).first.get(0))
        .fold(0L)(_.asInstanceOf[Long])
    // both-bounded (the linkPredictOn pass-24 lesson): ≥3 waves of
    // tasks so a coarse straggler can't own the stage, volume-scaled
    // above that so the gram window's per-task sort state stays ~50 MB
    // (the gram table itself is no longer materialized — see below)
    val parts = math.min(4096L, math.max(
      floorParts,
      nPos / PairGramRowsPerTask)).toInt
    // ONE-pass STREAMING seed pairing (round 22, the standing r20
    // VERDICT item): the old shape checkpointed the gram table (3 longs
    // × every text position — the whole memory story, 7.1 GB
    // deserialized at 64× grown) and self-equi-joined it on h. That
    // double-read was priced as exchange-free on the belief that the
    // checkpoint carried its hash(h) partitioning — under AQE it does
    // NOT (UnknownPartitioning, the round-22 central finding), so BOTH
    // seed-join arms re-shuffled and re-sorted the suite's biggest
    // intermediate. After the h-keyed window count + cap filter (the
    // window bounds hot grams LINEARLY before anything fans out), the
    // rows are already hash(h)-partitioned AND h-sorted, so each
    // surviving gram is one contiguous ≤cap run: a sorted-run
    // mapPartitions (the Events.debounce secondary-sort pattern) emits
    // the cross-doc pairs with O(cap) state — no gram materialization,
    // no double-read, no aggregation. (A collect_list + array-explode
    // variant was probed first: +31% at sf0.1 but 3.5× SLOWER at the
    // 32× grown probe — ObjectHashAggregate buffers millions of
    // per-gram array groups per task and collapses into sort-fallback
    // spills exactly where the sizing math assumes streaming state.)
    // Pair emission is order-independent: every unordered cross-doc row
    // pair is emitted exactly once as (smaller doc, larger doc), so the
    // multiset equals the old a.h = b.h && a.doc < b.doc join's.
    val spark = docs.sparkSession
    import spark.implicits._
    val seeds = docs
      .select(col("doc_id"), posexplode(gramHashesCol(col("text"), l)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1L).as("pos"), col("h"))
      // the explicit repartition both sizes the stage and satisfies the
      // window's hash(h) distribution — no second exchange
      .repartition(parts, col("h"))
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") >= 2 && col("c") <= cap)
      .select(col("h"), col("doc_id"), col("pos"))
      // explicit, so the run invariant below never silently depends on
      // WindowExec's sort; RemoveRedundantSorts elides it (already true)
      .sortWithinPartitions("h")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Long)] {
          private val base = it.buffered
          private var out: Iterator[(Long, Long, Long, Long)] = Iterator.empty
          private def refill(): Unit = {
            while (!out.hasNext && base.hasNext) {
              val h = base.head._1
              val run = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
              while (base.hasNext && base.head._1 == h) {
                val r = base.next(); run += ((r._2, r._3))
              }
              val arr = run.toArray
              out = for {
                i <- arr.indices.iterator
                j <- arr.indices.iterator
                if arr(i)._1 < arr(j)._1
              } yield (arr(i)._1, arr(j)._1, arr(i)._2, arr(j)._2)
            }
          }
          def hasNext: Boolean = { refill(); out.hasNext }
          def next(): (Long, Long, Long, Long) = { refill(); out.next() }
        }
      }
      .toDF("x", "y", "px", "py")
    val islands = seeds
      .withColumn("d", col("px") - col("py"))
      // size the island window like the gram stage: seed fan-out is
      // gram-table-scaled (≤ cap per site), and the (x, y, d) window at
      // the session default would funnel it through a handful of sorts
      .repartition(parts, col("x"), col("y"), col("d"))
      .withColumn("grp", col("px") -
        row_number().over(Window.partitionBy("x", "y", "d").orderBy("px")))
      .groupBy("x", "y", "d", "grp")
      .agg(min("px").as("xs"), (max("px") - min("px") + l).as("len"))
    islands
      .groupBy("x", "y")
      .agg(max(struct(col("len"),
        (-col("xs")).as("nxs"), (col("d") - col("xs")).as("nys"))).as("s"))
      .filter(col("s.len") >= minLen)
      .select(col("x").as("doc_x"), col("y").as("doc_y"),
        col("s.len").cast("long").as("span_len"),
        (-col("s.nxs")).cast("long").as("x_start"),
        (-col("s.nys")).cast("long").as("y_start"))
      .orderBy("doc_x", "doc_y")
  }

  private val dupPairSpansSql: String =
    s"""WITH toksed AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    array_to_string(w[greatest(1, CAST(floor(len(w) * 0.2) AS INT)) :
       |      greatest(1, CAST(floor(len(w) * 0.2) AS INT)) +
       |      greatest(1, CAST(floor(len(w) * 0.5) AS INT)) - 1], ' ')
       |  FROM toksed
       |), grams AS (
       |  SELECT doc_id, i AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(CAST(i AS INT), CAST(i AS INT) + ${GramLen - 1}),
       |        j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
       |  FROM corpus, LATERAL (SELECT unnest(generate_series(1, length(text) - ${GramLen - 1})) AS i)
       |  WHERE length(text) >= $GramLen
       |), capped AS (
       |  SELECT doc_id, pos, h FROM (
       |    SELECT doc_id, pos, h, count(*) OVER (PARTITION BY h) AS c FROM grams) t
       |  WHERE c >= 2 AND c <= $PairFreqCap
       |), seeds AS (
       |  SELECT a.doc_id AS x, b.doc_id AS y, a.pos AS px, b.pos AS py
       |  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
       |), runs AS (
       |  SELECT x, y, px - py AS d, px,
       |         px - row_number() OVER (PARTITION BY x, y, px - py ORDER BY px) AS grp
       |  FROM seeds
       |), islands AS (
       |  SELECT x, y, d, grp, min(px) AS xs,
       |         max(px) - min(px) + $GramLen AS len
       |  FROM runs GROUP BY x, y, d, grp
       |), best AS (
       |  SELECT x, y, len, xs, xs - d AS ys,
       |         row_number() OVER (PARTITION BY x, y
       |           ORDER BY len DESC, xs ASC, (xs - d) ASC) AS rn
       |  FROM islands
       |)
       |SELECT x AS doc_x, y AS doc_y, CAST(len AS BIGINT) AS span_len,
       |       CAST(xs AS BIGINT) AS x_start, CAST(ys AS BIGINT) AS y_start
       |FROM best WHERE rn = 1 AND len >= $PairSpanMin
       |ORDER BY doc_x, doc_y""".stripMargin

  /** containment threshold and candidate-anchor count of
    * [[containmentDup]]. */
  val ContainThresh  = 0.9
  val ContainAnchors = 3

  /** Corpus of [[containmentDup]]: every doc plus a MID-SLICE copy
    * (tokens [20%, 70%), id + 2,000,000) — a true substring document.
    * The planted pair's Jaccard is ~0.5/1.0 ≈ 0.33–0.5, far below the
    * near-dup threshold: containment is the asymmetric relation the
    * symmetric dedup family structurally misses (quotes, boilerplate
    * wraps, doc-in-doc aggregation). */
  private def containCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs  = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val toks  = split(col("text"), " ")
    val start = greatest(lit(1), floor(size(toks) * 0.2).cast("int"))
    val keep  = greatest(lit(1), floor(size(toks) * 0.5).cast("int"))
    docs.union(docs.select(
      (col("doc_id") + 2000000L).as("doc_id"),
      concat_ws(" ", slice(toks, start, keep)).as("text")))
  }

  /** Doc-in-doc CONTAINMENT dedup: emit (src, host) pairs where
    * containment C(src→host) = |grams(src) ∩ grams(host)| / |grams(src)|
    * ≥ [[ContainThresh]] over distinct word 5-gram shingles — the
    * asymmetric complement of [[ngramJaccard]] (a short doc quoted
    * whole inside a long one has Jaccard ≈ |src|/|host| → 0 but
    * containment 1).
    *
    * Scale shape: candidates come from [[ContainAnchors]] bottom-hash
    * anchor grams per SRC doc (a per-doc window — doc_id is a
    * high-cardinality key, never a hot partition) equi-joined against
    * the corpus gram table: Σ_gram (#anchor-srcs) × (#hosts sharing it)
    * work, never all-pairs. Anchor selection needs NO oracle replay —
    * it only chooses which pairs get verified, and a pair with C ≥ t
    * has ≥ C·k odds per anchor of landing in the shared subset (miss
    * odds (1−C)^k ≈ 0.1% at t = 0.9, k = 3; = 0 for the planted C = 1
    * pairs, and the exact gate proves recall = 1 at these parameters —
    * the ngram_jaccard LSH convention). Exact verify joins only the
    * candidate pairs' gram sets; the shuffle carries (doc_id, gram)
    * pairs, never text. */
  def containmentDup(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val corpus = containCorpus(spark, dir)
    val grams = ck.ckpt(corpus.select(col("doc_id"),
        explode(graft.functions.TextFunctions.wordShinglesDistinct(col("text"), 5)).as("ng")))
      // feeds anchors, both candidate-join sides, both verify sides,
      // and the per-doc sizes
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val w = Window.partitionBy("doc_id").orderBy(xxhash64(col("ng")), col("ng"))
    val anchors = grams
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= ContainAnchors)
      .select(col("doc_id").as("src_id"), col("ng"))
    val cands = anchors
      .join(grams.select(col("doc_id").as("host_id"), col("ng")), "ng")
      .filter(col("src_id") =!= col("host_id"))
      .select("src_id", "host_id").distinct()
    val inter = cands
      .join(grams.select(col("doc_id").as("src_id"), col("ng")), "src_id")
      .join(grams.select(col("doc_id").as("host_id"), col("ng")), Seq("host_id", "ng"))
      .groupBy("src_id", "host_id").agg(count(lit(1)).as("n_inter"))
    val out = inter
      .join(sizes.select(col("doc_id").as("src_id"), col("n_grams").as("n_grams_src")),
        "src_id")
      .select(col("src_id"), col("host_id"), col("n_grams_src"), col("n_inter"),
        round(col("n_inter").cast("double") / col("n_grams_src"), 6).as("containment"))
      .filter(col("containment") >= ContainThresh)
      .orderBy("src_id", "host_id")
    out
  }

  private val containmentDupSql: String =
    s"""WITH toksed AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    array_to_string(w[greatest(1, CAST(floor(len(w) * 0.2) AS INT)) :
       |      greatest(1, CAST(floor(len(w) * 0.2) AS INT)) +
       |      greatest(1, CAST(floor(len(w) * 0.5) AS INT)) - 1], ' ')
       |  FROM toksed
       |), cg AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(w) >= 5
       |         THEN list_distinct(list_transform(range(1, len(w) - 3),
       |                i -> array_to_string(w[i:i+4], ' ')))
       |         ELSE CAST([] AS VARCHAR[]) END) AS ng
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM cg GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS src_id, b.doc_id AS host_id, count(*) AS n_inter
       |  FROM cg a JOIN cg b ON a.ng = b.ng AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT i.src_id, i.host_id, CAST(s.n AS BIGINT) AS n_grams_src,
       |  CAST(i.n_inter AS BIGINT) AS n_inter,
       |  round(CAST(i.n_inter AS DOUBLE) / s.n, 6) AS containment
       |FROM inter i JOIN sizes s ON s.doc_id = i.src_id
       |WHERE round(CAST(i.n_inter AS DOUBLE) / s.n, 6) >= $ContainThresh
       |ORDER BY src_id, host_id""".stripMargin

  /** n-gram order for the cross-document novelty signal. */
  private val NoveltyN = 4

  /** Cross-document n-gram NOVELTY: per document, the fraction of its
    * distinct [[NoveltyN]]-word shingles that occur in NO other
    * document — the corpus-global "how much of this page is its own"
    * quality signal (RefinedWeb-style duplicated-n-gram mass, inverted).
    * It is the complement the existing passes can't see:
    * [[Curation.repetitionQuality repetition_quality]] is INTRA-doc,
    * the near-dup pair ops flag whole documents, and [[lineDedup]]
    * needs exact line reuse — partial cross-page copying (templated
    * paragraphs, syndicated fragments) surfaces only here. Runs on
    * [[nearDupCorpus]] so the fixture plants known low-novelty rows
    * (each truncated twin shares every shingle with its base doc).
    *
    * Scale shape (an OWNER-ATTRIBUTION pass, no big join): the gram
    * table carries (doc_id, 64-bit hash) — never shingle text (the
    * lineDedup key discipline, narrowed from md5-hex to
    * `md5Lower64Col`'s 8 bytes); a corpus-unique gram's frequency cell
    * (count = 1) already NAMES its only document via min(doc_id), so
    * per-doc novel counts come from re-grouping the count-1 CELLS by
    * owner — the corpus-sized gram table is aggregated twice (once per
    * key) and never self-joined (the first form's counts⋈grams
    * sort-merge join was the measured 32× knee: 4.7 → 68.3 s for 4×
    * data; this shape re-probed 0.85/2.4/5.2 s at 1/8/32×, sub-linear
    * with flat heap). A boilerplate
    * shingle shared by a billion pages is one hot count cell (AQE skew
    * territory), never a join explosion. Hash-level semantics: a
    * 64-bit collision merges two grams' cells identically on both
    * engines (~10⁻⁴ odds at 10⁸ distinct grams — and the oracle
    * replays the same md5_number_lower values, so the gate is exact
    * regardless). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val grams = corpus
      .select(col("doc_id"),
        explode(wordShinglesDistinct(col("text"), NoveltyN)).as("ng"))
      .select(col("doc_id"), md5Lower64Col(col("ng")).as("h"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
    val novel = grams.groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("doc_id"))
      .filter(col("n_docs") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    corpus.select(col("doc_id"))
      .join(sizes, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        when(col("n_ngrams").isNotNull, coalesce(col("n_novel"), lit(0L)))
          .otherwise(lit(0L)).as("n_novel"),
        when(col("n_ngrams").isNotNull,
          expr("CAST((CAST(coalesce(n_novel, 0) AS DECIMAL(38,0)) * 1000000) div n_ngrams AS BIGINT)"))
          .as("novelty_micros"))
      .orderBy("doc_id")
  }

  private val ngramNoveltySql: String =
    s"""WITH $corpusSql,
       |grams AS (
       |  SELECT doc_id, md5_number_lower(ng) AS h FROM (
       |    SELECT doc_id, unnest(list_distinct(list_transform(
       |             generate_series(1, len(string_split(text, ' ')) - ${NoveltyN - 1}),
       |             i -> array_to_string(list_slice(string_split(text, ' '), i, i + ${NoveltyN - 1}), ' ')))) AS ng
       |    FROM corpus WHERE len(string_split(text, ' ')) >= $NoveltyN)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_ngrams FROM grams GROUP BY doc_id
       |), novel AS (
       |  SELECT doc_id, count(*) AS n_novel FROM (
       |    SELECT h, count(*) AS n_docs, min(doc_id) AS doc_id FROM grams GROUP BY h
       |  ) cells WHERE n_docs = 1 GROUP BY doc_id
       |)
       |SELECT c.doc_id,
       |  CAST(coalesce(s.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       |  CAST(CASE WHEN s.n_ngrams IS NOT NULL THEN coalesce(nv.n_novel, 0) ELSE 0 END AS BIGINT)
       |    AS n_novel,
       |  CASE WHEN s.n_ngrams IS NOT NULL
       |       THEN CAST((CAST(coalesce(nv.n_novel, 0) AS HUGEINT) * 1000000) // s.n_ngrams AS BIGINT) END
       |    AS novelty_micros
       |FROM corpus c LEFT JOIN sizes s USING (doc_id) LEFT JOIN novel nv USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------------------- LSH parameter tuning

  /** fixed sample width for the tuning matrix: base-doc ids < this (and
    * their twins) regardless of corpus size — parameter tuning runs on a
    * bounded sample by design (the ann_recall_matrix convention), so the
    * brute-force truth side stays O(sample²) CONSTANT at any corpus SF. */
  private val TuneSampleDocs = 120L

  /** total minhashes shared by every tuning config (b·r ≤ 24). */
  private val TuneK = 24

  /** the (bands, rows-per-band) frontier under test, steep→shallow. */
  private val TuneConfigs = Seq((24, 1), (12, 2), (8, 3), (6, 4), (4, 6))

  /** minhash permutation modulus — the RollingHash 1e9+7 convention:
    * small enough that aᵢ·m never leaves signed-64 range, so BOTH
    * engines run the identical plain-integer arithmetic (no HUGEINT /
    * DECIMAL asymmetry to keep in sync). */
  private val TuneMod = 1000000007L

  /** 2⁶⁴ mod [[TuneMod]]: md5_number_lower is UNSIGNED in the oracle
    * engine but lands signed in the JVM — a negative h means the true
    * value is h + 2⁶⁴, so its residue needs this correction term. */
  private val TuneC64 = 582344008L

  /** signed md5 long → the unsigned value's residue mod [[TuneMod]]. */
  private def tuneResidue(h: Column): Column =
    pmod(pmod(h, lit(TuneMod)) + when(h < 0, lit(TuneC64)).otherwise(lit(0L)), lit(TuneMod))

  /** theoretical P(candidate) for a pair at exactly the [[JaccardThreshold]]
    * under (b bands × r rows): 1−(1−τʳ)ᵇ. Configs are compile-time
    * literals, so the value is computed HERE and embedded as the same
    * literal in both the Spark plan and the oracle SQL — zero
    * cross-engine libm exposure. */
  private def tuneExpectedMicros(b: Int, r: Int): Long =
    math.round((1.0 - math.pow(1.0 - math.pow(JaccardThreshold, r), b)) * 1000000)

  /** MinHash-LSH PARAMETER TUNING as an operator — the dedup twin of
    * [[Similarity.annRecallMatrix ann_recall_matrix]]: before a corpus
    * commits 100 TB of compute to a banding choice, it measures the
    * precision/recall frontier of candidate (bands × rows-per-band)
    * splits on a sample of its own data, against brute-force Jaccard
    * ground truth, beside the theoretical S-curve value at the
    * threshold. One row per config: measured candidate volume (the
    * cost axis), measured hits/precision/recall (the quality axes),
    * and the analytic detection probability the banding math predicts.
    *
    * The signature here is deliberately NOT the serving pipeline's
    * xxhash kernel: tuning must be oracle-replayable END-TO-END
    * (candidate sets depend on the actual hash draws), so shingles
    * hash via [[graft.functions.TextFunctions.md5Lower64Col]] (the
    * engine-portable md5 convention dedup_simhash pinned) and the k
    * permutations are (aᵢ·m+bᵢ) mod 1e9+7 in plain signed-64 integer
    * arithmetic both engines execute identically. Banding STRUCTURE
    * (slice → band key → bucket equi-join → distinct pairs → verified
    * against exact jaccard) is exactly the serving pipeline's.
    *
    * Scale shape: everything downstream of the sample filter is
    * bounded by [[TuneSampleDocs]] — a fixed-size frame at any corpus
    * size (the filter pushes to the scan); the brute-force truth join
    * is the designed one-off cost of parameter selection, quadratic in
    * the SAMPLE, constant in the corpus. */
  def lshTuningMatrix(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val n = 3
    // doc_id < 2e6 pins the sample to the FIRST corpus block (base ids
    // < 1e6 plus their twins): without it, any id-striped growth whose
    // stride is ≡ 0 mod 1e6 (the probe replicas' 10⁷) leaks every
    // stripe's low ids into the "fixed" sample and the truth join goes
    // quadratic in corpus size — the probe caught exactly that (24.9 s
    // at 32×; 1.3/1.5/3.0 s at 1/8/32× after the gate, the residue
    // being the corpus scan under the non-pushable pmod filter)
    val sample = nearDupCorpus(spark, dir)
      .filter(pmod(col("doc_id"), lit(1000000L)) < TuneSampleDocs &&
        col("doc_id") < 2000000L)
      .filter(hasWindow(wordGrams = true, n))
    // (doc_id, distinct shingles): feeds the signature pass and both
    // brute-force truth sides
    val withSh = ck.ckpt(sample
      .select(col("doc_id"), wordShinglesDistinct(col("text"), n).as("sh")))
    val sigs = withSh
      .select(col("doc_id"),
        transform(col("sh"), s => tuneResidue(md5Lower64Col(s))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(TuneK - 1)), i =>
          array_min(transform(col("m"), x =>
            pmod((lit(2654435761L) + lit(40503L) * i) * x + (lit(97L) * i + lit(13L)),
              lit(TuneMod))))).as("sig"))
    val bandRows = TuneConfigs.map { case (b, r) =>
      sigs.select(
        lit(b).cast("long").as("n_bands"),
        lit(r).cast("long").as("rows_per_band"),
        col("doc_id"),
        explode(transform(sequence(lit(0), lit(b - 1)), j =>
          struct(j.as("band"),
            concat_ws(",", transform(slice(col("sig"), j * r + 1, lit(r)),
              x => x.cast("string"))).as("key")))).as("bk"))
        .select(col("n_bands"), col("rows_per_band"), col("doc_id"),
          col("bk.band"), col("bk.key"))
    }.reduce(_ unionAll _)
    val cands = bandRows.as("l")
      .join(bandRows.as("r"),
        col("l.n_bands") === col("r.n_bands") && col("l.band") === col("r.band") &&
          col("l.key") === col("r.key") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.n_bands").as("n_bands"), col("l.rows_per_band").as("rows_per_band"),
        col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
      .distinct()
    val truth = ck.ckpt(withSh.as("a")
      .join(withSh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(jaccardDistinctCol(col("a.sh"), col("b.sh")) >= JaccardThreshold)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")))
    val nTruth = truth.count() // bounded: ≤ C(2·TuneSampleDocs, 2)
    require(nTruth > 0, "tuning sample carries no true near-dup pairs")
    val agg = cands
      .join(truth.withColumn("hit", lit(1L)), Seq("id_a", "id_b"), "left")
      .groupBy("n_bands", "rows_per_band")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    import spark.implicits._
    val cfgDf = TuneConfigs
      .map { case (b, r) => (b.toLong, r.toLong, tuneExpectedMicros(b, r)) }
      .toDF("n_bands", "rows_per_band", "expected_detect_micros")
    cfgDf
      .join(agg, Seq("n_bands", "rows_per_band"), "left")
      .select(
        col("n_bands"), col("rows_per_band"), col("expected_detect_micros"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(nTruth).as("n_truth"))
      .select(
        col("n_bands"), col("rows_per_band"), col("expected_detect_micros"),
        col("n_candidates"), col("n_hits"), col("n_truth"),
        when(col("n_candidates") > 0,
          expr("CAST((CAST(n_hits AS DECIMAL(38,0)) * 1000000) div n_candidates AS BIGINT)"))
          .as("precision_micros"),
        expr("CAST((CAST(n_hits AS DECIMAL(38,0)) * 1000000) div n_truth AS BIGINT)")
          .as("recall_micros"))
      .orderBy(desc("n_bands"))
  }

  private lazy val lshTuningMatrixSql: String = {
    val cfgValues = TuneConfigs
      .map { case (b, r) => s"($b, $r, ${tuneExpectedMicros(b, r)})" }
      .mkString(", ")
    s"""WITH $corpusSql,
       |sample AS (
       |  SELECT doc_id, text FROM corpus
       |  WHERE doc_id % 1000000 < $TuneSampleDocs AND doc_id < 2000000
       |    AND len(string_split(text, ' ')) >= 3
       |), shs AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |           generate_series(1, len(string_split(text, ' ')) - 2),
       |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
       |  FROM sample
       |), ms AS (
       |  SELECT doc_id,
       |         list_transform(sh, s -> CAST(md5_number_lower(s) % $TuneMod AS BIGINT)) AS m
       |  FROM shs
       |), sigs AS (
       |  SELECT doc_id, list_transform(generate_series(0, ${TuneK - 1}), i ->
       |           list_min(list_transform(m, x ->
       |             ((2654435761 + 40503 * i) * x + (97 * i + 13)) % $TuneMod))) AS sig
       |  FROM ms
       |), cfgs AS (
       |  SELECT * FROM (VALUES $cfgValues) AS t(b, r, expected_detect_micros)
       |), bandrows AS (
       |  SELECT c.b, c.r, s.doc_id, u.j,
       |         array_to_string(list_slice(sig, u.j * c.r + 1, u.j * c.r + c.r), ',') AS key
       |  FROM sigs s CROSS JOIN cfgs c
       |       CROSS JOIN unnest(generate_series(0, c.b - 1)) AS u(j)
       |), cands AS (
       |  SELECT DISTINCT l.b, l.r, l.doc_id AS id_a, rr.doc_id AS id_b
       |  FROM bandrows l JOIN bandrows rr
       |    ON l.b = rr.b AND l.j = rr.j AND l.key = rr.key AND l.doc_id < rr.doc_id
       |), truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM shs a JOIN shs b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $JaccardThreshold
       |), agg AS (
       |  SELECT c.b, c.r, count(*) AS n_candidates,
       |         sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
       |  FROM cands c LEFT JOIN truth t USING (id_a, id_b)
       |  GROUP BY c.b, c.r
       |), nt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT CAST(e.b AS BIGINT) AS n_bands,
       |  CAST(e.r AS BIGINT) AS rows_per_band,
       |  CAST(e.expected_detect_micros AS BIGINT) AS expected_detect_micros,
       |  CAST(coalesce(a.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(nt.n_truth AS BIGINT) AS n_truth,
       |  CASE WHEN coalesce(a.n_candidates, 0) > 0
       |       THEN CAST((CAST(coalesce(a.n_hits, 0) AS HUGEINT) * 1000000)
       |                 // a.n_candidates AS BIGINT) END AS precision_micros,
       |  CAST((CAST(coalesce(a.n_hits, 0) AS HUGEINT) * 1000000) // nt.n_truth AS BIGINT)
       |    AS recall_micros
       |FROM cfgs e LEFT JOIN agg a ON a.b = e.b AND a.r = e.r CROSS JOIN nt
       |ORDER BY n_bands DESC""".stripMargin
  }

  /** edit-distance threshold for fuzzy name matching. */
  val MaxEditDist = 3

  /** Fuzzy entity matching: distinct name pairs within Levenshtein
    * distance ≤ [[MaxEditDist]] — the classic entity-resolution /
    * catalog-dedup operator (`part` carries natural near-misses:
    * "cold anvil" ↔ "old anvil").
    *
    * Scale shape: the corpus is first reduced to its DISTINCT name
    * vocabulary (the 100 TB move — vocabulary ≪ rows), then banded by a
    * COMPOSITE (length, segment-index, segment-content) key — the
    * PassJoin partition scheme (Li et al., VLDB 2012). A length-only
    * band is a necessary condition too, but name-length distributions
    * concentrate: at a 100 M-name vocabulary most mass sits in ~10
    * length buckets and each bucket is an un-splittable all-pairs hot
    * key. The composite key adds segment CONTENT, so bucket population
    * is driven by actual string agreement — the quadratic hot key is
    * gone while candidates remain a provable superset (pigeonhole: d
    * edits cannot touch all d+1 disjoint segments, and the untouched
    * segment's position shifts by at most d). The exact Levenshtein
    * check runs only on banded candidates. */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    fuzzyJoinOn(Tables.part(spark, dir).select(col("p_name").as("n")).distinct(),
      MaxEditDist)

  /** Candidate pairs (name_a < name_b, distinct) from the composite
    * band — a superset of all pairs within edit distance ≤ maxDist.
    *
    * Partition rule (shared by both sides): a string of length L is cut
    * into k = maxDist+1 contiguous segments, the first k−(L mod k) of
    * length ⌊L/k⌋ and the rest one longer. If ed(a,b) ≤ maxDist, at
    * least one segment of `a` is untouched by any edit, so it occurs in
    * `b` verbatim, starting within ±maxDist of its position in `a`.
    * The left side emits a's own k segments keyed (len(a), i, seg); the
    * right side emits, for every admissible partner length la and every
    * segment slot i, each of b's substrings in that slot's shift window
    * — so candidate generation stays an EQUI-join (no cartesian, no
    * theta-join) with shuffle rows of (short key, name). Strings of
    * length ≤ maxDist can't host maxDist+1 non-empty segments and fall
    * back to the length-only band (slot −1) — a vanishing fraction of
    * any real vocabulary. Both orientations of every qualifying pair
    * band successfully (the pigeonhole argument applies to either
    * side's partition), so the a<b filter alone cannot lose a pair;
    * `distinct` collapses multi-segment matches. */
  def fuzzyCandidates(namesDf: DataFrame, maxDist: Int): DataFrame = {
    val k = maxDist + 1
    val segType = "array<struct<la:int,seg:int,s:string>>"

    // segment geometry for partner length `la` and literal slot i
    def segLen(la: Column, i: Int): Column =
      floor(la / k).cast("int") + when(lit(i) >= lit(k) - pmod(la, lit(k)), 1).otherwise(0)
    def segStart(la: Column, i: Int): Column =
      lit(i) * floor(la / k).cast("int") +
        greatest(lit(0), lit(i) - (lit(k) - pmod(la, lit(k))))

    val names = namesDf.withColumn("len", length(col("n")))

    // left: a's own segments (or the slot −1 fallback when too short)
    val leftKeys = when(col("len") <= maxDist,
      array(struct(col("len").as("la"), lit(-1).as("seg"), lit("").as("s"))))
      .otherwise(array((0 until k).map { i =>
        struct(col("len").as("la"), lit(i).as("seg"),
          col("n").substr(segStart(col("len"), i) + 1, segLen(col("len"), i)).as("s"))
      }: _*))
    val left = names
      .select(col("n").as("name_a"), explode(leftKeys).as("key"))
      .select(col("name_a"), col("key.la"), col("key.seg"), col("key.s"))

    // right: for each admissible partner length, each slot's substrings
    // within the ±maxDist shift window (clipped to b's bounds)
    val rightKeys = flatten(transform(
      sequence(greatest(col("len") - maxDist, lit(0)), col("len") + maxDist),
      la => {
        val perSlot: Seq[Column] = (0 until k).map { i =>
          val sl  = segLen(la, i)
          val pLo = greatest(segStart(la, i) - maxDist, lit(0))
          val pHi = least(col("len") - sl, segStart(la, i) + maxDist)
          when(pHi >= pLo,
            transform(sequence(pLo, pHi), p =>
              struct(la.as("la"), lit(i).as("seg"), col("n").substr(p + 1, sl).as("s"))))
            .otherwise(array().cast(segType))
        }
        when(la <= maxDist,
          array(struct(la.as("la"), lit(-1).as("seg"), lit("").as("s"))))
          .otherwise(flatten(array(perSlot: _*)))
      }))
    val right = names
      .select(col("n").as("name_b"), explode(array_distinct(rightKeys)).as("key"))
      .select(col("name_b"), col("key.la"), col("key.seg"), col("key.s"))

    left.join(right, Seq("la", "seg", "s"))
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b")
      .distinct()
  }

  /** Fuzzy matching over an arbitrary single-column (`n`) name table —
    * split out so specs can drive it with hand-checkable names. */
  def fuzzyJoinOn(namesDf: DataFrame, maxDist: Int): DataFrame =
    fuzzyCandidates(namesDf, maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("name_a", "name_b", "dist")
      .orderBy("name_a", "name_b")

  private val fuzzyJoinSql: String =
    s"""WITH names AS (SELECT DISTINCT p_name AS n FROM part)
       |SELECT a.n AS name_a, b.n AS name_b,
       |       CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist
       |FROM names a JOIN names b
       |  ON a.n < b.n AND abs(length(a.n) - length(b.n)) <= $MaxEditDist
       |WHERE levenshtein(a.n, b.n) <= $MaxEditDist
       |ORDER BY name_a, name_b""".stripMargin

  /** End-to-end entity resolution — the composition a real catalog /
    * author / vendor-table dedup runs: [[fuzzyJoinOn]]'s PassJoin-banded
    * match pairs become an undirected graph, [[ccOn]]'s label
    * propagation finds the entity CLUSTERS (transitive: "cold anvil" ~
    * "old anvil" ~ "bold anvil" resolve together even when the extremes
    * exceed the edit threshold), and every cluster takes its
    * lexicographically-least member as the canonical form — the
    * deterministic rule both engines share. Singletons keep themselves.
    * Scale shape: everything runs on the DISTINCT name vocabulary
    * (vocabulary ≪ rows at 100 TB); pair generation is the equi-banded
    * PassJoin (no all-pairs), propagation shuffles (name, rep) strings,
    * and the final size attach is a vocabulary-sized join. Oracle:
    * recursive-CTE transitive closure over the same pair predicate. */
  def entityResolve(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val names = ck.ckpt(Tables.part(spark, dir).select(col("p_name").as("n"))
      .distinct()) // feeds banding + the singleton join
    val pairs = fuzzyCandidates(names, MaxEditDist)
      .filter(levenshtein(col("name_a"), col("name_b")) <= MaxEditDist)
    val labels = ccOn(pairs.union(
        pairs.select(col("name_b").as("name_a"), col("name_a").as("name_b")))
      .toDF("src", "dst"))
    val canon = names
      .join(labels.withColumnRenamed("id", "n"), Seq("n"), "left")
      .select(col("n").as("name"), coalesce(col("rep"), col("n")).as("canonical"))
    val sizes = canon.groupBy("canonical").agg(count(lit(1)).as("cluster_size"))
    canon.join(sizes, "canonical")
      .select(col("name"), col("canonical"), col("cluster_size"))
      .orderBy("canonical", "name")
  }

  private val entityResolveSql: String =
    s"""WITH RECURSIVE names AS (SELECT DISTINCT p_name AS n FROM part),
       |pairs AS (
       |  SELECT a.n AS na, b.n AS nb
       |  FROM names a JOIN names b
       |    ON a.n < b.n AND abs(length(a.n) - length(b.n)) <= $MaxEditDist
       |  WHERE levenshtein(a.n, b.n) <= $MaxEditDist
       |), edges AS (
       |  SELECT na AS src, nb AS dst FROM pairs
       |  UNION ALL SELECT nb, na FROM pairs
       |), reach(src, dst) AS (
       |  SELECT n, n FROM names
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
       |), canon AS (
       |  SELECT src AS name, min(dst) AS canonical FROM reach GROUP BY src
       |), sizes AS (
       |  SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM canon GROUP BY canonical
       |)
       |SELECT c.name, c.canonical, s.cluster_size
       |FROM canon c JOIN sizes s USING (canonical)
       |ORDER BY canonical, name""".stripMargin

  // ------------------------------------------------------ semantic dedup

  /** Cosine threshold for the in-cluster prune: perturbed copies land at
    * ≈0.9998 while the fixtures' random in-cluster pairs top out ≈0.51 —
    * both engines compare the same 6dp-rounded double, so the boundary
    * is exact. */
  private val SemanticCos = 0.99

  /** Target in-cluster population for semantic dedup: the cluster count
    * is k = ⌈n/B⌉ (the SemDeDup k∝n posture — tens of thousands of
    * clusters at web scale), so per-cluster pair work is O(B²)
    * regardless of corpus size, never O((n/k)²) with a fixed k. B=125
    * keeps k=8 on the 1000-vector verify corpus (bit-identical to the
    * fixed-k history) and already scales to k=32 at bench SF. */
  private[graft] val SemanticClusterB = 125L

  /** Size-derived cluster count for a semantic-dedup corpus of n rows.
    * Long (not Int): k = ⌈n/B⌉ passes 2³¹ around n ≈ 2.7e11 rows, well
    * inside the advertised corpus range — an Int here would wrap
    * silently. */
  private[graft] def semanticK(n: Long): Long =
    math.max(1L, (n + SemanticClusterB - 1) / SemanticClusterB)

  /** SemDeDup-shape semantic dedup (Abbas et al. 2023): k-means the
    * corpus (`Centroids.kmeansAssign` — the identical seeds → assign →
    * update → assign pipeline `kmeans_embed` verifies, with a
    * size-derived k = ⌈n/B⌉), then prune, per cluster, every vector
    * that has ANY lower-id in-cluster neighbor at cosine ≥ threshold —
    * including neighbors that are themselves pruned, so chains prune
    * deeper than true greedy keep-first / the paper's one-representative-
    * per-ε-ball rule. The rule is deterministic and SQL-expressible;
    * both engines implement it identically.
    *
    * The fixtures have no natural semantic near-dups, so the corpus is
    * each vector plus a deterministically perturbed copy (id + 1,000,000;
    * dimension d scaled by 1 + ((d % 5) − 2)/100 — float-rounded
    * identically on both engines), giving near-but-UNEQUAL pairs at
    * cos ≈ 0.9998 that exact/LSH-exact dedup would miss. One copy lands
    * across a cluster boundary and survives — the documented
    * cluster-local recall limit of the SemDeDup design, pinned in
    * DedupSpec.
    *
    * Scale shape: clustering is the two-level coarse-quantized
    * assignment (`Centroids.kmeansAssignTwoLevel`) — the only plan
    * literal is the ⌈√k⌉×dim super-centroid matrix and per-row work is
    * O(√k·dim), so with k ∝ n the assignment compute is O(n·√n), not
    * the flat literal path's O(n·k·dim) = O(n²) (`DedupSpec` pins the
    * literal bound). The pair join is an equi-join on cluster id, and
    * because k scales with n the expected bucket is B rows — bounded
    * per-cluster work at any corpus size (DedupSpec pins the fixture's
    * max cluster population). The corpus count that sizes k is one
    * bounded driver-side action; the prune set shuffles only distinct
    * vec_ids. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val perturbed = base.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") *
          (lit(1.0) + ((i % 5) - 2).cast("double") / lit(100.0))).cast("float"))
        .as("embedding"))
    val corpus = ck.ckpt(base.union(perturbed))
      // feeds the sizing count and the two kmeansAssign passes
    val assigned = ck.ckpt(Centroids.kmeansAssignTwoLevel(corpus, semanticK(corpus.count()))
      .select(col("vec_id"), col("embedding"), col("cluster")))
      // feeds both sides of the pair join plus the final verdict join —
      // and kmeansAssign's two driver-side passes already scanned it
    val dupIds = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("b.vec_id") < col("a.vec_id"))
      .filter(round(VectorFunctions.cosine(col("a.embedding"), col("b.embedding")), 6)
        >= SemanticCos)
      .select(col("a.vec_id").as("vec_id")).distinct()
    assigned
      .join(dupIds.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("hit"), lit(false)).as("pruned"))
      .orderBy("vec_id")
  }

  private val semanticDedupSql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(generate_series(1, 64), d ->
       |      CAST(CAST(embedding[d] AS DOUBLE) *
       |        (CAST(1 AS DOUBLE) + CAST((d - 1) % 5 - 2 AS DOUBLE) / CAST(100 AS DOUBLE))
       |        AS FLOAT))
       |  FROM embeddings
       |), ${Centroids.kmeansIvfCtes("corpus",
            s"SELECT CAST(ceil(count(*) / $SemanticClusterB.0) AS BIGINT) FROM corpus")},
       |dups AS (
       |  SELECT DISTINCT a.vec_id FROM a1 a JOIN a1 b
       |    ON a.cluster = b.cluster AND b.vec_id < a.vec_id
       |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |          CAST(b.embedding AS DOUBLE[])), 6) >= $SemanticCos
       |)
       |SELECT a.vec_id, a.cluster, (d.vec_id IS NOT NULL) AS pruned
       |FROM a1 a LEFT JOIN dups d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("fuzzy_join", fuzzyJoinSql)(fuzzyJoin),
    QueryDef.sql("line_dedup", lineDedupSql)(lineDedup),
    QueryDef.sql("corpus_diff", corpusDiffSql)(corpusDiff),
    QueryDef.sql("entity_resolve", entityResolveSql)(entityResolve),
    QueryDef.sql("semantic_dedup", semanticDedupSql)(semanticDedup),
    QueryDef.sql("dedup_exact",
      """SELECT p_name, min(p_partkey) AS keep_key, count(*) AS n_dups
        |FROM part GROUP BY p_name ORDER BY p_name""".stripMargin)(dedupExact),
    QueryDef.sql("dedup_keep_best",
      s"""WITH $corpusSql
         |SELECT array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS pk,
         |       arg_max(doc_id, length(text) * 10000000 + (10000000 - doc_id)) AS keep_id,
         |       count(*) AS n_copies
         |FROM corpus GROUP BY pk ORDER BY pk""".stripMargin)(dedupKeepBest),
    QueryDef.sql("dedup_exact_docs",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |)
        |SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(generate_series(1, length(text)),
        |           i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |         (acc, x) -> (acc * 31 + x) % 1000000007) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM corpus GROUP BY fp ORDER BY fp""".stripMargin)(dedupExactDocs),
    QueryDef.sql("dedup_minhash",
      s"""WITH $corpusSql, $shingleSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
         |ORDER BY id_a, id_b""".stripMargin)(dedupMinhash),
    // brute-force batch×index jaccard — the cross-pair restriction of
    // the dedup_minhash oracle, plus the batch docs that matched nothing
    QueryDef.sql("incremental_dedup",
      s"""WITH $corpusSql, $shingleSql,
         |pairs AS (
         |  SELECT b.doc_id, i.doc_id AS index_id
         |  FROM shingled b JOIN shingled i
         |    ON b.doc_id >= 1000000 AND i.doc_id < 1000000
         |   AND CAST(len(list_intersect(b.sh, i.sh)) AS DOUBLE)
         |         / (len(b.sh) + len(i.sh) - len(list_intersect(b.sh, i.sh))) >= 0.7
         |),
         |per AS (
         |  SELECT doc_id, count(*) AS n_dups, min(index_id) AS first_dup
         |  FROM pairs GROUP BY doc_id
         |)
         |SELECT c.doc_id,
         |       COALESCE(p.n_dups, CAST(0 AS BIGINT)) AS n_dups,
         |       COALESCE(p.n_dups, CAST(0 AS BIGINT)) > 0 AS is_dup,
         |       p.first_dup
         |FROM (SELECT doc_id FROM corpus WHERE doc_id >= 1000000) c
         |LEFT JOIN per p USING (doc_id)
         |ORDER BY doc_id""".stripMargin)(incrementalDedup),
    // full oracle: brute-force all-pairs hamming over signatures
    // recomputed in SQL — md5_number_lower(token) is bit-identical to
    // TextMath.md5Lower64; vote sums and the ±1 mapping are pure integer
    // arithmetic; codes kept as two 32-bit halves (no BIGINT overflow).
    // Exactness argument: pigeonhole (SimhashMaxHamming=3 < 4 chunks).
    QueryDef.sql("dedup_simhash",
      s"""WITH $corpusSql,
         |tokenized AS (
         |  SELECT doc_id, list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
         |                                t -> md5_number_lower(t)) AS hs
         |  FROM corpus
         |),
         |sigs AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(0, 63), b ->
         |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(hs, h -> 2 * CAST((h >> b) & 1 AS BIGINT) - 1)),
         |           (a, v) -> a + v) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bits
         |  FROM tokenized
         |),
         |codes AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, 32), i -> bits[i] * (CAST(1 AS BIGINT) << (i - 1)))),
         |      (a, v) -> a + v) AS lo,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(33, 64), i -> bits[i] * (CAST(1 AS BIGINT) << (i - 33)))),
         |      (a, v) -> a + v) AS hi
         |  FROM sigs
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
         |FROM codes a JOIN codes b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $SimhashMaxHamming
         |ORDER BY id_a, id_b""".stripMargin)(dedupSimhash),
    QueryDef.sql("dedup_clusters",
      s"""WITH RECURSIVE $corpusSql, $shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
         |),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT rep AS cluster_rep, count(*) AS cluster_size FROM (
         |  SELECT src AS id, least(src, min(dst)) AS rep FROM reach GROUP BY src
         |) t GROUP BY rep ORDER BY cluster_rep""".stripMargin)(dedupClusters),
    QueryDef.sql("dup_cluster_profile",
      s"""WITH RECURSIVE $corpusSql, $shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
         |),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |),
         |sizes AS (
         |  SELECT rep, CAST(count(*) AS BIGINT) AS sz FROM (
         |    SELECT src AS id, least(src, min(dst)) AS rep FROM reach GROUP BY src
         |  ) t GROUP BY rep
         |),
         |prof AS (
         |  SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS octave,
         |         CAST(count(*) AS BIGINT) AS n_clusters,
         |         CAST(sum(sz) AS BIGINT) AS n_docs
         |  FROM sizes GROUP BY octave
         |),
         |tot AS (SELECT count(*) AS n FROM corpus),
         |incl AS (SELECT coalesce(sum(sz), 0) AS s FROM sizes)
         |SELECT * FROM (
         |  SELECT octave, n_clusters, n_docs FROM prof
         |  UNION ALL
         |  SELECT CAST(0 AS BIGINT), CAST(n - s AS BIGINT), CAST(n - s AS BIGINT)
         |  FROM tot CROSS JOIN incl
         |) ORDER BY octave""".stripMargin)(dupClusterProfile),
    QueryDef.sql("dedup_cluster_keep_best",
      s"""WITH RECURSIVE $corpusSql, $shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
         |),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |),
         |labels AS (
         |  SELECT src AS id, least(src, min(dst)) AS rep FROM reach GROUP BY src
         |)
         |SELECT coalesce(l.rep, c.doc_id) AS cluster_rep,
         |       arg_max(c.doc_id, length(c.text) * 10000000 + (10000000 - c.doc_id)) AS keep_id,
         |       count(*) AS cluster_size
         |FROM corpus c LEFT JOIN labels l ON c.doc_id = l.id
         |GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin)(dedupClusterKeepBest),
    QueryDef.sql("ngram_jaccard",
      s"""WITH $corpusSql, grams AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |           generate_series(1, len(text) - 4),
         |           i -> substr(text, CAST(i AS INT), 5))) AS g
         |  FROM corpus WHERE doc_id % 5 = 0 AND len(text) >= 5
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |         / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
         |FROM grams a JOIN grams b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.7
         |ORDER BY id_a, id_b""".stripMargin)(ngramJaccard),
    QueryDef.sql("prefix_jaccard_join", prefixJaccardSql)(prefixJaccardJoin),
    QueryDef.sql("embedding_neardup",
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |             CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |            CAST(b.embedding AS DOUBLE[])), 4) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin)(embeddingNearDup),
    QueryDef.sql("substring_dup", substringDupSql)(substringDup),
    QueryDef.sql("dup_spans", dupSpansSql)(dupSpans),
    QueryDef.sql("dup_pair_spans", dupPairSpansSql)(dupPairSpans),
    QueryDef.sql("dup_span_report", dupSpanReportSql)(dupSpanReport),
    QueryDef.sql("containment_dup", containmentDupSql)(containmentDup),
    QueryDef.sql("ngram_novelty", ngramNoveltySql)(ngramNovelty),
    QueryDef.sql("lsh_tuning_matrix", lshTuningMatrixSql)(lshTuningMatrix),
    QueryDef.sql("dedup_soft_weights", dedupSoftWeightsSql)(dedupSoftWeights),
  )
}
