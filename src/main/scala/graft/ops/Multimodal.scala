package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted in batch by a partition-
  * mapping stub.
  *
  * The container has no image/audio codecs, so `decodeStub` is a
  * deterministic fake (metadata derived from byte length) — but the
  * Spark-side plumbing is real and is the part that matters at scale:
  * binary column in, `Dataset.mapPartitions` over typed rows (one codec
  * init per partition, batch-at-a-time), typed struct out. Swapping the
  * stub body for a real JNI/codec call changes nothing structurally.
  */
object Multimodal {

  /** a decoded media asset's metadata (what a real decoder would emit). */
  final case class MediaMeta(
      doc_id: Long, n_bytes: Long, width: Long, height: Long, n_frames: Long)

  /** not `private`: encoder codegen must reach the class from generated code. */
  final case class RawMedia(doc_id: Long, payload: Array[Byte])

  /** the clearly-marked STUB: deterministic pseudo-decode from bytes.
    * A real implementation would parse the container format here. */
  def decodeStub(doc_id: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    MediaMeta(
      doc_id = doc_id,
      n_bytes = n,
      width = 1L + n % 64L,
      height = 1L + (n * 7L) % 64L,
      n_frames = 1L + n % 8L)
  }

  /** the shared binary-column ingestion: the `text` column stands in
    * for media bytes (utf-8 encode) since the fixtures carry no real
    * blobs — swap this one projection to read true blob columns. */
  private def rawMedia(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[RawMedia] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .as[RawMedia]
  }

  /** binary ingestion + per-partition batch decode. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawMedia(spark, dir)
      .mapPartitions { rows =>
        // real codecs would be initialized once per partition here
        rows.map(r => decodeStub(r.doc_id, r.payload))
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** per-frame record emitted by the frame sampler. */
  final case class FrameSample(doc_id: Long, frame_idx: Long, frame_hash: Long)

  /** a fixed-size content feature extracted per asset (what an image/
    * audio featurizer would emit). STUB: a 4-bin byte histogram — the
    * Spark-side shape (binary in, fixed-length vector out, computed in
    * a partition-mapping batch) is the real part. */
  final case class MediaFeatures(
      doc_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)

  def featureExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawMedia(spark, dir)
      .mapPartitions { rows =>
        rows.map { r =>
          val bins = new Array[Long](4)
          r.payload.foreach(b => bins((b & 0xFF) / 64) += 1)
          MediaFeatures(r.doc_id, bins(0), bins(1), bins(2), bins(3))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** resize: the fit-into-a-bounding-box dimension computation a real
    * image pipeline runs before the codec call (integer math on the
    * decoded metadata — the codec-side rescale is the stubbed part).
    * Preserves aspect ratio, fits 32×32, floors, min 1. */
  def resizeDims(meta: MediaMeta, box: Long): (Long, Long) = {
    val scaleNum = box
    val scaleDen = math.max(meta.width, meta.height)
    val w = math.max(1L, meta.width * scaleNum / scaleDen)  // integer floor
    val h = math.max(1L, meta.height * scaleNum / scaleDen)
    (w, h)
  }

  final case class ResizedMeta(
      doc_id: Long, width: Long, height: Long, out_w: Long, out_h: Long)

  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawMedia(spark, dir)
      .mapPartitions { rows =>
        rows.map { r =>
          val m      = decodeStub(r.doc_id, r.payload)
          val (w, h) = resizeDims(m, 32L)
          ResizedMeta(m.doc_id, m.width, m.height, w, h)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** frame sampling: one output row per sampled "frame" (every asset
    * pretends to have n_frames frames; we sample every 2nd). The 1→n
    * generator shape — flatMap, partition-preserving, no shuffle. The
    * frame hash stands in for decoded frame bytes. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawMedia(spark, dir)
      .flatMap { r =>
        val meta = decodeStub(r.doc_id, r.payload)
        (0L until meta.n_frames by 2).map { i =>
          FrameSample(r.doc_id, i, (meta.n_bytes * 31L + i) % 1000000007L)
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** Binary-asset dedup by content hash — the first pass of every
    * image/audio ingest (byte-identical re-uploads are the dominant
    * duplicate class before any perceptual hashing). Groups on
    * md5(payload): the shuffle carries (hash, id, length), never the
    * media bytes; the corpus is the shifted self-union so duplicate
    * groups exist at every SF. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
    val corpus = docs.union(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("payload")))
    corpus
      .groupBy(md5(col("payload")).as("content_hash"))
      .agg(
        min("doc_id").as("keep_id"),
        count(lit(1)).as("n_copies"),
        min(length(col("payload")).cast("long")).as("n_bytes"))
      .orderBy("content_hash")
  }

  /** Hamming budget for perceptual near-duplicates; with 4 16-bit chunk
    * bands, pigeonhole guarantees any pair within this budget shares at
    * least one intact chunk (3 < 4), so banding recall is exactly 1 —
    * the same exactness argument as `dedup_simhash`. */
  val MediaMaxHamming = 3
  private val MediaChunks = 4

  /** byte stride of the deterministic "re-encode" variant (every
    * stride-th byte reads as 'X' in the perceptual hash) — a handful of
    * perturbed bytes per asset, the perceptual analogue of
    * re-encoding/resizing noise. */
  private val ReencodeStride = 97

  /** Perceptual (near-dup) media dedup — the multimodal analogue of
    * MinHash-LSH for text: byte-identical hashing (`media_dedup`)
    * misses re-encoded/resized variants, the dominant duplicate class
    * in crawled media. Each asset gets a 64-bit aHash-style signature
    * (`MediaMath.aHash64`, codegen'd one-pass map); the corpus is each
    * asset plus its deterministically re-encoded variant (id+1,000,000,
    * NOT byte-identical), and candidate pairs come from a Hamming-banded
    * self-join on 16-bit signature chunks — identical machinery to
    * `dedup_simhash`, so only (sig, id) longs ever shuffle and no
    * all-pairs join exists at any scale. Emitted pairs are verified at
    * Hamming ≤ [[MediaMaxHamming]]; banding recall is structurally 1 by
    * pigeonhole. Variants whose perceptual drift exceeds the budget are
    * correctly absent — both engines apply the same threshold. */
  def mediaNearDup(spark: SparkSession, dir: String): DataFrame = {
    // zero-length payloads are dropped BEFORE hashing: aHash64 maps
    // every empty payload to sig 0, so an empty asset and its re-encode
    // would emit a spurious hamming-0 pair — while the oracle's hex-dump
    // unnest yields no rows for them (they never reach its sig CTE).
    // Filtering on both sides makes the two engines agree for any
    // fixture, including empty-text documents.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .filter(length(col("payload")) > 0)
    val sigs = docs
      .select(col("doc_id"),
        graft.functions.MediaFunctions.mediaAHash(col("payload")).as("sig"))
      .union(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        graft.functions.MediaFunctions.mediaAHash(col("payload"), ReencodeStride).as("sig")))
    val chunks = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until MediaChunks).map(c =>
        shiftrightunsigned(col("sig"), 16 * c).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk", "ck")))
    chunks.as("l")
      .join(chunks.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.ck") === col("r.ck") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        col("l.sig").as("ha"), col("r.sig").as("hb"))
      .distinct()
      .withColumn("hamming",
        graft.functions.TextFunctions.hamming64(col("ha"), col("hb")).cast("long"))
      .filter(col("hamming") <= MediaMaxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  // media_neardup oracle: recompute the aHash bit-exactly from the
  // utf-8 payload's hex dump (nibble pairs → byte values, the
  // media_features technique), then brute-force all-pairs Hamming —
  // valid for any fixture; the banded join must equal it exactly
  // (pigeonhole recall 1 at MediaMaxHamming=3 < 4 chunks).
  private val mediaNearDupSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, 0 AS stride FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, hex(encode(text)), $ReencodeStride FROM documents
       |),
       |pos AS (
       |  SELECT doc_id, len(hx) // 2 AS n, i,
       |    CASE WHEN stride > 0 AND (i - 1) % stride = 0 THEN 88
       |         ELSE (strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
       |            + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INT), 1)) - 1)
       |    END AS b,
       |    ((i - 1) * 64) // (len(hx) // 2) AS r
       |  FROM corpus,
       |       (SELECT unnest(generate_series(1,
       |          (SELECT max(len(hx)) // 2 FROM corpus))) AS i) p
       |  WHERE i <= len(hx) // 2
       |),
       |reg AS (SELECT doc_id, r, sum(b) AS rs, count(*) AS rl FROM pos GROUP BY doc_id, r),
       |tot AS (SELECT doc_id, sum(b) AS ts, count(*) AS n FROM pos GROUP BY doc_id),
       |sig AS (
       |  SELECT reg.doc_id,
       |    CAST(sum(CASE WHEN r // 16 = 0 AND rs * n > ts * rl THEN 1 << (r % 16) ELSE 0 END) AS BIGINT) AS c0,
       |    CAST(sum(CASE WHEN r // 16 = 1 AND rs * n > ts * rl THEN 1 << (r % 16) ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN r // 16 = 2 AND rs * n > ts * rl THEN 1 << (r % 16) ELSE 0 END) AS BIGINT) AS c2,
       |    CAST(sum(CASE WHEN r // 16 = 3 AND rs * n > ts * rl THEN 1 << (r % 16) ELSE 0 END) AS BIGINT) AS c3
       |  FROM reg JOIN tot ON reg.doc_id = tot.doc_id
       |  GROUP BY reg.doc_id
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
       |          + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
       |    + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= $MediaMaxHamming
       |ORDER BY id_a, id_b""".stripMargin

  /** DCT perceptual hash per asset (`media_phash`): the pHash
    * construction ([[graft.functions.MediaMath.pHash63]] — 8×8 region
    * means → integer 2-D DCT-II over the shared milli-quantized cosine
    * table → AC-coefficient sign bits), hashed twice per asset: the
    * original payload and the deterministic re-encoded variant
    * (stride-[[ReencodeStride]] byte perturbation, the media_neardup
    * convention). The shipped Hamming distance between the two is the
    * property a perceptual hash exists for — a re-encode moves the
    * signature a FEW bits, where a cryptographic hash (media_dedup's
    * md5) moves ~half of them; aHash reads local region brightness,
    * pHash reads global frequency structure, so the pair covers both
    * classic near-dup signatures. The oracle recomputes the identical
    * transform in SQL from the hex dump, with the SAME 64 cosine
    * literals embedded — no engine calls its own libm.
    *
    * Scale shape: one codegen'd O(bytes) pass + a fixed 4096-term
    * transform per row; no shuffle, no driver state — scan speed at
    * any corpus size. */
  def mediaPhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .select(col("doc_id"),
        graft.functions.MediaFunctions.mediaPHash(col("payload")).as("phash"),
        graft.functions.MediaFunctions.mediaPHash(col("payload"), ReencodeStride)
          .as("phash_var"))
      .withColumn("hamming", expr("CAST(bit_count(phash ^ phash_var) AS BIGINT)"))
      .orderBy("doc_id")

  private val mediaPhashSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, 0 AS stride FROM documents
       |  UNION ALL
       |  SELECT doc_id, hex(encode(text)), $ReencodeStride FROM documents
       |), pos AS (
       |  SELECT doc_id, stride, i,
       |    CASE WHEN stride > 0 AND (i - 1) % stride = 0 THEN 88
       |         ELSE (strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
       |            + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INT), 1)) - 1)
       |    END AS b,
       |    ((i - 1) * 64) // (len(hx) // 2) AS r
       |  FROM corpus,
       |       (SELECT unnest(generate_series(1,
       |          (SELECT max(len(hx)) // 2 FROM corpus))) AS i) p
       |  WHERE i <= len(hx) // 2
       |), mean AS (
       |  SELECT doc_id, stride, r,
       |         CAST(sum(b) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS m
       |  FROM pos GROUP BY doc_id, stride, r
       |), ct(u, i, c) AS (VALUES ${graft.functions.MediaMath.cosqSqlValues}
       |), dct AS (
       |  SELECT mn.doc_id, mn.stride, cu.u AS u, cv.u AS v,
       |         sum(cu.c * cv.c * mn.m) AS coeff
       |  FROM mean mn
       |  JOIN ct cu ON cu.i = mn.r // 8
       |  JOIN ct cv ON cv.i = mn.r % 8
       |  GROUP BY 1, 2, 3, 4
       |), sig AS (
       |  SELECT doc_id, stride,
       |    CAST(sum(CASE WHEN (u != 0 OR v != 0) AND coeff > 0
       |         THEN CAST(1 AS BIGINT) << CAST(u * 8 + v - 1 AS INT) ELSE 0 END)
       |      AS BIGINT) AS ph
       |  FROM dct GROUP BY doc_id, stride
       |)
       |SELECT d.doc_id, coalesce(a.ph, 0) AS phash, coalesce(b.ph, 0) AS phash_var,
       |       CAST(bit_count(xor(coalesce(a.ph, 0), coalesce(b.ph, 0))) AS BIGINT) AS hamming
       |FROM documents d
       |LEFT JOIN sig a ON a.doc_id = d.doc_id AND a.stride = 0
       |LEFT JOIN sig b ON b.doc_id = d.doc_id AND b.stride > 0
       |ORDER BY d.doc_id""".stripMargin

  /** WebDataset-style shard manifest — the packing plan every
    * multimodal training pipeline writes before tarring assets into
    * fixed shard files: each asset routes to one of
    * [[Curation.NumShards]] shards via the SAME rendezvous/HRW hash
    * `shard_assign` serves (reused, not re-derived — so adding a shard
    * moves only that shard's assets, the property a mod-N router
    * lacks), and the manifest reports per-shard asset count, payload
    * byte total, and the id range — what the tar-writer consumes and
    * what capacity planning reads.
    *
    * Scale shape: routing is a pure per-row integer expression (zero
    * shuffle), the manifest is a [[Curation.NumShards]]-row partial
    * aggregate; byte totals come from the binary payload length, so a
    * 100 TB asset corpus streams at scan speed. */
  def mediaShardManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(encode(col("text"), "utf-8")).cast("long").as("n_bytes"))
      .withColumn("shard", Curation.hrwShard(col("doc_id"), 0 until Curation.NumShards))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_assets"), sum("n_bytes").as("total_bytes"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("shard")

  private val mediaShardManifestSql: String = {
    def h(s: Int) =
      s"(((doc_id % ${Curation.HashReduceMod}) * 31 + ${s + 1}) * 2654435761) % 999983"
    val hs = (0 until Curation.NumShards).map(h)
    val g  = s"greatest(${hs.mkString(", ")})"
    val shard = (0 until Curation.NumShards).init
      .map(s => s"WHEN ${hs(s)} = g THEN CAST($s AS BIGINT)")
      .mkString("CASE ", " ", s" ELSE CAST(${Curation.NumShards - 1} AS BIGINT) END")
    s"""WITH hx AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, $g AS g
       |  FROM documents
       |), a AS (SELECT doc_id, n_bytes, $shard AS shard FROM hx)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_assets,
       |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       |       min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM a GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** 1-in-N sampling modulus for the blob-file staging (see
    * [[binaryFileIngest]]). The modulus alone scales linearly with the
    * corpus, so [[IngestIdCap]] bounds the staged set ABSOLUTELY —
    * the same absolute-id gate `lsh_tuning_matrix` uses: at most
    * IngestIdCap/IngestMod = 10k files / ~10 MB collected to the
    * driver regardless of SF. */
  private val IngestMod   = 10L
  private val IngestIdCap = 100000L

  /** Spark's `binaryFile` SOURCE as an operator — the ingest path a
    * multimodal pipeline actually starts from: media lands as FILES in
    * object storage, and the first Spark stage is a distributed
    * binary-file scan yielding (path, length, content) rows that feed
    * the binary-column plumbing above ([[mediaMeta]] etc.). The query
    * reads a staged directory of per-doc blob files and emits each
    * asset's identity (id parsed from the file name), byte length, and
    * content digest — proving the bytes survive the file round-trip
    * exactly (the md5 hash-gates against the base table).
    *
    * Staging note: materializing the sampled payloads as real files is
    * TEST-HARNESS plumbing (collect of a 1-in-[[IngestMod]] sample
    * under the absolute [[IngestIdCap]] id gate — ≤10k files at ANY
    * SF), not the operator; in production the files already
    * exist. The operator is the `format("binaryFile")` scan, which is
    * a real distributed source: executor-side file reads, one
    * partition per file group, `length`/`path` served from listing
    * metadata without touching content, and a pushable
    * `pathGlobFilter`. At 100 TB the same plan reads the bucket
    * listing instead of a temp dir. */
  def binaryFileIngest(spark: SparkSession, dir: String): DataFrame = Checkpoints.scope { ck =>
    withTempDir("graft-binfiles") { tmp =>
      Tables.documents(spark, dir)
        .filter(col("doc_id") % IngestMod === 0 && col("doc_id") < IngestIdCap)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
        .collect()
        .foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(tmp, f"doc_${r.getLong(0)}%012d.bin"),
            r.getAs[Array[Byte]](1))
          ()
        }
      ck.ckpt(spark.read.format("binaryFile").load(tmp)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("payload_md5"))
        .orderBy("doc_id")) // must outlive the temp dir
    }
  }

  private val binaryFileIngestSql: String =
    s"""SELECT doc_id,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  md5(text) AS payload_md5
       |FROM documents WHERE doc_id % $IngestMod = 0 AND doc_id < $IngestIdCap
       |ORDER BY doc_id""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef.sql("binary_file_ingest", binaryFileIngestSql)(binaryFileIngest),
    QueryDef.sql("media_neardup", mediaNearDupSql)(mediaNearDup),
    QueryDef.sql("media_phash", mediaPhashSql)(mediaPhash),
    QueryDef.sql("media_shard_manifest", mediaShardManifestSql)(mediaShardManifest),
    QueryDef.sql("media_dedup",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |)
        |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies,
        |       CAST(min(octet_length(encode(text))) AS BIGINT) AS n_bytes
        |FROM corpus GROUP BY content_hash ORDER BY content_hash""".stripMargin)(mediaDedup),
    // BYTE-exact oracle, valid for any fixture (non-ASCII included):
    // the utf-8 bytes' high nibbles via hex(encode(text)) — nibble 0-3
    // ⇒ byte < 0x40 (bin 0), 4-7 ⇒ bin 1, 8-B ⇒ bin 2, C-F ⇒ bin 3 —
    // exactly the `(b & 0xFF) / 64` binning the Spark side computes.
    QueryDef.sql("media_features",
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        |n AS (
        |  SELECT doc_id, list_transform(generate_series(1, len(hx) // 2),
        |         i -> substr(hx, CAST(2 * i - 1 AS INT), 1)) AS nib
        |  FROM h
        |)
        |SELECT doc_id,
        |  CAST(len(list_filter(nib, c -> c BETWEEN '0' AND '3')) AS BIGINT) AS b0,
        |  CAST(len(list_filter(nib, c -> c BETWEEN '4' AND '7')) AS BIGINT) AS b1,
        |  CAST(len(list_filter(nib, c -> c BETWEEN '8' AND 'B')) AS BIGINT) AS b2,
        |  CAST(len(list_filter(nib, c -> c BETWEEN 'C' AND 'F')) AS BIGINT) AS b3
        |FROM n ORDER BY doc_id""".stripMargin)(featureExtract),
    QueryDef.sql("media_frames",
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |       (CAST(octet_length(encode(text)) AS BIGINT) * 31 + f) % 1000000007 AS frame_hash
        |FROM documents,
        |     (SELECT unnest(generate_series(0, 7)) AS f) frames
        |WHERE f < 1 + octet_length(encode(text)) % 8 AND f % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin)(frameSample),
    QueryDef.sql("media_resize",
      """WITH meta AS (
        |  SELECT doc_id,
        |    1 + CAST(octet_length(encode(text)) AS BIGINT) % 64 AS width,
        |    1 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 64 AS height
        |  FROM documents
        |)
        |SELECT doc_id, width, height,
        |       greatest(1, width * 32 // greatest(width, height)) AS out_w,
        |       greatest(1, height * 32 // greatest(width, height)) AS out_h
        |FROM meta ORDER BY doc_id""".stripMargin)(mediaResize),
    QueryDef.sql("media_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  1 + CAST(octet_length(encode(text)) AS BIGINT) % 64 AS width,
        |  1 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 64 AS height,
        |  1 + CAST(octet_length(encode(text)) AS BIGINT) % 8 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin)(mediaMeta),
  )
}
