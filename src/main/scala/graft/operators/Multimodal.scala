package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Multimodal column plumbing (SURVEY.md §2 D-block, `m_multimodal_meta`).
  *
  * Media payloads are opaque `binary` columns + typed metadata structs —
  * the only schema that scales: parquet stores the bytes page-compressed,
  * metadata predicate-pushes, and decode runs batch-wise per partition.
  *
  * The decode step is a STUB (no image/audio libs in this container):
  * `fakeDecode` derives deterministic pseudo-dimensions from the payload
  * bytes. The Spark-side plumbing — schema, encoder, per-partition batch
  * iteration (the Scala twin of `mapInPandas`), partition sizing — is
  * real and tested. Swap `fakeDecode` for a JNI/ffmpeg/PIL call and
  * nothing else changes.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Typed media row: payload + envelope metadata. */
  final case class MediaRow(doc_id: Long, format: String, payload: Array[Byte])

  /** Decoded metadata produced by the (stubbed) decoder. */
  final case class MediaMeta(doc_id: Long, format: String, n_bytes: Long,
                             width: Int, height: Int, ok: Boolean)

  /** STUB decoder — deterministic fake: dimensions from the first
    * payload bytes. Replace with a real decoder; the call site
    * (mapPartitions batch loop) is the production shape. */
  def fakeDecode(payload: Array[Byte]): (Int, Int, Boolean) = {
    if (payload.isEmpty) (0, 0, false)
    else {
      val w = 64 + (payload(0) & 0x7f)
      val h = 64 + (payload(payload.length / 2) & 0x7f)
      (w, h, true)
    }
  }

  /** Build a media table from `documents`: text bytes stand in for the
    * opaque payload; format assigned deterministically. At 100 TB this
    * is `spark.read.parquet` over (id, format, payload, metadata). */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Decode metadata per partition — batch iteration, no per-row JVM↔
    * native crossings when the real decoder arrives (the Scala twin of
    * a Pandas `mapInPandas` UDF: one iterator per partition, streaming). */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init goes here (decoder handles, buffers)
      it.map { r =>
        val (w, h, ok) = fakeDecode(r.payload)
        MediaMeta(r.doc_id, r.format, r.payload.length.toLong, w, h, ok)
      }
    }
  }

  /** m_multimodal_meta: aggregates decoded metadata per format. Fully
    * oracle-checked: the payload is the UTF-8 text bytes and the corpus
    * is pure ASCII (byte == char, verified at every SF), so the stub
    * decoder's byte arithmetic — n_bytes = length, w = 64 + (byte[0] &
    * 0x7f), h = 64 + (byte[len/2] & 0x7f) — is exactly expressible in
    * SQL over `documents`. The oracle therefore verifies the whole
    * mapPartitions plumbing (schema, format assignment, batch decode
    * loop) end-to-end; only a REAL media decoder would drop back to a
    * rows-only check. */
  def multimodalMeta: Q = (s, dir) =>
    decodeMeta(mediaTable(s, dir)).toDF()
      .groupBy("format")
      .agg(count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("height").cast("long")).as("sum_height"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"))
      .orderBy("format")

  val multimodalMetaSql: String =
    """WITH media AS (
      | SELECT doc_id,
      |  ['png', 'jpeg', 'wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS format,
      |  text
      | FROM documents
      |)
      |SELECT format,
      | count(*) AS n_media,
      | CAST(sum(length(text)) AS BIGINT) AS total_bytes,
      | CAST(sum(CASE WHEN length(text) = 0 THEN 0
      |   ELSE 64 + ascii(substr(text, 1, 1)) % 128 END) AS BIGINT) AS sum_width,
      | CAST(sum(CASE WHEN length(text) = 0 THEN 0
      |   ELSE 64 + ascii(substr(text, length(text) // 2 + 1, 1)) % 128 END) AS BIGINT) AS sum_height,
      | CAST(sum(CASE WHEN length(text) = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_ok
      |FROM media GROUP BY format ORDER BY format""".stripMargin

  // ------------------------------------------------------ m_frame_sample
  /** Frame sampling — the video-pipeline primitive: the payload is
    * chunked into fixed `frameBytes` frames and every `frameStep`-th
    * frame is selected (uniform temporal sampling). The per-partition
    * batch loop does REAL byte slicing on the payload (swap the slicer
    * for an ffmpeg keyframe call and nothing else changes); emitted
    * metadata is the frame census + an md5 of the first sampled frame.
    * Oracle-exact like m_multimodal_meta: ASCII corpus ⇒ byte slices ==
    * substr, so frame counts and the frame hash are SQL-expressible. */
  val frameBytes = 256
  val frameStep = 4

  final case class FrameMeta(doc_id: Long, format: String, n_frames: Long,
                             n_sampled: Long, first_frame_md5: String)

  def frameSample(media: Dataset[MediaRow]): Dataset[FrameMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init (decoder/digest handles) — allocated once
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val nFrames = (r.payload.length + frameBytes - 1) / frameBytes
        val nSampled = (nFrames + frameStep - 1) / frameStep
        val first = r.payload.slice(0, math.min(frameBytes, r.payload.length))
        md.reset()
        val hex = md.digest(first).map("%02x".format(_)).mkString
        FrameMeta(r.doc_id, r.format, nFrames.toLong, nSampled.toLong, hex)
      }
    }
  }

  def frameSampleQ: Q = (s, dir) =>
    frameSample(mediaTable(s, dir)).toDF().orderBy("doc_id")

  val frameSampleSql: String =
    s"""SELECT doc_id,
       | ['png', 'jpeg', 'wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS format,
       | (length(text) + ${frameBytes - 1}) // $frameBytes AS n_frames,
       | ((length(text) + ${frameBytes - 1}) // $frameBytes + ${frameStep - 1}) // $frameStep AS n_sampled,
       | md5(substr(text, 1, $frameBytes)) AS first_frame_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- m_scene_detect
  /** SCENE (shot-boundary) DETECTION — the video-curation primitive
    * that turns a frame stream into clips (dedup, captioning, and
    * clip-sampling all operate per scene, not per frame): consecutive
    * frame SIGNATURES are compared and a cut is declared when their
    * hamming distance exceeds `sceneCutHam` — the standard
    * histogram/phash-delta shot detector shape. The signature here is
    * the first 48 bits of md5(frame bytes) (the stub stand-in for a
    * perceptual frame hash; swap `sig` for a decoder-backed phash and
    * nothing else changes — same seam as fakeDecode). Per doc the op
    * emits the frame census, the scene count, and the longest scene
    * run — computed IMPERATIVELY inside one mapPartitions pass (arrays
    * beat exploded rows: a doc's frames never need to leave the task),
    * while the oracle replays the identical arithmetic as an
    * explode + window chain. Threshold: random 48-bit signatures sit
    * at hamming ≈ 24, so > `sceneCutHam` = 20 keeps a measurable
    * fraction of boundaries cut-free on the synthetic payloads. */
  val sceneCutHam = 20

  final case class SceneMeta(doc_id: Long, n_frames: Long, n_scenes: Long,
                             max_scene_frames: Long)

  def sceneDetect(media: Dataset[MediaRow]): Dataset[SceneMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition digest handle (the decoder-handle seam)
      val md = java.security.MessageDigest.getInstance("MD5")
      def sig(f: Array[Byte]): Long = {
        md.reset()
        java.lang.Long.parseLong(
          md.digest(f).map("%02x".format(_)).mkString.take(12), 16)
      }
      it.map { r =>
        val frames = r.payload.grouped(frameBytes).toArray
        val sigs = frames.map(sig)
        val isCut = (1 until sigs.length).map(i =>
          java.lang.Long.bitCount(sigs(i - 1) ^ sigs(i)) > sceneCutHam)
        val nScenes = if (frames.isEmpty) 0L else 1L + isCut.count(identity)
        var maxRun = if (frames.isEmpty) 0L else 1L
        var run = maxRun
        isCut.foreach { c =>
          run = if (c) 1L else run + 1L
          maxRun = math.max(maxRun, run)
        }
        SceneMeta(r.doc_id, frames.length.toLong, nScenes, maxRun)
      }
    }
  }

  def sceneDetectQ: Q = (s, dir) =>
    sceneDetect(mediaTable(s, dir)).toDF().orderBy("doc_id")

  val sceneDetectSql: String = {
    val sig = OracleSql.hexToLong("h", 1, 12)
    s"""WITH fr AS (
       | SELECT doc_id,
       |  CAST((length(text) + ${frameBytes - 1}) // $frameBytes AS BIGINT)
       |   AS nf,
       |  unnest(range(1,
       |   (length(text) + ${frameBytes - 1}) // $frameBytes + 1)) AS i,
       |  text
       | FROM documents
       |), sg AS (
       | SELECT doc_id, nf, i,
       |  md5(substr(text,
       |   CAST((i - 1) * $frameBytes + 1 AS INTEGER), $frameBytes)) AS h
       | FROM fr
       |), sig AS (
       | SELECT doc_id, nf, i, CAST($sig AS BIGINT) AS sg FROM sg
       |), ct AS (
       | SELECT doc_id, nf, i,
       |  CASE WHEN i = 1 THEN 1
       |   WHEN bit_count(xor(lag(sg) OVER w, sg)) > $sceneCutHam THEN 1
       |   ELSE 0 END AS is_new
       | FROM sig WINDOW w AS (PARTITION BY doc_id ORDER BY i)
       |), sc AS (
       | SELECT doc_id, nf, i,
       |  sum(is_new) OVER (PARTITION BY doc_id ORDER BY i) AS scene
       | FROM ct
       |), per AS (
       | SELECT doc_id, nf, scene, count(*) AS flen FROM sc GROUP BY 1, 2, 3
       |)
       |SELECT doc_id, nf AS n_frames, CAST(max(scene) AS BIGINT) AS n_scenes,
       | CAST(max(flen) AS BIGINT) AS max_scene_frames
       |FROM per GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- m_embed_batch
  /** Batched embedding inference — the GPU-inference plumbing shape: a
    * model call costs per-BATCH, not per-row, so the partition iterator
    * is chunked into `embedBatchSize`-row batches and the (stub) encoder
    * is invoked once per batch (`it.grouped(n).flatMap`), streaming —
    * never materializing the partition. Swap `encodeBatch` for an ONNX/
    * TensorRT session call and nothing else changes.
    *
    * The stub is deterministic PER DOC (md5-nibble arithmetic on the
    * text), so results are invariant to partitioning and batch
    * composition — which is also the property a real pipeline needs
    * (inference must not depend on how rows were batched). Oracle-exact:
    * the nibble arithmetic is SQL-expressible. */
  val embedBatchSize = 32
  val embedDim = 4

  final case class DocEmbed(doc_id: Long, dim: Int, c0: Long, checksum: Long)

  /** STUB batch encoder: one call per batch (the real-model boundary).
    * Component j of a doc = (sum of the first 4 nibbles of
    * md5("j:" + text)) - 30, an integer in [-30, 30]. */
  def encodeBatch(texts: Seq[String]): Seq[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.map { t =>
      Array.tabulate(embedDim) { j =>
        md.reset()
        val hex = md.digest(s"$j:$t".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        hex.take(4).map(c => "0123456789abcdef".indexOf(c).toLong).sum - 30
      }
    }
  }

  /** The shared typed transform: works for BATCH and STREAMING input
    * alike (stateless mapPartitions — Streams.scala drives it through
    * MemoryStream micro-batches as `st_embed_batch`). */
  def embedRows(rows: Dataset[(Long, String)]): Dataset[DocEmbed] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      // per-partition init (model session handle) goes here
      it.grouped(embedBatchSize).flatMap { batch =>
        val vecs = encodeBatch(batch.map(_._2))
        batch.zip(vecs).map { case ((id, _), v) =>
          DocEmbed(id, embedDim, v(0), v.sum)
        }
      }
    }
  }

  def embedBatchQ: Q = (s, dir) => {
    import s.implicits._
    embedRows(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)])
      .toDF().orderBy("doc_id")
  }

  val embedBatchSql: String = {
    def comp(j: Int): String =
      "(" + (1 to 4).map(q =>
        s"(strpos('0123456789abcdef', substr(md5('$j:' || text), $q, 1)) - 1)")
        .mkString(" + ") + " - 30)"
    s"""SELECT doc_id, CAST($embedDim AS INTEGER) AS dim,
       | CAST(${comp(0)} AS BIGINT) AS c0,
       | CAST(${(0 until embedDim).map(comp).mkString(" + ")} AS BIGINT) AS checksum
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ m_resize
  /** Downsample/resize plumbing — the remaining quarter of the
    * decode / feature-extract / resize / frame-sample quartet: the
    * payload is stride-2 downsampled (every 2nd byte) in the
    * per-partition batch loop — REAL byte surgery on the payload (swap
    * the strided copy for a libvips/ffmpeg scale call and nothing else
    * changes); emitted metadata is the size pair + an md5 of the
    * RESIZED payload, so the oracle verifies the transformed bytes,
    * not just their count. ASCII corpus ⇒ byte striding ==
    * char striding, SQL-expressible. */
  val resizeStride = 2

  final case class ResizeMeta(doc_id: Long, format: String, orig_bytes: Long,
                              resized_bytes: Long, resized_md5: String)

  def resize(media: Dataset[MediaRow]): Dataset[ResizeMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val out = Array.tabulate((r.payload.length + resizeStride - 1) /
          resizeStride)(i => r.payload(i * resizeStride))
        md.reset()
        val hex = md.digest(out).map("%02x".format(_)).mkString
        ResizeMeta(r.doc_id, r.format, r.payload.length.toLong,
          out.length.toLong, hex)
      }
    }
  }

  def resizeQ: Q = (s, dir) =>
    resize(mediaTable(s, dir)).toDF().orderBy("doc_id")

  val resizeSql: String =
    s"""SELECT doc_id,
       | ['png', 'jpeg', 'wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS format,
       | CAST(length(text) AS BIGINT) AS orig_bytes,
       | CAST((length(text) + ${resizeStride - 1}) // $resizeStride AS BIGINT) AS resized_bytes,
       | md5(array_to_string(list_transform(
       |   range(1, (length(text) + ${resizeStride - 1}) // $resizeStride + 1),
       |   i -> substr(text, (i - 1) * $resizeStride + 1, 1)), '')) AS resized_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- m_chunk
  /** OVERLAPPING-WINDOW chunking — the audio-ASR / long-context
    * primitive (Whisper-style 30 s windows with overlap; long-doc
    * chunk-and-embed): each payload explodes into `chunkBytes` windows
    * every `chunkHop` bytes (25% overlap so no boundary token is lost
    * to a cut), the ONE-ROW→MANY-CHUNKS flatMap shape downstream
    * inference consumes. The batch loop does REAL byte slicing +
    * per-chunk md5 (swap for a resampler/tokenizer call and nothing
    * else changes); the ragged LAST chunk proves boundary handling.
    * Docs < 100 keep the oracle bounded; the plan is corpus-invariant.
    * ASCII corpus ⇒ slices == substr, oracle-exact. */
  val chunkBytes = 200
  val chunkHop = 150

  final case class ChunkRow(doc_id: Long, chunk_idx: Int, start: Long,
                            n_bytes: Long, chunk_md5: String)

  def chunk(media: Dataset[MediaRow]): Dataset[ChunkRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { r =>
        val len = r.payload.length
        if (len == 0) Iterator.empty
        else {
          val n = if (len <= chunkBytes) 1
                  else (len - chunkBytes + chunkHop - 1) / chunkHop + 1
          (0 until n).iterator.map { i =>
            val st = i * chunkHop
            val nb = math.min(chunkBytes, len - st)
            md.reset()
            val hex = md.digest(r.payload.slice(st, st + nb))
              .map("%02x".format(_)).mkString
            ChunkRow(r.doc_id, i, st.toLong, nb.toLong, hex)
          }
        }
      }
    }
  }

  def chunkQ: Q = (s, dir) => {
    import s.implicits._
    chunk(mediaTable(s, dir).filter(col("doc_id") < 100L).as[MediaRow])
      .toDF().orderBy("doc_id", "chunk_idx")
  }

  val chunkSql: String =
    s"""WITH d AS (
       | SELECT doc_id, text, length(text) AS len FROM documents
       | WHERE doc_id < 100 AND length(text) > 0
       |), n AS (
       | SELECT doc_id, text, len,
       |  CASE WHEN len <= $chunkBytes THEN 1
       |       ELSE (len - $chunkBytes + ${chunkHop - 1}) // $chunkHop + 1
       |  END AS n_chunks
       | FROM d
       |)
       |SELECT doc_id, CAST(i.i AS INTEGER) AS chunk_idx,
       | CAST(i.i * $chunkHop AS BIGINT) AS start,
       | CAST(least($chunkBytes, len - i.i * $chunkHop) AS BIGINT) AS n_bytes,
       | md5(substr(text, CAST(i.i * $chunkHop + 1 AS INTEGER),
       |     CAST(least($chunkBytes, len - i.i * $chunkHop) AS INTEGER))) AS chunk_md5
       |FROM n, LATERAL (SELECT unnest(range(n_chunks)) AS i) i
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // -------------------------------------------------- m_modality_dispatch
  /** MODALITY DISPATCH by MAGIC BYTES — mixed-modality tables are
    * routed by sniffing the payload's leading bytes (the production
    * reality: the format column is absent or wrong; content decides).
    * Each payload gets its real container magic prepended (PNG
    * \x89PNG / JPEG \xFF\xD8\xFF / RIFF), detection compares binary
    * prefixes (hex literals — no string decode of non-UTF8 bytes),
    * and rows route into per-modality branches (image → stub dimension
    * arithmetic, audio → frame-count arithmetic) that union back into
    * one report. `n_match` counts detected == assigned — a green row
    * proves the sniffing recovers every container. Linear scan, one
    * 3-group shuffle; the branch union is how a real mixed pipeline
    * fans out per-modality decoders. */
  def modalityDispatch: Q = (s, dir) => {
    val pngMagic = Array[Byte](0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
    val jpegMagic = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
    val riffMagic = "RIFF".getBytes("UTF-8")
    val m = mediaTable(s, dir).toDF()
      .withColumn("p2", concat(
        when(col("format") === "png", lit(pngMagic))
          .when(col("format") === "jpeg", lit(jpegMagic))
          .otherwise(lit(riffMagic)),
        col("payload")))
    val detected = m.withColumn("detected",
      when(expr("substring(p2, 1, 4) = X'89504E47'"), "png")
        .when(expr("substring(p2, 1, 4) = X'FFD8FFE0'"), "jpeg")
        .when(expr("substring(p2, 1, 4) = X'52494646'"), "wav")
        .otherwise("unknown"))
    val image = detected.filter(col("detected").isin("png", "jpeg"))
      .select(col("detected"), col("format"),
        (length(col("p2")) - 4).cast("long").as("body_bytes"),
        // stub decoder arithmetic on the first BODY byte (width proxy)
        (lit(64) + expr("ascii(substring(decode(payload, 'UTF-8'), 1, 1)) % 128"))
          .cast("long").as("stat"))
    val audio = detected.filter(col("detected") === "wav")
      .select(col("detected"), col("format"),
        (length(col("p2")) - 4).cast("long").as("body_bytes"),
        // frame count at chunkBytes per frame, ceil — the ASR shape
        expr(s"CAST((length(p2) - 4 + $chunkBytes - 1) div $chunkBytes AS BIGINT)")
          .as("stat"))
    image.unionByName(audio)
      .groupBy(col("detected").as("modality"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("detected") === col("format"), 1L).otherwise(0L)).as("n_match"),
        sum(col("body_bytes")).as("body_bytes"),
        sum(col("stat")).as("stat_sum"))
      .orderBy("modality")
  }

  /** Oracle reconstructs the same dispatch from `documents`: format
    * assignment is doc_id-parity, magic adds 4 bytes, ASCII body ⇒
    * byte arithmetic == char arithmetic. */
  val modalityDispatchSql: String =
    s"""WITH m AS (
       | SELECT doc_id,
       |  ['png', 'jpeg', 'wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS fmt,
       |  length(text) AS body, text
       | FROM documents
       |)
       |SELECT fmt AS modality, count(*) AS n_files, count(*) AS n_match,
       | CAST(sum(body) AS BIGINT) AS body_bytes,
       | CAST(sum(CASE WHEN fmt IN ('png', 'jpeg')
       |   THEN 64 + (ascii(substr(text, 1, 1)) % 128)
       |   ELSE (body + $chunkBytes - 1) // $chunkBytes END) AS BIGINT) AS stat_sum
       |FROM m GROUP BY fmt ORDER BY modality""".stripMargin

  // ------------------------------------------------------ m_phash_dedup
  /** Perceptual-hash NEAR-DUP candidates over the opaque media payload
    * — the image-dedup prefilter of a multimodal pipeline (LAION-
    * style), with the decode+DCT pHash stubbed by a deterministic
    * SHIFT-INVARIANT byte-BIGRAM histogram hash: adjacent payload
    * bytes project to 64 buckets ((b1·31+b2) mod 64), bit v =
    * [bucket-v count · 64 > total] (above-average density), giving a
    * 64-bit signature as two BIGINT halves. Candidates come ONLY from
    * byte-banded LSH over the signature (8 bands of 8 bits — the
    * standard pHash banding), scored by exact hamming via
    * bit_count(xor), kept at ≤ 2/64 bits. Identical payloads collide
    * at hamming 0; local edits move a few bucket densities and survive
    * at small distance (measured on this corpus: shingle-Jaccard>0.5
    * near-dups sit at median hamming 0 / ≤7, random pairs at median
    * ~14 — a prefilter, not a verdict, like every pHash).
    *
    * All arithmetic is integer (bucket counts, cross-multiplied
    * density compare, shifts) — no float in either engine. On a real
    * image corpus only the signature stage changes (decode + DCT in a
    * mapPartitions/Pandas-UDF batch); the histogram build, banding,
    * band join and hamming filter — the parts that shuffle at 100 TB —
    * are exactly this plan. Scale: the histogram is explode →
    * two map-side-combined groupBys (≤ 64 rows/doc after the first),
    * the band join shuffles 8 rows/doc on (band, value); skewed bands
    * (uniform payloads) are the AQE skew case; never a cross product
    * (plan-audited). */
  def phashDedup: Q = (s, dir) => {
    // Byte-bigram histogram RELATIONALLY: explode byte POSITIONS, then
    // per-row scalar expressions (conv∘hex∘substring — all codegen'd).
    // The previous array-HOF form (hex → nested transform lambdas →
    // explode) was quadratic per document: CollapseProject substitutes
    // the whole per-doc array-build chain into the explode lambda body,
    // so each array ELEMENT re-evaluated the full parse — interpreted
    // (HOF lambdas never codegen) — 666 s at sf0.1 where this plan
    // takes ~2 s. Position-explode + scalar projection is also the
    // 100 TB shape: whole-stage codegen end to end, work exactly
    // Σ(octet_length), no per-doc array materialization at all.
    val buckets = mediaTable(s, dir).toDF()
      .filter(expr("octet_length(payload) >= 2"))
      .select(col("doc_id"),
        expr("CAST(octet_length(payload) - 1 AS BIGINT)").as("total"),
        col("payload"),
        expr("explode(sequence(1, octet_length(payload) - 1))").as("pos"))
      .select(col("doc_id"), col("total"),
        expr("""(CAST(conv(hex(substring(payload, pos, 1)), 16, 10) AS BIGINT) * 31
               | + CAST(conv(hex(substring(payload, pos + 1, 1)), 16, 10) AS BIGINT))
               | % 64""".stripMargin).as("bucket"))
    val cnts = buckets.groupBy("doc_id", "total", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val sig = cnts.groupBy("doc_id").agg(
      expr("""sum(IF(bucket < 32 AND cnt * 64 > total,
             |  shiftleft(1L, CAST(bucket AS INT)), 0L))""".stripMargin)
        .as("sig_lo"),
      expr("""sum(IF(bucket >= 32 AND cnt * 64 > total,
             |  shiftleft(1L, CAST(bucket AS INT) - 32), 0L))""".stripMargin)
        .as("sig_hi"))
      .cache() // feeds both join sides
    val bands = sig.select(col("doc_id"), col("sig_lo"), col("sig_hi"),
      expr("""explode(transform(sequence(0, 7), b -> struct(b AS bid,
             |  IF(b < 4, shiftright(sig_lo, b * 8),
             |     shiftright(sig_hi, (b - 4) * 8)) & 255L AS bval)))"""
        .stripMargin).as("bd"))
      .select(col("doc_id"), col("sig_lo"), col("sig_hi"),
        col("bd.bid").as("bid"), col("bd.bval").as("bval"))
    bands.as("a").join(bands.as("b"),
        col("a.bid") === col("b.bid") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("""bit_count(a.sig_lo ^ b.sig_lo)
               | + bit_count(a.sig_hi ^ b.sig_hi)""".stripMargin)
          .cast("long").as("hamming"))
      .distinct() // a pair sharing several bands appears once
      .filter(col("hamming") <= 2)
      .orderBy("doc_a", "doc_b")
  }

  // -------------------------------------------------------- m_phash_eval
  /** pHash EVAL harness — the d_simhash_eval pattern applied to the
    * BYTE domain, completing the eval-harness family (every sketch the
    * engine ships is now scored on a driver-checked yardstick):
    * m_phash_dedup's claimed pairs (banded candidates at hamming ≤ 2)
    * against the exact blocked-Jaccard TEXT truth — legitimate ground
    * truth here because the payload IS the text's bytes, so byte-level
    * near-dups and shingle near-dups should coincide; on a real image
    * corpus the truth column comes from human labels or exact pixel
    * dedup, and this table is unchanged. Low recall is EXPECTED and is
    * the measurement (hamming ≤ 2 trades recall for a tiny candidate
    * set — the prefilter contract); the number says what the prefilter
    * alone would miss. Oracle composes both full CTE chains. */
  def phashEval: Q = (s, dir) => {
    graft.model.PropertyGraph.withCheckpoints { ck =>
      val pred = ck.lazily(phashDedup(s, dir).select("doc_a", "doc_b"))
      val truth = ck.lazily(Dedup.jaccardPairs(s, dir).select("doc_a", "doc_b"))
      val tp = pred.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      pred.agg(count(lit(1)).as("n_pred"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        .select(col("n_pred"), col("n_truth"), col("n_tp"),
          expr("CASE WHEN n_pred = 0 THEN 0 ELSE (n_tp * 1000000) div n_pred END")
            .as("precision_ppm"),
          expr("CASE WHEN n_truth = 0 THEN 0 ELSE (n_tp * 1000000) div n_truth END")
            .as("recall_ppm"))
        .localCheckpoint(eager = true)
    }
  }

  lazy val phashEvalSql: String = {
    s"""WITH $phashChainSqlCtes,
       |${Dedup.jaccardPairsSqlCte},
       |tp AS (
       | SELECT p.doc_a, p.doc_b FROM php p
       | JOIN jp t ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
       |), cts AS (
       | SELECT (SELECT count(*) FROM php) AS n_pred,
       |        (SELECT count(*) FROM jp) AS n_truth,
       |        (SELECT count(*) FROM tp) AS n_tp
       |)
       |SELECT n_pred, n_truth, n_tp,
       | CAST(CASE WHEN n_pred = 0 THEN 0
       |      ELSE (n_tp * 1000000) // n_pred END AS BIGINT) AS precision_ppm,
       | CAST(CASE WHEN n_truth = 0 THEN 0
       |      ELSE (n_tp * 1000000) // n_truth END AS BIGINT) AS recall_ppm
       |FROM cts""".stripMargin
  }

  /** Oracle rebuilds the payload as hex(encode(text)) — the payload IS
    * the UTF-8 text bytes — and replays the identical nibble/bigram/
    * shift arithmetic in DuckDB (xor() there, ^ is POWER). Kept as a
    * NAMED composable CTE chain ending in `php(doc_a, doc_b, hamming)`
    * (the bpeChainSqlCtes / jaccardPairsSqlCte pattern) so
    * phashEvalSql composes it directly instead of string-slicing the
    * finished query. */
  private val phashChainSqlCtes: String =
    """m AS (
      | SELECT doc_id, hex(encode(text)) AS hexs FROM documents
      |), nb AS (
      | SELECT doc_id,
      |  list_transform(range(1, len(hexs) + 1),
      |   i -> CAST(ascii(hexs[i]) - 48 -
      |        CASE WHEN ascii(hexs[i]) >= 65 THEN 7 ELSE 0 END AS BIGINT))
      |   AS nibs
      | FROM m
      |), bt AS (
      | SELECT doc_id,
      |  list_transform(range(1, len(nibs) // 2 + 1),
      |   i -> nibs[CAST(2 * i - 1 AS INTEGER)] * 16
      |      + nibs[CAST(2 * i AS INTEGER)]) AS bts
      | FROM nb
      | WHERE len(nibs) // 2 >= 2
      |), bk AS (
      | SELECT doc_id, CAST(len(bts) - 1 AS BIGINT) AS total,
      |  unnest(list_transform(range(1, len(bts)),
      |   i -> (bts[CAST(i AS INTEGER)] * 31
      |       + bts[CAST(i + 1 AS INTEGER)]) % 64)) AS bucket
      | FROM bt
      |), ct AS (
      | SELECT doc_id, total, bucket, count(*) AS cnt
      | FROM bk GROUP BY 1, 2, 3
      |), sig AS (
      | SELECT doc_id,
      |  CAST(sum(CASE WHEN bucket < 32 AND cnt * 64 > total
      |   THEN (1::BIGINT << CAST(bucket AS INTEGER)) ELSE 0 END)
      |   AS BIGINT) AS sig_lo,
      |  CAST(sum(CASE WHEN bucket >= 32 AND cnt * 64 > total
      |   THEN (1::BIGINT << CAST(bucket - 32 AS INTEGER)) ELSE 0 END)
      |   AS BIGINT) AS sig_hi
      | FROM ct GROUP BY 1
      |), bands AS (
      | SELECT doc_id, sig_lo, sig_hi, t.bid,
      |  CASE WHEN t.bid < 4 THEN (sig_lo >> CAST(t.bid * 8 AS INTEGER)) & 255
      |   ELSE (sig_hi >> CAST((t.bid - 4) * 8 AS INTEGER)) & 255
      |  END AS bval
      | FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS bid) t
      |), php AS (
      | SELECT doc_a, doc_b, hamming FROM (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   CAST(bit_count(xor(a.sig_lo, b.sig_lo))
      |      + bit_count(xor(a.sig_hi, b.sig_hi)) AS BIGINT) AS hamming
      |  FROM bands a JOIN bands b
      |   ON b.bid = a.bid AND b.bval = a.bval AND a.doc_id < b.doc_id
      | )
      | WHERE hamming <= 2
      |)""".stripMargin

  val phashDedupSql: String =
    s"""WITH $phashChainSqlCtes
       |SELECT doc_a, doc_b, hamming FROM php
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ m_aspect_bucket
  /** ASPECT-RATIO BUCKETING — the SDXL-style dataloader prep step:
    * variable-aspect images batch together only if they share a
    * target aspect, so each decoded (w, h) is snapped to the NEAREST
    * of a fixed ratio ladder (1:2, 3:4, 1:1, 4:3, 2:1) and the op
    * reports, per (format, bucket), the member count and the total
    * PADDING WASTE the snap costs (the fraction of pixels letterboxed
    * when resizing into the bucket) — the number that decides whether
    * the ladder needs more rungs. Aspect and waste are exact integers:
    * a = (w·1000) div h; nearest-rung selection is a midpoint CASE on
    * 2a (no float ever compares); waste_ppm = 10⁶ − (10⁶·min(a,rung))
    * div max(a,rung). Rides decodeMeta's mapPartitions batch loop (the
    * real-decoder seam), aggregates map-side; output ≤ formats ×
    * rungs rows at any scale. */
  val aspectRungsMilli: Seq[Long] = Seq(500L, 750L, 1000L, 1333L, 2000L)

  /** Midpoint CASE on 2a — shared verbatim by both engines. */
  private val aspectBucketCase: String = {
    val mids = aspectRungsMilli.sliding(2)
      .map { case Seq(x, y) => x + y }.toSeq // 2·midpoint
    mids.zip(aspectRungsMilli).map { case (m, r) =>
      s"WHEN 2 * a_milli < $m THEN $r"
    }.mkString("CASE ", " ", s" ELSE ${aspectRungsMilli.last} END")
  }

  def aspectBucket: Q = (s, dir) => {
    decodeMeta(mediaTable(s, dir)).toDF()
      .filter(col("ok"))
      .select(col("format"),
        expr("CAST(width AS BIGINT) * 1000 div CAST(height AS BIGINT)")
          .as("a_milli"))
      .select(col("format"), col("a_milli"),
        expr(aspectBucketCase).as("bucket_milli"))
      .select(col("format"), col("bucket_milli"),
        expr("""1000000 - (1000000 * least(a_milli, bucket_milli))
          div greatest(a_milli, bucket_milli)""").as("waste_ppm"))
      .groupBy("format", "bucket_milli")
      .agg(count(lit(1)).as("n_items"),
        sum("waste_ppm").as("sum_waste_ppm"),
        max("waste_ppm").as("max_waste_ppm"))
      .orderBy("format", "bucket_milli")
  }

  val aspectBucketSql: String =
    s"""WITH meta AS (
       | SELECT ['png', 'jpeg', 'wav'][CAST(doc_id % 3 AS INTEGER) + 1]
       |   AS format,
       |  CAST(64 + ascii(substr(text, 1, 1)) % 128 AS BIGINT) AS w,
       |  CAST(64 + ascii(substr(text, length(text) // 2 + 1, 1)) % 128
       |   AS BIGINT) AS h
       | FROM documents WHERE length(text) > 0
       |), a AS (
       | SELECT format, (w * 1000) // h AS a_milli FROM meta
       |), b AS (
       | SELECT format, a_milli, $aspectBucketCase AS bucket_milli FROM a
       |), wst AS (
       | SELECT format, bucket_milli,
       |  1000000 - (1000000 * least(a_milli, bucket_milli))
       |   // greatest(a_milli, bucket_milli) AS waste_ppm
       | FROM b
       |)
       |SELECT format, bucket_milli, count(*) AS n_items,
       | CAST(sum(waste_ppm) AS BIGINT) AS sum_waste_ppm,
       | CAST(max(waste_ppm) AS BIGINT) AS max_waste_ppm
       |FROM wst GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------------- m_mm_pack
  /** INTERLEAVED MULTIMODAL SEQUENCE PACKING — t_pack_sequences'
    * context packer generalized to mixed token costs: a multimodal
    * training example spends text tokens (whitespace word count) PLUS
    * vision tokens (frames × `mmTokensPerFrame`, frames from the
    * m_frame_sample byte arithmetic), and the packer fills
    * `mmCtxTokens`-token contexts per hash-split writer (the
    * m_shard_pack no-global-order shape: each writer packs its own
    * doc_id-ordered stream with one bounded window; writer count is
    * the scale knob). An item is assigned to the context where its
    * running token offset starts (items may straddle — fill_ppm > 10⁶
    * marks the straddle, the dataloader's truncate-or-wrap decision
    * point). Output per context: doc count, text/vision token split,
    * fill ratio — the table that says whether vision tokens are
    * starving text packing. */
  val mmCtxTokens = 512L
  val mmTokensPerFrame = 4L
  // declared HERE, not borrowed from m_shard_pack's shardWriters below:
  // a Scala val read before its declaration point in object init is 0,
  // and "% 0" is NULL in DuckDB — the first cut shipped exactly that
  val mmWriters = 8

  def mmPack: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("writer").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    mediaTable(s, dir).toDF()
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(mmWriters)).as("writer"),
        size(split(decode(col("payload"), "UTF-8"), " ")).cast("long")
          .as("text_tok"),
        (expr(s"CAST((octet_length(payload) + ${frameBytes - 1}) div $frameBytes AS BIGINT)")
          * mmTokensPerFrame).as("img_tok"))
      .withColumn("tok", col("text_tok") + col("img_tok"))
      .withColumn("cum_before", coalesce(sum("tok").over(w), lit(0L)))
      .select(col("doc_id"), col("text_tok"), col("img_tok"), col("tok"),
        (col("writer") * 1000000L + expr(s"cum_before div $mmCtxTokens"))
          .as("ctx_id"))
      .groupBy("ctx_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("text_tok").as("text_tokens"), sum("img_tok").as("img_tokens"),
        expr(s"(sum(tok) * 1000000) div $mmCtxTokens").as("fill_ppm"))
      .orderBy("ctx_id")
  }

  val mmPackSql: String =
    s"""WITH m AS (
       | SELECT doc_id, doc_id % $mmWriters AS writer,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS text_tok,
       |  CAST((octet_length(encode(text)) + ${frameBytes - 1}) // $frameBytes
       |   AS BIGINT) * $mmTokensPerFrame AS img_tok
       | FROM documents
       |), t AS (
       | SELECT doc_id, writer, text_tok, img_tok,
       |  text_tok + img_tok AS tok
       | FROM m
       |), c AS (
       | SELECT doc_id, text_tok, img_tok, tok,
       |  writer * 1000000 + (CAST(COALESCE(sum(tok) OVER (
       |    PARTITION BY writer ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |   // $mmCtxTokens) AS ctx_id
       | FROM t
       |)
       |SELECT ctx_id, count(*) AS n_docs,
       | CAST(sum(text_tok) AS BIGINT) AS text_tokens,
       | CAST(sum(img_tok) AS BIGINT) AS img_tokens,
       | CAST((sum(tok) * 1000000) // $mmCtxTokens AS BIGINT) AS fill_ppm
       |FROM c GROUP BY 1 ORDER BY ctx_id""".stripMargin

  // -------------------------------------------------------- m_shard_pack
  /** WebDataset-style SHARD PACKING: media items are assigned to
    * size-bounded shards (`shardBudget` bytes) for sequential-read
    * training IO, and the op emits the shard MANIFEST (item count,
    * byte total, doc-id range per shard) — the index file a dataloader
    * consumes. Items are first hash-split across `shardWriters`
    * independent writers (pmod on doc_id) so packing needs NO global
    * order — each writer packs its own stream with one bounded window
    * (the t_pack_sequences scale shape; a single global running sum
    * would serialize on one partition at 100 TB). Within a writer,
    * items pack in doc_id order; an item is assigned to the shard where
    * its running byte offset starts. Global shard_id =
    * writer·10⁶ + local shard ordinal. All-integer arithmetic. */
  val shardWriters = 8
  val shardBudget = 4096L

  def shardPack: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("writer").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    mediaTable(s, dir).toDF()
      .select(col("doc_id"), pmod(col("doc_id"), lit(shardWriters)).as("writer"),
        length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("cum_before", coalesce(sum("n_bytes").over(w), lit(0L)))
      .select(col("doc_id"), col("n_bytes"),
        (col("writer") * 1000000L + expr(s"cum_before div $shardBudget"))
          .as("shard_id"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_items"), sum("n_bytes").as("shard_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")
  }

  val shardPackSql: String =
    s"""WITH m AS (
       | SELECT doc_id, doc_id % $shardWriters AS writer,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       | FROM documents
       |), c AS (
       | SELECT doc_id, writer, n_bytes,
       |  CAST(COALESCE(sum(n_bytes) OVER (PARTITION BY writer ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_before
       | FROM m
       |)
       |SELECT writer * 1000000 + (cum_before // $shardBudget) AS shard_id,
       | count(*) AS n_items, CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       | min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin

  // -------------------------------------------------------- m_shard_index
  /** PER-MEMBER OFFSET INDEX over the WebDataset shard manifest — the
    * random-access table a tar-backed dataloader needs (WebDataset's
    * .idx sidecar: seek(offset), read(n_bytes) without scanning the
    * shard): each member's byte offset WITHIN its shard, derived from
    * the SAME per-writer running sum the packer computes — offset =
    * cum_before − min(cum_before) over the shard, so no second sort
    * exists (one more shard-bounded window over the already-shaped
    * frame). Index rows are (doc, shard, offset, len) — enough to read
    * any single sample in one ranged GET at any corpus size; windows
    * stay writer-/shard-partitioned (the pack_sequences discipline —
    * nothing corpus-wide). */
  def shardIndex: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("writer").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val assigned = mediaTable(s, dir).toDF()
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(shardWriters)).as("writer"),
        length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("cum_before", coalesce(sum("n_bytes").over(w), lit(0L)))
      .withColumn("shard_id",
        col("writer") * 1000000L + expr(s"cum_before div $shardBudget"))
    val wS = Window.partitionBy("shard_id")
    assigned
      .withColumn("shard_base", min("cum_before").over(wS))
      .select(col("doc_id"), col("shard_id"),
        (col("cum_before") - col("shard_base")).as("offset_bytes"),
        col("n_bytes"))
      .orderBy("doc_id")
  }

  val shardIndexSql: String =
    s"""WITH m AS (
       | SELECT doc_id, doc_id % $shardWriters AS writer,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       | FROM documents
       |), c AS (
       | SELECT doc_id, writer, n_bytes,
       |  CAST(COALESCE(sum(n_bytes) OVER (PARTITION BY writer ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_before
       | FROM m
       |), a AS (
       | SELECT doc_id, n_bytes, cum_before,
       |  writer * 1000000 + (cum_before // $shardBudget) AS shard_id
       | FROM c
       |)
       |SELECT doc_id, CAST(shard_id AS BIGINT) AS shard_id,
       | CAST(cum_before - min(cum_before) OVER (PARTITION BY shard_id)
       |  AS BIGINT) AS offset_bytes,
       | n_bytes
       |FROM a ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- m_epoch_plan
  /** DATALOADER EPOCH PLAN — the reproducible shard-order schedule a
    * multi-epoch training run reads: for each epoch, a DIFFERENT but
    * fully deterministic permutation of the packed shards (epoch-
    * salted md5 rank — the derandomized Fisher-Yates the repo's
    * sampling ops use), so a rerun of epoch e visits shards in the
    * same order on any cluster, and no two epochs share an order
    * (the property that matters: with a repeated order, inter-shard
    * curriculum effects correlate across epochs). The permutation is
    * over the SHARD MANIFEST (m_shard_pack's output — thousands of
    * rows at petabyte scale, never the corpus), so planning cost is
    * nil; position is a rank over (md5(epoch:shard), shard_id) — a
    * total order. Shard-level (not doc-level) shuffling is the
    * WebDataset trade: sequential reads inside a shard, randomness
    * across shards; t_global_shuffle is the doc-level complement. */
  val epochCount = 3

  def epochPlan: Q = (s, dir) => {
    val shards = shardPack(s, dir).select("shard_id", "n_items")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("epoch").orderBy("h", "shard_id")
    shards
      .withColumn("epoch", explode(expr(s"sequence(1, $epochCount)")))
      .withColumn("h", graft.functions.VectorExprs.hexSlice(
        md5(concat_ws(":", col("epoch"), col("shard_id"))), 1, 10))
      .select(col("epoch").cast("long").as("epoch"),
        row_number().over(w).cast("long").as("position"),
        col("shard_id"), col("n_items"))
      .orderBy("epoch", "position")
  }

  lazy val epochPlanSql: String = {
    val rank = OracleSql.hexToLong(
      "md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(s.shard_id AS VARCHAR))",
      1, 10)
    s"""WITH pack AS (
       |$shardPackSql
       |), sm AS (
       | SELECT shard_id, n_items FROM pack
       |), e AS (SELECT unnest(range(1, ${epochCount + 1})) AS epoch)
       |SELECT CAST(e.epoch AS BIGINT) AS epoch,
       | CAST(row_number() OVER (PARTITION BY e.epoch
       |   ORDER BY CAST($rank AS BIGINT), s.shard_id) AS BIGINT) AS position,
       | s.shard_id, s.n_items
       |FROM sm s, e
       |ORDER BY epoch, position""".stripMargin
  }

  // ------------------------------------------------------ m_shard_balance
  /** DATALOADER-BALANCE audit over the WebDataset shard manifest: per
    * writer — shard count, item count, byte mass, and load share in
    * exact ppm of the corpus. Sequential training IO is only as fast
    * as the hottest writer; this is the table that says whether the
    * hash split actually spread the byte mass (load_ppm ≈ 1e6/writers)
    * or one writer owns the fat tail and the epoch time with it.
    * Composes the oracle-checked manifest; one groupBy on the writer
    * key + a 1-row total broadcast. */
  def shardBalance: Q = (s, dir) => {
    val per = shardPack(s, dir)
      .select(expr("shard_id div 1000000").as("writer"),
        col("n_items"), col("shard_bytes"))
      .groupBy("writer")
      .agg(count(lit(1)).as("n_shards"), sum("n_items").as("n_items"),
        sum("shard_bytes").as("writer_bytes"))
    per.crossJoin(broadcast(per.agg(sum("writer_bytes").as("total_bytes"))))
      .select(col("writer"), col("n_shards"), col("n_items"),
        col("writer_bytes"),
        expr("(writer_bytes * 1000000) div total_bytes").as("load_ppm"))
      .orderBy("writer")
  }

  lazy val shardBalanceSql: String =
    s"""WITH sp AS (
       |$shardPackSql
       |), per AS (
       | SELECT shard_id // 1000000 AS writer, count(*) AS n_shards,
       |  CAST(sum(n_items) AS BIGINT) AS n_items,
       |  CAST(sum(shard_bytes) AS BIGINT) AS writer_bytes
       | FROM sp GROUP BY 1
       |)
       |SELECT writer, n_shards, n_items, writer_bytes,
       | CAST((writer_bytes * 1000000)
       |  // (SELECT CAST(sum(writer_bytes) AS BIGINT) FROM per)
       |  AS BIGINT) AS load_ppm
       |FROM per ORDER BY writer""".stripMargin

  // --------------------------------------------------------- m_audio_vad
  /** Energy-based voice-activity detection — the segmentation pass an
    * audio-training pipeline runs before transcription/alignment: the
    * payload is treated as a PCM sample stream (here the deterministic
    * text-byte stand-in — the decode seam is the same `mapPartitions`
    * iterator a real codec plugs into), framed at `vadFrameBytes`
    * samples; a frame is SPEECH when its mean energy Σ(b−32)² ≥
    * `vadThresh`·len, and maximal speech runs become segments. One
    * imperative pass per row — samples never leave the task, nothing
    * is exploded (the m_scene_detect shape); the oracle REPLAYS the
    * same arithmetic relationally (char explode + gaps-islands), which
    * is exact because the payload is ASCII (byte == codepoint —
    * documented mediaTable contract). Stats per doc: frames, speech
    * frames, segments, longest segment. */
  val vadFrameBytes = 64
  val vadThresh = 4500L

  final case class VadMeta(doc_id: Long, n_frames: Long, n_speech: Long,
                           n_segments: Long, max_segment: Long)

  def audioVad(media: Dataset[MediaRow]): Dataset[VadMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val frames = r.payload.grouped(vadFrameBytes).toArray
        val speech = frames.map { f =>
          var e = 0L
          f.foreach { b => val d = (b & 0xFF).toLong - 32; e += d * d }
          e >= vadThresh * f.length
        }
        var nSeg = 0L; var maxSeg = 0L; var run = 0L
        speech.foreach { sp =>
          if (sp) { if (run == 0) nSeg += 1; run += 1; maxSeg = math.max(maxSeg, run) }
          else run = 0
        }
        VadMeta(r.doc_id, frames.length.toLong, speech.count(identity).toLong,
          nSeg, maxSeg)
      }
    }
  }

  def audioVadQ: Q = (s, dir) =>
    audioVad(mediaTable(s, dir)).toDF().orderBy("doc_id")

  val audioVadSql: String =
    s"""WITH ch AS (
       | SELECT doc_id, unnest(range(1, length(text) + 1)) AS p, text
       | FROM documents
       |), en AS (
       | SELECT doc_id, (p - 1) // $vadFrameBytes AS f,
       |  (ord(substr(text, CAST(p AS INTEGER), 1)) - 32) AS d
       | FROM ch
       |), fe AS (
       | SELECT doc_id, f, sum(d * d) AS energy, count(*) AS flen
       | FROM en GROUP BY 1, 2
       |), fa AS (
       | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(count(CASE WHEN energy >= $vadThresh * flen THEN 1 END) AS BIGINT)
       |   AS n_speech
       | FROM fe GROUP BY doc_id
       |), isl AS (
       | SELECT doc_id,
       |  f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
       | FROM fe WHERE energy >= $vadThresh * flen
       |), seg AS (
       | SELECT doc_id, g, count(*) AS slen FROM isl GROUP BY 1, 2
       |), sa AS (
       | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       |  CAST(max(slen) AS BIGINT) AS max_segment
       | FROM seg GROUP BY doc_id
       |)
       |SELECT d.doc_id, COALESCE(fa.n_frames, 0) AS n_frames,
       | COALESCE(fa.n_speech, 0) AS n_speech,
       | COALESCE(sa.n_segments, 0) AS n_segments,
       | COALESCE(sa.max_segment, 0) AS max_segment
       |FROM documents d
       |LEFT JOIN fa ON fa.doc_id = d.doc_id
       |LEFT JOIN sa ON sa.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------- m_video_dedup
  /** VIDEO-LEVEL near-duplicate detection — content dedup where the
    * unit is the whole stream, not a frame: each video reduces to its
    * SET of 48-bit frame signatures (the m_scene_detect digest, at a
    * finer `vdFrameBytes` = 64 grain — MEASURED: at 256-byte frames
    * the sub-512-char dup cohort holds ≤ 2 frames and the glitch
    * erases the overlap, 1 surviving pair; at 64 bytes the cohort
    * holds 3-8 frames and every planted pair scores), candidate
    * pairs arise ONLY by sharing a
    * signature (the frame sig doubles as its own LSH band — no
    * all-pairs stage, work ∝ Σ shared-sig group²), and survivors
    * score set-Jaccard in exact integer ppm. The corpus is augmented
    * with DETERMINISTIC near-duplicates (every 50th doc re-uploaded
    * with 3 bytes altered mid-stream — the re-encode-with-a-glitch
    * analogue), so the measurement is non-vacuous at every SF and the
    * oracle builds the identical augmented table. Frame-grid caveat
    * (documented): byte-OFFSET copies shift every frame boundary and
    * are invisible here — that variant is what m_scene_detect's
    * cut-anchored signatures are for. */
  val vdupThreshPpm = 500000L
  val vdFrameBytes = 64

  def videoDedup: Q = (s, dir) => {
    val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    // doc 0 is excluded: -0 == 0 would merge the re-upload into the
    // original row and silently lose the planted pair
    val dups = base.filter(col("doc_id") % 50 === 0 && col("doc_id") =!= 0)
      .select((-col("doc_id")).as("doc_id"),
        concat(substring(col("text"), 1, 128), lit("ZZZ"),
          expr("substr(text, 132)")).as("text"))
    val vids = base.unionByName(dups)
    val nf = expr(s"CAST((length(text) + ${vdFrameBytes - 1}) div $vdFrameBytes AS INT)")
    // nf = 0 (empty payload) must emit NO frames: Spark's sequence(1, 0)
    // is the DESCENDING array [1, 0] — unguarded it minted an md5('')
    // signature that DuckDB's range(1, 1) does not, so two empty docs
    // would cross-engine-diverge as a fake jaccard_ppm=1000000 pair
    val frameIdx = when(nf >= 1, sequence(lit(1), nf))
      .otherwise(array().cast("array<int>"))
    val sigs = vids
      .select(col("doc_id"), col("text"), explode(frameIdx).as("i"))
      .select(col("doc_id"),
        graft.functions.VectorExprs.hexSlice(
          md5(expr(s"substr(text, (i - 1) * $vdFrameBytes + 1, $vdFrameBytes)")),
          1, 12).as("sg"))
      .distinct()
      .cache() // both sides of the candidate self-join
    val perDoc = sigs.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val shared = sigs.toDF("a", "sg")
      .join(sigs.toDF("b", "sg"), Seq("sg"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
    // NO broadcast hint on perDoc (r8 verdict #1): it is one row per
    // video — corpus-sized, the one frame in this op that is NOT
    // bounded by construction. Both joins are equi-joins on a/b, so
    // AQE broadcasts from OBSERVED size when small and falls back to
    // shuffle at scale instead of forcing an unbounded driver build
    shared
      .join(perDoc.toDF("a", "na"), Seq("a"))
      .join(perDoc.toDF("b", "nb"), Seq("b"))
      .select(col("a"), col("b"), col("n_shared"),
        (col("na") + col("nb") - col("n_shared")).as("n_union"))
      .withColumn("jaccard_ppm", expr("(n_shared * 1000000) div n_union"))
      .filter(col("jaccard_ppm") >= vdupThreshPpm)
      .orderBy("a", "b")
  }

  val videoDedupSql: String = {
    val sg = OracleSql.hexToLong("h", 1, 12)
    s"""WITH vids AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT -doc_id,
       |  substr(text, 1, 128) || 'ZZZ' || substr(text, 132)
       | FROM documents WHERE doc_id % 50 = 0 AND doc_id <> 0
       |), fr AS (
       | SELECT doc_id,
       |  unnest(range(1,
       |   CAST((length(text) + ${vdFrameBytes - 1}) // $vdFrameBytes AS INTEGER) + 1)) AS i,
       |  text
       | FROM vids
       |), sigs AS (
       | SELECT DISTINCT doc_id, CAST($sg AS BIGINT) AS sg
       | FROM (
       |  SELECT doc_id,
       |   md5(substr(text,
       |    CAST((i - 1) * $vdFrameBytes + 1 AS INTEGER), $vdFrameBytes)) AS h
       |  FROM fr
       | )
       |), per AS (
       | SELECT doc_id, count(*) AS ns FROM sigs GROUP BY doc_id
       |), shared AS (
       | SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
       | FROM sigs x JOIN sigs y ON x.sg = y.sg AND x.doc_id < y.doc_id
       | GROUP BY 1, 2
       |)
       |SELECT s.a, s.b, s.n_shared,
       | CAST(pa.ns + pb.ns - s.n_shared AS BIGINT) AS n_union,
       | CAST((s.n_shared * 1000000) // (pa.ns + pb.ns - s.n_shared) AS BIGINT)
       |  AS jaccard_ppm
       |FROM shared s
       |JOIN per pa ON pa.doc_id = s.a
       |JOIN per pb ON pb.doc_id = s.b
       |WHERE (s.n_shared * 1000000) // (pa.ns + pb.ns - s.n_shared)
       |  >= $vdupThreshPpm
       |ORDER BY s.a, s.b""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "m_video_dedup" -> videoDedup,
    "m_audio_vad" -> audioVadQ,
    "m_shard_pack" -> shardPack,
    "m_aspect_bucket" -> aspectBucket,
    "m_mm_pack" -> mmPack,
    "m_epoch_plan" -> epochPlan,
    "m_shard_index" -> shardIndex,
    "m_shard_balance" -> shardBalance,
    "m_phash_dedup" -> phashDedup,
    "m_phash_eval" -> phashEval,
    "m_modality_dispatch" -> modalityDispatch,
    "m_multimodal_meta" -> multimodalMeta,
    "m_frame_sample" -> frameSampleQ,
    "m_scene_detect" -> sceneDetectQ,
    "m_resize" -> resizeQ,
    "m_chunk" -> chunkQ,
    "m_embed_batch" -> embedBatchQ)
  val oracleSql: Map[String, String] = Map(
    "m_video_dedup" -> videoDedupSql,
    "m_audio_vad" -> audioVadSql,
    "m_shard_pack" -> shardPackSql,
    "m_aspect_bucket" -> aspectBucketSql,
    "m_mm_pack" -> mmPackSql,
    "m_epoch_plan" -> epochPlanSql,
    "m_shard_index" -> shardIndexSql,
    "m_shard_balance" -> shardBalanceSql,
    "m_phash_dedup" -> phashDedupSql,
    "m_phash_eval" -> phashEvalSql,
    "m_modality_dispatch" -> modalityDispatchSql,
    "m_multimodal_meta" -> multimodalMetaSql,
    "m_frame_sample" -> frameSampleSql,
    "m_scene_detect" -> sceneDetectSql,
    "m_resize" -> resizeSql,
    "m_chunk" -> chunkSql,
    "m_embed_batch" -> embedBatchSql)
}
