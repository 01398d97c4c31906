package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input row for the stub decode boundary ([[Multimodal.decodeFeatures]]). */
case class MediaRow(media_id: Long, kind: String, blob: Array[Byte])

/** Output of the stub decode: fixed-length feature vector + byte count. */
case class MediaFeatures(media_id: Long, kind: String,
                         n_bytes: Long, features: Array[Float])

/** Output of the positional-downscale stub ([[Multimodal.decodeSegments]]):
  * exact integer byte sums + counts per equal-width span. */
case class MediaSegments(media_id: Long, kind: String, n_bytes: Long,
                         seg_sums: Array[Long], seg_counts: Array[Long])

/** Parsed container: the decoded payload (pixels / PCM samples) plus the
  * structure the parser read out of the container's own header bytes. */
case class ParsedMedia(media_id: Long, kind: String, container_bytes: Long,
                       width: Int, height: Int, sample_rate: Int,
                       blob: Array[Byte])

/** Output of the perceptual transform ([[Multimodal.decodeDctFeatures]]):
  * the low-frequency integer DCT coefficients of the parsed payload. */
case class MediaDct(media_id: Long, kind: String, n_bytes: Long,
                    coefs: Array[Long])

/** Multimodal (image/audio/video) columns for a training-data pipeline.
  *
  * Media is modeled the way a 100 TB lakehouse stores it: an opaque `binary`
  * blob column plus a TYPED metadata struct (kind, width, height, sample_rate,
  * n_frames) — never parsed strings. All relational work (filtering by kind,
  * joining metadata, sampling frames) stays in Catalyst expressions on the
  * metadata; only the decode step touches blob bytes, and it runs
  * partition-wise so a real codec (JPEG/PCM/mp4 demux) drops in without
  * changing the plan shape.
  *
  * Two decode tiers exist behind the same boundary:
  *
  *  - REAL byte-structure parsing for two dependency-free container
  *    formats ([[MediaCodec]]): binary PPM (P6 — ASCII header, raw RGB
  *    payload) for image/video and WAV (RIFF chunk walk — LE size fields,
  *    fmt chunk, word-aligned padding, unknown chunks skipped) for audio.
  *    [[encodeContainers]] packs payload bytes into genuine containers;
  *    [[parseContainers]] walks the bytes back out. q26/q200 run their
  *    feature extraction over the PARSED payload, so the pipeline
  *    exercises real header validation / chunk traversal, not arithmetic
  *    on text bytes.
  *  - The perceptual FEATURE step past the parse ([[decodeFeatures]]'s
  *    byte histogram, [[decodeSegments]]' positional downscale) remains a
  *    deterministic stand-in for a lossy codec (JPEG DCT / mel
  *    filterbank) — those need native libraries this environment lacks.
  *    The Spark-side contract — schema, batch shape, partition-wise
  *    execution, fixed-length Array[Float] output — is real and tested.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("blob", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", IntegerType))), nullable = false)))

  /** Deterministic media table derived from the `documents` fixture: the
    * text bytes become the blob, metadata derives arithmetically from
    * doc_id/n_chars so the DuckDB oracle can reproduce it exactly. */
  def fromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("blob"),
      struct(
        (col("n_chars") % 640 + 64).cast("int").as("width"),
        (col("n_chars") % 480 + 48).cast("int").as("height"),
        when(col("doc_id") % 3 === 1, lit(16000)).otherwise(lit(0))
          .cast("int").as("sample_rate"),
        (col("n_chars") % 240 + 16).cast("int").as("n_frames")).as("meta"))

  /** Pack each row's payload bytes into a GENUINE container: PPM P6 for
    * image/video, WAV (RIFF/PCM8) for audio ([[MediaCodec]]). Runs via
    * mapPartitions — ingest-side byte packing is imperative, the same
    * execution boundary as the decode. Output schema matches the
    * (media_id, kind, blob) decode input; the blob is the container. */
  def encodeContainers(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"), col("blob"))
      .as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.map { r =>
          val container = r.kind match {
            case "audio" => MediaCodec.encodeWav(r.blob, sampleRate = 16000)
            case _ => MediaCodec.encodePpm(r.blob)
          }
          MediaRow(r.media_id, r.kind, container)
        }
      }(Encoders.product[MediaRow])
      .toDF()

  /** Walk each container's bytes back out ([[MediaCodec.parsePpm]] /
    * [[MediaCodec.parseWav]]): real header validation, ASCII dimension
    * parse (PPM), little-endian RIFF chunk traversal with word-alignment
    * and unknown-chunk skipping (WAV). Returns the decoded payload as
    * `blob` — ready for [[decodeFeatures]] / [[decodeSegments]] — plus
    * the structure read from the container itself (not from metadata). */
  def parseContainers(encoded: DataFrame): DataFrame =
    encoded.select(col("media_id"), col("kind"), col("blob"))
      .as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.map { r =>
          r.kind match {
            case "audio" =>
              val w = MediaCodec.parseWav(r.blob)
              ParsedMedia(r.media_id, r.kind, r.blob.length.toLong,
                0, 0, w.sampleRate, w.samples)
            case _ =>
              val p = MediaCodec.parsePpm(r.blob)
              ParsedMedia(r.media_id, r.kind, r.blob.length.toLong,
                p.width, p.height, 0, p.pixels)
          }
        }
      }(Encoders.product[ParsedMedia])
      .toDF()

  /** Byte-level blob features — pure Catalyst expressions (codegen'd, no
    * UDF): size, content hash, and an 8-byte prefix signature. The
    * signature is lower-case hex; `hex` emits only `0-9A-F`, so its case
    * map is a `translate` of those six letters, not a Unicode `lower`. */
  def byteSize(blob: Column): Column = octet_length(blob)
  def contentHash(blob: Column): Column = sha2(blob, 256)
  def prefixSig(blob: Column, n: Int = 8): Column =
    translate(hex(substring(blob, 1, n)), "ABCDEF", "abcdef")

  /** Frame sampling: every `stride`-th frame index in [0, n_frames) from
    * metadata only — `sequence` + `explode`, no blob bytes touched. The
    * video-decode analog of LIMIT-pushdown: decide WHICH frames before any
    * expensive decode runs. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media
      .filter(col("meta.n_frames") > 0)
      .select(col("media_id"), col("kind"), col("meta.n_frames").as("n_frames"),
        explode(sequence(lit(0), col("meta.n_frames") - 1,
          lit(stride))).as("frame_idx"))

  /** STUB decode boundary — deterministic 16-bin normalized byte histogram
    * standing in for a codec. Runs via mapPartitions so each task amortizes
    * per-batch setup (a real decoder's native context) across its partition,
    * the same execution shape a JPEG/PCM decode would use. Output is a
    * fixed-length Array[Float] feature column ready for the similarity ops
    * (q22/q23 cosine / SRP-LSH take any Array[Float]). */
  def decodeFeatures(media: DataFrame, bins: Int = 16): DataFrame = {
    val enc = Encoders.product[MediaFeatures]
    media.select(col("media_id"), col("kind"), col("blob"))
      .as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        // per-partition setup happens ONCE here (real codec: init context)
        rows.map { r =>
          val hist = new Array[Float](bins)
          r.blob.foreach(b => hist((b & 0xff) * bins / 256) += 1f)
          val n = math.max(1, r.blob.length)
          MediaFeatures(r.media_id, r.kind, r.blob.length.toLong,
            hist.map(_ / n))
        }
      }(enc)
      .toDF()
  }

  /** REAL perceptual transform — the pHash recipe over the parsed
    * payload: positional downscale to [[MediaDsp.Grid]] exact-integer
    * cell means, then the fixed-point integer DCT-II, keeping the
    * [[MediaDsp.Coeffs]] low-frequency coefficients ([[MediaDsp]] for
    * the portability + mel-rejection notes). Same mapPartitions
    * execution contract as [[decodeFeatures]]; input is the PARSED
    * container frame ([[parseContainers]]' output — blob = payload). */
  def decodeDctFeatures(parsed: DataFrame): DataFrame =
    parsed.select(col("media_id"), col("kind"), col("blob"))
      .as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.map { r =>
          MediaDct(r.media_id, r.kind, r.blob.length.toLong,
            MediaDsp.dctFingerprint(r.blob))
        }
      }(Encoders.product[MediaDct])
      .toDF()

  /** STUB positional downscale — the aHash grid shape: the blob split
    * into `segments` equal-width spans, per-span byte SUM and COUNT as
    * exact integers (a real image decoder emits pixel-grid means here;
    * the integer sums keep the downstream fingerprint engine-portable —
    * no float means cross this boundary). Same mapPartitions execution
    * contract as [[decodeFeatures]]. Byte i (0-based) lands in span
    * i·segments/n — the oracle's (i-1)·segments // n over 1-based
    * positions. Empty blobs emit all-zero spans (callers filter). */
  def decodeSegments(media: DataFrame, segments: Int = 15): DataFrame =
    media.select(col("media_id"), col("kind"), col("blob"))
      .as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.map { r =>
          val b = r.blob
          val n = b.length
          val sums = new Array[Long](segments)
          val counts = new Array[Long](segments)
          var i = 0
          while (i < n) {
            val s = (i.toLong * segments / n).toInt
            sums(s) += (b(i) & 0xff)
            counts(s) += 1
            i += 1
          }
          MediaSegments(r.media_id, r.kind, n.toLong, sums, counts)
        }
      }(Encoders.product[MediaSegments])
      .toDF()
}
