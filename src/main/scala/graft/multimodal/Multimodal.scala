package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column support: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus the decode / feature-extract / resize /
  * frame-sample stages a training-data pipeline needs.
  *
  * The Spark-side plumbing is real — schema, task-level batching, iterator
  * transforms, partition sizing. Decode is REAL for the containers plain
  * JDK bytes can parse ([[Codec]]: PPM/BMP images with actual pixel
  * resampling, PCM WAV audio with actual sample rates/durations, PNG/JPEG/
  * GIF via the JDK's own imageio, MP4 metadata — brand, duration,
  * display dimensions — via a bounds-checked box walk, and MJPEG-in-AVI
  * video down to REAL frame pixels: the RIFF walk splits the stream into
  * complete JPEG images the image decoder already handles); frame-level
  * decode of every OTHER video codec falls back to the deterministic
  * [[FakeCodec]] — the same `Iterator[MediaRecord] ⇒ Iterator[...]` seam
  * a JNI/ffmpeg codec drops into without touching any plan.
  *
  * Scale shape: decode runs as `mapPartitions` (the Scala analog of
  * `mapInPandas`) with explicit micro-batching, so per-batch codec setup is
  * amortized and memory is bounded by `batchSize × payload`, not partition
  * size. Payload-bearing frames should be range-partitioned by id with a
  * row-group-friendly target size before heavy decode fan-out.
  */
object Multimodal {

  /** One media row: opaque payload + typed metadata (unused fields null). */
  case class MediaRecord(
      media_id: Long,
      kind: String, // "image" | "audio" | "video"
      payload: Array[Byte],
      width: Option[Int],
      height: Option[Int],
      sample_rate: Option[Int],
      duration_ms: Option[Long])

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      features: Array[Float]) // FEATURE_DIM-dim embedding (stub: byte histogram)

  case class Frame(
      media_id: Long,
      frame_ts_ms: Long,
      frame_payload: Array[Byte])

  val FeatureDim = 16

  /** Real-or-fake decode dispatch: (width, height, features, durationMs).
    * The declared `kind` GATES which real decoder may run (an audio row
    * whose payload happens to sniff as BMP must not silently get image
    * semantics); a failed or unsupported decode falls back to the
    * deterministic fake.
    */
  private[multimodal] def decodeAny(kind: String, payload: Array[Byte])
      : (Int, Int, Array[Float], Option[Long]) = {
    val real: Option[(Int, Int, Array[Float], Option[Long])] = kind match {
      case "image" => Codec.decodeImage(payload)
        .map(img => (img.width, img.height, Codec.imageFeatures(img), None))
      case "audio" => Codec.decodeWav(payload)
        .map(a => (a.channels, 0, Codec.audioFeatures(a), Some(Codec.audioDurationMs(a))))
      case "video" =>
        // REAL container metadata (MP4/MOV box walk: brand, duration,
        // display dims) and REAL frames for BOTH common MJPEG containers
        // (AVI via mjpegFrames, QuickTime via mjpegMovFrames): each
        // splits into complete JPEG images the existing decoder handles,
        // so features come from actual first-frame pixels; compressed
        // codecs keep the FakeCodec feature seam
        Codec.probeMp4(payload)
          .map { m =>
            val feats = Codec.mjpegMovFrames(payload)
              .flatMap(_.frames.headOption).flatMap(Codec.decodeImage)
              .map(Codec.imageFeatures)
              .getOrElse(FakeCodec.decode(payload)._3)
            (m.width, m.height, feats, Some(m.durationMs))
          }
          .orElse(Codec.probeAvi(payload).map { a =>
            val feats = Codec.mjpegFrames(payload)
              .flatMap(_.headOption).flatMap(Codec.decodeImage)
              .map(Codec.imageFeatures)
              .getOrElse(FakeCodec.decode(payload)._3)
            (a.width, a.height, feats, Some(a.durationMs))
          })
      case _ => None
    }
    real.getOrElse {
      val (w, h, f) = FakeCodec.decode(payload)
      (w, h, f, None)
    }
  }

  /** STUB codec — deterministic fake standing in for image/audio decode.
    * "Dimensions" derive from payload length, "features" are the normalized
    * byte histogram: stable across runs and partitionings, which is exactly
    * what the plumbing tests need. Replace with a real decoder here.
    */
  object FakeCodec {
    def decode(payload: Array[Byte]): (Int, Int, Array[Float]) = {
      val w = 16 + (payload.length % 1024)
      val h = 16 + ((payload.length / 7) % 1024)
      val hist = new Array[Float](FeatureDim)
      payload.foreach(b => hist((b & 0xFF) % FeatureDim) += 1f)
      val n = math.max(payload.length, 1).toFloat
      (w, h, hist.map(_ / n))
    }

    /** Stub frame extraction: a real codec would seek+decode; the fake emits
      * a deterministic 8-byte digest of (payload, ts).
      */
    def frameAt(payload: Array[Byte], tsMs: Long): Array[Byte] = {
      var h = 1125899906842597L
      payload.foreach(b => h = h * 31 + b)
      h = h * 31 + tsMs
      java.nio.ByteBuffer.allocate(8).putLong(h).array()
    }
  }

  /** Wrap a text/bytes frame as a media frame (test/fixture path; real
    * ingestion would `spark.read.format("binaryFile")`).
    */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String, kind: String): Dataset[MediaRecord] = {
    implicit val enc = Encoders.product[MediaRecord]
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(payloadCol).cast("binary").as("payload"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("int").as("sample_rate"),
      (length(col(payloadCol)).cast("long") * 40L).as("duration_ms"))
      .as[MediaRecord]
  }

  /** Decode + feature-extract: mapPartitions with explicit micro-batching.
    * The `grouped` batcher keeps the iterator lazy — memory is bounded by
    * one batch, and a per-batch "codec handle" is where real decoder setup
    * (model load, ffmpeg context) amortizes.
    */
  def decodeFeatures(media: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch codec setup would go here (amortized over batchSize rows)
        batch.iterator.map { m =>
          val (w, h, feats, _) = decodeAny(m.kind, m.payload)
          MediaFeatures(m.media_id, m.kind, m.width.getOrElse(w), m.height.getOrElse(h), feats)
        }
      }
    }
  }

  /** Resize stage: REAL pixel resampling (nearest-neighbor, re-encoded as
    * P6 PPM) for decodable IMAGE rows; metadata-only passthrough for other
    * kinds and for payloads only a library codec could re-encode.
    */
  def resize(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    implicit val enc = Encoders.product[MediaRecord]
    media.map { m =>
      (if (m.kind == "image") Codec.decodeImage(m.payload) else None) match {
        case Some(img) =>
          m.copy(payload = Codec.resizeToPpm(img, w, h), width = Some(w), height = Some(h))
        case None => m.copy(width = Some(w), height = Some(h))
      }
    }
  }

  /** Frame sampling for video rows: one output row per `everyMs` step
    * across the duration. MJPEG payloads in BOTH common containers emit
    * REAL frames — AVI splits into complete JPEG images under the `avih`
    * frame clock ([[Codec.mjpegFrames]]), QuickTime/MOV through the
    * `stbl` sample tables under the `mdhd`/`stts` clock
    * ([[Codec.mjpegMovFrames]]) — each sampled timestamp maps to its
    * frame index and the emitted payload is the frame's actual JPEG
    * bytes (decodable by [[Codec.decodeImage]] downstream). Compressed
    * codecs keep the [[FakeCodec]] digest seam a JNI/ffmpeg codec drops
    * into. Scale shape: flatMap parses each payload ONCE and emits all
    * its sampled frames (narrow, no shuffle); memory is bounded by one
    * row's payload + its frame slices — the decode-batching contract.
    */
  /** Hard per-row emission cap for [[frameSample]]: header fields drive
    * the sampling loop, and a HOSTILE clock (avih claiming 2^31 frames at
    * 2^32 µs each, or a lying duration_ms) must not turn one
    * kilobyte-sized row into ~10^13 output rows — the same
    * lying-size-truncates discipline as the container walks. 2^20 samples
    * comfortably covers every honest use (a 2-hour stream sampled every
    * 10 ms is 720k rows).
    */
  private val MaxFrameSamplesPerRow = 1 << 20

  def frameSample(media: Dataset[MediaRecord], everyMs: Long): Dataset[Frame] = {
    require(everyMs > 0, s"everyMs=$everyMs must be positive")
    implicit val enc = Encoders.product[Frame]
    implicit val mrEnc = Encoders.product[MediaRecord]
    // local copy: the task closure must capture the Int, not this object
    val cap = MaxFrameSamplesPerRow
    media.filter(col("kind") === "video").as[MediaRecord]
      .flatMap { m =>
        def sampleTs(durMs: Long): Iterator[Long] =
          (0L to durMs by everyMs).iterator.take(cap)
        // (usPerFrame, header-claimed duration ms, frames) from either
        // MJPEG container: AVI (avih clock) or MOV (mdhd/stts clock)
        val real: Option[(Long, Long, IndexedSeq[Array[Byte]])] =
          (for {
            meta <- Codec.probeAvi(m.payload)
            frames <- Codec.mjpegFrames(m.payload)
            if frames.nonEmpty && meta.usPerFrame > 0
          } yield (meta.usPerFrame, meta.durationMs, frames))
          .orElse(for {
            meta <- Codec.probeMp4(m.payload)
            mv <- Codec.mjpegMovFrames(m.payload)
            if mv.frames.nonEmpty && mv.usPerFrame > 0
          } yield (mv.usPerFrame, meta.durationMs, mv.frames))
        real match {
          case Some((usPerFrame, claimedDurMs, frames)) =>
            // duration bounded by the frames ACTUALLY in the stream, not
            // the header's claimed count — an avih/mvhd lying about the
            // stream length must not stretch the clock past real samples
            val honestDur = usPerFrame * frames.length / 1000L
            sampleTs(math.min(claimedDurMs, honestDur)).map { ts =>
              val idx = math.min(frames.length - 1L, ts * 1000L / usPerFrame).toInt
              Frame(m.media_id, ts, frames(idx))
            }
          case None =>
            sampleTs(m.duration_ms.getOrElse(0L)).map(ts =>
              Frame(m.media_id, ts, FakeCodec.frameAt(m.payload, ts)))
        }
      }
  }

  /** Perceptual 64-bit dHash per decodable image row
    * ([[Codec.dhash64]] over the REAL decode path — PPM/BMP hand parsers,
    * PNG/JPEG/GIF via the JDK): the (_id, _sh) signature frame the
    * Hamming near-dup machinery consumes. Rows whose payload does not
    * decode as an image, or decodes smaller than the 9×8 gradient grid,
    * are dropped (no signature, no candidate — same contract as a text
    * doc with no shingles). One narrow object-boundary pass; 8 bytes per
    * image survive it, never the pixels.
    */
  def imageDhashFrame(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        if (m.kind != "image") Iterator.empty
        else Codec.decodeImage(m.payload).flatMap(Codec.dhash64).iterator
          .map(sig => (m.media_id, sig))
      }
    }.toDF("_id", "_sh")
  }

  /** Image near-duplicate pairs — re-encodes, format conversions and mild
    * pixel noise of the same picture land within a few dHash bits, while
    * distinct pictures sit ~32 apart. Same scale shape as text SimHash
    * ([[graft.ops.Dedup.simhashPairs]], whose pigeonhole bucket join +
    * exact `bit_count(xor)` verify this shares): 4×16-bit chunks
    * guarantee every pair within Hamming ≤ 3 shares a bucket — candidates
    * per bucket, never all-pairs, `maxBucket` caps degenerate buckets
    * (solid-color corpora hash identically — the skew guard).
    * Output: (id_a, id_b, hamming), id_a < id_b.
    */
  def imageNearDupPairs(media: Dataset[MediaRecord], maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    graft.ops.Dedup.hammingPairsFromSig(
      imageDhashFrame(media), maxHamming, maxBucket, "imgdhash")

  /** The dHash signature law tag the persisted image family is pinned to
    * ([[graft.ops.RefStore.writeHashSig]]'s `sigLaw` meta) — bump on any
    * change to [[Codec.dhash64]]'s grid or luma law.
    */
  val DhashLaw = "dhash-9x8-v1"

  /** Commit a media batch's image dHashes to a [[graft.ops.RefStore]]
    * signature store (create with `write = true` on the initial corpus,
    * merge thereafter) — 8 persisted bytes per image, the incremental
    * re-crawl guard's reference side.
    */
  def commitImageDhash(media: Dataset[MediaRecord], storeDir: String,
      write: Boolean = false): Unit = {
    val sig = imageDhashFrame(media)
    if (write) graft.ops.RefStore.writeHashSig(sig, storeDir, DhashLaw)
    else graft.ops.RefStore.mergeHashSig(sig, storeDir, DhashLaw)
  }

  /** Cross-corpus image near-dup dedup against the PERSISTED dHash store —
    * the re-crawl guard for re-encoded or mildly recompressed copies of
    * images earlier batches ingested: drop incoming image rows whose dHash
    * is within `maxHamming` bits of ANY stored signature; return the
    * SURVIVING media rows (non-image and undecodable rows survive — no
    * signature, no candidate, the text-family contract). Batch N+1 reads
    * 8 bytes per stored image, never the stored pixels.
    */
  def imageNearDupAgainstStored(media: Dataset[MediaRecord], storeDir: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): Dataset[MediaRecord] = {
    implicit val enc = Encoders.product[MediaRecord]
    val flagged = graft.ops.Dedup.hammingFlaggedAgainstSig(
      imageDhashFrame(media),
      graft.ops.RefStore.loadHashSig(media.sparkSession, storeDir, DhashLaw),
      maxHamming, maxBucket, "imgagainst")
    media.join(flagged, media("media_id") === flagged("_fid"), "left_anti")
      .as[MediaRecord]
  }

  /** Per-row audio QA panel over the REAL PCM decode ([[Codec.audioQa]]):
    * one row per decodable audio payload with the exact integer counters
    * (rail-clip count, near-silence count, longest silent run, Σs, Σs²)
    * and the rendered fractions / RMS / DC offset a gate thresholds on —
    * the audio sibling of the Gopher text panel. Non-audio kinds and
    * undecodable payloads are dropped (no samples, no stats). One narrow
    * object-boundary pass; counters, never samples, survive it.
    */
  def audioQaFrame(media: Dataset[MediaRecord],
      silenceThreshold: Int = 327): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        if (m.kind != "audio") Iterator.empty
        else Codec.decodeWav(m.payload).iterator.map { a =>
          val q = Codec.audioQa(a, silenceThreshold)
          (m.media_id, a.sampleRate, q.nSamples, q.nClipped, q.nSilent,
            q.longestSilenceRun, q.sumSq, q.dcSum)
        }
      }
    }.toDF("media_id", "sample_rate", "n_samples", "n_clipped", "n_silent",
        "longest_silence", "sum_sq", "dc_sum")
      .withColumn("clip_frac",
        when(col("n_samples") > 0,
          col("n_clipped").cast("double") / col("n_samples").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("silence_frac",
        when(col("n_samples") > 0,
          col("n_silent").cast("double") / col("n_samples").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("rms",
        when(col("n_samples") > 0,
          sqrt(col("sum_sq").cast("double") / col("n_samples").cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("dc_offset",
        when(col("n_samples") > 0,
          col("dc_sum").cast("double") / col("n_samples").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Partition payload-bearing data for decode fan-out: range partition by id
    * targeting `targetRowsPerPartition` so each task holds a bounded byte
    * budget (payloads are large; row count is the proxy the optimizer sees).
    */
  def partitionForDecode(media: Dataset[MediaRecord], targetRowsPerPartition: Long): Dataset[MediaRecord] = {
    val n = math.max(1L, media.count() / math.max(1L, targetRowsPerPartition)).toInt
    media.repartitionByRange(n, col("media_id"))
  }
}
