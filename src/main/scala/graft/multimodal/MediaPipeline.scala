package graft.multimodal

import org.apache.spark.sql.{Dataset, SparkSession}

/** Multimodal-column plumbing (driver north-star; SURVEY §2.3): media
  * payloads travel as opaque BINARY columns with typed metadata, and the
  * decode / feature-extract step is an imperative per-batch function the
  * SQL layer can't express — the one legitimate `mapPartitions` escape
  * hatch in this engine (everything else is declarative; SURVEY §7.3).
  *
  * The container ships no image/audio codecs, so [[MediaPipeline.decodeStub]]
  * is a clearly-marked deterministic stand-in; the Spark-side plumbing —
  * typed records, batched iteration, feature schema — is real and tested
  * (MediaPipelineSpec, and q36 gates it against the DuckDB oracle).
  *
  * Scale notes (100 TB of media): payloads never enter a shuffle — decode
  * is per-partition, output is fixed-width features + metadata (~100 B/row
  * vs MBs of payload), and any downstream join/agg moves features only.
  * Batched iteration bounds peak memory to `decodeBatchSize` payloads per
  * task, the same contract as Arrow record batches under mapInPandas.
  */
object MediaPipeline {

  /** One media payload + typed metadata. `media` is opaque bytes —
    * image/audio/video agnostic. */
  final case class MediaRecord(doc_id: Long, source: String, media: Array[Byte])

  /** Fixed-width decode output: metadata + a 4-dim feature vector
    * (per-quarter mean byte) plus the exact integer byte sums behind it.
    * The sums exist for bit-exact downstream aggregation: a sum of
    * `Long`s is order-independent and engine-portable, while a sum of
    * mean doubles can flip a decimal-rounding boundary (the q36 gate
    * aggregates `featureSums`; pipeline consumers read `features`). */
  final case class MediaFeatures(
      doc_id: Long,
      source: String,
      n_bytes: Int,
      features: Array[Double],
      featureSums: Array[Long])

  /** Payloads decoded per task batch — the Arrow-batch-shaped knob: at
    * 100 TB this bounds task memory to batchSize × max payload size. */
  val decodeBatchSize = 64

  /** STUB DECODE — stands in for a real codec call (libjpeg / ffmpeg /
    * PIL-equivalent), which this container does not ship. Deterministic
    * fake with a real feature contract: mean unsigned byte value of each
    * quarter of the payload ("4-pixel grayscale thumbnail"). A production
    * build swaps ONLY this function; every schema/partition/batch shape
    * around it stays. */
  def decodeStub(media: Array[Byte]): Array[Double] = {
    val n = media.length.toLong
    val sums = quarterSums(media)
    Array.tabulate(4) { q =>
      // Long span math like bucketSums — Int (q+1)*n overflows at ~512 MB
      // payloads, silently zeroing a quarter.
      val len = (q + 1) * n / 4 - q * n / 4
      if (len <= 0) 0.0 else sums(q).toDouble / len
    }
  }

  /** Exact integer basis of [[decodeStub]]: unsigned byte sum per payload
    * quarter. */
  def quarterSums(media: Array[Byte]): Array[Long] = bucketSums(media, 4)

  /** Batched per-partition decode: iterator-in → iterator-out, payloads
    * grouped into [[decodeBatchSize]] batches (grouped() is lazy — one
    * batch of payloads in memory per step, never the partition). */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.grouped(decodeBatchSize).flatMap { batch =>
        batch.map(r =>
          MediaFeatures(r.doc_id, r.source, r.media.length,
            decodeStub(r.media), quarterSums(r.media)))
      }
    }
  }

  /** Resized "thumbnail" output: exact integer byte sums over `k` equal
    * spans of the payload (generalizes [[quarterSums]]; a real image
    * resize swaps the span-sum for a pixel kernel — the schema,
    * batching, and exactness contract stay). */
  final case class MediaThumb(doc_id: Long, source: String, n_bytes: Int, sums: Array[Long])

  /** Exact integer byte sum per span, `buckets` spans. */
  def bucketSums(media: Array[Byte], buckets: Int): Array[Long] = {
    val n = media.length
    Array.tabulate(buckets) { q =>
      val lo = (q.toLong * n / buckets).toInt
      val hi = ((q + 1).toLong * n / buckets).toInt
      var s = 0L
      var i = lo
      while (i < hi) { s += media(i) & 0xff; i += 1 }
      s
    }
  }

  /** RESIZE stage: batched per-partition downsample to `buckets` spans. */
  def resize(ds: Dataset[MediaRecord], buckets: Int): Dataset[MediaThumb] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.grouped(decodeBatchSize).flatMap { batch =>
        batch.map(r =>
          MediaThumb(r.doc_id, r.source, r.media.length, bucketSums(r.media, buckets)))
      }
    }
  }

  /** FRAME-SAMPLE stage primitive: `n` frames of up to `frameBytes`
    * bytes at even stride — the video analogue of quarter sums (a real
    * build decodes container frames; the sampling geometry and bounded
    * output contract stay). Empty payload → n empty frames. */
  def sampleFrames(media: Array[Byte], n: Int, frameBytes: Int): Array[Array[Byte]] = {
    val len = media.length
    Array.tabulate(n) { j =>
      val start = (j.toLong * len / n).toInt
      media.slice(start, math.min(start + frameBytes, len))
    }
  }

  /** Per-payload frame-sample output: exact byte sums + lengths of the
    * sampled frames (the verifiable basis, like featureSums/sums). */
  final case class MediaFrameSums(
      doc_id: Long,
      source: String,
      n_bytes: Int,
      frameSums: Array[Long],
      frameLens: Array[Int])

  /** FRAME-SAMPLE stage: batched per-partition sampling of `n` frames ×
    * `frameBytes` bytes via [[sampleFrames]], reduced to exact per-frame
    * byte sums — video thumbnailing's geometry with the same
    * bounded-output, payloads-never-shuffle contract as decode/resize. */
  def frameSample(ds: Dataset[MediaRecord], n: Int, frameBytes: Int): Dataset[MediaFrameSums] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.grouped(decodeBatchSize).flatMap { batch =>
        batch.map { r =>
          val frames = sampleFrames(r.media, n, frameBytes)
          MediaFrameSums(r.doc_id, r.source, r.media.length,
            frames.map(f => f.foldLeft(0L)((s, b) => s + (b & 0xff))),
            frames.map(_.length))
        }
      }
    }
  }

  /** The documents table as a media corpus: text bytes stand in for
    * image/audio payloads (ASCII corpus → bytes == code points, which the
    * DuckDB oracle mirrors with ord()). */
  def documentsAsMedia(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.fanOut(graft.Tables.documents(spark, sfDir), $"doc_id")
      .select($"doc_id", $"source", $"text".cast("binary").as("media"))
      .as[MediaRecord]
  }
}
