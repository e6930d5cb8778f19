package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` payloads
  * with typed metadata, decoded executor-side in batches.
  *
  * Two of three modalities have REAL decoders:
  *   - IMAGE: the native [[graft.functions.ImageMeta]] expression
  *     parses PNG/JPEG/GIF headers byte-for-byte, and
  *     [[decodePixelStats]] decompresses actual pixels through JDK
  *     `javax.imageio`.
  *   - AUDIO: [[decodeWavMeta]] / [[decodeWavStats]] decode RIFF/WAVE
  *     PCM through JDK `javax.sound.sampled` — header metadata AND the
  *     decompressed sample stream, verified against
  *     [[AudioFixtures]]' arithmetic ramp by the `wav_meta` /
  *     `audio_sample_stats` oracles.
  *
  * This object keeps the BATCHED-decoder pipeline shape for codecs
  * that need heavy per-partition setup (video / compressed audio): the
  * Spark-side plumbing — schema, partition-level batched decode via
  * `mapPartitions` with a typed Encoder, deterministic feature
  * output — is real, while `decodeStub` stands in for an ffmpeg-class
  * library this container doesn't ship. Swapping in such a decoder
  * changes only that one function; the pipeline shape (binary in →
  * struct features out, no driver involvement, no shuffle) is what
  * runs at 100 TB.
  */
object Multimodal {

  /** Decoded-media feature row. */
  case class MediaFeature(id: Long, modality: String, byte_len: Long,
                          content_hash: String, width: Long, height: Long)

  /** Attach a binary payload column. In production this is
    * `spark.read.format("binaryFile")` over a media bucket (the
    * reference's PDF ArrayBuffer path, `/root/reference/App.tsx:46-47`);
    * here UTF-8 text bytes stand in. */
  def asBinary(df: DataFrame, idCol: String, textCol: String,
               modality: String = "image"): DataFrame =
    df.select(col(idCol).as("id"), lit(modality).as("modality"),
      encode(col(textCol), "UTF-8").as("bytes"))

  // ===================== STUB =====================
  /** Deterministic fake decode of one payload. A real implementation
    * calls the image/audio codec here (javax.imageio / ffmpeg bindings);
    * everything around it — batching, encoders, partitioning — is the
    * production shape. */
  private def decodeStub(id: Long, modality: String, bytes: Array[Byte]): MediaFeature = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hash = md.digest(bytes).map("%02x".format(_)).mkString
    // fake dimensions from the first/last CODEPOINT of the decoded text
    // (not raw bytes — keeps the oracle's ord() semantics for non-ASCII)
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val w = if (s.isEmpty) 0L else s.codePointAt(0).toLong % 64 + 1
    val h = if (s.isEmpty) 0L else s.codePointBefore(s.length).toLong % 64 + 1
    MediaFeature(id, modality, bytes.length.toLong, hash, w, h)
  }
  // ================================================

  /** Partition-batched decode: one decoder instance per partition (the
    * expensive part for real codecs), streaming rows through it. */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    media.select(col("id"), col("modality"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder setup would go here
        it.map { case (id, m, b) => decodeStub(id, m, b) }
      }
  }

  /** Decoded-pixel feature row: container metadata + the mean of the
    * per-pixel channel means. Sentinels (-1) rather than NULLs on
    * undecodable payloads, per the comparator convention. */
  case class ImagePixels(id: Long, format: String, width: Long, height: Long,
                         mean_rgb: Double)

  /** REAL pixel decode for the image modality — `javax.imageio` ships
    * in the JDK, so unlike the audio/video stub this path actually
    * decompresses the bitstream (the PNG fixtures' deflate scanlines
    * included) executor-side, through the same partition-batched
    * pipeline shape as [[decodeFeatures]]. Header metadata comes from
    * [[graft.functions.ImageMeta]]'s parser; pixels from the decoder.
    * The per-pixel sum runs in row-major order — integer-valued
    * doubles, exact up to 2^53 — so the mean reproduces exactly and an
    * arithmetic oracle can pin it. Undecodable bytes (including our
    * metadata-only JPEG fixtures, which carry no scan data) map to
    * sentinel rows, never a throw. */
  def decodePixelStats(spark: SparkSession, media: DataFrame): Dataset[ImagePixels] = {
    import spark.implicits._
    media.select(col("id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val invalid = ImagePixels(id, "invalid", -1L, -1L, -1.0)
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
            if (img == null) invalid
            else {
              val meta = graft.functions.ImageMeta.parse(b)
              val fmt = if (meta == null) "unknown" else meta._1
              val (w, h) = (img.getWidth, img.getHeight)
              var sum = 0.0
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
                  x += 1
                }
                y += 1
              }
              ImagePixels(id, fmt, w.toLong, h.toLong, sum / (w.toLong * h))
            }
          } catch { case scala.util.control.NonFatal(_) => invalid }
        }
      }
  }

  /** Difference-hash row: `dhash_bits` is the 64-char '0'/'1' string
    * (row-major over the 8×8 comparison grid) — the engine-portable
    * rendering; `format` is the container, sentinel "invalid" (with an
    * empty bit string) for undecodable payloads. */
  case class ImageDHash(id: Long, format: String, dhash_bits: String)

  /** Perceptual difference hash (dHash, 64-bit) of the image modality
    * — the content fingerprint behind image NEAR-dedup: decode,
    * sample a 9×8 grayscale grid (nearest-neighbor at
    * `sx = x·w/9, sy = y·h/8` — integer floor arithmetic, so the
    * fixture oracle replays every sample), and emit bit `(y,x)` = 1
    * iff the right neighbor is brighter. Equal renderings hash equal
    * regardless of byte-level differences (re-encode, metadata, small
    * resize); visually distinct content diverges in many bits. Gray
    * is the integer mean `(r+g+b)/3` (exact on the equal-channel
    * fixtures). Same executor-side batched decode shape as
    * [[decodePixelStats]]; sentinels, never throws. */
  def decodeDHash(spark: SparkSession, media: DataFrame): Dataset[ImageDHash] = {
    import spark.implicits._
    media.select(col("id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val invalid = ImageDHash(id, "invalid", "")
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
            if (img == null) invalid
            else {
              val meta = graft.functions.ImageMeta.parse(b)
              val fmt = if (meta == null) "unknown" else meta._1
              val (w, h) = (img.getWidth, img.getHeight)
              def gray(gx: Int, gy: Int): Int = {
                val rgb = img.getRGB(gx * w / 9, gy * h / 8)
                (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
              }
              val bits = new StringBuilder(64)
              var y = 0
              while (y < 8) {
                var x = 0
                while (x < 8) {
                  bits += (if (gray(x + 1, y) > gray(x, y)) '1' else '0')
                  x += 1
                }
                y += 1
              }
              ImageDHash(id, fmt, bits.result())
            }
          } catch { case scala.util.control.NonFatal(_) => invalid }
        }
      }
  }

  /** Near-duplicate image pairs from [[decodeDHash]] rows — the
    * pigeonhole band join of the SimHash text path
    * ([[graft.analysis.Dedup]]) applied to the image fingerprint: the
    * 64-bit hash splits into 4 bands of 16, pairs agreeing on ANY
    * band become candidates (a pair within Hamming distance ≤ 3 MUST
    * agree on one — 4 bands, ≤ 3 differing bits — so the join is
    * LOSSLESS at the enforced threshold), and exact bit-wise Hamming
    * filters candidates. Band keys are 16-char substrings of the
    * portable bit string, so the whole chain — bands, join, distance —
    * replays in any SQL engine. Scale shape: band equi-join (never
    * all-pairs), distance as a codegen'd 64-step compare on the
    * candidate set only. */
  def dhashNearDupPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 x 16-bit bands certify Hamming <= 3 losslessly: $maxHamming")
    val bands = dhashBands(validDHashes(hashes))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.dhash_bits").as("__ha"), col("b.dhash_bits").as("__hb"))
      .distinct()
    cand
      .withColumn("hamming", hamming64(col("__ha"), col("__hb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Valid fingerprint rows of a [[decodeDHash]] frame — undecodable
    * sentinels carry an empty bit string and must never band. */
  private def validDHashes(hashes: DataFrame): DataFrame =
    hashes
      .filter(col("format") =!= "invalid" && length(col("dhash_bits")) === 64)
      .select(col("id"), col("dhash_bits"))

  /** The 4 × 16-bit pigeonhole bands of a 64-bit dHash row —
    * `(id, dhash_bits, band, bv)`, the shared candidate-key shape of
    * the batch pair join and the persisted store. */
  private def dhashBands(valid: DataFrame): DataFrame =
    valid.select(col("id"), col("dhash_bits"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          substring(col("dhash_bits"), b * 16 + 1, 16).as("bv"))): _*)).as("bs"))
      .select(col("id"), col("dhash_bits"),
        col("bs.band").as("band"), col("bs.bv").as("bv"))

  /** Exact bit-wise Hamming distance between two 64-char bit strings —
    * a codegen'd 64-step compare, engine-portable. */
  private def hamming64(a: Column, b: Column): Column =
    size(filter(sequence(lit(1), lit(64)),
      i => a.substr(i, lit(1)) =!= b.substr(i, lit(1)))).cast("long")

  /** PERSISTED image-signature store — the image twin of the text
    * MinHash signature store ([[graft.analysis.Dedup.writeSignatureStore]]),
    * closing the gap where an arriving image batch had to re-decode
    * and re-pair against the WHOLE corpus: fingerprints decode once at
    * ingest and persist; a delta dedups against the store by joining
    * band keys, never touching corpus bytes again.
    *
    * Layout (all derived from [[decodeDHash]] rows, so the store never
    * holds image bytes):
    *   - `bands/`: `(id, band, bv)` partitioned by
    *     `__bb = pmod(hash(band, bv), bandBuckets)` — a delta probe
    *     collects its own ≤ bandBuckets bucket ids and prunes unprobed
    *     partitions at PLAN time (the text store's trick; `hash()` is
    *     physical layout only — build and probe derive it with the
    *     same expression and cannot drift).
    *   - `hashes/`: `(id, dhash_bits)` — the exact-Hamming rerank
    *     input.
    *   - `stats/`: one config row per write/append carrying
    *     `band_buckets`; reads assert the rows agree. */
  def writeDHashStore(hashes: DataFrame, path: String,
                      bandBuckets: Int = 64): Unit = {
    require(bandBuckets >= 1, s"bandBuckets >= 1: $bandBuckets")
    graft.store.Sidecars.reset(hashes.sparkSession, path)
    val valid = validDHashes(hashes)
    dhashBands(valid).drop("dhash_bits")
      .withColumn("__bb", pmod(hash(col("band"), col("bv")), lit(bandBuckets)))
      .repartition(col("__bb")) // cluster: one task (not every task) writes a bucket
      .write.partitionBy("__bb").mode("overwrite").parquet(s"$path/bands")
    valid.write.mode("overwrite").parquet(s"$path/hashes")
    hashes.sparkSession.range(1)
      .select(lit(bandBuckets.toLong).as("band_buckets"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Read the store's config, asserting the stats rows agree — the
    * consistency guard an append/probe needs before trusting the
    * bucket layout. */
  private def dhashStoreConfig(spark: SparkSession, path: String): Int = {
    val stats =
      try spark.read.parquet(s"$path/stats")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"dhash store at $path has no stats/ — not a store built by " +
              s"writeDHashStore", e)
      }
    val agg = stats.agg(countDistinct(col("band_buckets")).as("variants"),
      max(col("band_buckets"))).head()
    require(agg.getLong(0) == 1L,
      s"dhash store at $path has ${agg.getLong(0)} conflicting config rows in " +
        s"stats/ — appends must use the builder's bandBuckets")
    agg.getLong(1).toInt
  }

  /** Incrementally add NEW image fingerprints to a dHash store. Bands
    * append into the same bucket layout (config read from stats/, so
    * build/append bucketing cannot drift). Ids must be new — a
    * re-ingested id would pair with itself at Hamming 0 on the next
    * probe. Repeated small appends leave a file per batch per bucket:
    * compact with [[graft.store.CorpusStore.compact]] on the bucket
    * directories. */
  def appendToDHashStore(hashes: DataFrame, path: String): Unit = {
    val bandBuckets = dhashStoreConfig(hashes.sparkSession, path)
    val valid = validDHashes(hashes)
    dhashBands(valid).drop("dhash_bits")
      .withColumn("__bb", pmod(hash(col("band"), col("bv")), lit(bandBuckets)))
      .repartition(col("__bb")) // one file per bucket per append
      .write.partitionBy("__bb").mode("append").parquet(s"$path/bands")
    valid.write.mode("append").parquet(s"$path/hashes")
    hashes.sparkSession.range(1)
      .select(lit(bandBuckets.toLong).as("band_buckets"))
      .write.mode("append").parquet(s"$path/stats")
  }

  /** Near-dup image pairs of a DELTA against a dHash store ∪ itself —
    * [[dhashNearDupPairs]] over (store ∪ delta) restricted to pairs
    * that involve at least one delta image, WITHOUT re-decoding or
    * re-pairing the store's images (spec-pinned equivalence — the
    * [[graft.analysis.Dedup.deltaDupPairs]] contract on the image
    * modality). Emits `(id_a, id_b, hamming)`, `id_a < id_b`.
    *
    * Scale shape: the store's bands scan reads only the delta's
    * band-bucket partitions (plan-time pruning; the driver collects
    * ≤ bandBuckets literals); both candidate joins shuffle on
    * (band, bv) keys; the rerank joins full bit strings by id — keyed
    * shuffles all the way, no broadcast of the store side, candidates
    * bounded by the pigeonhole S-curve. The delta's band rows are
    * MATERIALIZED ONCE (localCheckpoint) — the bucket collect, the
    * store probe, and the internal self-join all reuse them. */
  def imageDeltaDupPairs(deltaHashes: DataFrame, path: String,
                         maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 x 16-bit bands certify Hamming <= 3 losslessly: $maxHamming")
    val spark = deltaHashes.sparkSession
    val bandBuckets = dhashStoreConfig(spark, path)
    val dValid = validDHashes(deltaHashes)
    val dBands = dhashBands(dValid)
      .withColumn("__bb", pmod(hash(col("band"), col("bv")), lit(bandBuckets)))
      .localCheckpoint(true)
    val dBuckets = dBands.select(col("__bb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val storeBands = spark.read.parquet(s"$path/bands")
      .filter(col("__bb").isin(dBuckets: _*)) // partition pruning
    val storeCands = dBands.as("d").join(storeBands.as("s"),
        col("d.band") === col("s.band") && col("d.bv") === col("s.bv"))
      .select(col("d.id").as("did"), col("s.id").as("sid"))
      .distinct()
    val internalCands = dBands.as("a").join(dBands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("did"), col("b.id").as("sid"))
      .distinct()
    val dHashesKeyed = dValid.select(col("id"), col("dhash_bits"))
    val storeHashes = spark.read.parquet(s"$path/hashes")
    def rerank(cands: DataFrame, otherHashes: DataFrame): DataFrame = cands
      .join(dHashesKeyed.select(col("id").as("did"),
        col("dhash_bits").as("__ha")), Seq("did"))
      .join(otherHashes.select(col("id").as("sid"),
        col("dhash_bits").as("__hb")), Seq("sid"))
      .withColumn("hamming", hamming64(col("__ha"), col("__hb")))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("did"), col("sid")).as("id_a"),
        greatest(col("did"), col("sid")).as("id_b"), col("hamming"))
    rerank(storeCands, storeHashes).unionAll(rerank(internalCands, dHashesKeyed))
  }

  /** WAV container metadata row — header fields only; sentinels on
    * undecodable payloads, per the comparator convention. */
  case class WavMeta(id: Long, format: String, sample_rate: Long,
                     channels: Long, bit_depth: Long, n_frames: Long,
                     duration_ms: Double)

  /** Decoded-PCM sample stats: every sample (all channels interleaved)
    * as its SIGNED value — 8-bit unsigned bytes recentered by −128 —
    * aggregated executor-side inside the decode pass, so the feature
    * row is O(1) per file regardless of duration. Integer-valued
    * doubles: sums exact to 2^53, so mean/peak/rms reproduce exactly
    * and an arithmetic oracle can pin them. */
  case class WavStats(id: Long, n_samples: Long, mean_sample: Double,
                      peak: Long, rms: Double)

  /** REAL audio metadata decode — JDK `javax.sound.sampled` parses the
    * RIFF/fmt headers (no audio device touched; pure stream parsing),
    * through the same partition-batched pipeline shape as
    * [[decodePixelStats]]. Corrupt/truncated payloads map to sentinel
    * rows, never a throw. */
  def decodeWavMeta(spark: SparkSession, media: DataFrame): Dataset[WavMeta] = {
    import spark.implicits._
    media.select(col("id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val invalid = WavMeta(id, "invalid", -1L, -1L, -1L, -1L, -1.0)
          try {
            val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
              new java.io.ByteArrayInputStream(b))
            val f = aff.getFormat
            val frames = aff.getFrameLength.toLong
            // a header can declare rate 0 without tripping the parser —
            // the division below must not emit Infinity/NaN (non-finite
            // cells break the hash comparator)
            if (f.getSampleRate <= 0) invalid
            else WavMeta(id, aff.getType.getExtension, f.getSampleRate.toLong,
              f.getChannels.toLong, f.getSampleSizeInBits.toLong, frames,
              frames * 1000.0 / f.getSampleRate.toLong)
          } catch {
            case scala.util.control.NonFatal(_) => invalid
          }
        }
      }
  }

  /** AVI container metadata row — header fields only; sentinels on
    * undecodable payloads, per the comparator convention. */
  case class AviMeta(id: Long, format: String, width: Long, height: Long,
                     n_frames: Long, n_streams: Long, fps: Double,
                     duration_ms: Double)

  /** REAL video-container metadata decode: a RIFF/AVI chunk walker
    * over the raw bytes (the video twin of the WAV path — same
    * container family, zero dependencies; frame DATA stays behind the
    * codec stub boundary, see [[decodeFeatures]]). Walks
    * `RIFF('AVI ') → LIST('hdrl') → avih` with bounds-checked
    * little-endian reads: truncated, garbage, or cross-modality RIFF
    * payloads (a WAV fed to the AVI parser) map to sentinel rows,
    * never a throw. */
  /** The pure parse: `Some((usPerFrame, frames, streams, width,
    * height))` when the walk reaches a complete `avih`, else None.
    * Total on ANY byte input (property-fuzzed): every advance clamps
    * to forward progress, so hostile sizes cannot stall the loop. */
  private[graft] def parseAvi(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    def u32(off: Int): Long =
      if (off < 0 || off + 4 > b.length) -1L
      else (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String =
      if (off < 0 || off + 4 > b.length) ""
      else new String(b.slice(off, off + 4), "US-ASCII")
    try {
      if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") None
      else {
        // walk top-level chunks for LIST('hdrl'), then its subchunks
        // for avih — chunk sizes are validated against the buffer so a
        // truncated header degrades to None. A hostile 32-bit size
        // truncates to a negative Int and would stall the walk — clamp
        // every advance to forward progress and bail on sizes the
        // buffer can't contain.
        def step(size: Long): Int =
          if (size < 0 || size > b.length) b.length // hostile: jump to end
          else 8 + size.toInt + (size.toInt & 1)    // chunks pad to even
        var off = 12
        var avih = -1
        while (avih < 0 && off >= 0 && off + 12 <= b.length) {
          val size = u32(off + 4)
          if (fourcc(off) == "LIST" && fourcc(off + 8) == "hdrl") {
            var sub = off + 12
            val end = math.min(off + 8 + size, b.length.toLong).toInt
            while (avih < 0 && sub >= 0 && sub + 8 <= end) {
              if (fourcc(sub) == "avih") avih = sub
              else sub += step(u32(sub + 4))
            }
          }
          off += step(size)
        }
        if (avih < 0 || avih + 8 + 56 > b.length) None
        else {
          val usPerFrame = u32(avih + 8)
          if (usPerFrame <= 0) None
          else Some((usPerFrame, u32(avih + 8 + 16), u32(avih + 8 + 24),
            u32(avih + 8 + 32), u32(avih + 8 + 36)))
        }
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  def decodeAviMeta(spark: SparkSession, media: DataFrame): Dataset[AviMeta] = {
    import spark.implicits._
    media.select(col("id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          parseAvi(b) match {
            case Some((us, frames, streams, width, height)) =>
              AviMeta(id, "avi", width, height, frames, streams,
                1000000.0 / us, frames * us / 1000.0)
            case None =>
              AviMeta(id, "invalid", -1L, -1L, -1L, -1L, -1.0, -1.0)
          }
        }
      }
  }

  /** One parsed `idx1` entry: frame ordinal, chunk fourcc, the
    * AVIIF_KEYFRAME flag, chunk offset (relative to the 'movi'
    * fourcc — the common convention) and payload size. */
  case class AviFrame(id: Long, frame_no: Long, fourcc: String,
                      keyframe: Boolean, offset: Long, size: Long)

  /** The `idx1` entries of an AVI payload — REAL container parsing
    * (bounds-checked top-level RIFF chunk walk to `idx1`, 16-byte
    * entries), or Nil for payloads without a valid index. */
  private[graft] def parseAviIndex(b: Array[Byte]): Seq[(String, Boolean, Long, Long)] = {
    def u32(off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String =
      new String(b.slice(off, off + 4), "US-ASCII")
    try {
      if (b.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") Nil
      else {
        var off = 12
        var found = -1
        while (found < 0 && off >= 0 && off + 8 <= b.length) {
          val size = u32(off + 4)
          if (fourcc(off) == "idx1") found = off
          else {
            val next = off + 8 + size + (size % 2)
            off = if (next > Int.MaxValue || next <= off) -1 else next.toInt
          }
        }
        if (found < 0) Nil
        else {
          val size = u32(found + 4)
          val n = (size / 16).toInt
          if (found + 8 + n * 16 > b.length) Nil
          else (0 until n).map { i =>
            val e = found + 8 + i * 16
            (fourcc(e), (u32(e + 4) & 0x10L) != 0L, u32(e + 8), u32(e + 12))
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** The FRAME INDEX of the video modality — the half of "video frame
    * sampling" that needs no codec: each payload's `idx1` entries
    * become one row per frame `(id, frame_no, fourcc, keyframe,
    * offset, size)`, the table a frame sampler selects from (every
    * k-th frame, keyframes only, byte-budgeted prefixes) before the
    * stubbed pixel decode fetches `[offset, offset+size)`. Payloads
    * without a valid index contribute zero rows (an index-less AVI has
    * nothing to sample — callers compose [[decodeAviMeta]]'s sentinel
    * for the invalid-payload audit). Executor-side batched parse,
    * same shape as every decode here. */
  def decodeAviFrameIndex(spark: SparkSession, media: DataFrame): Dataset[AviFrame] = {
    import spark.implicits._
    media.select(col("id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, b) =>
          parseAviIndex(b).zipWithIndex.map { case ((fc, key, off, sz), i) =>
            AviFrame(id, i.toLong, fc, key, off, sz)
          }
        }
      }
  }

  /** Position of the `movi` fourcc in an AVI payload (the base the
    * `idx1` offsets are relative to), or -1 — a bounds-checked
    * top-level RIFF walk like [[parseAviIndex]]'s. */
  private[graft] def parseMoviPos(b: Array[Byte]): Int = {
    def u32(off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String =
      new String(b.slice(off, off + 4), "US-ASCII")
    try {
      if (b.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") -1
      else {
        var off = 12
        while (off >= 0 && off + 12 <= b.length) {
          val size = u32(off + 4)
          if (fourcc(off) == "LIST" && fourcc(off + 8) == "movi") return off + 8
          val next = off + 8 + size + (size % 2)
          off = if (next > Int.MaxValue || next <= off) -1 else next.toInt
        }
        -1
      }
    } catch { case scala.util.control.NonFatal(_) => -1 }
  }

  /** Per-frame decoded-pixel stats row; sentinels (-1) on frames that
    * cannot be located or decoded, per the comparator convention. */
  case class AviFramePixels(id: Long, frame_no: Long, width: Long,
                            height: Long, mean_rgb: Double)

  /** REAL video-frame pixel decode for MJPEG-in-AVI — the last
    * multimodal stub closed for the one codec the JDK already ships:
    * MJPEG frames are plain JPEGs, so composing the `idx1` byte
    * ranges ([[decodeAviFrameIndex]]) with the `javax.imageio` pixel
    * path ([[decodePixelStats]]) decodes real frames with no new
    * dependency. Each payload's frames cut `[movi + offset + 8,
    * +size)` (offsets are movi-relative and address the chunk header,
    * the common idx1 convention) and reduce to O(1) per-frame stats
    * inside the batched executor pass — frame count never touches the
    * driver. Non-JDK codecs (H.264 etc.) remain behind the
    * [[decodeFeatures]] stub boundary. */
  def decodeAviFramePixels(spark: SparkSession, media: DataFrame): Dataset[AviFramePixels] = {
    import spark.implicits._
    media.select(col("id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, b) =>
          val movi = parseMoviPos(b)
          parseAviIndex(b).zipWithIndex.map { case ((_, _, off, sz), i) =>
            val invalid = AviFramePixels(id, i.toLong, -1L, -1L, -1.0)
            val start = movi + off + 8
            if (movi < 0 || off < 0 || sz <= 0 || start + sz > b.length) invalid
            else try {
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(b, start.toInt, sz.toInt))
              if (img == null) invalid
              else {
                val (w, h) = (img.getWidth, img.getHeight)
                var sum = 0.0
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val rgb = img.getRGB(x, y)
                    sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                      (rgb & 0xff)) / 3.0
                    x += 1
                  }
                  y += 1
                }
                AviFramePixels(id, i.toLong, w.toLong, h.toLong,
                  sum / (w.toLong * h))
              }
            } catch { case scala.util.control.NonFatal(_) => invalid }
          }
        }
      }
  }

  /** REAL PCM decode: `javax.sound.sampled` opens the stream, the
    * interleaved little-endian frames are read to exhaustion and
    * reduced to (count, mean, peak, rms) in one pass. Supports the PCM
    * WAV layouts (8-bit unsigned, 16-bit signed LE). */
  def decodeWavStats(spark: SparkSession, media: DataFrame): Dataset[WavStats] = {
    import spark.implicits._
    media.select(col("id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          val invalid = WavStats(id, -1L, -1.0, -1L, -1.0)
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(b))
            val f = ais.getFormat
            val bits = f.getSampleSizeInBits
            // guard the ENCODING, not just the width: javax.sound parses
            // a-law/µ-law WAVs fine and reports them 8-bit — decoding
            // their companded bytes as PCM would emit plausible-looking
            // wrong stats instead of the sentinel. WAV convention: 8-bit
            // PCM is unsigned, 16-bit is signed.
            val enc = f.getEncoding
            val pcmOk =
              (bits == 8 && enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) ||
                (bits == 16 && enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
            if (!pcmOk || f.isBigEndian) invalid
            else {
              val data = ais.readAllBytes()
              val bytesPer = bits / 8
              val n = data.length / bytesPer
              var i = 0
              var sum = 0.0
              var sumSq = 0.0
              var peak = 0L
              while (i < n) {
                val v =
                  if (bits == 16)
                    ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff)).toLong
                  else (data(i) & 0xff).toLong - 128L
                sum += v
                sumSq += (v * v).toDouble
                if (math.abs(v) > peak) peak = math.abs(v)
                i += 1
              }
              if (n == 0) WavStats(id, 0L, 0.0, 0L, 0.0)
              else WavStats(id, n.toLong, sum / n, peak, math.sqrt(sumSq / n))
            }
          } catch { case scala.util.control.NonFatal(_) => invalid }
        }
      }
  }
}
