package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Md5

/** A multimodal record: opaque media bytes + typed metadata. */
case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

/** Extracted features for one media payload. */
case class MediaFeatures(
    doc_id: Long, media_type: String, n_bytes: Long,
    width: Int, height: Int, content_hash: String)

/** A 64-bit perceptual signature as four 16-bit bands
  * ([[Multimodal.perceptualSignatures]]). */
case class MediaSignature(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

/** One sampled frame's perceptual signature
  * ([[Multimodal.videoFrameSignatures]]). */
case class FrameSignature(
    doc_id: Long, frame_idx: Int, b0: Int, b1: Int, b2: Int, b3: Int)

/**
 * Multimodal (image/audio/video) column plumbing. Media travels as an
 * opaque `binary` column with typed metadata alongside — the schema,
 * partitioning and batch shape are real; only the byte-level decoder is a
 * STUB (this container has no image/audio codecs).
 *
 * Two execution paths:
 *  - declarative [[featureColumns]]: byte length + md5 + stub dimensions
 *    as pure codegen'd expressions (used by the oracle-checked query);
 *  - batched [[extractFeatures]]: `mapPartitions` over a typed Dataset —
 *    the shape a real decoder needs (per-partition codec init, batched
 *    I/O), mirroring Python's `mapInPandas` batch contract.
 *
 * At 100 TB the payload column dominates I/O: keep media in its own
 * parquet column (columnar pruning skips it unless projected), size
 * `spark.sql.files.maxPartitionBytes` for payload width, and never
 * shuffle payload bytes — join on doc_id and carry features only.
 */
object Multimodal {

  /** Wrap a text corpus as a fake media corpus (payload = utf-8 bytes):
    * the deterministic stand-in for real image bytes in tests. */
  def asMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      lit("image/stub").as("media_type"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** Declarative feature extraction: codegen'd, shuffle-free.
    * Stub dimensions are derived from the content hash so they are
    * deterministic and engine-reproducible. */
  def featureColumns(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      col("media_type"),
      length(col("payload")).cast("long").as("n_bytes"),
      (conv(substring(md5(col("payload")), 1, 4), 16, 10).cast("int") % 1024 + 1).as("width"),
      (conv(substring(md5(col("payload")), 5, 4), 16, 10).cast("int") % 1024 + 1).as("height"),
      md5(col("payload")).as("content_hash"))

  /**
   * The pluggable decoder seam: a real deployment implements this with
   * its image/audio library and passes it to [[extractFeatures]] — the
   * Spark-side plumbing (typed Dataset, per-partition lifecycle, feature
   * schema) is identical for every codec. `open()` runs ONCE per
   * partition (where a real codec allocates its native context);
   * `Session.close()` runs when the partition's rows are exhausted.
   * Must be Serializable: the codec object ships to executors, the
   * session never leaves one.
   */
  trait MediaCodec extends Serializable {
    def open(): MediaCodec.Session
  }

  object MediaCodec {
    /** One partition's decoder context. */
    trait Session {
      /** payload bytes → (width, height, content identity). */
      def decode(mediaType: String, payload: Array[Byte]): Decoded

      /** 64-bit PERCEPTUAL signature as four 16-bit bands (the
        * pigeonhole unit of [[Multimodal.perceptualDedup]]). Default:
        * derived from the content hash (byte identity — exact dups
        * collide, engine-replayable, what the oracle checks); a real
        * image codec overrides with an actual perceptual hash so
        * re-encoded/near-identical pixels collide too (see
        * [[ImageIo]]'s 8×8 average-hash). */
      def pHashBands(mediaType: String, payload: Array[Byte]): Array[Int] = {
        val h = decode(mediaType, payload).contentHash
        Array.tabulate(4)(i => Integer.parseInt(h.substring(4 * i, 4 * i + 4), 16))
      }

      /** Up to `k` per-frame perceptual signatures, sampled evenly
        * across the payload's frames (r18 — the trimmed-clip lever:
        * a FIRST-frame-only video signature misses same-footage clips
        * whose intro differs). Default: the single whole-payload
        * signature — images and audio have one "frame"; multi-frame
        * codecs ([[MjpegAvi]]) override with real frame sampling. */
      def pHashFrames(mediaType: String, payload: Array[Byte],
          k: Int): Array[Array[Int]] =
        Array(pHashBands(mediaType, payload))
      def close(): Unit = ()
    }
    final case class Decoded(width: Int, height: Int, contentHash: String)

    /** The deterministic md5 stub — the oracle implementation: its output
      * is replayable by any engine, so the gate query can hash-compare it.
      * A real deployment swaps in a codec-backed implementation; nothing
      * else changes. */
    object Stub extends MediaCodec {
      def open(): Session = new Session {
        // a real codec initializes its native context here, once per
        // partition; the stub's "context" is a reusable digest instance
        private val md = MessageDigest.getInstance("MD5")
        def decode(mediaType: String, payload: Array[Byte]): Decoded = {
          md.reset()
          val hex = Md5.hex(md.digest(payload))
          Decoded(
            Integer.parseInt(hex.substring(0, 4), 16) % 1024 + 1,
            Integer.parseInt(hex.substring(4, 8), 16) % 1024 + 1,
            hex)
        }
      }
    }

    /**
     * A REAL image codec through the same seam, JDK-only: `javax.imageio`
     * decodes PNG/BMP/GIF/JPEG bytes with the readers shipped in every
     * JRE — zero added dependency, headless-safe (`BufferedImage` never
     * touches a display). Dimensions are the decoded raster's actual
     * width/height; content identity stays md5(payload) (byte identity
     * is decode-independent, so downstream exact-dup joins behave the
     * same whichever codec produced the features). This is the
     * existence proof that the [[MediaCodec]] plumbing carries real
     * bytes, not just the stub's derived values; a deployment with
     * other formats (video frames, audio) plugs its own codec the same
     * way and nothing else in the pipeline changes.
     */
    object ImageIo extends MediaCodec {
      def open(): Session = new Session {
        // per-partition context: one digest instance reused across rows
        // (ImageIO.read allocates its reader per call — a codec with a
        // reusable native context would hold it here instead).
        // useCache=false: ImageIO's default wraps every stream in a
        // DISK-backed FileCacheImageInputStream — a scratch temp file
        // per decoded row on the executor; the payload is already fully
        // in memory, so force the memory-backed stream instead. (JVM-
        // global flag, but memory-caching is strictly what Spark
        // executors want for byte-array payloads.)
        javax.imageio.ImageIO.setUseCache(false)
        private val md = MessageDigest.getInstance("MD5")
        def decode(mediaType: String, payload: Array[Byte]): Decoded = {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          require(img != null,
            s"payload is not a decodable image (media_type=$mediaType, " +
              s"n_bytes=${payload.length})")
          md.reset()
          val hex = Md5.hex(md.digest(payload))
          Decoded(img.getWidth, img.getHeight, hex)
        }

        /** REAL perceptual hash: 8×8 average-hash over the decoded
          * raster — integer-exact luma block means vs the global mean,
          * row-major MSB-first, split into 16-bit bands. Identical
          * pixels hash identically whatever container encoded them
          * (PNG vs BMP byte streams differ; their aHash does not). */
        override def pHashBands(
            mediaType: String, payload: Array[Byte]): Array[Int] = {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          require(img != null,
            s"payload is not a decodable image (media_type=$mediaType)")
          // the shared 8×8 average-hash (block edges by integer ratio —
          // exact for any dimensions); see [[aHashBands]]
          aHashBands(img)
        }
      }
    }

    /**
     * A REAL audio codec through the same seam, JDK-only:
     * `javax.sound.sampled.AudioSystem` parses WAV/AIFF/AU containers
     * with the PCM readers shipped in every JRE — the second-modality
     * existence proof that [[MediaCodec]] carries real bytes (the
     * audio analog of [[ImageIo]]). Decoded dims map audio-naturally:
     * width = PCM frame count (duration; clamped to Int.MaxValue),
     * height = channel count. Content identity stays md5(payload) —
     * byte identity is decode-independent, so downstream exact-dup
     * joins behave the same whichever codec produced the features.
     * Non-audio payloads throw (garbage never becomes silent zeros).
     */
    object WavAudio extends MediaCodec {
      def open(): Session = new Session {
        private val md = MessageDigest.getInstance("MD5")

        private def stream(payload: Array[Byte]) =
          try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          catch {
            case e: javax.sound.sampled.UnsupportedAudioFileException =>
              throw new IllegalArgumentException(
                s"payload is not decodable audio (n_bytes=${payload.length})", e)
          }

        def decode(mediaType: String, payload: Array[Byte]): Decoded = {
          val ais = stream(payload)
          try {
            val fmt = ais.getFormat
            // getFrameLength is -1 for containers that don't declare a
            // frame count (e.g. streamed AU); a silent -1 width would
            // violate the garbage-never-silently-decodes contract, so
            // derive the count from the actual PCM byte stream instead.
            val declared = ais.getFrameLength
            val frames =
              if (declared >= 0L) declared
              else {
                val fs = fmt.getFrameSize
                require(fs > 0,
                  s"audio container declares no frame count and frame size $fs " +
                    "is unusable to derive one")
                ais.readAllBytes().length.toLong / fs
              }
            md.reset()
            val hex = Md5.hex(md.digest(payload))
            Decoded(
              math.min(frames, Int.MaxValue.toLong).toInt,
              fmt.getChannels, hex)
          } finally ais.close()
        }

        /** REAL perceptual hash for audio: 64-block energy signature —
          * mean |amplitude| of the channel-mixed PCM samples over 64
          * contiguous time blocks, thresholded at the global mean
          * energy, MSB-first into four 16-bit bands. Threshold-vs-mean
          * is amplitude-scale-invariant, so the SAME waveform encoded
          * at different bit depths (8-bit unsigned vs 16-bit signed —
          * different byte streams, different md5) collides at Hamming
          * ~0, which byte-identity dedup can never see. */
        override def pHashBands(
            mediaType: String, payload: Array[Byte]): Array[Int] = {
          val ais = stream(payload)
          try {
            val fmt = ais.getFormat
            val enc = fmt.getEncoding
            require(enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
              enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
              s"pHash needs PCM audio, got $enc")
            val bytesPerSample = fmt.getSampleSizeInBits / 8
            require(bytesPerSample == 1 || bytesPerSample == 2,
              s"pHash supports 8/16-bit PCM, got ${fmt.getSampleSizeInBits}-bit")
            val channels = fmt.getChannels
            val frameSize = fmt.getFrameSize
            val pcm = ais.readAllBytes()
            val nFrames = pcm.length / frameSize
            if (nFrames == 0) return Array(0, 0, 0, 0)
            // mean |sample| per frame across channels, integer-exact
            // (scaled ×channels to stay integral)
            val energy = new Array[Long](nFrames)
            var f = 0
            while (f < nFrames) {
              var c = 0
              var acc = 0L
              while (c < channels) {
                val o = f * frameSize + c * bytesPerSample
                val s =
                  if (bytesPerSample == 1) {
                    if (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
                      (pcm(o) & 0xff) - 128
                    else pcm(o).toInt
                  } else {
                    val (lo, hi) =
                      if (fmt.isBigEndian) (pcm(o + 1), pcm(o)) else (pcm(o), pcm(o + 1))
                    (hi.toInt << 8) | (lo & 0xff)
                  }
                acc += math.abs(s.toLong)
                c += 1
              }
              energy(f) = acc
              f += 1
            }
            // 64 contiguous time blocks (integer edges — the ImageIo
            // 8×8 grid rule), block mean energy vs global mean
            val sums = new Array[Long](64)
            val counts = new Array[Long](64)
            f = 0
            while (f < nFrames) {
              val b = math.min(63, f * 64 / nFrames)
              sums(b) += energy(f)
              counts(b) += 1
              f += 1
            }
            val avgs = Array.tabulate(64)(i =>
              if (counts(i) == 0) 0L else sums(i) / counts(i))
            meanBands(avgs)
          } finally ais.close()
        }
      }
    }

    /** 8×8 average-hash over a decoded raster (integer-exact luma block
      * means vs global mean, row-major MSB-first, four 16-bit bands) —
      * shared by [[ImageIo]] (whole image) and [[MjpegAvi]] (first
      * video frame) so the two modalities can never drift. */
    private[ops] def aHashBands(img: java.awt.image.BufferedImage): Array[Int] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Long](64)
      val counts = new Array[Long](64)
      var y = 0
      while (y < h) {
        val cy = math.min(7, y * 8 / h)
        var x = 0
        while (x < w) {
          val cx = math.min(7, x * 8 / w)
          val rgb = img.getRGB(x, y)
          val luma = ((rgb >> 16 & 0xff) * 299 +
            (rgb >> 8 & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
          sums(cy * 8 + cx) += luma
          counts(cy * 8 + cx) += 1
          x += 1
        }
        y += 1
      }
      meanBands(Array.tabulate(64)(i => sums(i) / math.max(1, counts(i))))
    }

    /** 64 block means → four 16-bit bands, MSB first: bit set where the
      * block mean is ≥ the mean of all 64 — the last step of both the
      * image and the audio hash. */
    private def meanBands(avgs: Array[Long]): Array[Int] = {
      val mean = avgs.sum / 64
      val bands = new Array[Int](4)
      var i = 0
      while (i < 64) {
        if (avgs(i) >= mean) bands(i / 16) |= 1 << (15 - i % 16)
        i += 1
      }
      bands
    }

    /**
     * A REAL video codec through the same seam, JDK-only — the THIRD
     * modality existence proof, closing the r13-r14 "video container
     * arm is a stub" carry-over without any dependency: MJPEG-in-AVI
     * is the one mainstream video container a bare JRE can genuinely
     * decode, because the container is plain RIFF chunk structure
     * (fourcc + little-endian size, word-aligned) and every frame
     * payload is a JPEG — `javax.imageio`'s shipped reader. The
     * parser walks RIFF: `avih` (the main AVI header) provides
     * dwWidth/dwHeight, the `movi` LIST's `##dc`/`##db` chunks are
     * the frames. decode() = (dwWidth, dwHeight, md5(payload)) and
     * requires the RIFF/AVI magic AND ≥ 1 video chunk — garbage never
     * silently decodes. The perceptual hash is the shared 8×8
     * average-hash ([[aHashBands]]) of the FIRST decodable frame: two
     * AVIs carrying the same footage re-muxed or re-encoded (different
     * bytes, different md5) collide at Hamming ~0, which byte-identity
     * dedup can never see — the video analog of [[WavAudio]]'s
     * bit-depth-invariant energy signature. H.264/VP9 payloads stay a
     * dependency decision (no JDK decoder exists); their CONTAINER
     * would parse here but decode() would fail loudly on the first
     * frame, by contract.
     */
    object MjpegAvi extends MediaCodec {
      def open(): Session = new Session {
        javax.imageio.ImageIO.setUseCache(false)
        private val md = MessageDigest.getInstance("MD5")

        def decode(mediaType: String, payload: Array[Byte]): Decoded = {
          val avi = parseAvi(payload)
          md.reset()
          val hex = Md5.hex(md.digest(payload))
          Decoded(avi.width, avi.height, hex)
        }

        override def pHashBands(
            mediaType: String, payload: Array[Byte]): Array[Int] = {
          val avi = parseAvi(payload)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(avi.frames.head))
          require(img != null,
            "first video chunk is not a decodable JPEG frame " +
              s"(n_bytes=${avi.frames.head.length}) - non-MJPEG codec?")
          aHashBands(img)
        }

        /** Multi-frame signatures (r18): aHash of up to `k` frames at
          * the evenly-spaced indices ⌊j·n/k⌋ — a clip sharing ANY
          * sampled frame's footage with another clip pairs in
          * [[Multimodal.videoPerceptualDedup]], which the
          * first-frame-only signature structurally cannot do for
          * trimmed or re-intro'd copies. Each sampled chunk must
          * decode (the codec's fail-loudly contract). */
        override def pHashFrames(mediaType: String, payload: Array[Byte],
            k: Int): Array[Array[Int]] = {
          require(k >= 1, s"frame sample count must be >= 1, got $k")
          val avi = parseAvi(payload)
          val n = avi.frames.length
          val take = math.min(k, n)
          (0 until take).map(j => j * n / take).distinct.map { i =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(avi.frames(i)))
            require(img != null,
              s"video chunk $i is not a decodable JPEG frame " +
                s"(n_bytes=${avi.frames(i).length}) - non-MJPEG codec?")
            aHashBands(img)
          }.toArray
        }
      }

      private[graft] final case class Avi(
        width: Int, height: Int, frames: Vector[Array[Byte]])

      /** RIFF/AVI walk: fourcc(4) + size(4 LE) + data (+ odd-size pad);
        * LIST/RIFF chunks carry a subtype then nested chunks. Collects
        * dwWidth/dwHeight from `avih` and every `##dc`/`##db` video
        * chunk in document order. */
      private[graft] def parseAvi(payload: Array[Byte]): Avi = {
        def u32(o: Int): Long =
          (payload(o) & 0xffL) | (payload(o + 1) & 0xffL) << 8 |
            (payload(o + 2) & 0xffL) << 16 | (payload(o + 3) & 0xffL) << 24
        def fourcc(o: Int): String =
          new String(payload, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
        require(payload.length >= 12 && fourcc(0) == "RIFF" &&
          fourcc(8) == "AVI ",
          s"payload is not a RIFF/AVI container (n_bytes=${payload.length})")
        var width = -1
        var height = -1
        val frames = Vector.newBuilder[Array[Byte]]
        def walk(start: Int, end: Int): Unit = {
          var o = start
          while (o + 8 <= end) {
            val cc = fourcc(o)
            val size = u32(o + 4).toInt
            val dataStart = o + 8
            // fail-loudly on corrupt size fields: a u32 >= 2^31 turns
            // negative after .toInt and `dataStart + size + pad` stops
            // advancing (0xFFFFFFF8 leaves o unchanged; smaller values
            // walk BACKWARDS) — an infinite loop on crafted payloads.
            // Sizes must be non-negative and in-bounds for the region.
            require(size >= 0 && dataStart.toLong + size <= payload.length,
              f"corrupt AVI chunk '$cc' at offset $o: size field " +
                f"${u32(o + 4)} exceeds payload (n_bytes=${payload.length})")
            val dataEnd = math.min(end, dataStart + size)
            if (cc == "LIST") {
              walk(dataStart + 4, dataEnd) // skip the list subtype
            } else if (cc == "avih" && size >= 40) {
              width = u32(dataStart + 32).toInt
              height = u32(dataStart + 36).toInt
            } else if (cc.length == 4 && cc(0).isDigit && cc(1).isDigit &&
                (cc.substring(2) == "dc" || cc.substring(2) == "db") &&
                size > 0) {
              frames += java.util.Arrays.copyOfRange(payload, dataStart, dataEnd)
            }
            o = dataStart + size + (size & 1) // chunks are word-aligned
          }
        }
        walk(12, payload.length)
        val fs = frames.result()
        require(width > 0 && height > 0,
          "AVI has no avih main header with positive dimensions")
        require(fs.nonEmpty, "AVI movi list carries no video chunks")
        Avi(width, height, fs)
      }
    }
  }

  /**
   * Deterministic frame sampling — the video-frame / audio-chunk shape:
   * split each payload into `k` contiguous byte ranges (integer offset
   * arithmetic, last frame takes the remainder) and emit one row per
   * frame with its byte range and content hash. A real pipeline decodes
   * each range; the plumbing here (explode shape, integral offsets,
   * per-frame hashing for downstream frame-level dedup) is the real
   * thing and engine-replayable. Narrow — payload bytes never shuffle;
   * only (doc_id, frame_idx, offsets, hash) leave the scan stage.
   */
  def frameSample(media: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"frame count must be >= 1, got $k")
    // frame hashes are md5 over the HEX of the byte range: every engine
    // can hex a blob, not every engine can slice one (byte [a,b) ==
    // hex chars [2a+1, 2b]); hex is staged once per payload. floor of a
    // double division is exact here (offsets < 2^53 by construction).
    val staged = media.select(
      col("doc_id"),
      hex(col("payload")).as("hexp"),
      length(col("payload")).cast("long").as("n"))
    val frames = transform(sequence(lit(0), lit(k - 1)), i => {
      val off = floor(i.cast("long") * col("n") / k).cast("long")
      val end = when(i === k - 1, col("n"))
        .otherwise(floor((i.cast("long") + 1) * col("n") / k).cast("long"))
      struct(
        (i + 1).as("frame_idx"),
        off.as("off"),
        (end - off).as("flen"),
        md5(col("hexp").substr((off * 2 + 1).cast("int"), ((end - off) * 2).cast("int")))
          .as("frame_hash"))
    })
    staged
      .select(col("doc_id"), explode(frames).as("f"))
      .select(
        col("doc_id"), col("f.frame_idx").as("frame_idx"),
        col("f.off").as("off"), col("f.flen").as("flen"),
        col("f.frame_hash").as("frame_hash"))
      .filter(col("flen") > 0)
  }

  /**
   * Stub resize: maps each media row to target dimensions with a
   * deterministic derived content hash (a real pipeline decodes, scales
   * and re-encodes here — the metadata/schema flow, the narrow no-shuffle
   * shape, and the deterministic output identity are the real plumbing).
   * Output n_bytes models an RGB raster (w·h·3) so downstream size
   * accounting is realistic.
   */
  def resize(features: DataFrame, w: Int, h: Int): DataFrame = {
    require(w >= 1 && h >= 1, s"target dims must be >= 1, got ${w}x$h")
    features.select(
      col("doc_id"),
      col("media_type"),
      lit(w * h * 3L).as("n_bytes"),
      lit(w).as("width"),
      lit(h).as("height"),
      md5(concat(col("content_hash"), lit(s"_${w}x$h"))).as("content_hash"))
  }

  /** Batched per-partition feature extraction through the [[MediaCodec]]
    * seam — the real-decoder shape: one codec `open()` per partition,
    * a streamed decode pass over its rows, `close()` at exhaustion.
    * Defaults to the deterministic [[MediaCodec.Stub]] (the oracle
    * implementation). */
  def extractFeatures(media: Dataset[MediaRecord],
      codec: MediaCodec = MediaCodec.Stub)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      val session = codec.open()
      val out = rows.map { r =>
        val d = session.decode(r.media_type, r.payload)
        MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong,
          d.width, d.height, d.contentHash)
      }
      // close the codec context when the partition is exhausted, without
      // materializing the iterator
      new Iterator[MediaFeatures] {
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h) session.close()
          h
        }
        def next(): MediaFeatures = out.next()
      }
    }
  }

  /** Per-payload 64-bit perceptual signature as four 16-bit bands,
    * through the same per-partition codec lifecycle as
    * [[extractFeatures]]. Only (doc_id, 4 ints) leaves the scan stage —
    * payload bytes never shuffle. */
  def perceptualSignatures(media: Dataset[MediaRecord],
      codec: MediaCodec = MediaCodec.Stub)(
      implicit spark: SparkSession): Dataset[MediaSignature] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      val session = codec.open()
      val out = rows.map { r =>
        val b = session.pHashBands(r.media_type, r.payload)
        MediaSignature(r.doc_id, b(0), b(1), b(2), b(3))
      }
      new Iterator[MediaSignature] {
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h) session.close()
          h
        }
        def next(): MediaSignature = out.next()
      }
    }
  }

  /**
   * PERCEPTUAL near-duplicate pairs over media payloads — frame-level /
   * image-level dedup: signatures via [[perceptualSignatures]], then
   * the SimHash pigeonhole (4 bands of 16 bits: any pair within
   * Hamming ≤ 3 must agree on ≥ 1 whole band), candidates verified by
   * exact Hamming distance (`bit_count(xor)` per band — codegen'd
   * integer ops, no arrays). With the [[MediaCodec.ImageIo]] codec the
   * signature is a real 8×8 average-hash, so the SAME pixels found in
   * DIFFERENT containers (a PNG and a BMP of one image) pair at
   * Hamming 0 even though their byte hashes differ — the dedup
   * byte-identity joins can never see. With the [[MediaCodec.Stub]]
   * the signature is content-hash-derived (exact-dup collisions only),
   * which is what the engine-replayable oracle checks.
   *
   * Scale shape: the banding join is [[Dedup.candidatePairs]]'s — an
   * equi-join on (band index, band value) over a 5-int/row frame,
   * distinct pairs, then one narrow join back to signatures per side.
   * Payloads stay in their scan partitions.
   */
  def perceptualDedup(media: Dataset[MediaRecord],
      codec: MediaCodec = MediaCodec.Stub, maxHamming: Int = 3)(
      implicit spark: SparkSession): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole over 4 bands guarantees recall only to Hamming 3, got $maxHamming")
    val sigs = perceptualSignatures(media, codec).toDF()
    val banded = sigs.select(col("doc_id"), posexplode(
      array(col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band_idx", "band_val")))
    val cand = banded.as("a")
      .join(banded.as("b"), Seq("band_idx", "band_val"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    def s(side: String, id: String) = sigs.select(col("doc_id").as(id),
      col("b0").as(s"b0$side"), col("b1").as(s"b1$side"),
      col("b2").as(s"b2$side"), col("b3").as(s"b3$side"))
    val ham = (0 to 3).map(i =>
      bit_count(expr(s"b${i}a ^ b${i}b"))).reduce(_ + _)
    cand.join(s("a", "id1"), "id1").join(s("b", "id2"), "id2")
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /**
   * Per-FRAME perceptual signatures (r18): up to `k` frames sampled
   * evenly per payload through the codec seam
   * ([[MediaCodec.Session.pHashFrames]] — real frame decode for
   * [[MediaCodec.MjpegAvi]], the single whole-payload signature for
   * one-frame modalities). Only (doc_id, frame_idx, 4 ints) per
   * sampled frame leaves the scan stage; payload bytes never shuffle.
   */
  def videoFrameSignatures(media: Dataset[MediaRecord], k: Int,
      codec: MediaCodec = MediaCodec.Stub)(
      implicit spark: SparkSession): Dataset[FrameSignature] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      val session = codec.open()
      val out = rows.flatMap { r =>
        session.pHashFrames(r.media_type, r.payload, k).zipWithIndex.map {
          case (b, i) => FrameSignature(r.doc_id, i, b(0), b(1), b(2), b(3))
        }
      }
      new Iterator[FrameSignature] {
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h) session.close()
          h
        }
        def next(): FrameSignature = out.next()
      }
    }
  }

  /**
   * Multi-frame perceptual VIDEO dedup (r18, closing the r15 verdict's
   * "first frame only" gap): two clips pair when ANY sampled frame of
   * one is within `maxHamming` of ANY sampled frame of the other — a
   * trimmed or re-intro'd copy (same footage, different first frame)
   * still shares interior frames, which the whole-payload signature
   * of [[perceptualDedup]] structurally misses. Banding and verify
   * are the [[perceptualDedup]] pigeonhole at FRAME granularity
   * (recall guarantee: any frame pair within Hamming ≤ 3 agrees on
   * ≥ 1 whole 16-bit band); output is one row per video pair with
   * the best (minimum) frame-pair Hamming and the matching frame
   * indices. Candidate volume scales with k·|videos| banded rows —
   * k is a small constant (default call sites use 3–8), never the
   * full frame count.
   */
  def videoPerceptualDedup(media: Dataset[MediaRecord], k: Int,
      codec: MediaCodec = MediaCodec.Stub, maxHamming: Int = 3)(
      implicit spark: SparkSession): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole over 4 bands guarantees recall only to Hamming 3, got $maxHamming")
    val sigs = videoFrameSignatures(media, k, codec).toDF()
    val banded = sigs.select(col("doc_id"), col("frame_idx"), posexplode(
      array(col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band_idx", "band_val")))
    val cand = banded.as("a")
      .join(banded.as("b"), Seq("band_idx", "band_val"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("a.frame_idx").as("f1"),
        col("b.doc_id").as("id2"), col("b.frame_idx").as("f2"))
      .distinct()
    def s(side: String, id: String, f: String) = sigs.select(
      col("doc_id").as(id), col("frame_idx").as(f),
      col("b0").as(s"b0$side"), col("b1").as(s"b1$side"),
      col("b2").as(s"b2$side"), col("b3").as(s"b3$side"))
    val ham = (0 to 3).map(i =>
      bit_count(expr(s"b${i}a ^ b${i}b"))).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1"), col("id2"))
      .orderBy(col("hamming").asc, col("f1").asc, col("f2").asc)
    cand.join(s("a", "id1", "f1"), Seq("id1", "f1"))
      .join(s("b", "id2", "f2"), Seq("id2", "f2"))
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id1"), col("id2"), col("f1"), col("f2"), col("hamming"))
  }
}
