package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video travel as opaque
  * `binary` payloads with typed metadata; decode/feature-extract runs
  * partition-wise so a real codec slots in without touching the plan.
  *
  * The decode step is PLUGGABLE ([[MediaDecoder]]): the contract is
  * open-once-per-partition, decode-per-row, close-at-exhaustion —
  * exactly the lifecycle a JNI/FFM codec or an ONNX feature extractor
  * needs, with state amortized across a partition's rows and never
  * held beyond one row's output at a time. Two instances ship:
  * [[ImageIoDecoder]], a REAL image decoder on the JDK's bundled
  * PNG/JPEG/BMP/GIF codecs (oracle-checked end to end in q199), and
  * [[HistogramDecoder]], the codec-free byte-level default for opaque
  * audio/video payloads this container has no codecs for. Everything
  * around them (schema, batch iteration, partition preservation,
  * column contracts, lifecycle) is spec-asserted (LlmOpsSpec
  * "MediaDecoder seam").
  */
object Multimodal {

  val featureDim = 16

  /** The pluggable decode contract. Implementations are shipped to
    * executors (Serializable) and driven partition-wise by
    * [[extractFeatures]]:
    *  - `open()` runs ONCE per partition before any row — acquire
    *    codec/model state here, never in `decode`;
    *  - `decode(payload)` runs per row: payload bytes in (null/empty
    *    must yield a zero vector, not throw), `featureDim` floats out;
    *  - `close()` runs when the partition's iterator is exhausted —
    *    release native state. Must be idempotent (the consumer may
    *    probe `hasNext` again after exhaustion).
    */
  trait MediaDecoder extends Serializable {
    def featureDim: Int
    def open(): Unit = ()
    def decode(payload: Array[Byte]): Array[Float]
    def close(): Unit = ()
  }

  /** The codec-free default/test instance: deterministic 16-bin byte
    * histogram, L1-normalized. A real codec replaces this keeping the
    * [[MediaDecoder]] lifecycle.
    */
  object HistogramDecoder extends MediaDecoder {
    val featureDim: Int = Multimodal.featureDim
    def decode(payload: Array[Byte]): Array[Float] = {
      val bins = new Array[Float](featureDim)
      if (payload == null || payload.isEmpty) return bins
      var i = 0
      while (i < payload.length) {
        bins((payload(i) & 0xff) / featureDim) += 1f
        i += 1
      }
      val n = payload.length.toFloat
      var j = 0
      while (j < featureDim) { bins(j) /= n; j += 1 }
      bins
    }
  }

  /** A REAL image decoder on the JDK's bundled codecs (`javax.imageio`
    * reads PNG/JPEG/BMP/GIF with zero added dependencies): payload bytes
    * are decoded to pixels and reduced to a 16-bin band-0 intensity
    * histogram (bin = sample >> 4, clamped to 8-bit) as EXACT counts —
    * integer-valued floats, so a lossless format (PNG/BMP) round-trips
    * bit-for-bit against an oracle that computes the same histogram from
    * the pixel formula without decoding (q199). Contract corners:
    * null/empty/unreadable payloads yield the zero vector, never throw —
    * a corrupt asset must not kill a 100 TB decode pass.
    */
  object ImageIoDecoder extends MediaDecoder {
    val featureDim: Int = Multimodal.featureDim
    override def open(): Unit =
      // keep codec scratch in memory: the default ImageIO disk cache
      // writes a temp file per image — pure overhead at decode scale
      javax.imageio.ImageIO.setUseCache(false)
    def decode(payload: Array[Byte]): Array[Float] = {
      val bins = new Array[Float](featureDim)
      if (payload == null || payload.isEmpty) return bins
      // NonFatal, not just IOException: the JDK readers throw unchecked
      // exceptions on malformed bodies behind valid headers (CMMException
      // on a bad ICC profile, index errors in the JPEG/GIF plugins) and
      // one adversarial payload must not kill the pass
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return bins
      val raster = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          bins(math.min(raster.getSample(x, y, 0), 255) >> 4) += 1f
          x += 1
        }
        y += 1
      }
      bins
    }
  }

  /** Perceptual-hash front end: the decoded image reduced to an 8×8
    * grid of cell SUMS (band-0 samples; cell of pixel (x, y) is
    * (y·8 div h)·8 + (x·8 div w)) — the average-hash (aHash)
    * downsampling step with the division deferred. Sums, not means, so
    * every value is an exact integer and the hash bits derive from the
    * pure-integer comparison 64·cellSum > totalSum (no float division
    * anywhere an external oracle would have to replicate in bits).
    * Exact while cellSum < 2²⁴ (float mantissa) — i.e. cells up to
    * ~65k pixels, far beyond thumbnail scale; downstream hashing lives
    * in [[aHashNearDups]]. Contract corners as [[ImageIoDecoder]]:
    * null/empty/corrupt payloads → zero vector, never throw.
    */
  object AHashCellDecoder extends MediaDecoder {
    val featureDim: Int = 64
    override def open(): Unit = javax.imageio.ImageIO.setUseCache(false)
    def decode(payload: Array[Byte]): Array[Float] = {
      val sums = new Array[Float](featureDim)
      if (payload == null || payload.isEmpty) return sums
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return sums
      val raster = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      if (w < 8 || h < 8) return sums
      var y = 0
      while (y < h) {
        val cy = y * 8 / h
        var x = 0
        while (x < w) {
          sums(cy * 8 + x * 8 / w) += math.min(raster.getSample(x, y, 0), 255)
          x += 1
        }
        y += 1
      }
      sums
    }
  }

  /** Perceptual (average-hash) image near-dup pairs: decode → 8×8 cell
    * sums ([[AHashCellDecoder]], partition-wise — payloads never
    * shuffle) → 64 hash bits (cell brighter than the image mean, the
    * integer comparison 64·cellSum > totalSum) → Hamming-banded
    * self-join (the [[DedupOps.simhashNearDups]] shape: `nBlocks`
    * bands, pairs collide only on an identical band, so the shuffle
    * carries (id, band, 8-bit block) slivers — never pixels, never
    * all-pairs) → exact 64-bit Hamming ≤ `hamMax` on the survivors.
    *
    * By pigeonhole the banding is COMPLETE for hamMax < nBlocks (any
    * pair within hamMax differs in at most hamMax blocks, leaving one
    * intact to collide on) — enforced, so the output is exactly "all
    * pairs with Hamming ≤ hamMax", which is what lets q216's oracle
    * compute the same set from a plain all-pairs formula replay.
    *
    * aHash is the classic perceptual fingerprint (brightness-scale
    * invariant, robust to small local edits); the near-dup completion
    * of the multimodal family next to exact byte fingerprints (q76)
    * and the text-side SimHash/MinHash tiers.
    *
    * @return (id_a, id_b, hamming), id_a < id_b, hamming <= hamMax
    */
  def aHashNearDups(assets: DataFrame, hamMax: Int = 6,
                    nBlocks: Int = 8): DataFrame = {
    require(64 % nBlocks == 0, s"64 bits must split evenly into $nBlocks blocks")
    require(hamMax < nBlocks,
      s"$nBlocks-block banding only guarantees recall to hamming ${nBlocks - 1} (got $hamMax)")
    val blockBits = 64 / nBlocks
    val sums = extractFeatures(assets, AHashCellDecoder)
      .select(col("asset_id"),
        transform(col("features"), x => x.cast("long")).as("__s"))
    // bit i = 64·sum_i > total — exact longs end to end
    val bits = sums
      .withColumn("__tot", aggregate(col("__s"), lit(0L), (a, x) => a + x))
      .select(col("asset_id"),
        transform(col("__s"), s =>
          when(s * 64 > col("__tot"), 1).otherwise(0)).as("__bits"))
      .cache()
    val blocks = bits.select(col("asset_id"), posexplode(
        transform(sequence(lit(0), lit(nBlocks - 1)), b =>
          aggregate(slice(col("__bits"), b * blockBits + 1, lit(blockBits)),
            lit(0), (acc, x) => acc * 2 + x)))
      .as(Seq("b", "blk")))
    val cand = blocks.select(col("b"), col("blk"), col("asset_id").as("id_a"))
      .join(blocks.select(col("b"), col("blk"), col("asset_id").as("id_b")),
        Seq("b", "blk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(bits.select(col("asset_id").as("id_a"), col("__bits").as("__ba")), "id_a")
      .join(bits.select(col("asset_id").as("id_b"), col("__bits").as("__bb")), "id_b")
      .select(col("id_a"), col("id_b"),
        aggregate(zip_with(col("__ba"), col("__bb"),
          (a, b) => abs(a - b)), lit(0), (acc, d) => acc + d)
          .cast("int").as("hamming"))
      .filter(col("hamming") <= hamMax)
  }

  /** A REAL audio decoder on the JDK's bundled codec (`javax.sound.
    * sampled` parses WAV/AIFF/AU with zero added dependencies): the
    * payload decodes to PCM frames and reduces to a 16-bin amplitude
    * histogram over 16-bit samples (bin = (sample + 32768) >> 12) as
    * EXACT counts — PCM is uncompressed, so the decoded samples equal
    * the written ones bit-for-bit and q214 gates the decode path
    * against a sample-formula oracle, the audio twin of
    * [[ImageIoDecoder]]/q199. Contract corners identical: null/empty/
    * unreadable payloads yield the zero vector, never throw.
    * Assumes 16-bit little-endian SIGNED PCM (what
    * [[syntheticWavAssets]] writes and the overwhelmingly common WAV
    * layout); other layouts — depth, endianness, or unsigned/float
    * encodings — decode to zeros rather than mis-binning.
    */
  object WavDecoder extends MediaDecoder {
    val featureDim: Int = Multimodal.featureDim
    def decode(payload: Array[Byte]): Array[Float] = {
      val bins = new Array[Float](featureDim)
      if (payload == null || payload.isEmpty) return bins
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (in == null) return bins
      try {
        val fmt = in.getFormat
        // the full layout guard, not just width/endianness: a 16-bit
        // little-endian PCM_UNSIGNED stream would pass the narrower
        // check and mis-bin its samples as signed instead of honoring
        // the "other layouts decode to zeros" contract
        if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
            fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          return bins
        val bytes = in.readAllBytes()
        var i = 0
        while (i + 1 < bytes.length) {
          val sample = ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort.toInt
          bins((sample + 32768) >> 12) += 1f
          i += 2
        }
        bins
      } catch { case scala.util.control.NonFatal(_) => new Array[Float](featureDim) }
      finally in.close()
    }
  }

  /** Deterministic synthetic WAV assets for `ids`: `nSamples` of 16-bit
    * mono PCM at 8 kHz per id with sample(i) = ((id·31 + i·7) mod
    * 65536) − 32768, wrapped in a hand-built RIFF header. PCM is
    * lossless, so [[WavDecoder]] recovers exactly these samples.
    */
  def syntheticWavAssets(ids: DataFrame, idCol: String, nSamples: Int): DataFrame = {
    val spark = ids.sparkSession
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val dataLen = nSamples * 2
        val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1)            // PCM, mono
          .putInt(8000).putInt(16000)         // sample rate, byte rate
          .putShort(2).putShort(16)           // block align, bits
          .put("data".getBytes("US-ASCII")).putInt(dataLen)
        var i = 0
        while (i < nSamples) {
          buf.putShort((java.lang.Math.floorMod(id * 31 + i * 7, 65536L) - 32768L).toShort)
          i += 1
        }
        Row(id, "audio", buf.array(), nSamples, 1)
      }
    }
    spark.createDataFrame(rdd, assetSchema)
  }

  /** Deterministic synthetic PNG assets for `ids`: a w×h grayscale image
    * per id with sample(x, y) = (id·31 + x·7 + y·13) mod 256, encoded
    * with the JDK PNG writer partition-wise (no shuffle). PNG is
    * lossless, so [[ImageIoDecoder]] recovers exactly these samples —
    * the encode→decode pair is oracle-checkable from the formula alone.
    *
    * `idScale`/`idOffset` map the emitted asset_id (= id·scale + offset)
    * without changing the PIXEL formula (still keyed on the raw id), so
    * a caller can plant a near-identical twin of an existing asset under
    * a fresh id; `spot255` corrupts exactly pixel (0, 0) to 255 — the
    * one-pixel perturbation behind the q216 perceptual near-dup oracle.
    */
  def syntheticPngAssets(ids: DataFrame, idCol: String, w: Int, h: Int,
                         idScale: Long = 1L, idOffset: Long = 0L,
                         spot255: Boolean = false): DataFrame = {
    val spark = ids.sparkSession
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(0)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0,
              if (spot255 && x == 0 && y == 0) 255
              else java.lang.Math.floorMod(id * 31 + x * 7 + y * 13, 256L).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id * idScale + idOffset, "image", bos.toByteArray, w, h)
      }
    }
    spark.createDataFrame(rdd, assetSchema)
  }

  /** Payload schema: one row per asset. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  /** Decode + feature-extract, partition-wise (the Scala analogue of a
    * batched `mapInPandas` decode UDF): no shuffle; decoder lifecycle
    * at PARTITION bounds (open before the first row, close at
    * exhaustion — never per row); one row in flight at a time, so
    * memory is bounded by a single payload regardless of partition
    * size; output schema fixed.
    */
  def extractFeatures(assets: DataFrame,
                      decoder: MediaDecoder = HistogramDecoder): DataFrame = {
    val spark = assets.sparkSession
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rdd = assets.select("asset_id", "modality", "payload").rdd.mapPartitions { it =>
      decoder.open()
      new Iterator[Row] {
        private var closed = false
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !closed) { closed = true; decoder.close() }
          h
        }
        def next(): Row = {
          val r = it.next()
          val payload = r.getAs[Array[Byte]]("payload")
          Row(r.getLong(0), r.getString(1),
            if (payload == null) 0 else payload.length,
            decoder.decode(payload).toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling: every `stride`-th fixed-size chunk of the payload
    * (a video's frame-sample analogue), as pure column ops — slicing
    * binary needs no decode.
    */
  def sampleChunks(assets: DataFrame, chunkBytes: Int, stride: Int): DataFrame =
    assets.select(col("asset_id"),
      posexplode(transform(
        sequence(lit(0), ((length(col("payload")) - 1) / (chunkBytes * stride)).cast("int")),
        i => substring(col("payload"), (i * chunkBytes * stride + 1).cast("int"), lit(chunkBytes))))
        .as(Seq("chunk_idx", "chunk")))

  /** 16-bin byte histogram of a payload as EXACT integer counts, pure
    * column ops: bin j = #bytes with b div 16 == j. The codec-free
    * content fingerprint for opaque payloads (sniffing, near-dup) — and
    * being integer-exact it is engine-independent, so an external oracle
    * can replay it bit-for-bit (ASCII payloads equal their string form).
    * The payload is bound to a lambda variable before the per-byte loop
    * (see TextOps.shingles for why).
    */
  def byteHistogramCounts(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // one split pass per payload; the codes array is itself bound before
    // the 16 bin filters reference it (each reference would otherwise
    // re-evaluate the whole per-byte loop)
    val codes = transform(split(payload.cast("string"), ""), c => ascii(c))
    graft.engine.functions.let(codes)(cs =>
      transform(sequence(lit(0), lit(featureDim - 1)),
        j => size(filter(cs, c => floor(c / featureDim) === j))))
  }

  /** Build an assets frame from the documents table (text bytes as the
    * stand-in payload) — the fixture generator for tests and queries.
    */
  def assetsFromDocuments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("asset_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("modality"),
      col("text").cast("binary").as("payload"),
      lit(64).as("width"), lit(48).as("height"))
}
