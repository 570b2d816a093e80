package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** Image perceptual-hash near-duplicate detection (the missing modality
  * operator in the LLM-pipeline brief: text had dedup at every grain,
  * images had decode/resize/stats but no near-dup).
  *
  * Pipeline: decode (`javax.imageio`, real codec) → grayscale 8×8
  * nearest-neighbor thumbnail → 64-bit aHash/dHash sketch →
  * Hamming-banded candidate join (the [[Dedup.simhashPairs]] machinery:
  * pigeonhole over `hammingMax + 1` bands makes banding LOSSLESS at the
  * bound, bucket caps keep pathological boilerplate from going O(n²)) →
  * exact Hamming verify on the full sketch.
  *
  * Scale story (100 TB): sketching is one map-side decode pass (no
  * shuffle); the only exchange is the (band, key) hash partitioning of
  * 64-bit sketches — a few dozen bytes per image regardless of media
  * size — and bucket-capped pair expansion bounds the join output.
  * No all-pairs anywhere.
  *
  * Oracle story: over [[Multimodal.fingerprintImageHex]] images the
  * decoded pixels are the md5-hex ASCII codes, so DuckDB recomputes the
  * SAME thumbnail/threshold/Hamming arithmetic from `md5(text)` with no
  * image library and brute-forces all pairs — a hash match on
  * `q_image_dedup` certifies the real decode AND that banding lost no
  * pair at the bound. Mean thresholding is integer-exact
  * (`64·v > Σv`, no division) so both engines agree bit-for-bit.
  */
object ImageDedup {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.ImageDedup")

  private val ThumbW = 8
  private val ThumbH = 8

  /** Decode → integer luminance `(r + 2g + b) / 4` → `dstW`×`dstH`
    * nearest-neighbor thumbnail (same resample rule as
    * [[Multimodal.resizeImages]]: src = dst·s/d, floor). The luminance
    * weight is the power-of-two green-heavy approximation of BT.601 —
    * integer-exact, so any SQL engine reproduces it, and it equals the
    * channel value exactly on grayscale input (r = g = b), which keeps
    * the md5-fingerprint oracle bit-identical; for real color images it
    * tracks perceived brightness where a single-channel hash (the
    * pre-r15 red-channel shape) lost near-dup recall on hue-shifted
    * variants. Non-decodable bytes fall back to the raw byte array
    * viewed as a 1×n image (`decoded = false`) — the mixed-corpus
    * contract.
    */
  private def thumbPixels(bytes: Array[Byte], dstW: Int,
      dstH: Int): (Boolean, Array[Int]) = {
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    val out = new Array[Int](dstW * dstH)
    if (img != null) {
      val (sw, sh) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < dstH) {
        var x = 0
        while (x < dstW) {
          val rgb = img.getRGB(x * sw / dstW, y * sh / dstH)
          out(y * dstW + x) = (((rgb >> 16) & 0xff) +
            2 * ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 4
          x += 1
        }
        y += 1
      }
      (true, out)
    } else {
      val n = math.max(bytes.length, 1)
      var y = 0
      while (y < dstH) {
        var x = 0
        while (x < dstW) {
          val p = (y * dstW + x).toLong * n / (dstW * dstH)
          out(y * dstW + x) =
            if (bytes.isEmpty) 0 else bytes(p.toInt) & 0xff
          x += 1
        }
        y += 1
      }
      (false, out)
    }
  }

  private val sketchSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("decoded", BooleanType),
    StructField("sketch", LongType)))

  private def sketchDf(df: DataFrame)(
      sketchOf: Array[Byte] => (Boolean, Long)): DataFrame = {
    val enc = RowEncoder.encoderFor(sketchSchema)
    df.select(col("id").cast(LongType), col("media"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (decoded, sk) = sketchOf(r.getAs[Array[Byte]](1))
          Row(r.getLong(0), decoded, sk)
        }
      }(enc)
      .toDF("id", "decoded", "sketch")
  }

  /** aHash: 8×8 thumbnail, bit i (row-major) set iff `64·vᵢ > Σv` —
    * strict integer mean threshold, no division, so any SQL engine
    * reproduces it exactly. Output: (id, decoded, sketch).
    */
  def aHashSketches(df: DataFrame): DataFrame = sketchDf(df) { bytes =>
    val (decoded, px) = thumbPixels(bytes, ThumbW, ThumbH)
    var total = 0L
    var i = 0
    while (i < 64) { total += px(i); i += 1 }
    var sk = 0L
    i = 0
    while (i < 64) {
      if (64L * px(i) > total) sk |= (1L << i)
      i += 1
    }
    (decoded, sk)
  }

  /** dHash (gradient hash): 9×8 thumbnail, bit (y·8+x) set iff
    * `t(x,y) > t(x+1,y)` — horizontal-gradient sign, the standard
    * brightness-invariant variant. Output: (id, decoded, sketch).
    */
  def dHashSketches(df: DataFrame): DataFrame = sketchDf(df) { bytes =>
    val (decoded, px) = thumbPixels(bytes, ThumbW + 1, ThumbH)
    var sk = 0L
    var y = 0
    while (y < ThumbH) {
      var x = 0
      while (x < ThumbW) {
        if (px(y * (ThumbW + 1) + x) > px(y * (ThumbW + 1) + x + 1))
          sk |= (1L << (y * ThumbW + x))
        x += 1
      }
      y += 1
    }
    (decoded, sk)
  }

  /** Audio delta-hash: decode WAV (`javax.sound.sampled`, real codec)
    * to signed 16-bit LE PCM samples, resample to 65 time anchors by
    * nearest-neighbor (`a(j) = s[j·n/65]`, floor — length-invariant),
    * bit j set iff `a(j) > a(j+1)` — the temporal-gradient sign, the
    * [[dHashSketches]] analog over time and the loudness-robust
    * variant (uniform gain preserves sample ordering). Non-decodable
    * bytes fall back to the raw bytes viewed as unsigned 8-bit samples
    * (`decoded = false`), the same mixed-corpus contract as
    * [[thumbPixels]]. Integer-exact throughout, so a SQL engine
    * reproduces the sketch bit-for-bit from known samples —
    * `q_audio_dedup` certifies the real WAV decode that way.
    * Output: (id, decoded, sketch); feed to [[nearDupPairs]] via the
    * `sketcher` parameter for banded audio near-dup.
    */
  def wavDeltaSketches(df: DataFrame): DataFrame = sketchDf(df) { bytes =>
    // the sample pairing below assumes signed 16-bit little-endian PCM;
    // [[Multimodal.decodePcm16le]] converts any other decodable layout
    // (8-bit, mu-law, big-endian) through the JDK first — a foreign
    // layout must never "succeed" into a garbage sketch silently
    // labeled decoded (r14 advice) — and only an unconvertible stream
    // falls back to the decoded=false raw-bytes contract.
    val decoded = Multimodal.decodePcm16le(bytes).map { case (_, data) =>
      val n = data.length / 2
      val s = new Array[Int](n)
      var i = 0
      while (i < n) {
        s(i) = ((data(2 * i) & 0xff) |
          (data(2 * i + 1).toInt << 8)).toShort.toInt
        i += 1
      }
      s
    }
    val s = decoded.getOrElse {
      val out = new Array[Int](bytes.length)
      var i = 0
      while (i < bytes.length) { out(i) = bytes(i) & 0xff; i += 1 }
      out
    }
    val n = s.length
    var sk = 0L
    if (n > 0) {
      var j = 0
      while (j < 64) {
        val a = s((j.toLong * n / 65).toInt)
        val b = s(((j + 1).toLong * n / 65).toInt)
        if (a > b) sk |= (1L << j)
        j += 1
      }
    }
    (decoded.isDefined, sk)
  }

  /** Banded inverted index over precomputed sketches — the
    * [[Dedup]] simhash band shape: `hammingMax + 1` bands of
    * `64 / nBands` bits; pigeonhole guarantees any pair within
    * `hammingMax` agrees exactly on ≥ 1 band key.
    */
  private def banded(sk: DataFrame, hammingMax: Int): DataFrame = {
    require(hammingMax >= 0 && hammingMax < 64,
      s"hammingMax must be in [0, 63], got $hammingMax")
    val nBands = hammingMax + 1
    val width = 64 / nBands
    val bandMask = if (width == 64) -1L else (1L << width) - 1
    sk.select(col("id"), col("sketch"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sketch"), b * width)
            .bitwiseAND(lit(bandMask)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sketch"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Near-dup image pairs from a (id, media) frame: sketch → band →
    * size-capped single-shuffle bucket pairing → exact Hamming verify
    * ≤ `hammingMax`. Over-cap buckets are excluded LOUDLY
    * ([[Dedup.observeCaps]]); run [[bucketStats]] to size the cap.
    * Output: (id_a, id_b, hamming) with id_a < id_b, distinct.
    */
  def nearDupPairs(media: DataFrame, hammingMax: Int = 3,
      maxBucketSize: Int = 1000,
      sketcher: DataFrame => DataFrame = aHashSketches): DataFrame = {
    val sized = banded(sketcher(media), hammingMax)
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "key")))
    Dedup.observeCaps(sized, "sz", maxBucketSize, "imageNearDupPairs")
      .filter(col("sz") <= maxBucketSize && col("sz") >= 2)
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("id"), col("sketch"))).as("xs"))
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        TextFunctions.hamming64(col("a.sketch"), col("b.sketch"))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= hammingMax)
  }

  /** Band-bucket distribution (mirror of [[Dedup.simhashBucketStats]])
    * for sizing `maxBucketSize`.
    */
  def bucketStats(media: DataFrame, hammingMax: Int = 3,
      maxBucketSize: Int = 1000,
      sketcher: DataFrame => DataFrame = aHashSketches): DataFrame =
    banded(sketcher(media), hammingMax)
      .groupBy("band", "key").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_buckets"), max(col("sz")).as("max_bucket"),
        sum(when(col("sz") > maxBucketSize, 1).otherwise(0))
          .as("capped_buckets"))

  /** Brute-force exact pairs at the same Hamming bound — the EVAL face
    * ([[Dedup.ngramJaccardPairs]] contract: refuses corpus-sized input;
    * banding-recall specs diff it against [[nearDupPairs]]).
    */
  def bruteForcePairs(media: DataFrame, hammingMax: Int = 3,
      maxDocs: Int = 100000,
      sketcher: DataFrame => DataFrame = aHashSketches): DataFrame = {
    val sk = sketcher(media).localCheckpoint(eager = true)
    val n = sk.count()
    require(n <= maxDocs,
      s"bruteForcePairs is the O(n²) eval face — got $n rows > " +
        s"maxDocs=$maxDocs; use nearDupPairs for corpus-scale input")
    val a = sk.select(col("id").as("id_a"), col("sketch").as("ska"))
    val b = sk.select(col("id").as("id_b"), col("sketch").as("skb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TextFunctions.hamming64(col("ska"), col("skb")).as("hamming"))
      .filter(col("hamming") <= hammingMax)
  }

  /** Video frame-level near-dup: demux each video's frames
    * ([[Multimodal.demuxPngFrames]], the lossless chunk-walk demuxer
    * behind [[Multimodal.videoFrameStats]]), sketch every frame, and
    * pair at the Hamming bound. Frame identity is
    * `video_id * maxFramesPerVideo + frame_id` — video ids must be
    * non-negative and within the packable range
    * `[0, Long.MaxValue / maxFramesPerVideo)` (enforced per row: a
    * negative or overflowing id would silently collide frame
    * identities). Videos are short clips by contract; longer ones
    * truncate at `maxFramesPerVideo`, and the truncation is LOUD — an
    * `Observation` counts dropped frames and WARNs after the action
    * completes (the [[Dedup.observeCaps]] pattern; r14 advice: the bare
    * `.take` dropped tail frames silently). Pairs within the same video
    * are kept — boilerplate intro frames ARE near-dups a curation pass
    * wants surfaced.
    */
  def videoFrameNearDupPairs(media: DataFrame, hammingMax: Int = 3,
      maxBucketSize: Int = 1000, maxFramesPerVideo: Int = 1000): DataFrame = {
    require(maxFramesPerVideo >= 1,
      s"maxFramesPerVideo must be >= 1, got $maxFramesPerVideo")
    val maxId = Long.MaxValue / maxFramesPerVideo
    val frameSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("media", BinaryType),
      StructField("dropped", LongType)))
    val enc = RowEncoder.encoderFor(frameSchema)
    val frames = media.select(col("id").cast(LongType), col("media"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          require(id >= 0 && id < maxId,
            s"videoFrameNearDupPairs: video id $id outside the packable " +
              s"range [0, $maxId) for maxFramesPerVideo=$maxFramesPerVideo" +
              " — frame identities would collide")
          val all = Multimodal.demuxPngFrames(r.getAs[Array[Byte]](1))
          val kept = all.take(maxFramesPerVideo)
          val nDropped = (all.length - kept.length).toLong
          kept.zipWithIndex.map { case (f, i) =>
            Row(id * maxFramesPerVideo + i, f, if (i == 0) nDropped else 0L)
          }
        }
      }(enc)
      .toDF("id", "media", "dropped")
    val obs = org.apache.spark.sql.Observation()
    val observed = frames.observe(obs,
      sum(col("dropped")).as("frames_dropped"))
    Dedup.onObserved(obs) { cnt =>
      val droppedFrames = cnt("frames_dropped")
      if (droppedFrames > 0)
        log.warn(s"videoFrameNearDupPairs: $droppedFrames frames beyond " +
          s"maxFramesPerVideo=$maxFramesPerVideo were DROPPED before " +
          "sketching; near-dup pairs involving those frames are not " +
          "emitted. Raise maxFramesPerVideo deliberately for long clips.")
    }
    nearDupPairs(observed.drop("dropped"), hammingMax, maxBucketSize)
  }
}
