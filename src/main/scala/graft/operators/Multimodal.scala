package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (BASELINE.json north star): media as opaque
  * `binary` payloads with typed metadata, plus decode/feature-extract/
  * frame-sample stages.
  *
  * Codec status: PNG, BMP (q140) and GIF (q182) decode is REAL — the JDK
  * ships all three javax.imageio codecs and each round-trips actual
  * pixels bit-exactly under an analytic oracle. JPEG is ALSO a real JDK
  * codec and the decode path absorbs it (Round6Spec drives encode →
  * decode → resample through it), but JPEG is lossy by construction, so
  * it is pinned with a bounded-error test rather than an exact DuckDB
  * oracle. WAV audio is real too (q180's hand-rolled RIFF codec). The
  * remaining DECODE stubs below cover only compressed audio/video
  * codecs, which genuinely need external libraries.
  * Everything Spark-side — schema, batch shape, partition-parallel decode
  * via `mapPartitions`, metadata pushdown — is real either way; swapping
  * a stub for a JNI/FFI codec call changes nothing structurally.
  *
  * Scale: payloads travel as parquet binary chunks; the decode stage is a
  * row-map (no shuffle) whose parallelism is file-split-driven. Metadata
  * predicates (width/format) prune BEFORE any payload byte is touched —
  * project metadata columns first, never `select *` through a decode.
  */
object Multimodal {

  // javax.imageio defaults to a DISK-backed stream cache: every
  // ImageIO.read/write wraps its stream in a FileCache*ImageStream that
  // creates a temp FILE PER IMAGE — for thousands of sub-4KB payloads per
  // pass that's pure filesystem overhead in the codec hot loop
  // (optimization guide §1.2 step 2, per-task work). All payloads here are
  // in-memory byte arrays; the memory-backed stream cache is strictly
  // better at any scale. JVM-global and idempotent; runs on each executor
  // when this object initializes there (every codec closure references it).
  javax.imageio.ImageIO.setUseCache(false)

  /** Media table synthesized deterministically over `documents`: the text
    * bytes stand in for an encoded frame buffer. */
  // NOT wide: mediaTable's consumers (q39/q65/q66) do trivial per-row
  // work (metadata, byte stats) — the fan-out exchange cost tripled them
  // in the round-13 A/B (0.20 s → 0.56 s) with nothing to amortize it.
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    val kinds = array(lit("image"), lit("audio"), lit("video"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      element_at(kinds, (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"), // opaque binary column
      (lit(16) + (col("doc_id") * 37 + 11) % 48).as("width"),
      (lit(16) + (col("doc_id") * 53 + 7) % 48).as("height"))
  }

  /** Decoded per-media features. */
  final case class MediaFeatures(doc_id: Long, media_type: String,
                                 n_bytes: Long, mean_byte: Double)

  /** DECODE STUB — the partition-parallel binary→feature stage. The batch
    * shape is real (one iterator pass per partition, payload bytes
    * materialized once, no shuffle); only the codec body is fake: a real
    * implementation replaces `fakeDecode` with the actual image/audio
    * decode (JNI/FFI), nothing else changes. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          // ??? real codec goes here ??? — deterministic fake: byte stats.
          def fakeDecode(bytes: Array[Byte]): Double =
            if (bytes.isEmpty) 0.0
            else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
          MediaFeatures(id, kind, payload.length.toLong, fakeDecode(payload))
        }
      }.toDF()
  }

  /** RESIZE STUB — deterministic downscale plumbing: emits the target
    * geometry and a payload "thumbnail" (byte stride sample standing in
    * for the pixel resample). Real codec swaps only the byte math. */
  def resizeStub(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val n = math.max(1, targetW * targetH / 8)
        val stride = math.max(1, payload.length / n)
        // ??? real resample goes here ??? — stride sample keeps shape real
        val thumb = payload.indices.by(stride).map(payload(_)).toArray
        (id, targetW, targetH, thumb)
      })
      .toDF("doc_id", "width", "height", "thumb")
  }

  /** FRAME-SAMPLE STUB — for video-typed rows: one "frame" offset every
    * 256 payload bytes (the batch shape of a real GOP/keyframe sampler:
    * explode fan-out, offsets computed without touching frame content). */
  def frameSample(media: DataFrame): DataFrame =
    media.filter(col("media_type") === "video")
      .select(col("doc_id"),
        posexplode(sequence(lit(0L), length(col("payload")).cast("long"),
                            lit(256L))).as(Seq("frame_idx", "byte_offset")))

  /** q39 — multimodal metadata + stub-decoded feature. Every column is
    * plain arithmetic/hash so the DuckDB oracle checks the whole pipeline
    * shape end-to-end. */
  def q39MultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val nBytes = octet_length(col("text")).cast("long")
    val h = md5(col("text")) // md5(payload) == md5(text bytes)
    def nibAt(i: Int): Column =
      conv(substring(h, i, 1), 16, 10).cast("int")
    val brightness = round(
      (nibAt(1) * 16 + nibAt(2)).cast("double") / 255.0, 6)
    val nFrames = when(col("media_type") === "video",
      (nBytes / 256L).cast("long") + 1L).otherwise(1L)
    mediaTable(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(
        col("doc_id"), col("media_type"),
        nBytes.as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        nFrames.as("n_frames"),
        brightness.as("brightness"))
      .orderBy(col("doc_id"))
  }

  /** q65 — the RESIZE stub, oracle-checked: runs the real
    * [[resizeStub]] partition-parallel stage (target 32×32 → 128-byte
    * stride sample of the payload) and renders the thumbnail as comparable
    * scalars (length + unsigned byte sum). The DuckDB oracle recomputes the
    * stride sample positionally — documents text is ASCII, so byte values
    * equal codepoints. */
  def q65ResizeStub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    resizeStub(mediaTable(spark, dir), 32, 32)
      .as[(Long, Int, Int, Array[Byte])]
      .map { case (id, w, h, thumb) =>
        (id, w.toLong, h.toLong, thumb.length.toLong,
         thumb.foldLeft(0L)((a, b) => a + (b & 0xff)))
      }
      .toDF("doc_id", "width", "height", "n_thumb", "thumb_sum")
      .orderBy(col("doc_id"))
  }

  val resizeStubOracle: String =
    """WITH m AS (
      |  SELECT doc_id, text, octet_length(encode(text)) AS len,
      |    greatest(1, octet_length(encode(text)) // 128) AS stride
      |  FROM documents)
      |SELECT doc_id, CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
      |  CAST((len - 1) // stride + 1 AS BIGINT) AS n_thumb,
      |  CAST((SELECT sum(ascii(substr(m.text, CAST(p AS INT), 1)))
      |        FROM unnest(generate_series(1, len, stride)) AS t(p)) AS BIGINT)
      |    AS thumb_sum
      |FROM m ORDER BY doc_id""".stripMargin

  /** q66 — the FRAME-SAMPLE stub, oracle-checked: one offset row per 256
    * payload bytes for video-typed media (explode fan-out with no payload
    * decode). */
  def q66FrameSample(spark: SparkSession, dir: String): DataFrame =
    frameSample(mediaTable(spark, dir))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
              col("byte_offset"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val frameSampleOracle: String =
    """SELECT doc_id, off // 256 AS frame_idx, off AS byte_offset
      |FROM (SELECT doc_id, octet_length(encode(text)) AS len
      |      FROM documents WHERE doc_id % 3 = 2),
      |     unnest(generate_series(0, len, 256)) AS t(off)
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------------
  // REAL image codec path (q140) — the JDK ships lossless PNG and BMP
  // codecs (javax.imageio), so for those two formats the decode stage is
  // NOT a stub: real encoded bytes, real ImageIO decode, real
  // nearest-neighbor pixel resample. Oracle-ability comes from
  // determinism, not from DuckDB parsing images: the pixel matrix is an
  // arithmetic function of (doc_id, x, y), so the oracle recomputes the
  // resampled pixels analytically while Spark round-trips them through
  // the actual codec — equality proves the encode → decode → resample
  // pipeline is pixel-exact. q182 extends the same contract to GIF (the
  // JDK's third lossless image codec; decodes to an INDEXED raster, so
  // pixels are read through getRGB, not a raw band sample). JPEG — the
  // fourth JDK codec — goes through the same real encode/decode path in
  // Round6Spec but is lossy, so its pin is geometry + bounded pixel
  // error, not an exact oracle. The ??? stubs above now cover only
  // compressed audio/video codecs the JDK genuinely lacks.
  // ---------------------------------------------------------------------

  /** The deterministic pixel formula shared verbatim with the oracle. */
  private[graft] def pixel(docId: Long, x: Int, y: Int): Int =
    ((docId * 31 + x * 7 + y * 13) % 256).toInt

  /** Render the deterministic grey raster for `docId` (r=g=b; ≤256
    * distinct colors, so every lossless JDK codec — PNG, BMP, GIF —
    * round-trips it bit-exactly). */
  private[graft] def mkImage(docId: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pixel(docId, x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Encode [[mkImage]] through a named JDK codec. */
  private[graft] def encodeImage(docId: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(mkImage(docId, w, h), fmt, out))
      throw new IllegalStateException(s"no JDK $fmt writer")
    out.toByteArray
  }

  /** Real encoded images over the documents dimension table: PNG for even
    * doc_ids, BMP for odd — both JDK codecs, both lossless. Geometry uses
    * [[mediaTable]]'s width/height formulas. Encode is partition-parallel
    * and shuffle-free like every decode stage here. */
  def imageTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
        (lit(16) + (col("doc_id") * 37 + 11) % 48).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 53 + 7) % 48).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        val fmt = if (id % 2 == 0) "png" else "bmp"
        (id, fmt, w, h, encodeImage(id, w, h, fmt))
      })
      .toDF("doc_id", "fmt", "width", "height", "payload")
  }

  /** REAL decode + resize: ImageIO parses the encoded payload (format
    * auto-detected from the byte stream, as a real pipeline must — the
    * `fmt` column is metadata, not a decode hint) and the thumbnail is a
    * nearest-neighbor resample of the decoded raster: out(gx,gy) =
    * px(gx·W div outW, gy·H div outH), integer-exact. A payload that
    * fails to decode fails the task loudly — silently skipping corrupt
    * media is how training corpora rot. */
  def decodeResize(images: DataFrame, outW: Int, outH: Int): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("doc_id", "fmt", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, fmt, w, h, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable $fmt payload, doc $id")
        require(img.getWidth == w && img.getHeight == h,
          s"decoded geometry ${img.getWidth}x${img.getHeight} != metadata ${w}x$h")
        val raster = img.getRaster
        var sum = 0L
        var p00 = 0
        var pLL = 0
        var gy = 0
        while (gy < outH) {
          var gx = 0
          while (gx < outW) {
            // r=g=b by construction: band 0 is the grey value either way
            val v = raster.getSample(gx * w / outW, gy * h / outH, 0)
            sum += v
            if (gx == 0 && gy == 0) p00 = v
            if (gx == outW - 1 && gy == outH - 1) pLL = v
            gx += 1
          }
          gy += 1
        }
        (id, fmt, w.toLong, h.toLong, sum, p00.toLong, pLL.toLong)
      })
      .toDF("doc_id", "fmt", "width", "height", "thumb_sum", "p00", "p77")
  }

  /** q140 — real-codec image decode + resize, oracle-checked end to end:
    * encode (PNG/BMP) → ImageIO decode → 8×8 nearest-neighbor resample,
    * vs the oracle's analytic recomputation of the same pixels. */
  def q140ImageDecode(spark: SparkSession, dir: String): DataFrame =
    decodeResize(imageTable(spark, dir), 8, 8).orderBy(col("doc_id"))

  val imageDecodeOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    16 + (doc_id*37 + 11) % 48 AS w,
      |    16 + (doc_id*53 + 7) % 48 AS h
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, w, h, gx, gy,
      |    (doc_id*31 + ((gx*w)//8)*7 + ((gy*h)//8)*13) % 256 AS px
      |  FROM m, generate_series(0, 7) g1(gx), generate_series(0, 7) g2(gy))
      |SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(sum(px) AS BIGINT) AS thumb_sum,
      |  CAST(max(CASE WHEN gx = 0 AND gy = 0 THEN px END) AS BIGINT) AS p00,
      |  CAST(max(CASE WHEN gx = 7 AND gy = 7 THEN px END) AS BIGINT) AS p77
      |FROM cells GROUP BY doc_id, w, h
      |ORDER BY doc_id""".stripMargin

  /** q210 — perceptual AVERAGE-HASH (aHash) over the real codec path:
    * decode → 8×8 nearest-neighbor thumbnail → one bit per cell, set iff
    * the cell is brighter than the thumbnail mean. aHash is the classic
    * cheap perceptual fingerprint for image-level near-dup detection
    * (same family as pHash; bucket on the hash, verify inside buckets) —
    * the image-side counterpart of the text MinHash pass. The mean test
    * is INTEGER-exact: bit = 64·px > Σpx (no float mean, no rounding), so
    * the oracle recomputes the identical 64 bits analytically from the
    * q140 pixel formulas — the hash certifies decode + resample + binarize
    * end-to-end. Output: row-major 64-char '0'/'1' string + popcount.
    *
    * Scale: partition-local decode, no shuffle until the final order — at
    * 100 TB the hash lands as a column and dedup proceeds as hash-groupBy
    * (q27's shape) or hamming-banded buckets (q30's), both id-only. */
  def q210ImageAhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageTable(spark, dir)
      .select("doc_id", "fmt", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, fmt, w, h, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable $fmt payload, doc $id")
        require(img.getWidth == w && img.getHeight == h,
          s"decoded geometry ${img.getWidth}x${img.getHeight} != metadata ${w}x$h")
        val raster = img.getRaster
        val px = new Array[Long](64)
        var sum = 0L
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 8) {
            val v = raster.getSample(gx * w / 8, gy * h / 8, 0).toLong
            px(gy * 8 + gx) = v
            sum += v
            gx += 1
          }
          gy += 1
        }
        val bits = px.map(p => if (64L * p > sum) '1' else '0').mkString
        (id, fmt, bits, px.count(p => 64L * p > sum).toLong)
      })
      .toDF("doc_id", "fmt", "ahash", "n_ones")
      .orderBy(col("doc_id"))
  }

  val imageAhashOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    16 + (doc_id*37 + 11) % 48 AS w,
      |    16 + (doc_id*53 + 7) % 48 AS h
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, gx, gy,
      |    (doc_id*31 + ((gx*w)//8)*7 + ((gy*h)//8)*13) % 256 AS px
      |  FROM m, generate_series(0, 7) g1(gx), generate_series(0, 7) g2(gy)),
      |s AS (SELECT doc_id, sum(px) AS total FROM cells GROUP BY doc_id)
      |SELECT c.doc_id,
      |  CASE WHEN c.doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
      |  string_agg(CASE WHEN 64*px > total THEN '1' ELSE '0' END, ''
      |             ORDER BY gy, gx) AS ahash,
      |  CAST(sum(CASE WHEN 64*px > total THEN 1 ELSE 0 END) AS BIGINT) AS n_ones
      |FROM cells c JOIN s USING (doc_id)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** q224 — perceptual DIFFERENCE-HASH (dHash) over the real codec path:
    * decode → 9×8 nearest-neighbor thumbnail → one bit per horizontal
    * neighbor pair, set iff the left cell is brighter than the right.
    * dHash reads GRADIENTS where q210's aHash reads absolute brightness
    * against the global mean — the standard complement: aHash is blind to
    * a uniform brightness ramp (every cell near the mean), dHash is blind
    * to low-frequency level shifts; image near-dup pipelines bucket on
    * both and verify on the pair. Comparisons are integer pixel values —
    * no mean, no division, nothing to round — so the oracle recomputes
    * the identical 64 bits analytically from the q140 pixel formulas,
    * certifying decode + 9-wide resample + gradient-binarize end to end.
    *
    * Scale: identical to q210 — partition-local decode, no shuffle until
    * the final order; downstream dedup is hash-groupBy or hamming bands. */
  def q224ImageDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageTable(spark, dir)
      .select("doc_id", "fmt", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, fmt, w, h, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable $fmt payload, doc $id")
        require(img.getWidth == w && img.getHeight == h,
          s"decoded geometry ${img.getWidth}x${img.getHeight} != metadata ${w}x$h")
        val raster = img.getRaster
        val sb = new StringBuilder(64)
        var ones = 0L
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 8) {
            val l = raster.getSample(gx * w / 9, gy * h / 8, 0)
            val r = raster.getSample((gx + 1) * w / 9, gy * h / 8, 0)
            if (l > r) { sb.append('1'); ones += 1 } else sb.append('0')
            gx += 1
          }
          gy += 1
        }
        (id, fmt, sb.toString, ones)
      })
      .toDF("doc_id", "fmt", "dhash", "n_ones")
      .orderBy(col("doc_id"))
  }

  val imageDhashOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    16 + (doc_id*37 + 11) % 48 AS w,
      |    16 + (doc_id*53 + 7) % 48 AS h
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, gx, gy,
      |    (doc_id*31 + ((gx*w)//9)*7 + ((gy*h)//8)*13) % 256 AS px
      |  FROM m, generate_series(0, 8) g1(gx), generate_series(0, 7) g2(gy))
      |SELECT l.doc_id,
      |  CASE WHEN l.doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
      |  string_agg(CASE WHEN l.px > r.px THEN '1' ELSE '0' END, ''
      |             ORDER BY l.gy, l.gx) AS dhash,
      |  CAST(sum(CASE WHEN l.px > r.px THEN 1 ELSE 0 END) AS BIGINT) AS n_ones
      |FROM cells l JOIN cells r
      |  ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
      |WHERE l.gx <= 7
      |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin

  /** Fixed-point 32-point DCT-II basis, K(u,x) = round(10⁴·cos(π(2x+1)u/64))
    * for the 8 lowest frequencies — computed ONCE here and embedded
    * verbatim into BOTH the engine kernel and the oracle SQL (a generated
    * 256-row VALUES table), so the two sides walk identical INTEGER
    * arithmetic and no cross-engine cosine/rounding drift can exist. */
  private[graft] val dctK: Array[Array[Long]] =
    Array.tabulate(8, 32)((u, x) =>
      Math.round(Math.cos(Math.PI * (2 * x + 1) * u / 64.0) * 10000.0))

  private def dctKValues: String =
    (for (u <- 0 until 8; x <- 0 until 32)
      yield s"($u,$x,${dctK(u)(x)})").mkString(", ")

  /** q237 — perceptual DCT-HASH (pHash) over the real codec path: decode
    * → 32×32 nearest-neighbor thumbnail → 2-D DCT-II (separable, the
    * fixed-point [[dctK]] basis) → keep the 8×8 lowest-frequency block →
    * one bit per AC coefficient, set iff it exceeds the MEDIAN of the 63
    * AC values (the DC slot emits '0'). pHash completes the standard
    * perceptual trio: q210's aHash reads absolute brightness, q224's
    * dHash local gradients, pHash the global low-frequency STRUCTURE —
    * it alone survives blur/re-scale/brightness-curve edits, which is why
    * production image dedup buckets on it. All arithmetic is integer
    * (pixels ≤ 255, basis ≤ 10⁴, |F| ≤ 2.7e13 « 2⁶³; the median of 63
    * BIGINTs is the rank-32 order statistic), so the oracle replays the
    * identical DCT from the q140 pixel formulas and certifies decode +
    * resample + transform + binarize end to end.
    *
    * Scale: identical to q210 — partition-local decode + O(8·32·32)
    * integer kernel per image, no shuffle until the final order;
    * downstream dedup buckets on the hash (q27/q30/q229 shapes). */
  def q237ImagePhash(spark: SparkSession, dir: String): DataFrame =
    phashOf(imageTable(spark, dir)).orderBy(col("doc_id"))

  /** The pHash kernel over ANY (doc_id, fmt, width, height, payload)
    * image relation — factored out so specs can drive codec-invariance
    * probes through the identical decode + DCT path. */
  private[graft] def phashOf(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images
      .select("doc_id", "fmt", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, fmt, w, h, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable $fmt payload, doc $id")
        require(img.getWidth == w && img.getHeight == h,
          s"decoded geometry ${img.getWidth}x${img.getHeight} != metadata ${w}x$h")
        val raster = img.getRaster
        val p = Array.ofDim[Long](32, 32) // p(y)(x)
        var gy = 0
        while (gy < 32) {
          var gx = 0
          while (gx < 32) {
            p(gy)(gx) = raster.getSample(gx * w / 32, gy * h / 32, 0).toLong
            gx += 1
          }
          gy += 1
        }
        // separable DCT: T(u,y) = Σ_x p(x,y)·K(u,x); F(u,v) = Σ_y T(u,y)·K(v,y)
        val t = Array.ofDim[Long](8, 32)
        var u = 0
        while (u < 8) {
          var y = 0
          while (y < 32) {
            var s = 0L
            var x = 0
            while (x < 32) { s += p(y)(x) * dctK(u)(x); x += 1 }
            t(u)(y) = s
            y += 1
          }
          u += 1
        }
        val f = Array.ofDim[Long](8, 8)
        u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            var s = 0L
            var y = 0
            while (y < 32) { s += t(u)(y) * dctK(v)(y); y += 1 }
            f(u)(v) = s
            v += 1
          }
          u += 1
        }
        val ac = (for (uu <- 0 until 8; vv <- 0 until 8 if uu != 0 || vv != 0)
          yield f(uu)(vv)).sorted
        val med = ac(31) // rank-32 order statistic of the 63 AC values
        val sb = new StringBuilder(64)
        var ones = 0L
        u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            if ((u != 0 || v != 0) && f(u)(v) > med) { sb.append('1'); ones += 1 }
            else sb.append('0')
            v += 1
          }
          u += 1
        }
        (id, fmt, sb.toString, ones)
      })
      .toDF("doc_id", "fmt", "phash", "n_ones")
  }

  val imagePhashOracle: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    16 + (doc_id*37 + 11) % 48 AS w,
       |    16 + (doc_id*53 + 7) % 48 AS h
       |  FROM documents),
       |k(u, x, kv) AS (VALUES ${dctKValues}),
       |cells AS (
       |  SELECT doc_id, gx, gy,
       |    (doc_id*31 + ((gx*w)//32)*7 + ((gy*h)//32)*13) % 256 AS px
       |  FROM m, generate_series(0, 31) g1(gx), generate_series(0, 31) g2(gy)),
       |t AS (
       |  SELECT doc_id, k.u AS u, gy, sum(px * kv) AS tv
       |  FROM cells JOIN k ON k.x = gx
       |  GROUP BY doc_id, k.u, gy),
       |f AS (
       |  SELECT doc_id, t.u AS u, k.u AS v, CAST(sum(tv * kv) AS BIGINT) AS fv
       |  FROM t JOIN k ON k.x = gy
       |  GROUP BY doc_id, t.u, k.u),
       |med AS (
       |  SELECT doc_id, fv AS med FROM (
       |    SELECT doc_id, fv,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY fv) AS rn
       |    FROM f WHERE NOT (u = 0 AND v = 0))
       |  WHERE rn = 32)
       |SELECT f.doc_id,
       |  CASE WHEN f.doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
       |  string_agg(CASE WHEN NOT (u = 0 AND v = 0) AND fv > med
       |                  THEN '1' ELSE '0' END, '' ORDER BY u, v) AS phash,
       |  CAST(sum(CASE WHEN NOT (u = 0 AND v = 0) AND fv > med
       |               THEN 1 ELSE 0 END) AS BIGINT) AS n_ones
       |FROM f JOIN med USING (doc_id)
       |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q229 — IMAGE near-dup pairs via perceptual-hash LSH banding: the
  // image-side q29. Byte-level dedup (file md5) is blind to the SAME
  // image re-encoded through a different codec — the classic re-upload
  // dup — so the fixture plants format-crossing clones (doc_id % 9 == 0:
  // same raster, the OTHER lossless codec, img_id offset by 10⁹) and the
  // operator must find them from pixels alone: decode → aHash → band the
  // 64 bits into 4×16-bit bands → bucket-join (any matching band is a
  // candidate) → verify Hamming ≤ [[HamMax]] on the full hash. Banding
  // guarantees: two hashes within Hamming 3 ALWAYS share a clean band
  // (pigeonhole over 4 bands); clones match at Hamming 0.
  //
  // Scale: the pair generator is the band bucket-join (small keys:
  // 16-bit band + index), never hashes×hashes; candidate verify joins
  // are id-keyed; payload bytes never pass the first mapPartitions.
  // ---------------------------------------------------------------------

  /** Clone id offset (img_id = doc_id + this for the re-encoded copy). */
  val CloneOffset = 1000000000L

  /** Hamming acceptance bar for verified near-dup pairs. */
  val HamMax = 6L

  /** q229's raster formula — the q140 linear formula plus a per-image
    * x·y cross term. The LINEAR formula is kept for the decode-certifying
    * queries (its analytic oracle is the point there), but its 8×8
    * thumbnails collapse into a handful of threshold patterns (every
    * image is the same gradient), which makes banding degenerate — at
    * sf0.1 it manufactured 51k hamming-≤6 pairs among 5.5k images. The
    * cross term decorrelates the thumbnails so the pair structure is the
    * planted clones plus genuine coincidences, like a real corpus. */
  private[graft] def pixel229(id: Long, x: Int, y: Int): Int =
    (((id * 31 + x * 7 + y * 13) + x.toLong * y * (id % 7 + 1)) % 256).toInt

  private def encode229(id: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pixel229(id, x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, fmt, out))
      throw new IllegalStateException(s"no JDK $fmt writer")
    out.toByteArray
  }

  /** Image corpus + format-crossing clones: every doc's image over the
    * [[pixel229]] raster, plus — for doc_id % 9 == 0 — the SAME raster
    * encoded through the other codec under `img_id = doc_id + CloneOffset`. */
  private[graft] def imageCorpusWithClones(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
        (lit(16) + (col("doc_id") * 37 + 11) % 48).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 53 + 7) % 48).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.flatMap { case (id, w, h) =>
        val fmt = if (id % 2 == 0) "png" else "bmp"
        val base = (id, fmt, w, h, encode229(id, w, h, fmt))
        if (id % 9 == 0) {
          val alt = if (id % 2 == 0) "bmp" else "png"
          Seq(base, (id + CloneOffset, alt, w, h, encode229(id, w, h, alt)))
        } else Seq(base)
      })
      .toDF("img_id", "fmt", "width", "height", "payload")
  }

  /** (img_id, 64-char aHash bits) through the real decode path. */
  private def ahashBits(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("img_id", "fmt", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, fmt, w, h, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable $fmt payload, img $id")
        require(img.getWidth == w && img.getHeight == h,
          s"decoded geometry ${img.getWidth}x${img.getHeight} != metadata ${w}x$h")
        val raster = img.getRaster
        val px = new Array[Long](64)
        var sum = 0L
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 8) {
            val v = raster.getSample(gx * w / 8, gy * h / 8, 0).toLong
            px(gy * 8 + gx) = v
            sum += v
            gx += 1
          }
          gy += 1
        }
        (id, px.map(p => if (64L * p > sum) '1' else '0').mkString)
      })
      .toDF("img_id", "bits")
  }

  /** q229 — verified image near-dup pairs (img_a < img_b, hamming ≤ 6). */
  def q229ImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    val hashes = ahashBits(imageCorpusWithClones(spark, dir)).localCheckpoint()
    val bands = hashes.select(col("img_id"),
      posexplode(transform(sequence(lit(0), lit(3)), b =>
        concat(b.cast("string"), lit(":"),
               col("bits").substr(b * 16 + 1, lit(16)))))
        .as(Seq("bi", "band")))
      .select(col("img_id"), col("band"))
    val cand = bands.select(col("band"), col("img_id").as("img_a"))
      .join(bands.select(col("band"), col("img_id").as("img_b")), "band")
      .filter(col("img_a") < col("img_b"))
      .select(col("img_a"), col("img_b")).distinct()
    val ham = size(filter(sequence(lit(1), lit(64)), i =>
      col("ba").substr(i, lit(1)) =!= col("bb").substr(i, lit(1)))).cast("long")
    cand
      .join(hashes.select(col("img_id").as("img_a"), col("bits").as("ba")), "img_a")
      .join(hashes.select(col("img_id").as("img_b"), col("bits").as("bb")), "img_b")
      .select(col("img_a"), col("img_b"), ham.as("hamming"))
      .filter(col("hamming") <= HamMax)
      .orderBy(col("img_a"), col("img_b"))
  }

  val imageNearDupOracle: String =
    s"""WITH imgs AS (
       |  SELECT doc_id AS img_id, doc_id AS src_id FROM documents
       |  UNION ALL
       |  SELECT doc_id + $CloneOffset, doc_id FROM documents WHERE doc_id % 9 = 0),
       |cells AS (
       |  SELECT img_id, gx, gy,
       |    (src_id*31 + ((gx*(16 + (src_id*37 + 11) % 48))//8)*7
       |               + ((gy*(16 + (src_id*53 + 7) % 48))//8)*13
       |               + ((gx*(16 + (src_id*37 + 11) % 48))//8)
       |                 * ((gy*(16 + (src_id*53 + 7) % 48))//8)
       |                 * (src_id % 7 + 1)) % 256 AS px
       |  FROM imgs, generate_series(0, 7) g1(gx), generate_series(0, 7) g2(gy)),
       |s AS (SELECT img_id, sum(px) AS total FROM cells GROUP BY img_id),
       |hashes AS (
       |  SELECT c.img_id,
       |    string_agg(CASE WHEN 64*px > total THEN '1' ELSE '0' END, ''
       |               ORDER BY gy, gx) AS bits
       |  FROM cells c JOIN s USING (img_id) GROUP BY c.img_id),
       |bands AS (
       |  SELECT img_id, b || ':' || substr(bits, b*16 + 1, 16) AS band
       |  FROM hashes, generate_series(0, 3) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.img_id < b.img_id)
       |SELECT img_a, img_b,
       |  CAST(list_sum(list_transform(range(1, 65), i ->
       |    CASE WHEN substr(ha.bits, i, 1) <> substr(hb.bits, i, 1)
       |         THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |FROM cand
       |JOIN hashes ha ON ha.img_id = cand.img_a
       |JOIN hashes hb ON hb.img_id = cand.img_b
       |WHERE list_sum(list_transform(range(1, 65), i ->
       |    CASE WHEN substr(ha.bits, i, 1) <> substr(hb.bits, i, 1)
       |         THEN 1 ELSE 0 END)) <= $HamMax
       |ORDER BY img_a, img_b""".stripMargin

  /** GIF-encoded images over the same geometry/pixel formulas — the JDK's
    * third lossless image codec (chainweb-data has no media path; this
    * family is the training-pipeline extension, cf. q140). */
  def gifTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
        (lit(16) + (col("doc_id") * 37 + 11) % 48).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 53 + 7) % 48).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        (id, "gif", w, h, encodeImage(id, w, h, "gif"))
      })
      .toDF("doc_id", "fmt", "width", "height", "payload")
  }

  /** q182 — REAL GIF decode + resize. Same contract as q140 with one
    * codec-honest difference: the JDK GIF reader returns an INDEXED
    * raster (palette + index matrix), so a raw band sample would read
    * palette indices; pixels are read through `getRGB` (palette-resolved
    * ARGB, grey = low byte). Scale: identical to q140 — partition-local
    * row-map, no shuffle, payload bytes touched once. */
  def q182GifDecode(spark: SparkSession, dir: String): DataFrame = {
    val outW = 8; val outH = 8
    val spark2 = spark
    import spark2.implicits._
    gifTable(spark, dir)
      .select("doc_id", "fmt", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, fmt, w, h, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable $fmt payload, doc $id")
        require(img.getWidth == w && img.getHeight == h,
          s"decoded geometry ${img.getWidth}x${img.getHeight} != metadata ${w}x$h")
        var sum = 0L; var p00 = 0; var pLL = 0
        var gy = 0
        while (gy < outH) {
          var gx = 0
          while (gx < outW) {
            val v = img.getRGB(gx * w / outW, gy * h / outH) & 0xff
            sum += v
            if (gx == 0 && gy == 0) p00 = v
            if (gx == outW - 1 && gy == outH - 1) pLL = v
            gx += 1
          }
          gy += 1
        }
        (id, fmt, w.toLong, h.toLong, sum, p00.toLong, pLL.toLong)
      })
      .toDF("doc_id", "fmt", "width", "height", "thumb_sum", "p00", "p77")
      .orderBy(col("doc_id"))
  }

  val gifDecodeOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    16 + (doc_id*37 + 11) % 48 AS w,
      |    16 + (doc_id*53 + 7) % 48 AS h
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, w, h, gx, gy,
      |    (doc_id*31 + ((gx*w)//8)*7 + ((gy*h)//8)*13) % 256 AS px
      |  FROM m, generate_series(0, 7) g1(gx), generate_series(0, 7) g2(gy))
      |SELECT doc_id, 'gif' AS fmt,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(sum(px) AS BIGINT) AS thumb_sum,
      |  CAST(max(CASE WHEN gx = 0 AND gy = 0 THEN px END) AS BIGINT) AS p00,
      |  CAST(max(CASE WHEN gx = 7 AND gy = 7 THEN px END) AS BIGINT) AS p77
      |FROM cells GROUP BY doc_id, w, h
      |ORDER BY doc_id""".stripMargin

  val multimodalOracle: String =
    """SELECT doc_id,
      |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(16 + (doc_id * 37 + 11) % 48 AS BIGINT) AS width,
      |  CAST(16 + (doc_id * 53 + 7) % 48 AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 3 + 1 = 3
      |       THEN octet_length(encode(text)) // 256 + 1 ELSE 1 END AS BIGINT) AS n_frames,
      |  round(CAST((strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
      |           + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS DOUBLE)
      |        / 255.0, 6) AS brightness
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // q180 — REAL audio container round-trip: 16-bit PCM mono WAV encoded
  // by hand (RIFF/fmt/data chunks, little-endian — the container is a
  // fully-specified public format, no codec library needed) and parsed
  // back by a strict chunk-WALKING reader (not an offset-assuming one).
  // The audio analog of q140's image codec: the oracle recomputes every
  // reported feature from the sample formula analytically, so equality
  // proves the byte round-trip is sample-exact. Lossy codecs stay stubs —
  // they are not bit-exactly oracle-able by definition.
  // -------------------------------------------------------------------------

  /** PCM parameters: 8 kHz mono 16-bit → duration_us = n·125 exactly. */
  val WavRate = 8000

  /** Deterministic full-range int16 sample `i` of clip `id`. */
  private def sampleAt(id: Long, i: Long): Int =
    (((id * 7919L + i * 104729L) % 65536L) - 32768L).toInt

  /** Clip length: 64..255 samples. */
  private def wavSamples(id: Long): Int = (64L + (id * 31L + 17L) % 192L).toInt

  /** One WAV payload per document — the partition-parallel ENCODE stage
    * (a row map; payloads never shuffle). */
  def audioTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsWide(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = wavSamples(id)
        val dataLen = n * 2
        val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
        bb.put("WAVE".getBytes("US-ASCII"))
        bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
        bb.putShort(1); bb.putShort(1) // PCM, mono
        bb.putInt(WavRate); bb.putInt(WavRate * 2) // byte rate
        bb.putShort(2); bb.putShort(16) // block align, bits
        bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
        var i = 0
        while (i < n) { bb.putShort(sampleAt(id, i).toShort); i += 1 }
        (id, bb.array())
      })
      .toDF("doc_id", "wav")
  }

  /** REAL parse: chunk-walk the RIFF container (unknown chunks skipped,
    * as a real reader must), validate the fmt contract, decode the PCM
    * samples, and emit exact integer features. Malformed bytes fail the
    * task loudly — the q140 "corrupt media must not pass silently"
    * stance. */
  def parseWav(audio: DataFrame): DataFrame = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select("doc_id", "wav").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val pcm = walkWavPcm(id, bytes)
        val n = pcm.length
        var sumAbs = 0L; var sumSq = 0L; var peak = 0L
        var i = 0
        while (i < n) {
          val v = pcm(i).toLong
          val a = math.abs(v)
          sumAbs += a; sumSq += v * v; if (a > peak) peak = a
          i += 1
        }
        (id, n.toLong, n.toLong * 125L, peak, sumAbs, sumSq)
      })
      .toDF("doc_id", "n_samples", "duration_us", "peak_abs", "sum_abs", "sum_sq")
  }

  /** The strict RIFF chunk walk (q180's reader), factored so every audio
    * consumer decodes through the identical fail-loud path. Returns the
    * int16 PCM samples. */
  private def walkWavPcm(id: Long, bytes: Array[Byte]): Array[Short] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
    }
    require(tag() == "RIFF", s"doc $id: not RIFF")
    val riffLen = bb.getInt
    require(riffLen == bytes.length - 8, s"doc $id: RIFF length lies")
    require(tag() == "WAVE", s"doc $id: not WAVE")
    var sampleBytes: Array[Byte] = null
    var fmtOk = false
    while (bb.remaining() >= 8) {
      val t = tag(); val len = bb.getInt
      // RIFF word-aligns chunks: an odd-length chunk body is followed
      // by one pad byte that is NOT counted in len.
      val pad = len & 1
      t match {
        case "fmt " =>
          require(len >= 16, s"doc $id: short fmt chunk")
          val fmt = bb.getShort; val ch = bb.getShort
          val rate = bb.getInt; bb.getInt; bb.getShort
          val bits = bb.getShort
          require(fmt == 1 && ch == 1 && rate == WavRate && bits == 16,
            s"doc $id: unsupported fmt $fmt/$ch/$rate/$bits")
          bb.position(bb.position() + (len - 16) + pad)
          fmtOk = true
        case "data" =>
          sampleBytes = new Array[Byte](len); bb.get(sampleBytes)
          if (pad == 1 && bb.remaining() > 0) bb.get()
        case _ => bb.position(bb.position() + len + pad) // skip unknown
      }
    }
    require(fmtOk && sampleBytes != null, s"doc $id: missing chunk")
    val sb = java.nio.ByteBuffer.wrap(sampleBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Short](sampleBytes.length / 2)
    var i = 0
    while (i < out.length) { out(i) = sb.getShort; i += 1 }
    out
  }

  /** q213 — audio ENERGY-ENVELOPE fingerprint: decode the WAV through the
    * same strict walker, split the clip into 16 contiguous windows
    * (window of sample i = (16·i) DIV n), and set bit w iff window w's
    * mean |amplitude| exceeds the clip mean — INTEGER-exact via
    * cross-multiplication (sum_w·n > total·n_w), no float mean. The
    * envelope hash is the audio analog of q210's image aHash: the cheap
    * perceptual key an audio dedup pass buckets on before exact
    * verification (loudness-envelope matching — the first stage of
    * Shazam-style fingerprinting, reduced to its oracle-able integer
    * core). Oracle recomputes the bits analytically from the sample
    * formula, certifying container walk + PCM decode + windowing.
    *
    * Scale: partition-local decode and fingerprint — no shuffle until the
    * final order; dedup downstream is hash-groupBy on the envelope. */
  def q213AudioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioTable(spark, dir).select("doc_id", "wav").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val pcm = walkWavPcm(id, bytes)
        val n = pcm.length
        val winSum = new Array[Long](16)
        val winCnt = new Array[Long](16)
        var total = 0L
        var i = 0
        while (i < n) {
          val w = ((16L * i) / n).toInt
          val a = math.abs(pcm(i).toLong)
          winSum(w) += a; winCnt(w) += 1; total += a
          i += 1
        }
        val bits = (0 until 16).map(w =>
          if (winSum(w) * n > total * winCnt(w)) '1' else '0').mkString
        val ones = bits.count(_ == '1').toLong
        (id, n.toLong, bits, ones)
      })
      .toDF("doc_id", "n_samples", "envelope", "n_loud")
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q233 — AUDIO duplicate groups via the envelope fingerprint: the
  // audio-side q229. The planted dup is the POLARITY-INVERTED copy
  // (every 16-bit sample two's-complement negated — real-world phase
  // inversion): byte-level dedup is blind (every payload byte differs),
  // while the |amplitude| envelope is EXACTLY invariant — |−s| = |s| for
  // every 16-bit value including −32768, the fixed point of 16-bit
  // negation, which the fingerprint reads through toLong before abs.
  // Clips are grouped by (n_samples, envelope); groups of ≥ 2 are the
  // dedup verdicts.
  //
  // Scale: encode/decode/fingerprint are partition-local row maps; the
  // group-by key is 8+16 bytes — id-only shuffle; payloads never leave
  // the map stage.
  // -------------------------------------------------------------------------

  /** WAV payload bytes for `n` samples of `sample(i)`. */
  private def mkWavBytes(n: Int, sample: Int => Short): Array[Byte] = {
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1)
    bb.putInt(WavRate); bb.putInt(WavRate * 2)
    bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    var i = 0
    while (i < n) { bb.putShort(sample(i)); i += 1 }
    bb.array()
  }

  /** Audio corpus + polarity-inverted clones (doc_id % 11 == 0 →
    * clip_id + [[CloneOffset]], every sample negated in 16-bit space). */
  private[graft] def audioCorpusWithClones(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsWide(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val n = wavSamples(id)
        val base = (id, mkWavBytes(n, i => sampleAt(id, i).toShort))
        if (id % 11 == 0)
          Seq(base, (id + CloneOffset,
            mkWavBytes(n, i => (-sampleAt(id, i).toShort).toShort)))
        else Seq(base)
      })
      .toDF("clip_id", "wav")
  }

  /** (clip_id, n_samples, envelope) over the clone-bearing corpus —
    * exposed for the spec's exact polarity-invariance pin. */
  private[graft] def cloneEnvelopes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioCorpusWithClones(spark, dir)
      .select("clip_id", "wav").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val pcm = walkWavPcm(id, bytes)
        val n = pcm.length
        val winSum = new Array[Long](16)
        val winCnt = new Array[Long](16)
        var total = 0L
        var i = 0
        while (i < n) {
          val w = ((16L * i) / n).toInt
          val a = math.abs(pcm(i).toLong)
          winSum(w) += a; winCnt(w) += 1; total += a
          i += 1
        }
        val bits = (0 until 16).map(w =>
          if (winSum(w) * n > total * winCnt(w)) '1' else '0').mkString
        (id, n.toLong, bits)
      })
      .toDF("clip_id", "n_samples", "envelope")
  }

  /** q233 — duplicate-envelope groups: (envelope, n_samples, n_clips ≥ 2,
    * min_clip, max_clip). */
  def q233AudioDupGroups(spark: SparkSession, dir: String): DataFrame =
    cloneEnvelopes(spark, dir).groupBy(col("envelope"), col("n_samples"))
      .agg(count(lit(1)).as("n_clips"),
        min(col("clip_id")).as("min_clip"),
        max(col("clip_id")).as("max_clip"))
      .filter(col("n_clips") >= 2)
      .orderBy(col("min_clip"))

  val audioDupGroupsOracle: String =
    s"""WITH clips AS (
       |  SELECT doc_id AS clip_id, doc_id AS src_id FROM documents
       |  UNION ALL
       |  SELECT doc_id + $CloneOffset, doc_id FROM documents
       |  WHERE doc_id % 11 = 0),
       |d AS (SELECT clip_id, src_id, 64 + (src_id * 31 + 17) % 192 AS n
       |      FROM clips),
       |s AS (
       |  SELECT clip_id, n, i,
       |    abs(((src_id * 7919 + i * 104729) % 65536) - 32768) AS a
       |  FROM (SELECT clip_id, src_id, n, unnest(range(0, n)) AS i FROM d)),
       |w AS (
       |  SELECT clip_id, n, (16 * i) // n AS win, sum(a) AS win_sum,
       |    count(*) AS win_cnt
       |  FROM s GROUP BY clip_id, n, (16 * i) // n),
       |t AS (SELECT clip_id, sum(win_sum) AS total FROM w GROUP BY clip_id),
       |env AS (
       |  SELECT w.clip_id, CAST(max(w.n) AS BIGINT) AS n_samples,
       |    string_agg(CASE WHEN win_sum * n > total * win_cnt
       |               THEN '1' ELSE '0' END, '' ORDER BY win) AS envelope
       |  FROM w JOIN t USING (clip_id)
       |  GROUP BY w.clip_id)
       |SELECT envelope, n_samples, CAST(count(*) AS BIGINT) AS n_clips,
       |  CAST(min(clip_id) AS BIGINT) AS min_clip,
       |  CAST(max(clip_id) AS BIGINT) AS max_clip
       |FROM env GROUP BY envelope, n_samples
       |HAVING count(*) >= 2 ORDER BY min_clip""".stripMargin

  val audioFingerprintOracle: String =
    """WITH d AS (
      |  SELECT doc_id, 64 + (doc_id * 31 + 17) % 192 AS n FROM documents),
      |s AS (
      |  SELECT doc_id, n, i,
      |    abs(((doc_id * 7919 + i * 104729) % 65536) - 32768) AS a
      |  FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d)),
      |w AS (
      |  SELECT doc_id, n, (16 * i) // n AS win, sum(a) AS win_sum,
      |    count(*) AS win_cnt
      |  FROM s GROUP BY doc_id, n, (16 * i) // n),
      |t AS (SELECT doc_id, sum(win_sum) AS total FROM w GROUP BY doc_id)
      |SELECT w.doc_id, CAST(max(w.n) AS BIGINT) AS n_samples,
      |  string_agg(CASE WHEN win_sum * n > total * win_cnt
      |             THEN '1' ELSE '0' END, '' ORDER BY win) AS envelope,
      |  CAST(sum(CASE WHEN win_sum * n > total * win_cnt
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_loud
      |FROM w JOIN t USING (doc_id)
      |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin

  /** q180 — encode → parse → exact clip features. */
  def q180AudioDecode(spark: SparkSession, dir: String): DataFrame =
    parseWav(audioTable(spark, dir)).orderBy(col("doc_id"))

  val audioDecodeOracle: String =
    """WITH d AS (
      |  SELECT doc_id, 64 + (doc_id * 31 + 17) % 192 AS n FROM documents),
      |s AS (
      |  SELECT doc_id, n,
      |    ((doc_id * 7919 + unnest(range(0, n)) * 104729) % 65536) - 32768 AS v
      |  FROM d)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(n * 125 AS BIGINT) AS duration_us,
      |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
      |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
      |  CAST(sum(v * v) AS BIGINT) AS sum_sq
      |FROM s GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // q192 — REAL video CONTAINER round-trip: uncompressed 24bpp AVI
  // encoded by hand (RIFF 'AVI ': LIST hdrl [avih + LIST strl(strh
  // 'vids'/'DIB ', strf BITMAPINFOHEADER)] + LIST movi ['00db' raw DIB
  // frames, bottom-up rows, 4-byte stride]) and parsed back by the same
  // strict chunk-WALKING discipline as q180's WAV reader (word-aligned
  // skips, header/geometry cross-checks, fail-loud). The video analog of
  // q140/q180: container + raw-frame handling is real; COMPRESSED video
  // codecs stay honest stubs — they are not bit-exactly oracle-able and
  // the JDK ships no decoder for them.
  // -------------------------------------------------------------------------

  /** Frame pixel formula shared verbatim with the oracle ([[pixel]] plus
    * a frame term). */
  private def framePixel(docId: Long, f: Int, x: Int, y: Int): Int =
    ((docId * 31 + f * 19 + x * 7 + y * 13) % 256).toInt

  /** Frame count: 2..4. */
  private def aviFrames(id: Long): Int = (2 + id % 3).toInt

  /** One hand-built AVI per document (geometry = q140's w/h formulas). */
  def videoTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
        (lit(16) + (col("doc_id") * 37 + 11) % 48).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 53 + 7) % 48).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        val nf = aviFrames(id)
        val stride = (w * 3 + 3) / 4 * 4 // DIB rows pad to 4 bytes
        val frameLen = stride * h
        val hdrlLen = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
        val moviLen = 4 + nf * (8 + frameLen)
        val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
        val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def tag(t: String): Unit = bb.put(t.getBytes("US-ASCII")): Unit
        tag("RIFF"); bb.putInt(riffLen); tag("AVI ")
        tag("LIST"); bb.putInt(hdrlLen); tag("hdrl")
        tag("avih"); bb.putInt(56)
        bb.putInt(33333); bb.putInt(0); bb.putInt(0); bb.putInt(0)
        bb.putInt(nf); bb.putInt(0); bb.putInt(1); bb.putInt(0)
        bb.putInt(w); bb.putInt(h)
        (0 until 4).foreach(_ => bb.putInt(0))
        tag("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); tag("strl")
        tag("strh"); bb.putInt(56)
        tag("vids"); tag("DIB ")
        bb.putInt(0); bb.putInt(0) // flags, priority+language
        bb.putInt(0)               // initial frames
        bb.putInt(1); bb.putInt(30) // scale, rate
        bb.putInt(0); bb.putInt(nf) // start, length
        bb.putInt(frameLen); bb.putInt(-1) // bufsize, quality
        bb.putInt(0)               // sample size
        bb.putShort(0); bb.putShort(0); bb.putShort(w.toShort); bb.putShort(h.toShort)
        tag("strf"); bb.putInt(40)
        bb.putInt(40); bb.putInt(w); bb.putInt(h)
        bb.putShort(1); bb.putShort(24)
        bb.putInt(0); bb.putInt(frameLen)
        bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
        tag("LIST"); bb.putInt(moviLen); tag("movi")
        var f = 0
        while (f < nf) {
          tag("00db"); bb.putInt(frameLen)
          var row = 0
          while (row < h) {
            val y = h - 1 - row // DIB rows are bottom-up
            var x = 0
            while (x < w) {
              val v = framePixel(id, f, x, y).toByte
              bb.put(v); bb.put(v); bb.put(v) // B G R, grey
              x += 1
            }
            var pad = w * 3
            while (pad < stride) { bb.put(0.toByte); pad += 1 }
            row += 1
          }
          f += 1
        }
        (id, bb.array())
      })
      .toDF("doc_id", "avi")
  }

  /** REAL parse: walk the RIFF tree strictly (unknown chunks skipped with
    * RIFF word alignment — q180's lesson), cross-check avih geometry
    * against strf, decode every '00db' DIB frame, 8×8 nearest-resample
    * each, and report exact integer features. */
  def parseAvi(video: DataFrame): DataFrame = {
    val spark = video.sparkSession
    import spark.implicits._
    video.select("doc_id", "avi").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def tag(): String = {
          val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
        }
        require(tag() == "RIFF", s"doc $id: not RIFF")
        require(bb.getInt == bytes.length - 8, s"doc $id: RIFF length lies")
        require(tag() == "AVI ", s"doc $id: not AVI")
        var w = -1; var h = -1; var nfDeclared = -1; var bpp = -1
        val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        def walk(end: Int): Unit = {
          while (bb.position() + 8 <= end) {
            val t = tag(); val len = bb.getInt
            val next = bb.position() + len + (len & 1) // RIFF word align
            t match {
              case "LIST" =>
                tag() // list type: descend regardless (hdrl/strl/movi)
                walk(bb.position() + len - 4)
              case "avih" =>
                require(len >= 56, s"doc $id: short avih")
                val base = bb.position()
                nfDeclared = bb.getInt(base + 16)
                w = bb.getInt(base + 32); h = bb.getInt(base + 36)
              case "strf" =>
                require(len >= 40, s"doc $id: short strf")
                val base = bb.position()
                require(bb.getInt(base + 4) == w && bb.getInt(base + 8) == h,
                  s"doc $id: strf geometry contradicts avih")
                bpp = bb.getShort(base + 14).toInt
                require(bpp == 24, s"doc $id: unsupported bpp $bpp")
              case "00db" | "00dc" =>
                val data = new Array[Byte](len); bb.get(data)
                frames += data
              case _ => // skip junk/idx1/strh…
            }
            bb.position(next)
          }
        }
        walk(bytes.length)
        require(w > 0 && h > 0 && bpp == 24, s"doc $id: missing headers")
        require(frames.length == nfDeclared,
          s"doc $id: ${frames.length} frames, avih declared $nfDeclared")
        val stride = (w * 3 + 3) / 4 * 4
        var sum = 0L; var pFirst = -1; var pLast = -1
        for ((data, f) <- frames.zipWithIndex) {
          require(data.length == stride * h, s"doc $id: frame $f size")
          def at(gx: Int, gy: Int): Int = {
            val x = gx * w / 8; val y = gy * h / 8
            data((h - 1 - y) * stride + x * 3 + 2) & 0xff // R, top-down
          }
          var gy = 0
          while (gy < 8) {
            var gx = 0
            while (gx < 8) { sum += at(gx, gy); gx += 1 }
            gy += 1
          }
          if (f == 0) pFirst = at(0, 0)
          if (f == frames.length - 1) pLast = at(7, 7)
        }
        (id, frames.length.toLong, w.toLong, h.toLong, sum,
         pFirst.toLong, pLast.toLong)
      })
      .toDF("doc_id", "n_frames", "width", "height", "thumb_sum",
            "p_first_00", "p_last_77")
  }

  /** q192 — encode → strict container parse → exact frame features. */
  def q192VideoDecode(spark: SparkSession, dir: String): DataFrame =
    parseAvi(videoTable(spark, dir)).orderBy(col("doc_id"))

  // -------------------------------------------------------------------------
  // q204 — audio ACTIVITY SEGMENTATION (the VAD / silence-trim readout):
  // each decoded clip splits into 16-sample frames, a frame is ACTIVE if
  // its energy Σs² clears a fixed threshold, and the clip reports frame
  // counts plus the LONGEST active run — the numbers a speech pipeline
  // uses to trim silence and bound segment length before ASR. Everything
  // is exact integer arithmetic on the decoded PCM (q180's parse path),
  // so the analytic oracle recomputes it from the sample formula.
  // -------------------------------------------------------------------------

  /** Frame width in samples, and the activity threshold (≈ the expected
    * Σs² of a full-range 16-sample frame, so both classes occur). */
  val VadFrame = 16
  val VadThresh: Long = 16L * 358000000L

  /** q204 — per clip: frames, active frames, longest active run. */
  def q204AudioSegments(spark: SparkSession, dir: String): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    parseWavSamples(audioTable(spark, dir))
      .map { case (id, samples) =>
        val nf = (samples.length + VadFrame - 1) / VadFrame
        var active = 0L; var run = 0L; var best = 0L
        var f = 0
        while (f < nf) {
          var e = 0L
          var i = f * VadFrame
          val end = math.min(i + VadFrame, samples.length)
          while (i < end) { e += samples(i).toLong * samples(i); i += 1 }
          if (e >= VadThresh) { active += 1; run += 1; if (run > best) best = run }
          else run = 0
          f += 1
        }
        (id, nf.toLong, active, best)
      }
      .toDF("doc_id", "n_frames", "n_active", "max_run")
      .orderBy(col("doc_id"))
  }

  /** q180's strict parse, stopping at the raw int16 samples (shared by
    * the feature and segmentation readouts). */
  private def parseWavSamples(audio: DataFrame) = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select("doc_id", "wav").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def tag(): String = {
          val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
        }
        require(tag() == "RIFF" && { bb.getInt; tag() == "WAVE" },
          s"doc $id: not a RIFF/WAVE stream")
        var data: Array[Byte] = null
        while (bb.remaining() >= 8 && data == null) {
          val t = tag(); val len = bb.getInt
          if (t == "data") { data = new Array[Byte](len); bb.get(data) }
          else bb.position(bb.position() + len + (len & 1))
        }
        require(data != null, s"doc $id: no data chunk")
        val sb = java.nio.ByteBuffer.wrap(data)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = new Array[Int](data.length / 2)
        var i = 0
        while (i < out.length) { out(i) = sb.getShort.toInt; i += 1 }
        (id, out)
      })
  }

  val audioSegmentsOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, 64 + (doc_id * 31 + 17) % 192 AS n FROM documents),
       |s AS (
       |  SELECT doc_id, n, i,
       |    ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS v
       |  FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d)),
       |fr AS (
       |  SELECT doc_id, i // $VadFrame AS f,
       |    CASE WHEN sum(CAST(v AS BIGINT) * v) >= $VadThresh
       |         THEN 1 ELSE 0 END AS act
       |  FROM s GROUP BY doc_id, i // $VadFrame),
       |runs AS (
       |  SELECT doc_id, f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
       |  FROM fr WHERE act = 1),
       |best AS (
       |  SELECT doc_id, CAST(max(len) AS BIGINT) AS max_run FROM (
       |    SELECT doc_id, count(*) AS len FROM runs GROUP BY doc_id, grp)
       |  GROUP BY doc_id)
       |SELECT fr.doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(act) AS BIGINT) AS n_active,
       |  CAST(coalesce(max(b.max_run), 0) AS BIGINT) AS max_run
       |FROM fr LEFT JOIN best b ON b.doc_id = fr.doc_id
       |GROUP BY fr.doc_id ORDER BY fr.doc_id""".stripMargin

  val videoDecodeOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    16 + (doc_id*37 + 11) % 48 AS w,
      |    16 + (doc_id*53 + 7) % 48 AS h,
      |    2 + doc_id % 3 AS nf
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, w, h, nf, f, gx, gy,
      |    (doc_id*31 + f*19 + ((gx*w)//8)*7 + ((gy*h)//8)*13) % 256 AS px
      |  FROM m, generate_series(0, 7) g1(gx), generate_series(0, 7) g2(gy),
      |       generate_series(0, 3) g3(f)
      |  WHERE f < nf)
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(sum(px) AS BIGINT) AS thumb_sum,
      |  CAST(max(CASE WHEN f = 0 AND gx = 0 AND gy = 0 THEN px END) AS BIGINT)
      |    AS p_first_00,
      |  CAST(max(CASE WHEN f = nf - 1 AND gx = 7 AND gy = 7 THEN px END) AS BIGINT)
      |    AS p_last_77
      |FROM cells GROUP BY doc_id, nf, w, h
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // q254 — CROSS-MODAL ALIGNMENT audit (the CLIP-filtering stub): every
  // LAION-style image+text pipeline scores how well each image matches
  // its paired text and drops the bottom tail (mislabeled pairs poison
  // multimodal training). The real scorer is a learned dual encoder; the
  // container has no model, so the image tower is STUBBED with a
  // deterministic pseudo-embedding — the 64 aHash bits through the REAL
  // decode path, mapped to a ±1 vector — while the text tower is the real
  // `embeddings` row (vec_id ≡ doc_id in the fixture). Everything around
  // the stub is the production shape: decode → per-image embedding →
  // id-keyed join against the text embedding → cosine → bottom-K audit
  // list. Swapping the stub for a real encoder changes ONE mapPartitions.
  //
  // Scale: decode is partition-local (q210), the join is id-keyed, and
  // the bottom-K is a TakeOrderedAndProject — no corpus-wide window, no
  // shuffle beyond the one id join. The source decoration joins AFTER the
  // ≤ K-row take.
  // -------------------------------------------------------------------------

  private val AlignBottomK = 20

  def q254ClipAlignStub(spark: SparkSession, dir: String): DataFrame = {
    val imgs = imageTable(spark, dir).withColumnRenamed("doc_id", "img_id")
    val bits = ahashBits(imgs).select(col("img_id").as("doc_id"), col("bits"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding").as("v"))
      .withColumn("nrm", call_function("graft_dot", col("v"), col("v")))
    val scored = bits.join(e, "doc_id")
      .withColumn("sv", expr("transform(sequence(1, 64), " +
        "i -> CASE WHEN substr(bits, i, 1) = '1' THEN 1.0D ELSE -1.0D END)"))
      .withColumn("dp", expr("aggregate(zip_with(sv, v, " +
        "(s, x) -> s * CAST(x AS DOUBLE)), 0.0D, (acc, p) -> acc + p)"))
      .withColumn("align_e4",
        round(col("dp") / sqrt(lit(64.0) * col("nrm")) * 10000, 0).cast("long"))
      .select(col("doc_id"), col("align_e4"))
    val bottom = scored.orderBy(col("align_e4"), col("doc_id"))
      .limit(AlignBottomK)
    // rank window AFTER the take — bounded to K rows by construction
    val w = Window.orderBy(col("align_e4"), col("doc_id"))
    bottom.withColumn("rank", row_number().over(w).cast("long"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
            Seq("doc_id"))
      .select(col("rank"), col("doc_id"), col("source"), col("align_e4"))
      .orderBy(col("rank"))
  }

  val clipAlignStubOracle: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    16 + (doc_id*37 + 11) % 48 AS w,
       |    16 + (doc_id*53 + 7) % 48 AS h
       |  FROM documents),
       |cells AS (
       |  SELECT doc_id, gx, gy,
       |    (doc_id*31 + ((gx*w)//8)*7 + ((gy*h)//8)*13) % 256 AS px
       |  FROM m, generate_series(0, 7) g1(gx), generate_series(0, 7) g2(gy)),
       |s AS (SELECT doc_id, sum(px) AS total FROM cells GROUP BY doc_id),
       |sv AS (
       |  SELECT c.doc_id,
       |    list(CASE WHEN 64*px > total THEN 1.0 ELSE -1.0 END
       |         ORDER BY gy, gx) AS sl
       |  FROM cells c JOIN s USING (doc_id) GROUP BY c.doc_id),
       |e AS (
       |  SELECT vec_id AS doc_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v,
       |    list_dot_product(list_transform(embedding, x -> x::DOUBLE),
       |                     list_transform(embedding, x -> x::DOUBLE)) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT sv.doc_id,
       |    CAST(round(list_dot_product(sl, v) / sqrt(64.0 * nrm) * 10000, 0)
       |      AS BIGINT) AS align_e4
       |  FROM sv JOIN e USING (doc_id)),
       |bottom AS (
       |  SELECT doc_id, align_e4,
       |    CAST(row_number() OVER (ORDER BY align_e4, doc_id) AS BIGINT) AS rank
       |  FROM scored ORDER BY align_e4, doc_id LIMIT $AlignBottomK)
       |SELECT rank, b.doc_id, d.source, align_e4
       |FROM bottom b JOIN documents d ON d.doc_id = b.doc_id
       |ORDER BY rank""".stripMargin
}
