package graft

import graft.operators.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 codec-surface tests: the GIF leg of the real image path (q182)
  * agrees with q140's analytic pixels, and JPEG — the JDK's fourth image
  * codec — runs through the same real encode → decode → resample path
  * with its loss bounded (the reason it is pinned here instead of an
  * exact DuckDB oracle). */
class Round6Spec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q182 GIF decode emits exactly q140's pixel features " +
       "(same formulas, third lossless codec)") {
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val gif = key(Multimodal.q182GifDecode(spark, dir).collect())
    val pngBmp = key(Multimodal.q140ImageDecode(spark, dir).collect())
    assert(gif.keySet === pngBmp.keySet)
    for ((id, feats) <- pngBmp)
      assert(gif(id) === feats, s"GIF decode diverged from PNG/BMP at doc $id")
  }

  test("JPEG absorbs into the real codec path: encode → decode keeps " +
       "geometry, loss stays bounded (and nonzero — hence no exact oracle)") {
    var sawLoss = false
    for (id <- Seq(3L, 7L, 12L)) {
      val w = (16 + (id * 37 + 11) % 48).toInt
      val h = (16 + (id * 53 + 7) % 48).toInt
      val bytes = Multimodal.encodeImage(id, w, h, "jpg")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"JDK JPEG reader failed on its own writer, doc $id")
      assert(img.getWidth == w && img.getHeight == h)
      var maxErr = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val got = img.getRGB(x, y) & 0xff
          val want = Multimodal.pixel(id, x, y)
          maxErr = math.max(maxErr, math.abs(got - want))
          x += 1
        }
        y += 1
      }
      assert(maxErr <= 64, s"JPEG loss out of expected envelope: $maxErr")
      if (maxErr > 0) sawLoss = true
    }
    assert(sawLoss, "JPEG round-tripped bit-exactly — if the JDK codec " +
      "became lossless, promote it to an exact-oracle query like q182")
  }

  test("q192 AVI walker: unknown chunks (incl. odd-length, RIFF-padded) " +
       "are skipped; corrupt magic and frame-count lies fail loudly") {
    import spark.implicits._
    def one(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      df.select("avi").head().getAs[Array[Byte]](0)
    val avi = one(Multimodal.videoTable(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 5L))

    // splice an unknown ODD-length chunk right after 'AVI ' — a correct
    // walker honors the RIFF pad byte (q180's word-alignment lesson)
    val junk = java.nio.ByteBuffer.allocate(8 + 5 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    junk.put("JUNK".getBytes("US-ASCII")); junk.putInt(5)
    junk.put(Array[Byte](1, 2, 3, 4, 5, 0))
    val spliced = {
      val bb = java.nio.ByteBuffer.allocate(avi.length + 14)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(avi, 0, 12)           // RIFF <len> AVI(space)
      bb.put(junk.array())
      bb.put(avi, 12, avi.length - 12)
      val out = bb.array()
      // fix the RIFF length for the inserted bytes
      java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(4, out.length - 8)
      out
    }
    val parsedSpliced = Multimodal.parseAvi(
      Seq((5L, spliced)).toDF("doc_id", "avi")).collect().head
    val parsedClean = Multimodal.parseAvi(
      Seq((5L, avi)).toDF("doc_id", "avi")).collect().head
    assert(parsedSpliced === parsedClean,
      "junk chunk must not perturb the decoded features")

    // corrupt magic fails loudly
    val broken = avi.clone(); broken(8) = 'X'.toByte
    intercept[org.apache.spark.SparkException] {
      Multimodal.parseAvi(Seq((5L, broken)).toDF("doc_id", "avi")).collect()
    }
    // avih frame-count lie fails loudly (declared vs actual cross-check).
    // avih payload starts at offset 12 (RIFF hdr) + 12 (LIST hdr) + 8
    // (avih tag+len); dwTotalFrames is +16 into it.
    val lying = avi.clone()
    java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(12 + 12 + 8 + 16, 99)
    intercept[org.apache.spark.SparkException] {
      Multimodal.parseAvi(Seq((5L, lying)).toDF("doc_id", "avi")).collect()
    }
  }
}
