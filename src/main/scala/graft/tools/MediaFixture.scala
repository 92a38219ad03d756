package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

/** One-shot generator for the checked-in multimodal decode fixture
  * (`fixtures/media_fixture.parquet`): real PNG payloads whose decoded
  * pixel statistics are ANALYTICALLY known — solid fills, even-dimension
  * checkerboards, and grayscale horizontal gradients, all of whose mean
  * luminance and 4-bucket histogram have closed forms computed here with
  * exact integer arithmetic, independently of the decode kernel under
  * test. PNG is lossless and ImageIO's decode is exact, so the p17 query
  * (decode → features) must reproduce these values bit-for-bit, and the
  * DuckDB oracle compares against the stored expectations directly.
  *
  *   sbt "runMain graft.tools.MediaFixture /root/repo/fixtures"
  *
  * Regenerating produces byte-identical parquet content values (the
  * payloads are deterministic); the file is committed so the oracle is
  * stable without running this tool.
  */
object MediaFixture {

  /** Integer luminance exactly as the decode kernel computes it. */
  private[tools] def lum(r: Int, g: Int, b: Int): Int = (r * 299 + g * 587 + b * 114) / 1000

  private[tools] def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { im.setRGB(x, y, pixel(x, y)); x += 1 }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(im, "png", out)
    out.toByteArray
  }

  final case class Row(
      doc_id: Long, kind: String, media: Array[Byte],
      width: Int, height: Int, n_bytes: Long, mean_byte: Double,
      h0: Long, h1: Long, h2: Long, h3: Long,
      dhash_defined: Boolean, dhash: Long)

  /** Analytic dHash expectation, computed from the PATTERN's luminance
    * function directly (never from PNG bytes — the independence p50's
    * oracle rests on): 9×8 average-pool by integer binning
    * (cx = x·9 / w, cy = y·8 / h), bit (cy·8 + cx) iff the cell's mean
    * exceeds its right neighbor's under exact cross-multiplication —
    * the contract `Multimodal.dHash64` documents. (w < 9 or h < 8 ⇒
    * undefined.) */
  private[tools] def analyticDHash(w: Int, h: Int, lumAt: (Int, Int) => Int): (Boolean, Long) =
    if (w < 9 || h < 8) (false, 0L)
    else {
      val sum = Array.ofDim[Long](8, 9)
      val cnt = Array.ofDim[Long](8, 9)
      for (y <- 0 until h; x <- 0 until w) {
        sum(y * 8 / h)(x * 9 / w) += lumAt(x, y)
        cnt(y * 8 / h)(x * 9 / w) += 1
      }
      var bits = 0L
      for (cy <- 0 until 8; cx <- 0 until 8)
        if (sum(cy)(cx) * cnt(cy)(cx + 1) > sum(cy)(cx + 1) * cnt(cy)(cx))
          bits |= 1L << (cy * 8 + cx)
      (true, bits)
    }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def rows(): Seq[Row] = {
    var id = 0L
    def nextId(): Long = { id += 1; id }
    val solids = for {
      (r, g, b) <- Seq((0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0),
        (0, 0, 255), (17, 130, 201), (63, 64, 65), (200, 100, 50))
      (w, h) <- Seq((8, 8), (13, 7), (24, 31))
    } yield {
      val l = lum(r, g, b)
      val n = w.toLong * h
      val hist = Array.fill(4)(0L); hist(l >> 6) = n
      val bytes = png(w, h)((_, _) => (r << 16) | (g << 8) | b)
      val (dd, dh) = analyticDHash(w, h, (_, _) => l)
      Row(nextId(), "solid", bytes, w, h, bytes.length.toLong,
        round6(l.toDouble), hist(0), hist(1), hist(2), hist(3), dd, dh)
    }
    val checkers = for {
      ((r1, g1, b1), (r2, g2, b2)) <- Seq(
        ((0, 0, 0), (255, 255, 255)), ((255, 0, 0), (0, 0, 255)),
        ((10, 220, 40), (240, 20, 170)))
      (w, h) <- Seq((8, 8), (16, 10), (24, 24))
    } yield {
      // even width → every row holds exactly w/2 of each color
      val (l1, l2) = (lum(r1, g1, b1), lum(r2, g2, b2))
      val n = w.toLong * h
      val half = n / 2
      val hist = Array.fill(4)(0L)
      hist(l1 >> 6) += half; hist(l2 >> 6) += half
      val c1 = (r1 << 16) | (g1 << 8) | b1
      val c2 = (r2 << 16) | (g2 << 8) | b2
      val bytes = png(w, h)((x, y) => if ((x + y) % 2 == 0) c1 else c2)
      val mean = (l1.toLong * half + l2.toLong * half).toDouble / n
      val (dd, dh) = analyticDHash(w, h,
        (x, y) => if ((x + y) % 2 == 0) l1 else l2)
      Row(nextId(), "checker", bytes, w, h, bytes.length.toLong,
        round6(mean), hist(0), hist(1), hist(2), hist(3), dd, dh)
    }
    val gradients = for ((w, h) <- Seq((9, 5), (32, 8), (25, 25))) yield {
      // grayscale g(x) = x*255/(w-1) (integer division): lum(g,g,g) = g
      // exactly, so mean = Σ_x g(x) / w and each column lands whole in
      // one histogram bucket
      val g = (0 until w).map(x => x * 255 / (w - 1))
      val n = w.toLong * h
      val hist = Array.fill(4)(0L)
      g.foreach(v => hist(v >> 6) += h.toLong)
      val mean = g.map(_.toLong).sum.toDouble / w
      val bytes = png(w, h)((x, _) => (g(x) << 16) | (g(x) << 8) | g(x))
      val (dd, dh) = analyticDHash(w, h, (x, _) => g(x))
      Row(nextId(), "gradient", bytes, w, h, bytes.length.toLong,
        round6(mean), hist(0), hist(1), hist(2), hist(3), dd, dh)
    }
    solids ++ checkers ++ gradients
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/root/repo/fixtures"
    val spark = graft.GraftSession.local()
    import spark.implicits._
    spark.createDataset(rows()).toDF()
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/media_fixture.parquet")
    println(s"wrote ${rows().length} fixture rows to $outDir/media_fixture.parquet")
    spark.stop()
  }
}
