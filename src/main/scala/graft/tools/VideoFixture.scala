package graft.tools

import java.io.ByteArrayOutputStream

/** Generates the checked-in VIDEO fixture
  * (`fixtures/video_fixture.parquet`): GVID containers (magic + u32be
  * frame count + per frame u32be length + PNG bytes) whose per-frame
  * dHashes are ANALYTICALLY known — every frame is a gradient or solid
  * whose 9×8 pooled comparisons are computed from the pattern function
  * directly (MediaFixture's closed forms), never from the PNG bytes,
  * so the p72 gate compares two independent derivations.
  *
  * Videos (seven):
  *  - v0..v2: 6 gradient frames each, per-frame phase stepping — three
  *    unrelated "clips" (gradient DIRECTION differs per video);
  *  - v100: v0's frames +10 brightness — dHash comparisons are exact
  *    cross-multiplications, invariant under the affine lum shift, so
  *    every frame hash is bit-identical to v0's (Hamming 0): the
  *    re-encode near-dup;
  *  - v101: v1 trimmed (frames 1..5) plus one new frame — the re-cut
  *    near-dup (5 alignment-free matches);
  *  - v102: 4 frames, one of them sub-grid (8×5 — undefined dHash),
  *    the audited-partial decode;
  *  - v103: bad magic — the container-level audit row.
  *
  *   sbt "runMain graft.tools.VideoFixture /root/repo/fixtures"
  */
object VideoFixture {

  import MediaFixture.{analyticDHash, png}

  /** A gradient frame: gray level g(x, y) chosen per (direction,
    * phase); returns (png bytes, defined, analytic dhash). */
  private def gradFrame(w: Int, h: Int, dir: Int, phase: Int,
      lift: Int = 0): (Array[Byte], Boolean, Long) = {
    def gray(x: Int, y: Int): Int = {
      val base = dir match {
        case 0 => (x * 255) / math.max(1, w - 1)
        case 1 => 255 - (x * 255) / math.max(1, w - 1)
        case _ => (y * 255) / math.max(1, h - 1)
      }
      math.min(245, (base + phase * 7) % 246) + lift
    }
    val bytes = png(w, h) { (x, y) =>
      val g = gray(x, y)
      (g << 16) | (g << 8) | g
    }
    val (d, hash) = analyticDHash(w, h, (x, y) => gray(x, y))
    (bytes, d, hash)
  }

  private def gvid(frames: Seq[Array[Byte]], magic: String = "GVID"): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(magic.getBytes("US-ASCII"))
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    be32(frames.size)
    frames.foreach { f => be32(f.length); out.write(f) }
    out.toByteArray
  }

  // (video_id, kind, media, frame_idx[], defined[], dhash[])
  final case class Vid(video_id: Long, kind: String, media: Array[Byte],
      frame_idx: Seq[Int], defined: Seq[Boolean], dhash: Seq[Long])

  def rows(): Seq[Vid] = {
    val w = 32
    val h = 16
    def clip(id: Long, dir: Int, lift: Int, phases: Seq[Int], kind: String): Vid = {
      val fs = phases.map(p => gradFrame(w, h, dir, p, lift))
      Vid(id, kind, gvid(fs.map(_._1)),
        fs.indices, fs.map(_._2), fs.map(_._3))
    }
    val v0 = clip(0L, 0, 0, 0 until 6, "clip")
    val v1 = clip(1L, 1, 0, 0 until 6, "clip")
    val v2 = clip(2L, 2, 0, 0 until 6, "clip")
    // +10 brightness: lum' = lum + 10 (gray capped at 245 so no clip),
    // exact affine shift -> identical pooled comparisons per frame
    val v100 = clip(100L, 0, 10, 0 until 6, "brightness_dup").copy(video_id = 100L)
    // trimmed re-cut: v1's frames 1..5 + one frame from v2's family
    val v101 = {
      val kept = (1 until 6).map(p => gradFrame(w, h, 1, p))
      val extra = gradFrame(w, h, 2, 9)
      val fs = kept :+ extra
      Vid(101L, "trimmed_dup", gvid(fs.map(_._1)),
        fs.indices, fs.map(_._2), fs.map(_._3))
    }
    // partial: frames 0,1 fine; frame 2 sub-grid (8x5 -> undefined);
    // frame 3 fine
    val v102 = {
      val a = gradFrame(w, h, 0, 11)
      val b = gradFrame(w, h, 1, 12)
      val tiny = png(8, 5)((x, y) => ((x * 20 + y) << 16) | 0x40)
      val c = gradFrame(w, h, 2, 13)
      Vid(102L, "partial", gvid(Seq(a._1, b._1, tiny, c._1)),
        0 until 4,
        Seq(a._2, b._2, false, c._2),
        Seq(a._3, b._3, 0L, c._3))
    }
    // bad magic: container-level audit row (frame_idx = -1)
    val v103 = Vid(103L, "bad_magic",
      gvid(Seq(gradFrame(w, h, 0, 1)._1), magic = "GVIX"),
      Seq(-1), Seq(false), Seq(0L))
    Seq(v0, v1, v2, v100, v101, v102, v103)
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/root/repo/fixtures"
    val spark = graft.GraftSession.local()
    import spark.implicits._
    val vids = rows()
    vids.toDS().toDF()
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/video_fixture.parquet")
    println(s"[video-fixture] ${vids.size} videos, " +
      s"${vids.map(_.frame_idx.size).sum} frame rows at $outDir/video_fixture.parquet")
    spark.stop()
  }
}
