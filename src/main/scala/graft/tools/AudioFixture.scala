package graft.tools

import graft.backends.DetRng
import graft.functions.AudioSpectralHash

/** One-shot generator for the checked-in audio fixture
  * (`fixtures/audio_fixture.parquet`): real RIFF/WAVE payloads whose
  * spectral fingerprints are knowable — pure tones land exactly on
  * probe bins (4096 samples × k/256 cycles/sample = integer cycles, so
  * leakage is numerical dust the kernel's relative floor zeroes),
  * making the expected fingerprint literally `1 << (bin-1)`; square and
  * sawtooth waves contribute their harmonic bins; deterministic noise
  * is computed from the synthesized samples. Expected values come from
  * [[AudioSpectralHash.fingerprintFromSamples]] over the SAMPLES the
  * generator synthesized — the byte-level RIFF encode/parse round-trip
  * (header fields, chunk walk, little-endian int16, channel averaging)
  * is what the p64 gate then actually checks, exactly the p50/p19
  * analytic-expectation discipline. Malformed payloads (bad magic,
  * 8-bit PCM, truncated) pin the defined=false path.
  *
  *   sbt "runMain graft.tools.AudioFixture /root/repo/fixtures"
  */
object AudioFixture {

  private val N = 4096
  private val Amp = 19660.0 // ~0.6 full scale

  private def sine(freq: Double, amp: Double = Amp, phase: Double = 0.0): Array[Short] =
    Array.tabulate(N)(i =>
      math.round(amp * math.sin(2.0 * math.Pi * freq * i + phase)).toShort)

  private def square(period: Int): Array[Short] =
    Array.tabulate(N)(i => (if ((i / (period / 2)) % 2 == 0) Amp else -Amp).toShort)

  private def saw(period: Int): Array[Short] =
    Array.tabulate(N)(i =>
      math.round(Amp * (2.0 * (i % period).toDouble / period - 1.0)).toShort)

  private def noise(seed: Long): Array[Short] = {
    val rng = DetRng(seed)
    Array.tabulate(N)(_ => math.round((rng.nextDouble() * 2 - 1) * Amp).toShort)
  }

  private def mix(a: Array[Short], b: Array[Short]): Array[Short] =
    Array.tabulate(N)(i => ((a(i) + b(i)) / 2).toShort)

  /** Standard 44-byte-header PCM16 WAV writer (interleaved channels). */
  private def wav(mono: Array[Short], channels: Int = 1, sr: Int = 16000): Array[Byte] = {
    val dataLen = mono.length * 2 * channels
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sr)
      .putInt(sr * 2 * channels).putShort((2 * channels).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    mono.foreach { s => (0 until channels).foreach(_ => out.putShort(s)) }
    out.array()
  }

  final case class Row(doc_id: Long, kind: String, media: Array[Byte],
    fp_defined: Boolean, fp: Long)

  private def row(id: Long, kind: String, samples: Array[Short],
      channels: Int = 1): Row = {
    // expected from the SAMPLES (channel-averaged ≡ the mono signal —
    // every channel carries the same samples here)
    val (d, f) = AudioSpectralHash.fingerprintFromSamples(samples.map(_.toDouble))
    Row(id, kind, wav(samples, channels), d, f)
  }

  def rows(): Seq[Row] = {
    val sine32 = sine(32.0 / 256.0)
    val nz = noise(4242L)
    // sub-floor perturbation: ±0.3% of amplitude on every sample —
    // per-bin noise energy sits ~1e-8 of the tone bin, far below the
    // kernel's 1e-6 relative floor, so the fingerprint cannot move
    val rngP = DetRng(777L)
    val sineNoisy = sine32.map(s =>
      (s + math.round((rngP.nextDouble() * 2 - 1) * 0.003 * Amp)).toShort)
    val base = Seq(
      row(0L, "silence", Array.fill(N)(0.toShort)),
      row(1L, "sine_bin32", sine32),
      row(2L, "sine_bin32_half_amp", sine(32.0 / 256.0, Amp / 2)),
      row(3L, "sine_bin32_noisy", sineNoisy),
      row(4L, "sine_bin32_stereo", sine32, channels = 2),
      row(5L, "sine_bin64", sine(64.0 / 256.0)),
      row(6L, "two_tone_24_56", mix(sine(24.0 / 256.0), sine(56.0 / 256.0))),
      row(7L, "square_p16", square(16)),
      row(8L, "saw_p64", saw(64)),
      row(9L, "noise", nz),
      row(10L, "noise_copy", nz))
    val badMagic = {
      val b = wav(sine32); b(3) = 'X'.toByte; b
    }
    val malformed = Seq(
      Row(11L, "bad_magic", badMagic, fp_defined = false, 0L),
      Row(12L, "too_short", wav(sine(32.0 / 256.0).take(100)), fp_defined = false, 0L),
      Row(13L, "pcm8", {
        val b = wav(sine32); b(34) = 8.toByte; b // bitsPerSample = 8
      }, fp_defined = false, 0L))
    base ++ malformed
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/root/repo/fixtures"
    val spark = graft.GraftSession.local()
    import spark.implicits._
    val rs = rows()
    rs.foreach(r => println(f"${r.doc_id}%3d ${r.kind}%-22s defined=${r.fp_defined} fp=0x${r.fp}%016x"))
    spark.createDataset(rs).toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/audio_fixture.parquet")
    println(s"[audio-fixture] wrote $outDir/audio_fixture.parquet (${rs.length} rows)")
    spark.stop()
  }
}
