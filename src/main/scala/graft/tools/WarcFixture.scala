package graft.tools

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.GZIPOutputStream

/** Generates the checked-in WARC fixture: real `.warc.gz` layout (one
  * gzip member PER RECORD, members concatenated — the Common Crawl
  * shape, which exercises GZIPInputStream's multi-member handling) plus
  * `warc_expected.parquet` holding the independently CONSTRUCTED
  * expectations (record list → rows in plain Scala; the parser never
  * runs here, so the p70 gate compares two independent derivations).
  *
  * Contents:
  *  - crawl-00.warc.gz: a warcinfo head record (no Target-URI — ok
  *    with NULL uri) + 6 response records;
  *  - crawl-01/02.warc.gz: 6 responses each; payloads embed CRLF CRLF
  *    and raw bytes 0..255, so only Content-Length discipline parses
  *    them;
  *  - crawl-bad0.warc.gz: 2 good responses, then a bad-magic record —
  *    one ok=false row, a trailing good record is never reached;
  *  - crawl-bad1.warc.gz: 1 good response, then a record whose
  *    Content-Length overruns the stream — truncated-payload row.
  *
  *   sbt "runMain graft.tools.WarcFixture /root/repo/fixtures"
  */
object WarcFixture {

  // binary bytes stay OUT of 0x00..0x20 (except the explicit CRLFs):
  // 0x0B/0x0C are Java-\s but not RE2-\s, and the p71 curation oracle
  // restates the html strip chain's `\s+` collapse in DuckDB — the
  // 0x21..0xFF range keeps full high-byte coverage without touching
  // the divergent class
  private def payloadFor(i: Int): Array[Byte] = {
    val head = s"<html><body>page $i\r\n\r\nbinary:".getBytes("UTF-8")
    val bin = Array.tabulate[Byte](40)(j => (0x21 + (i * 31 + j * 7) % 223).toByte)
    val tail = s"</body></html>${"x" * (i * 7 % 23)}".getBytes("UTF-8")
    head ++ bin ++ tail
  }

  private def record(i: Int, wtype: String, uri: String,
      payload: Array[Byte], version: String = "WARC/1.0",
      lengthOverride: Option[Long] = None): Array[Byte] = {
    val sb = new StringBuilder()
    sb.append(version).append("\r\n")
    sb.append("WARC-Type: ").append(wtype).append("\r\n")
    sb.append("WARC-Record-ID: <urn:uuid:0000-").append(i).append(">\r\n")
    if (uri != null) sb.append("WARC-Target-URI: ").append(uri).append("\r\n")
    sb.append("Content-Length: ")
      .append(lengthOverride.getOrElse(payload.length.toLong)).append("\r\n")
    sb.append("\r\n")
    sb.toString.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private def gzMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  private def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/root/repo/fixtures"
    val warcDir = new java.io.File(outDir, "warc")
    warcDir.mkdirs()

    // (file, rec_idx, ok, warc_type, record_id, target_uri, len, sha,
    //  payload_text) — payload_text is the ISO-8859-1 decode (a
    //  lossless byte<->char bijection), the domain the p71 curation
    //  oracle restates the strip chain over
    val expected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Boolean, String, String, String,
        java.lang.Long, String, String)]

    def writeFile(name: String, members: Seq[Array[Byte]]): Unit = {
      val f = new FileOutputStream(new java.io.File(warcDir, name))
      members.foreach(m => f.write(gzMember(m)))
      f.close()
    }

    def expectOk(name: String, idx: Long, i: Int, wtype: String,
        uri: String, payload: Array[Byte]): Unit =
      expected += ((name, idx, true, wtype, s"<urn:uuid:0000-$i>", uri,
        java.lang.Long.valueOf(payload.length.toLong), sha256Hex(payload),
        new String(payload, java.nio.charset.StandardCharsets.ISO_8859_1)))

    // crawl-00: warcinfo head + 6 responses
    locally {
      val name = "crawl-00.warc.gz"
      val info = "software: graft-fixture\r\n".getBytes("UTF-8")
      var members = Seq(record(100, "warcinfo", null, info))
      expectOk(name, 0L, 100, "warcinfo", null, info)
      for (i <- 0 until 6) {
        val p = payloadFor(i)
        members :+= record(i, "response", s"http://site-0.test/page/$i", p,
          version = if (i % 2 == 0) "WARC/1.0" else "WARC/1.1")
        expectOk(name, (i + 1).toLong, i, "response",
          s"http://site-0.test/page/$i", p)
      }
      writeFile(name, members)
    }
    for (f <- 1 to 2) {
      val name = s"crawl-0$f.warc.gz"
      var members = Seq.empty[Array[Byte]]
      for (i <- 0 until 6) {
        val id = f * 10 + i
        val p = payloadFor(id)
        members :+= record(id, "response", s"http://site-$f.test/page/$i", p)
        expectOk(name, i.toLong, id, "response",
          s"http://site-$f.test/page/$i", p)
      }
      writeFile(name, members)
    }
    // crawl-bad0: 2 good, then bad magic (rest of file abandoned)
    locally {
      val name = "crawl-bad0.warc.gz"
      val p0 = payloadFor(90)
      val p1 = payloadFor(91)
      val bad = "WARp/1.0\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n".getBytes("UTF-8")
      val unreachable = record(93, "response", "http://never.test/", payloadFor(93))
      writeFile(name, Seq(
        record(90, "response", "http://bad.test/0", p0),
        record(91, "response", "http://bad.test/1", p1),
        bad, unreachable))
      expectOk(name, 0L, 90, "response", "http://bad.test/0", p0)
      expectOk(name, 1L, 91, "response", "http://bad.test/1", p1)
      expected += ((name, 2L, false, null, null, null, null, null, null))
    }
    // crawl-bad1: 1 good, then a Content-Length overrunning the stream
    locally {
      val name = "crawl-bad1.warc.gz"
      val p0 = payloadFor(95)
      val short = record(96, "response", "http://bad.test/trunc",
        "only ten b".getBytes("UTF-8"), lengthOverride = Some(100L))
      writeFile(name, Seq(record(95, "response", "http://bad.test/ok", p0), short))
      expectOk(name, 0L, 95, "response", "http://bad.test/ok", p0)
      expected += ((name, 1L, false, null, null, null, null, null, null))
    }

    val spark = graft.GraftSession.local()
    import spark.implicits._
    expected.toSeq
      .toDF("file", "rec_idx", "ok", "warc_type", "record_id", "target_uri",
        "content_length", "payload_sha256", "payload_text")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/warc_expected.parquet")
    println(s"[warc-fixture] ${expected.size} expected rows, 5 warc files at $warcDir")
    spark.stop()
  }
}
