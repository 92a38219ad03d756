package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated key subset for local iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // failures are recorded as an explicit artifact, not only stderr: a
    // thrown query previously produced a silent OMISSION in the round's
    // correctness record (no parquet → no compare row), which a gate
    // reading "all present entries pass" green-lit. failures.json makes
    // a regressed key loud in the record itself.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)

    // Determinism gate for the rows-only keys (no DuckDB oracle): the
    // reference's seeded-PRNG contract (src/bayesdb.py:90-96) promises
    // identical results for identical seeds. Hash the result already
    // dumped, drop every fitted-model / candidate / table cache, re-run
    // the key against a fresh fit under the same seed, and compare —
    // det_match=false means a map-iteration-order or RNG leak made a
    // sampling key silently nondeterministic.
    val detKeys = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(SparkEntry.oracleSql.contains)
      .filter(k => only.forall(_.contains(k)))
      .filterNot(failures.contains)
    val firstHash = detKeys.flatMap { name =>
      try Some(name -> canonicalHash(spark.read.parquet(s"$outDir/$name")))
      catch { case e: Throwable =>
        System.err.println(s"[verify] det read $name failed: ${e.getMessage}")
        None
      }
    }.toMap
    Memo.resetAll()
    spark.catalog.clearCache()
    val det = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    // a key whose dump cannot be read back was never det-checked — that
    // is a FALSE in the record, not an omission (the same silent-gap
    // failure mode failures.json exists to prevent)
    detKeys.filterNot(firstHash.contains).foreach(det(_) = false)
    detKeys.filter(firstHash.contains).foreach { name =>
      try {
        val rerun = canonicalHash(SparkEntry.queries(name)(spark, sfDir))
        det(name) = rerun == firstHash(name)
        if (!det(name))
          System.err.println(s"[verify] det MISMATCH: $name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] det rerun $name failed: ${e.getMessage}")
        det(name) = false
      }
    }
    val detJson = det
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/det_match.json"), detJson)
    spark.stop()
  }

  /** Order-insensitive, bit-exact content hash: columns sorted by name,
    * rows rendered canonically (doubles/floats by IEEE bit pattern, so
    * 0.0 vs -0.0 or NaN payloads cannot alias) and sorted. Strings are
    * length-prefixed so content containing the separator bytes cannot
    * shift across cell boundaries, and each row enters the digest
    * length-prefixed so distinct row multisets cannot concatenate to
    * the same byte stream. */
  private[graft] def canonicalHash(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.functions.col
    def render(v: Any): String = v match {
      case null => "\u0000null"
      case d: java.lang.Double => "d" + java.lang.Double.doubleToRawLongBits(d)
      case f: java.lang.Float => "f" + java.lang.Float.floatToRawIntBits(f)
      case b: Array[Byte] => "b" + java.util.Base64.getEncoder.encodeToString(b)
      case s: String => "s" + s.length + ":" + s
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u0002", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => render(k) + "\u0003" + render(x) }
          .toSeq.sorted.mkString("{", "\u0002", "}")
      case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", "\u0002", ")")
      case x => x.toString
    }
    val cols = df.columns.sorted.toIndexedSeq
    val lines = df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(render).mkString("\u0001"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.mkString("\u0001").getBytes("UTF-8"))
    lines.foreach { l =>
      val bytes = l.getBytes("UTF-8")
      md.update((bytes.length + "\n").getBytes("UTF-8"))
      md.update(bytes)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
