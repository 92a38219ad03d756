package graft.tools

/** Dev scratch: dump `explain("formatted")` for a list of SparkEntry keys
  * to `<outDir>/<key>_<suffix>.txt` — the optimization-round plan-evidence
  * capture (plans/r18). Batch keys only: a streaming key's Q runs the
  * drain and returns the sink table, so its interesting plan is not
  * reachable through this interface.
  *
  *   runMain graft.tools.ExplainMany <sfDir> <outDir> <suffix> <key>[,<key>...]
  */
object ExplainMany {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, keyCsv) = args
    val keys = keyCsv.split(",").toSeq
    val spark = graft.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    keys.foreach { key =>
      val df = graft.SparkEntry.queries(key)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${key}_$suffix.txt", "UTF-8")
      try w.println(plan) finally w.close()
      println(s"[explain] wrote $outDir/${key}_$suffix.txt")
    }
    spark.stop()
  }
}
