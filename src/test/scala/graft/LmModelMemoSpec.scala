package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r19 fitted-LM memo: p34/p92/st30 score with the SAME
  * reference-slice model, and r18 refit it (collect jobs) in every key.
  * The memo keys on the analyzed plan of the slice the fit reads, so
  * equal slices share one fit, different slices (corpus, refCond, k)
  * fit fresh, and the memo has pass lifetime so every measured pass is
  * cold. */
class LmModelMemoSpec extends AnyFunSuite {
  import TestSpark._

  test("lmModelFor memoizes per (slice plan, k) and resets cold") {
    Memo.resetPass()
    val docs = Tables.load(spark, sf, "documents")
    val cond = pmod(col("doc_id"), lit(5)) === 0
    val m1 = TextAnalysis.lmModelFor(docs, "text", cond)
    // same slice, separately-built frame: memo hit (same instance)
    val m2 = TextAnalysis.lmModelFor(
      Tables.load(spark, sf, "documents"), "text", cond)
    assert(m1 eq m2)
    // different refCond: fresh fit
    val m3 = TextAnalysis.lmModelFor(docs, "text",
      pmod(col("doc_id"), lit(7)) === 0)
    assert(!(m3 eq m1))
    // different smoothing k: fresh fit
    val m4 = TextAnalysis.lmModelFor(docs, "text", cond, k = 0.5)
    assert(!(m4 eq m1))
    // reset (the bench pass-2 / determinism lifecycle) drops the memo,
    // and the refit is value-identical to the first fit
    Memo.resetPass()
    val m5 = TextAnalysis.lmModelFor(docs, "text", cond)
    assert(!(m5 eq m1))
    assert(m5 == m1)
    Memo.resetPass()
  }
}
