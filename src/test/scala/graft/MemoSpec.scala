package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one memo registry: [[Memo.resetPass]] drops every
  * pass-lifetime slot and unpersists its pinned frames while the
  * session slots keep their entries, [[Memo.resetAll]] drops both, and a
  * rebuild after either reset equals the first build. */
class MemoSpec extends AnyFunSuite {
  import TestSpark._

  private val keys =
    Seq("p02_minhash_lsh", "p07_ann_ivf", "p54_bpe_train", "p91_kmeans_train")

  private def hashes: Map[String, String] = (keys :+ "b01_bql_select")
    .map(k => k -> Verify.canonicalHash(SparkEntry.queries(k)(spark, sf))).toMap

  private def rowids: DataFrame = Tables.loadWithRowid(spark, sf, "customer")

  private def kmeansCentroids: Seq[Seq[Double]] =
    Memo.kmeansFits.values.head.centroids.map(_.toSeq).toSeq

  /** Every frame the pass slots pin. */
  private def pinned: Seq[DataFrame] =
    Memo.minhashCands.values ++ Memo.ivfIndexes.values.map(_.cells) ++
      Memo.stages.values ++ Memo.signatures.values ++
      Memo.keeperComponents.values

  private def slots(lifetime: Memo.Lifetime): Seq[Memo.Slot] =
    Memo.slots.filter(_.lifetime == lifetime)

  test("resetPass drops the pass slots and keeps the session slots") {
    val first = hashes
    val engine = operators.BqlQueries.bdb(spark, sf)
    val table = rowids
    val frames = pinned
    val cands = Memo.minhashCands.values
    val bpe = Memo.bpeModels.values
    val centroids = kmeansCentroids
    assert(Seq(Memo.minhashCands, Memo.ivfIndexes, Memo.bpeModels,
      Memo.kmeansFits, Memo.signatures).forall(!_.isEmpty))
    assert(frames.forall(_.storageLevel != StorageLevel.NONE))

    Memo.resetPass()
    slots(Memo.Pass).foreach(s => assert(s.isEmpty))
    frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE))
    assert(operators.BqlQueries.bdb(spark, sf) eq engine)
    assert(rowids eq table)

    assert(hashes == first)
    assert(Memo.minhashCands.values.forall(c => !cands.exists(_ eq c)))
    assert(Memo.bpeModels.values == bpe && !(Memo.bpeModels.values.head eq bpe.head))
    assert(kmeansCentroids == centroids)
  }

  test("resetAll drops every slot, and the rebuild is equal") {
    val first = hashes
    val engine = operators.BqlQueries.bdb(spark, sf)
    val table = rowids
    val tableHash = Verify.canonicalHash(table)
    assert(slots(Memo.Session).exists(!_.isEmpty))

    Memo.resetAll()
    Memo.slots.foreach(s => assert(s.isEmpty))
    assert(table.storageLevel == StorageLevel.NONE)

    val engine2 = operators.BqlQueries.bdb(spark, sf)
    assert(!(engine2 eq engine))
    val table2 = rowids
    assert(!(table2 eq table))
    assert(Verify.canonicalHash(table2) == tableHash)
    assert(hashes == first)
  }
}
