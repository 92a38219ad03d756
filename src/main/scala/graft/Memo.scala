package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import scala.collection.concurrent.TrieMap

/** Every driver-side memo of the operators, in one registry (bayeslite
  * keeps its memoized metadata in the one transaction-scoped cache of
  * its `bdb` handle, src/txn.py:94-116, and drops it in one step).
  *
  * A slot declares its key, what dropping an entry releases (pinned
  * frames are unpersisted without blocking; driver values need nothing)
  * and one of two lifetimes:
  *
  *  - [[Pass]]: operator-algorithm state — the work a key measures.
  *    [[resetPass]] drops it, so every bench pass builds it cold.
  *  - [[Session]]: shared setup (fixtures, loaded tables, fitted
  *    engines). Only [[resetAll]] drops it, so the determinism gate
  *    re-runs every key against a fresh fit under the same seed.
  *
  * Slots are thread-safe (`operators.BqlQueries.bdb` registers tables
  * from concurrent futures). A build runs outside any lock: two threads
  * that miss the same key at once may both build, and the slot keeps
  * one result.
  */
object Memo {

  sealed trait Lifetime
  case object Pass extends Lifetime
  case object Session extends Lifetime

  sealed abstract class Slot(val lifetime: Lifetime) {
    def isEmpty: Boolean
    private[Memo] def clear(): Unit
  }

  /** Entries keyed by value equality. With a `bound`, a miss on a full
    * slot first evicts other entries — never the requested key, so a hot
    * caller cannot thrash its own entry. */
  final class Keyed[K, V] private[Memo] (lifetime: Lifetime,
      release: V => Unit, bound: Int) extends Slot(lifetime) {
    private val map = TrieMap.empty[K, V]

    def getOrElseUpdate(key: K)(build: => V): V =
      map.getOrElse(key, {
        while (map.size >= bound &&
            map.keys.find(_ != key).exists(k => map.remove(k).map(release).isDefined)) {}
        map.getOrElseUpdate(key, build)
      })

    def values: Seq[V] = map.values.toSeq
    def isEmpty: Boolean = map.isEmpty
    private[Memo] def clear(): Unit =
      map.keys.foreach(k => map.remove(k).foreach(release))
  }

  /** Entries keyed by an analyzed plan plus `extra`, matched by
    * `sameResult` (the CacheManager's own equivalence: frames built
    * separately over the same input share an entry). At most `capacity`
    * entries are held; adding one more releases the oldest. */
  sealed class ByPlan[E, V] private[Memo] (lifetime: Lifetime,
      release: V => Unit, capacity: Int) extends Slot(lifetime) {
    private val entries = new AtomicReference[List[(LogicalPlan, E, V)]](Nil)

    private def find(ls: List[(LogicalPlan, E, V)], plan: LogicalPlan,
        extra: E): Option[V] =
      ls.collectFirst { case (p, e, v) if e == extra && p.sameResult(plan) => v }

    def getOrElseUpdate(plan: LogicalPlan, extra: E)(build: => V): V =
      find(entries.get, plan, extra).getOrElse {
        val v = build
        val before = entries.getAndUpdate { ls =>
          if (find(ls, plan, extra).isDefined) ls
          else ((plan, extra, v) :: ls).take(capacity)
        }
        find(before, plan, extra).getOrElse {
          ((plan, extra, v) :: before).drop(capacity).foreach(e => release(e._3))
          v
        }
      }

    def values: Seq[V] = entries.get.map(_._3)
    def isEmpty: Boolean = entries.get.isEmpty
    private[Memo] def clear(): Unit = entries.getAndSet(Nil).foreach(e => release(e._3))
  }

  /** Pinned (`cache()`d) frames keyed by their own analyzed plan. The
    * caller's result frame is lazy, so a pin cannot be dropped inside the
    * call; the slot holds it until it is evicted or reset. Unpersisting a
    * plan a caller still holds is safe: it recomputes. */
  final class Frames private[Memo] (lifetime: Lifetime, capacity: Int)
      extends ByPlan[Unit, DataFrame](lifetime, unpersist, capacity) {
    /** Cache `df` and hold it. A frame whose plan the slot already holds
      * shares that cache entry and evicts nothing. */
    def pin(df: DataFrame): DataFrame = {
      val cached = df.cache()
      getOrElseUpdate(cached.queryExecution.analyzed, ())(cached)
      cached
    }
  }

  private def unpersist(df: DataFrame): Unit = { df.unpersist(blocking = false); () }

  // filled while this object initializes (single-threaded), read-only after
  private val registry = scala.collection.mutable.ArrayBuffer.empty[Slot]
  private def register[S <: Slot](s: S): S = { registry += s; s }
  private def keyed[K, V](lifetime: Lifetime, release: V => Unit = (_: V) => (),
      bound: Int = Int.MaxValue): Keyed[K, V] =
    register(new Keyed[K, V](lifetime, release, bound))

  // ------------------------------------------------------ pass lifetime

  /** MinHash candidate pairs per dir at the loosest threshold (p02, p04,
    * p18, p28 filter downstream), and p89/p90's audit candidates under
    * `<dir>#p89`. */
  private[graft] val minhashCands = keyed[String, DataFrame](Pass, unpersist)
  /** Fitted IVF index per dir (p07, p15); releases its pinned cells. */
  private[graft] val ivfIndexes = keyed[String, operators.SimilaritySearch.IvfIndex](
    Pass, i => unpersist(i.cells))
  /** Trained BPE model per (dir, merges) (p54, p56, p59). */
  private[graft] val bpeModels = keyed[(String, Int), operators.TextAnalysis.BpeModel](Pass)
  /** Lloyd k-means fit per dir (p91, p95, st29). */
  private[graft] val kmeansFits = keyed[String, operators.SimilaritySearch.KmeansFit](Pass)
  /** q18's max-rows-per-user skew probe per (input plan hash, input
    * files), bounded at 64 entries. */
  private[graft] val skewProbes = keyed[(Int, String), Long](Pass, bound = 64)
  /** Fitted bigram LM per (reference-slice plan, (k, maxEntries)). */
  private[graft] val lmModels = register(
    new ByPlan[(Double, Int), functions.LmModel](Pass, _ => (), Int.MaxValue))
  /** Stage-boundary frames read by several branches of one key (p92's
    * scored frame, p97's cells). */
  private[graft] val stages = register(new Frames(Pass, Int.MaxValue))
  /** The last MinHash / hyperplane signature table: each new signature
    * build evicts the previous one, so a long session of repeated
    * near-dup calls holds ONE pinned table instead of accumulating them
    * until executor storage evicts under pressure. */
  private[graft] val signatures = register(new Frames(Pass, 1))
  /** The last component table of Dedup's broadcast/merge-join gate
    * (`qualityKeeper`, `groupKeyedSplit`), held the same way. */
  private[graft] val keeperComponents = register(new Frames(Pass, 1))

  // --------------------------------------------------- session lifetime

  /** Synthetic PNG media fixture per dir (p12, p13). */
  private[graft] val media = keyed[String, DataFrame](Session, unpersist)
  /** Materialized `events` table per dir (read under a session conf). */
  private[graft] val events = keyed[String, DataFrame](Session, unpersist)
  /** Rowid-numbered table per (dir, table). */
  private[graft] val rowids = keyed[(String, String), DataFrame](Session, unpersist)
  /** BQL engine per dir: tables registered, model lifecycle run. */
  private[graft] val engines = keyed[String, bql.BayesDB](Session)
  /** Fitted customer ensemble per dir (the m-keys). */
  private[graft] val ensembles = keyed[String, engine.PopulationModel](Session)

  private[graft] def slots: Seq[Slot] = registry.toSeq

  /** Drop every pass slot: Bench and ScaleProbe call this between passes
    * so each pass measures cold operator work. */
  def resetPass(): Unit = registry.filter(_.lifetime == Pass).foreach(_.clear())

  /** Drop every slot: the determinism gate calls this before it re-runs
    * each key from the raw parquet under the same seed. */
  def resetAll(): Unit = registry.foreach(_.clear())
}
