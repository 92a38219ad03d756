package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loader for the driver-generated TPC-H-ish star schema
  * (TESTDATA.md). All engine queries resolve base tables through here.
  *
  * The reference keys many operations on SQLite's implicit `_rowid_`
  * (reference: src/schema.py:34-40, src/core.py:447-455). Spark has no
  * stable implicit rowid — `monotonically_increasing_id` changes with
  * partitioning — so `withRowid` materializes an explicit, deterministic
  * `rowid` column from a total order on the table's natural key.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Natural ordering key per table — gives a deterministic rowid. */
  private val naturalKey: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey"),
    "nation"     -> Seq("n_nationkey"),
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey"),
    "lineitem"   -> Seq("l_orderkey", "l_linenumber"),
    "events"     -> Seq("event_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  // events needs a session conf flipped during its (lazy) execution; cache
  // the materialized frame once per dir (session lifetime) so the flag
  // never leaks into other reads and repeated loads don't re-materialize.
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      Memo.events.getOrElseUpdate(sfDir) {
        // events.ts has shipped as two physical encodings across testdata
        // generations: parquet TIMESTAMP(NANOS) (which the vectorized reader
        // rejects — read nanos as long under the legacy flag and convert;
        // micro truncation is exact, the generator emits ms-granularity
        // stamps) and plain TIMESTAMP(MICROS)/NTZ (read directly). Branch on
        // the type the reader actually infers so either generation loads.
        // nanosAsLong is session-wide, so force materialization while it is
        // set, then restore the previous value.
        val key = "spark.sql.legacy.parquet.nanosAsLong"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "true")
        try {
          val raw = spark.read.parquet(s"$sfDir/$name.parquet")
          val df = (raw.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType =>
              raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
            case _ =>
              // micros timestamp (possibly NTZ) — normalize to the session
              // TimestampType so downstream plans and the oracle compare see
              // one type regardless of generation. NOTE: the NTZ→TZ cast
              // reinterprets wall-clock values in spark.sql.session.timeZone;
              // every entrypoint (Verify/Bench/TestSpark) pins that to UTC,
              // which makes this agree with the nanos-as-long branch. A
              // non-UTC session would shift events — keep the pin.
              raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          }).cache()
          df.count()  // force the read while the conf is active
          df
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Load with a 1-based deterministic `rowid` column (SQLite semantics:
    * rowids start at 1), numbered in natural-key order. Distributed
    * shape: a range-partitioned sort on the key, then per-partition
    * counts + broadcast offsets recover the global rank (the same
    * numbering machinery as BayesDB.ensureRowid) — a parallel sort and
    * a tiny agg instead of the single-partition `row_number()` window
    * this used before, which serialized the whole table through one
    * task at scale. The sorted instance is pinned with a cache while
    * the counts job and the numbering job run (range boundaries are
    * sampled and could otherwise differ between the two), and results
    * are memoized per (dir, table), with session lifetime, so repeated
    * loads see identical rowids without renumbering. */
  def loadWithRowid(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Memo.rowids.getOrElseUpdate((sfDir, name)) {
      val df = load(spark, sfDir, name)
      val key = naturalKey.getOrElse(name, Seq(df.columns.head))
      val sorted = df.orderBy(key.map(col): _*).cache()
      try {
        val counts = sorted.groupBy(spark_partition_id().as("__pid")).count()
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (p, n)) => (p, acc + n) }
          .init.zip(counts).map { case ((_, off), (p, _)) => (p, off) }
        val offDf = broadcast(
          spark.createDataFrame(offsets.toIndexedSeq).toDF("__pid", "__off"))
        val out = sorted.withColumn("__pid", spark_partition_id())
          .withColumn("__mid", monotonically_increasing_id())
          .join(offDf, "__pid")
          .withColumn("rowid",
            col("__off") + (col("__mid") - col("__pid").cast("long") * lit(1L << 33)) + lit(1L))
          .drop("__pid", "__mid", "__off")
        val cached = out.cache()
        cached.count()
        cached
      } finally sorted.unpersist(blocking = false)
    }
}
