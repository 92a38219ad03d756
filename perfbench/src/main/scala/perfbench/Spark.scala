package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The benchmark's Spark session and the one way it materializes a
  * result. */
object Spark {

  /** The session configuration of `graft.Bench`: RocksDB state store,
    * the 8192-entry generated-class cache, shuffle partitions equal to
    * cores, UTC and no UI. Scratch locations stay inside `work`. */
  def confs(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.local.dir" -> s"$work/spark-local")

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    confs(cores, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Computes every column of every row of `df` through the no-op sink
    * and returns the row count, observed on the way. */
  def materialize(df: DataFrame): Observation = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs
  }

  def rows(obs: Observation): Long = obs.get("rows").asInstanceOf[Long]
}
