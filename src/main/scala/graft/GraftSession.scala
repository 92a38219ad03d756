package graft

import org.apache.spark.sql.SparkSession

/** The one local Spark session every entry point runs on — Bench,
  * Verify, Shell, the dev tools and the test suite — so the
  * configuration that is verified is the configuration that is benched.
  */
object GraftSession {

  /** Local cores, from `SPARK_GRAFT_CPUS` (default 4). */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** `taskRetries` is Spark's local-mode max task failures: 1 means a
    * failed task fails its job; the test suite allows one retry so
    * DeterminismSpec can prove sampling replays bit-identically after a
    * task re-execution. */
  def local(cores: Int = cpus, taskRetries: Int = 1): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores, $taskRetries]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // run the streaming keys against the state-store provider the
      // operators document for 100-TB state, not only the in-memory
      // default — the recorded state_rows then describe the production
      // pairing, and stream-stream joins use state format v3
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // r15 bench-inflation arbitration (r16): the generated-class cache
      // (StaticSQLConf CODEGEN_CACHE_MAX_ENTRIES) defaults to 100 — far
      // below this suite's ~150 keys × several codegen stages each, so
      // by pass 2 every key was paying janino recompiles of classes it
      // compiled in pass 1. That thrash grew WITH SUITE SIZE, which is
      // why r15 (148 keys) read uniformly ~1.25× of r14 (124) on keys
      // whose code never changed, q-keys least (few stages), BQL keys
      // worst (b01 0.43→1.01). A/B at 152 keys: 87.9 s → 73.3 s suite,
      // b01 back to 0.30. Sized to hold every stage of a few hundred
      // keys; memory cost is class metadata, not heap data.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
