package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One-shot task-failure injector: the first task that calls maybeFail
  * throws; its Spark retry (and every other task) passes. JVM-static so
  * local-mode executor threads share the flag. */
object RetryInjector {
  @volatile var armed = false
  def maybeFail(): Unit = synchronized {
    if (armed) {
      armed = false
      throw new RuntimeException("injected first-attempt task failure")
    }
  }
}

/** The determinism contract behind every rows-only key: sampling is a
  * pure function of (seed, rowid, colno, callsite) via counter-based
  * DetRng — so a Spark task RETRY must replay the identical values
  * (the reference's seeded-PRNG promise, src/bayesdb.py:90-96, made
  * retry-safe where its process-PRNG was not). TestSpark runs
  * local[4, 2] so one failure per task is retried, not fatal. */
class DeterminismSpec extends AnyFunSuite {
  import TestSpark._

  test("INFER's per-row sampling survives a task retry bit-for-bit") {
    // m03's frame without the final orderBy: the injection must land in
    // the same stage as the sampling UDF (pre-shuffle) so the retry
    // re-executes the sampling, not just a reduce-side sort that would
    // read preserved map outputs
    def inferFrame() = {
      val pm = operators.ModelQueries.customerModel(spark, sf)
      val df = Tables.load(spark, sf, "customer")
        .withColumn("rowid", col("c_custkey"))
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")))
      engine.Estimators.inferWithConfidence(df, pm, "c_acctbal", 0.5)
        .select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"))
    }
    val clean = Verify.canonicalHash(inferFrame())

    RetryInjector.armed = true
    val injectedRdd = inferFrame().rdd.mapPartitions { it =>
      RetryInjector.maybeFail()
      it
    }
    val injected = Verify.canonicalHash(
      spark.createDataFrame(injectedRdd,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("c_custkey",
            inferFrame().schema("c_custkey").dataType),
          org.apache.spark.sql.types.StructField("c_acctbal",
            org.apache.spark.sql.types.DoubleType)))))
    assert(!RetryInjector.armed, "the injected failure never fired")
    assert(injected == clean,
      "task retry changed INFER's sampled output — DetRng contract broken")
  }

  test("SIMULATE refit from scratch under the same seed is bit-identical") {
    // the Verify determinism gate's in-JVM analogue, pinned as a spec:
    // drop every fitted-model cache, refit, and the sampled frame must
    // hash identically (a map-iteration-order or shared-RNG leak in the
    // fit path would surface here)
    val first = Verify.canonicalHash(
      operators.ModelQueries.queries("m02_simulate")(spark, sf))
    Memo.resetAll()
    val second = Verify.canonicalHash(
      operators.ModelQueries.queries("m02_simulate")(spark, sf))
    assert(first == second, "refit under the same seed changed SIMULATE output")
  }
}
