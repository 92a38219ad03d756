package graft

import org.apache.spark.sql.DataFrame

/** The benchmark's handle on the determinism gate's order-insensitive
  * result digest. */
object BenchDigest {
  def of(df: DataFrame): String = Verify.canonicalHash(df)
}
