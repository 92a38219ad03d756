package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark analyzes a DataFrame when it is made, inside the call that
  * returns it, and the benchmark's write executes a wrapper plan. The
  * statement's own analysis must still be charged to the catalyst layer,
  * under the span of the call that made the DataFrame, and not to that
  * call's self time. */
class CatalystAttributionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("perfbench-catalyst-spec")
    spark = Spark.session(2, dir.toString)
  }

  override def afterAll(): Unit = spark.stop()

  test("a DataFrame's own analysis shows under catalyst, not under the call that made it") {
    val d = dir.toString
    val ctx = new Ctx(Config("bql_interactive", 7L, 1.0, trace = true, d, d, s"$d/digests",
      s"$d/record.json", writeDigests = false), new Record)
    ctx.spark = spark
    val t = new Tracer(true)
    ctx.tracer = t
    val ls = new Listeners(spark)
    ctx.listeners = Some(ls)
    // hundreds of expressions to resolve: an analysis of some milliseconds
    val wide = (1 to 600).map(i => (col("id") * i + i).as(s"c$i"))
    try {
      t.op("statement") {
        val df = t.span("bql.plan", "bql")(spark.range(100).select(wide: _*))
        t.span("exec.materialize", "exec")(ctx.materialize(df))
      }
      ls.drain()
      Layers.attachCatalyst(t, ls)
    } finally {
      ctx.listeners = None
      ls.remove()
    }
    val spans = t.all
    val plan = spans.find(_.name == "bql.plan").get
    val analysis = spans.filter(s => s.name == "catalyst.analysis" && s.parent == plan.id)
    val analysisNs = Stats.unionLength(analysis.map(s => (s.start, s.end)))
    info(f"bql.plan ${plan.dur / 1e6}%.1f ms, catalyst.analysis under it ${analysisNs / 1e6}%.1f ms")
    assert(analysisNs >= 1000000L, "the analysis is charged under the call that made the DataFrame")
    assert(Trace.selfTimes(spans)(plan.id) == plan.dur - analysisNs)
    assert(Trace.selfByLayer(spans)("catalyst") >= analysisNs)
  }
}
