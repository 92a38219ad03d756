package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, regexp_extract, timestamp_millis}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Stream latency attribution on a toy stream: every landed file must be
  * charged to the micro-batch that actually read it, also when batches
  * that read no file (watermark-only batches of the stateful fold) move
  * the query's batch ids away from the file source's log entries. */
class StreamLatencySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("perfbench-stream-spec")
    spark = Spark.session(2, dir.toString)
  }

  override def afterAll(): Unit = spark.stop()

  test("each landed file is attributed to the batch that consumed it") {
    val session = spark
    import session.implicits._
    val landing = Files.createDirectories(dir.resolve("landing"))
    val checkpoint = dir.resolve("checkpoint").toString
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val docs = spark.readStream.schema(schema).parquet(landing.toString)
      .withColumn("ts", timestamp_millis(regexp_extract(col("_metadata.file_name"),
        "_(\\d+)\\.parquet$", 1).cast("long")))
    val q = graft.streaming.StreamPipeline
      .nearDupBuckets(docs, "text", "doc_id", "ts", suppressionHorizon = "1 second")
      .writeStream.outputMode("update").format("memory").queryName("spec_buckets")
      .option("checkpointLocation", checkpoint).start()
    val listener = new ProgressListener(q.id)
    spark.streams.addListener(listener)
    try {
      var next = 0L
      // lands `n` files of 3 docs each, staged first and then renamed in
      // together; event times a minute apart per round, so the watermark
      // moves and batches that read no file run between rounds
      def round(n: Int, dueMs: Long): Seq[Landed] = (1 to n).map { _ =>
        val name = f"f$next%05d_$dueMs.parquet"
        val staged = dir.resolve("stage").resolve(name).toString
        (0 until 3).map(i => (next * 10 + i, s"text of document $next part $i"))
          .toDF("doc_id", "text").coalesce(1).write.parquet(staged)
        next += 1
        (name, Files.list(Path.of(staged)).filter(_.toString.endsWith(".parquet"))
          .findFirst().get())
      }.map { case (name, part) =>
        Files.move(part, landing.resolve(name))
        Landed(name, dueMs, System.currentTimeMillis(), 3L)
      }
      val rounds = (0 until 4).map { r =>
        val landed = round(2 + r, 1000000L + r * 60000L)
        q.processAllAvailable()
        landed
      }
      val last = q.lastProgress.batchId
      val deadline = System.nanoTime() + 10000000000L
      while (listener.all.keySet.maxOption.getOrElse(-1L) < last && System.nanoTime() < deadline)
        Thread.sleep(10)

      val files = rounds.flatten
      val entries = StreamLatency.fileEntries(checkpoint)
      val consumer = StreamLatency.consumers(files, entries, listener.all.values)
      assert(consumer.keySet == files.map(_.name).toSet, "every file has a consumer")
      // later rounds are read by later batches
      val batchesOfRound = rounds.map(r => r.map(l => consumer(l.name).id))
      batchesOfRound.sliding(2).foreach { case Seq(a, b) => assert(a.max < b.min) }
      // every batch read exactly the rows of the files charged to it
      files.groupBy(l => consumer(l.name).id).foreach { case (b, fs) =>
        assert(listener.all(b).inputRows == fs.map(_.docs).sum, s"batch $b")
      }
      // latency runs from the due time to the end of the consuming batch
      StreamLatency.latencies(files, consumer).foreach { case (l, v) =>
        assert(v.contains((consumer(l.name).endMs - l.dueMs).toDouble))
      }
      assert(StreamLatency.latencies(files, Map.empty).forall(_._2.isEmpty))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
