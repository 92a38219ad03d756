package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.io.Source

import graft.streaming.StreamPipeline
import org.apache.spark.sql.functions.{col, max, min, regexp_extract, timestamp_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** One micro-batch as its progress event reports it. `endMs` is the end
  * of the trigger, when the batch's commit was written. The batch read
  * the file source's log entries `srcFrom` (exclusive) to `srcTo`. */
final case class Batch(id: Long, startMs: Long, endMs: Long, inputRows: Long,
    durations: Map[String, Long], stateCommitMs: Long, stateRows: Long, stateMemBytes: Long,
    srcFrom: Long, srcTo: Long)

object Batch {
  private def logOffset(json: String): Long =
    Option(json).filter(_.startsWith("{"))
      .map(j => Main.json.readTree(j).get("logOffset").asLong()).getOrElse(-1L)

  def of(p: StreamingQueryProgress): Batch = {
    val d = p.durationMs
    val dur = d.keySet().toArray.map(_.toString).map(k => k -> d.get(k).longValue()).toMap
    val start = Instant.parse(p.timestamp).toEpochMilli
    val src = p.sources.head
    Batch(p.batchId, start, start + dur.getOrElse("triggerExecution", 0L), p.numInputRows,
      dur, p.stateOperators.map(_.commitTimeMs).sum,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
      logOffset(src.startOffset), logOffset(src.endOffset))
  }
}

/** A file landed in the landing directory: `dueMs`, stamped into its
  * name, is its event time and the start of its latency. */
final case class Landed(name: String, dueMs: Long, landedMs: Long, docs: Long)

object StreamLatency {

  /** File name -> the file source's log entry that listed it, from the
    * source's metadata log in the query's checkpoint. */
  def fileEntries(checkpoint: String): Map[String, Long] = {
    val dir = new File(checkpoint, "sources/0")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
    files.toSeq.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.startsWith("{")).map { line =>
        val n = Main.json.readTree(line)
        new File(new java.net.URI(n.get("path").asText()).getPath).getName ->
          n.get("batchId").asLong()
      }.toList
      finally src.close()
    }.toMap
  }

  /** The batch that read each landed file: the one whose source offset
    * range holds the file's log entry. (The source's log entries are not
    * query batch ids: batches that read no data advance only the latter.) */
  def consumers(landed: Seq[Landed], entries: Map[String, Long],
      batches: Iterable[Batch]): Map[String, Batch] =
    landed.flatMap { l =>
      entries.get(l.name).flatMap(e => batches.find(b => b.srcFrom < e && e <= b.srcTo))
        .map(l.name -> _)
    }.toMap

  /** Latency of each landed file: from its due time to the end of the
    * batch that consumed it. Files no batch consumed map to None. */
  def latencies(landed: Seq[Landed], consumer: Map[String, Batch]): Seq[(Landed, Option[Double])] =
    landed.map(l => l -> consumer.get(l.name).map(b => (b.endMs - l.dueMs).toDouble))

  /** The most files that were due but not yet committed at any due time. */
  def backlogMax(files: Seq[Landed], consumer: Map[String, Batch]): Int = {
    val commit = files.map(l => consumer.get(l.name).map(_.endMs).getOrElse(Long.MaxValue))
    files.map(_.dueMs).map(t =>
      files.indices.count(i => files(i).dueMs <= t && commit(i) > t)).maxOption.getOrElse(0)
  }
}

/** Collects the progress of one query. */
final class ProgressListener(queryId: java.util.UUID) extends StreamingQueryListener {
  private val batches = mutable.Map.empty[Long, Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  /** Keeps the event of each batch that ran; idle triggers report again
    * under the last batch id, without an addBatch phase. */
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.id == queryId && e.progress.durationMs.containsKey("addBatch"))
      synchronized { batches(e.progress.batchId) = Batch.of(e.progress) }
  def all: Map[Long, Batch] = synchronized(batches.toMap)
}

/** `stream_ingest`: an open loop. A generator thread lands one parquet
  * file of corpus documents every [[IntervalMs]] into the landing
  * directory; a continuous query runs `StreamPipeline.nearDupBuckets`
  * over it on the RocksDB state store. After the scheduled files,
  * bursts of files land at once and are timed until drained. */
final class StreamIngest extends Workload {
  val primaryLowerIsBetter = true
  override val generatorThreads = 1
  override val backToBack = false

  val IntervalMs = 100L
  val WarmupFiles = 40
  val Bursts = 2
  val BurstFiles = 60
  /** Share of a phase's seconds the scheduled files take; the bursts
    * follow. */
  val ScheduledShare = 0.65

  private var query: StreamingQuery = _
  private var listener: ProgressListener = _
  private var checkpoint: String = _
  private var landing: String = _
  private var staged: Seq[File] = Nil
  /** Documents in each stream file, by file name. */
  private var docsIn: Map[String, Long] = Map.empty
  private var nextFile = 0
  private var burstDirs = 0
  private val landed = mutable.ArrayBuffer.empty[Landed]

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType)
    .add("lang", StringType).add("source", StringType)

  /** Copies the seed's files next to the landing directories, so landing
    * one is a rename, never a write. */
  override def prepare(ctx: Ctx): Unit = {
    val stage = Paths.get(ctx.cfg.work, "stream", "stage")
    deleteRecursively(stage.toFile)
    Files.createDirectories(stage)
    val manifest = Main.json.readTree(new File(ctx.cfg.inputs, "stream/files.json"))
    docsIn = manifest.fieldNames().asScala.map(n => n -> manifest.get(n).asLong()).toMap
    staged = docsIn.keys.toSeq.sorted.map { n =>
      Files.copy(Paths.get(ctx.cfg.inputs, "stream", n), stage.resolve(n)).toFile }
  }

  def setup(ctx: Ctx, rep: Int): Map[String, Double] = {
    val spark = ctx.spark
    val base = Paths.get(ctx.cfg.work, "stream", s"rep$rep")
    deleteRecursively(base.toFile)
    landing = base.resolve("landing").toString
    checkpoint = base.resolve("checkpoint").toString
    Files.createDirectories(Paths.get(landing))
    val (_, ns) = ctx.timed {
      // recursive: bursts land as subdirectories (see `burst`)
      val docs = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
        .parquet(landing)
        .withColumn("ts", timestamp_millis(regexp_extract(col("_metadata.file_name"),
          "_(\\d+)\\.parquet$", 1).cast("long")))
      val nd = StreamPipeline.nearDupBuckets(docs, "text", "doc_id", "ts", minEmit = 2L)
      query = nd.writeStream.outputMode("update").format("memory")
        .queryName(s"perfbench_stream_rep$rep")
        .option("checkpointLocation", checkpoint).start()
      listener = new ProgressListener(query.id)
      spark.streams.addListener(listener)
    }
    Map("register" -> ns / 1e6)
  }

  override def release(ctx: Ctx): Unit = {
    query.stop()
    ctx.spark.streams.removeListener(listener)
  }

  /** Lands the next file, due at `dueMs`, into `dir` (by default the
    * landing directory). */
  private def land(dueMs: Long, dir: Path = Paths.get(landing)): Landed = {
    val f = staged(nextFile)
    nextFile += 1
    val name = f.getName.stripSuffix(".parquet") + s"_$dueMs.parquet"
    Files.move(f.toPath, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    val l = Landed(name, dueMs, System.currentTimeMillis(), docsIn(f.getName))
    landed += l
    l
  }

  /** Lands the next `n` files together, due now. They are moved into a
    * hidden directory under the landing directory, which the file source
    * does not list, and appear at once when it is renamed to a visible
    * name. Moved in one by one, a listing by the source could fall
    * between two moves and split the burst over two micro-batches. */
  private def burst(n: Int): Seq[Landed] = {
    burstDirs += 1
    val hidden = Paths.get(landing, s".burst$burstDirs")
    Files.createDirectories(hidden)
    val due = System.currentTimeMillis()
    val files = (1 to n).toList.map(_ => land(due, hidden))
    Files.move(hidden, Paths.get(landing, s"burst$burstDirs"), StandardCopyOption.ATOMIC_MOVE)
    files
  }

  /** Lands `n` files on the fixed schedule from a generator thread;
    * returns the most any file landed after it was due, in ms. */
  private def schedule(n: Int): Long = {
    val start = System.currentTimeMillis() + IntervalMs
    var late = 0L
    val gen = new Thread(() => {
      (0 until n).foreach { i =>
        val due = start + i * IntervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val l = land(due)
        late = math.max(late, l.landedMs - due)
      }
    }, "perfbench-landing")
    gen.start()
    gen.join()
    late
  }

  private def awaitBatches(): Unit = {
    query.processAllAvailable()
    val last = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val deadline = System.nanoTime() + 10000000000L
    while (listener.all.keySet.maxOption.getOrElse(-1L) < last && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  /** Which batch read each of `files`, once every batch has reported. */
  private def consumers(files: Seq[Landed]): Map[String, Batch] =
    StreamLatency.consumers(files, StreamLatency.fileEntries(checkpoint), listener.all.values)

  /** Checks that every file landed since `from` was read, and the bucket
    * table the query has emitted so far; its digest is checked under
    * `key`. */
  private def checkBuckets(ctx: Ctx, label: String, from: Int, key: String): Unit =
    ctx.attempt(label) {
      val files = landed.drop(from).toList
      val missing = files.size - consumers(files).size
      if (missing > 0) throw new IllegalStateException(s"$missing files not consumed")
      val out = ctx.spark.table(query.name)
      ctx.checkShape("buckets", out, Some(Seq("band", "bucket_hash", "keeper_id", "n_docs")),
        out.count(), nonempty = true)
      ctx.checkDigest(key, out.groupBy("band", "bucket_hash")
        .agg(min("keeper_id").as("keeper_id"), max("n_docs").as("n_docs")))
    }

  def warmup(ctx: Ctx): Unit = {
    val from = landed.size
    schedule(WarmupFiles)
    awaitBatches()
    checkBuckets(ctx, "warm-up files", from, "buckets")
  }

  /** Lands every file still staged at once and checks the bucket table
    * over all of the seed's files, whatever number the timed phase
    * landed. */
  def verify(ctx: Ctx): Unit = {
    val from = landed.size
    val due = System.currentTimeMillis()
    while (nextFile < staged.size) land(due)
    awaitBatches()
    checkBuckets(ctx, "all files", from, "buckets_all")
  }

  def run(ctx: Ctx, seconds: Double): Phase = {
    val t = ctx.tracer
    val from = landed.size
    val t0 = System.nanoTime()
    val scheduled = math.max(10, (seconds * ScheduledShare * 1000 / IntervalMs).toInt)
    val late = schedule(scheduled)
    awaitBatches()
    val scheduledFiles = landed.drop(from).toList
    val bursts = (1 to Bursts).toList.map { _ =>
      val b = burst(BurstFiles)
      awaitBatches()
      b
    }
    val wall = System.nanoTime() - t0
    val files = landed.drop(from).toList
    val consumer = consumers(files)
    val samples = StreamLatency.latencies(scheduledFiles, consumer).map { case (l, v) =>
      ctx.attempt(s"file ${l.name}") {
        if (v.isEmpty) throw new IllegalStateException(s"${l.name} was not consumed")
      }
      // a file no batch consumed misses any latency limit
      v.getOrElse(Double.PositiveInfinity)
    }
    val drainMs = bursts.map { b =>
      val ends = StreamLatency.latencies(b, consumer).map(_._2)
      ctx.attempt("burst") {
        if (ends.exists(_.isEmpty)) throw new IllegalStateException("burst not drained")
      }
      ends.flatten.maxOption.getOrElse(Double.PositiveInfinity)
    }
    val drainDocsPerS = bursts.flatten.map(_.docs).sum / (drainMs.sum / 1000.0)
    val phaseBatches = consumer.values.toSeq.distinct.sortBy(_.id)
    ctx.attempt("phase input rows") {
      val rows = phaseBatches.map(_.inputRows).sum
      val want = files.map(_.docs).sum
      if (rows != want) throw new IllegalStateException(s"batches read $rows rows, $want landed")
    }
    if (t.enabled) traceFiles(ctx, files, consumer)
    val p50 = Stats.median(samples)
    val (tailPct, tailMs) = Stats.tail(samples)
    val nb = math.max(phaseBatches.size, 1).toDouble
    def med(f: Batch => Long) = Stats.medianOr0(phaseBatches.map(f(_).toDouble))
    def medDur(k: String) = med(_.durations.getOrElse(k, 0L))
    Phase(files.size, wall, p50, Map(
      "stream_latency_p50_ms" -> Metric(p50, "ms", samples.size),
      "stream_latency_p90_ms" -> Metric(Stats.percentile(samples, 90.0), "ms", samples.size),
      "stream_samples_beyond_p90" -> Metric(Stats.beyond(samples.size, 90.0), "count", samples.size),
      "stream_latency_tail_ms" -> Metric(tailMs, "ms", samples.size),
      "stream_latency_tail_pct" -> Metric(tailPct, "%", samples.size),
      "stream_drain_docs_per_s" -> Metric(drainDocsPerS, "docs/s", bursts.size),
      "stream_trigger_ms_p50" -> Metric(medDur("triggerExecution"), "ms", phaseBatches.size),
      "stream_generator_late_ms_max" -> Metric(late.toDouble, "ms", scheduled)),
      layer = if (!t.enabled) Map.empty else Map(
        "streaming.batches" -> phaseBatches.size.toDouble,
        "streaming.rows_per_batch" -> phaseBatches.map(_.inputRows).sum / nb,
        "streaming.trigger_ms" -> medDur("triggerExecution"),
        "streaming.add_batch_ms" -> medDur("addBatch"),
        "streaming.query_planning_ms" -> medDur("queryPlanning"),
        "streaming.latest_offset_ms" -> medDur("latestOffset"),
        "streaming.get_batch_ms" -> medDur("getBatch"),
        "streaming.wal_commit_ms" -> medDur("walCommit"),
        "streaming.commit_offsets_ms" -> medDur("commitOffsets"),
        "streaming.state_commit_ms" -> med(_.stateCommitMs),
        "streaming.state_rows" -> phaseBatches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
        "streaming.state_mem_bytes" -> phaseBatches.lastOption.map(_.stateMemBytes.toDouble).getOrElse(0.0),
        "streaming.backlog_files_max" -> StreamLatency.backlogMax(files, consumer).toDouble))
  }

  /** Spans of each file: waiting for a batch, then the batch that read it
    * with its progress phases laid out in execution order. The batch span
    * itself names no layer: the part of the trigger that no reported
    * phase covers is unattributed. */
  private def traceFiles(ctx: Ctx, files: Seq[Landed], consumer: Map[String, Batch]): Unit = {
    val t = ctx.tracer
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val ns = (ms: Long) => t.epochMsToNs(ms)
    files.foreach { l =>
      consumer.get(l.name).foreach { b =>
        val op = t.newId()
        val begin = math.max(l.dueMs, b.startMs)
        t.record(Span(op, op, 0L, "file", "op", ns(l.dueMs), ns(b.endMs)))
        t.record(Span(op, t.newId(), op, "streaming.queue_wait", "streaming", ns(l.dueMs), ns(begin)))
        val bid = t.newId()
        t.record(Span(op, bid, op, "batch", "op", ns(begin), ns(b.endMs)))
        var at = b.startMs
        order.foreach { k =>
          val d = b.durations.getOrElse(k, 0L)
          if (d > 0) t.record(Span(op, t.newId(), bid, s"streaming.$k", "streaming",
            ns(at), ns(math.min(at + d, b.endMs))))
          at += d
        }
      }
    }
  }

  def endToEnd(p: Phase): Map[String, Metric] = Map(
    "latency_p50_ms" -> p.metrics("stream_latency_p50_ms"),
    "throughput_per_s" -> p.metrics("stream_drain_docs_per_s"))

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }
}
