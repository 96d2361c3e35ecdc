package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.etl.KnowledgeBase
import graft.streaming.Streams

/** customs_stream: open loop. Monthly declaration files (one block of
  * `CustomsGen.BlockRows` rows each, the reference's batch size) are
  * written at setup; a generator thread releases one every `IntervalMs`
  * into the input directory of `Streams.pipelineStream` by rename, so it
  * takes no Spark capacity from the system under test. Each op is one
  * released file; its latency runs from its scheduled release to the
  * commit of the micro-batch that contains it. */
final class CustomsStream(spark: SparkSession, seed: Long, seconds: Double, work: String)
    extends Workload {
  import CustomsStream._

  private val staging = s"$work/stream_staging"
  private val incoming = s"$work/stream_in"
  private val sinkDir = s"$work/stream_sink"
  private val ckpt = s"$work/stream_ckpt"
  private var query: StreamingQuery = _
  private var nextFile = 0
  /** Warm-up files plus the files one window of `seconds` releases. */
  private val months = WarmFiles + (seconds * 1000 / IntervalMs).toInt + 2
  /** batch id → (commit time, input rows), from the query's progress. */
  private val commits = mutable.Map.empty[Long, (Double, Long)]
  private val committedRows = new java.util.concurrent.atomic.AtomicLong(0)

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val end = start + p.durationMs.get("triggerExecution").toDouble
        commits.synchronized(commits(p.batchId) = (end, p.numInputRows))
        committedRows.addAndGet(p.numInputRows)
      }
    }
  }

  def setup(): Unit = {
    Main.inGroup(spark, "setup") {
      CustomsGen.writeMonths(spark, seed, 0, months, staging)
    }
    Main.log(s"wrote $months monthly files")
    new java.io.File(incoming).mkdirs()
    spark.streams.addListener(progressListener)
    query = Streams.pipelineStream(spark, CustomsGen.schema, incoming, sinkDir, ckpt,
      KnowledgeBase.sampleModelKb(spark), KnowledgeBase.sampleRegexKb(spark),
      KnowledgeBase.sampleRates(spark)).start()
    // warm-up: a few files, one micro-batch each, before the schedule starts
    for (_ <- 0 until WarmFiles) {
      release(nextFile); nextFile += 1
      query.processAllAvailable()
      Main.log(s"warm-up file $nextFile committed")
    }
  }

  private def release(k: Int): Unit =
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$staging/month_$k.parquet"),
      java.nio.file.Paths.get(s"$incoming/month_$k.parquet"))

  def measure(seconds: Double, tracer: Option[Tracer]): Window = {
    val n = math.max(2, (seconds * 1000 / IntervalMs).toInt)
    require(nextFile + n <= months, "not enough pre-written monthly files")
    val first = nextFile
    nextFile += n
    val rowsBefore = committedRows.get()
    // the first release waits one interval, as every later one does: a file
    // released right after the last warm-up commit was the slowest of the
    // window in most runs
    val t0 = Util.nowMs() + IntervalMs
    val scheduled = Array.tabulate(n)(k => t0 + k * IntervalMs)
    val late = new Array[Double](n)
    var backlogMax = 0L
    val gen = new Thread(() => {
      for (k <- 0 until n) {
        val wait = scheduled(k) - Util.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val committedFiles = (committedRows.get() - rowsBefore) / CustomsGen.BlockRows
        backlogMax = math.max(backlogMax, k - committedFiles)
        release(first + k)
        late(k) = Util.nowMs() - scheduled(k)
      }
    }, "perfbench-file-generator")
    gen.start()
    gen.join()
    query.processAllAvailable()
    // let the progress listener see the last commit
    val deadline = System.nanoTime() + 10e9.toLong
    while (committedRows.get() - rowsBefore < n.toLong * CustomsGen.BlockRows && System.nanoTime() < deadline)
      Thread.sleep(20)

    val fileBatch = filesByBatch()
    val perBatch = Main.inGroup(spark, "check")(checkBatches())
    val histOk = Main.inGroup(spark, "check")(checkHistogram())
    val ops = (0 until n).map { k =>
      val file = first + k
      val batch = fileBatch.get(file)
      val commit = batch.flatMap(b => commits.synchronized(commits.get(b))).map(_._1)
      val ok = histOk && batch.exists(b => perBatch.getOrElse(b, false)) && commit.isDefined
      val end = commit.getOrElse(Double.NaN)
      OpRec(s"file-$file", "file", scheduled(k), end, end - scheduled(k), Double.NaN, Double.NaN,
        CustomsGen.BlockRows.toDouble, failed = !ok)
    }
    val lastCommit = ops.map(_.end).filterNot(_.isNaN).foldLeft(t0)(math.max)
    val batchOps = tracer.map(t => batchRecords(t, fileBatch.filter { case (f, _) => f >= first }.values.toSet))
      .getOrElse(Nil)
    Window(ops, (lastCommit - t0) / 1000, Map(
      "streaming.backlog_files_max" -> backlogMax.toDouble,
      "streaming.generator_late_s" -> late.max / 1000), batchOps)
  }

  /** Micro-batches as traced ops: the pipeline construction inside
    * `foreachBatch` is the batch's addBatch time less its sink write. */
  private def batchRecords(t: Tracer, batches: Set[Long]): Seq[OpRec] = {
    val prog = t.progress.map(_.progress).filter(p => batches(p.batchId)).map(p => p.batchId -> p).toMap
    batches.toSeq.sorted.flatMap { b =>
      prog.get(b).map { p =>
        val op = s"batch-$b"
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val end = start + p.durationMs.get("triggerExecution").toDouble
        val addBatch = p.durationMs.get("addBatch").toDouble
        val write = t.executions.filter(x => x._2 == op && x._5).map(x => x._4 - x._3)
        val writeMs = if (write.isEmpty) Double.NaN else write.max
        // addBatch ends with the sink write: construction comes before it
        val addStart = end - p.durationMs.get("commitOffsets").toDouble - addBatch
        t.add(op, "op", s"micro-batch $b", start, end)
        t.add(op, "construct", "Pipeline.run in foreachBatch", addStart, addStart + addBatch - writeMs)
        t.add(op, "action", "sink write", addStart + addBatch - writeMs, addStart + addBatch)
        val dir = new java.io.File(s"$sinkDir/__batch_id=$b")
        val files = Util.partFiles(dir.getPath)
        OpRec(op, "etl", start, end, end - start, addBatch - writeMs, writeMs, 0.0, failed = false,
          sinkFiles = files.size.toDouble, sinkBytes = files.map(_.length).sum.toDouble,
          inputBytes = p.numInputRows.toDouble / CustomsGen.BlockRows * monthBytes)
      }
    }
  }

  private lazy val monthBytes: Double =
    new java.io.File(s"$incoming/month_0.parquet").length.toDouble

  /** Which micro-batch read each monthly file, from the file source's log
    * in the checkpoint (one JSON line per file: path and batch id; every
    * tenth log file is a compaction of all earlier ones). */
  private def filesByBatch(): Map[Int, Long] = {
    val dir = new java.io.File(s"$ckpt/sources/0")
    val Entry = """.*"path":"[^"]*month_(\d+)\.parquet".*"batchId":(\d+).*""".r
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.stripSuffix(".compact").forall(_.isDigit))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      .collect { case Entry(m, b) => m.toInt -> b.toLong }.toMap
  }

  /** Untimed: each committed batch holds exactly the kept rows of the
    * monthly files it read. */
  private def checkBatches(): Map[Long, Boolean] = {
    val files = filesByBatch().groupBy(_._2).map { case (b, fs) => b -> fs.size }
    val got = spark.read.parquet(sinkDir).groupBy(col("__batch_id")).count().collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    files.map { case (b, nf) => b -> got.get(b).contains(nf * CustomsGen.keptPerBlock) }
  }

  /** Untimed: the whole sink's remark × outliers × type-interval histogram
    * against the generator's expectation for the files committed so far. */
  private def checkHistogram(): Boolean = {
    val blocks = filesByBatch().size.toLong
    val got = spark.read.parquet(sinkDir)
      .groupBy(col("remark"), col("outliers"), col("`type interval`")).count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    val ok = got == CustomsGen.expectedHistogram(blocks)
    if (!ok) System.err.println(s"[perfbench] customs_stream histogram check failed: $got")
    ok
  }

  override def close(): Unit = {
    if (query != null) query.stop()
    spark.streams.removeListener(progressListener)
  }
}

object CustomsStream {
  /** Release interval. A warm micro-batch of one file takes about 2 s on
    * four cores (its fixed cost), so files arrive at roughly three quarters
    * of the one-file-per-batch saturation rate. */
  val IntervalMs = 2500.0
  /** Warm-up files: the micro-batch time keeps falling over the first few. */
  val WarmFiles = 6
}
