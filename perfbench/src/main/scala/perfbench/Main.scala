package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation: a released file, a micro-batch or a registry query.
  * `latencyMs` is what the user waits for; `constructMs` and `actionMs`
  * split it where the benchmark can see the boundary (NaN where it cannot).
  * Ops of one `item` (the same registry query in several passes) count as
  * one latency sample, their median. */
final case class OpRec(op: String, kind: String, start: Double, end: Double,
    latencyMs: Double, constructMs: Double, actionMs: Double, units: Double,
    failed: Boolean, sinkFiles: Double = Double.NaN, sinkBytes: Double = Double.NaN,
    inputBytes: Double = Double.NaN, item: String = "")

/** What one measured window produced. `busyS` is the time the work rate is
  * taken over. */
final case class Window(ops: Seq[OpRec], busyS: Double, extra: Map[String, Double] = Map.empty,
    layerOps: Seq[OpRec] = Nil) {
  /** The ops per-layer metrics are taken over (micro-batches for the stream,
    * whose timed ops are files). */
  def traced: Seq[OpRec] = if (layerOps.isEmpty) ops else layerOps
}

trait Workload {
  /** Generate the inputs and warm up; everything before the first timed op. */
  def setup(): Unit
  /** Run timed ops for about `seconds`; `tracer` is set in the traced half. */
  def measure(seconds: Double, tracer: Option[Tracer]): Window
  /** Per-query or per-batch detail for the trace file (JSON). */
  def detail(w: Window, tracer: Tracer): String = "{}"
  def close(): Unit = ()
}

/** Entry point of one benchmark run. Usage:
  * {{{perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE}}}
  * Writes the result object to FILE and prints it as the last stdout line. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new java.io.File(arg("work")).getAbsolutePath

    val spark = session(work)
    log("session ready")
    val workload: Workload = workloadName match {
      case "customs_stream" => new CustomsStream(spark, seed, seconds, work)
      case "registry_sweep" => new RegistrySweep(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    workload.setup()
    log("setup done")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val (metrics, windows) =
      if (!traced) {
        val w = workload.measure(seconds, None)
        (endToEnd(w, setupS), Seq(w))
      } else {
        // untraced half first, then the same work with every listener on;
        // the difference in median op latency is the tracing overhead
        val plain = workload.measure(seconds / 2, None)
        val tracer = new Tracer
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        spark.streams.addListener(tracer.streamListener)
        val cg0 = Tracer.codegen()
        val w = workload.measure(seconds / 2, Some(tracer))
        val cg1 = Tracer.codegen()
        // let the listener bus drain before reading the trace
        Thread.sleep(500)
        val layers = Layers.compute(w, tracer, cg0, cg1, spark) ++ Seq(
          "trace.overhead_pct" -> 100 * (Stats.median(latencies(w.ops)) /
            Stats.median(latencies(plain.ops)) - 1))
        val tracePath = s"$work/trace_${workloadName}_$seed.json"
        tracer.write(tracePath, workload.detail(w, tracer))
        System.err.println(s"[perfbench] trace written to $tracePath")
        (layers, Seq(plain, w))
      }
    workload.close()
    spark.stop()

    val ops = windows.flatMap(_.ops)
    log("op latencies (ms): " + ops.map(o => (if (o.item.isEmpty) "" else o.item + ":") + f"${o.latencyMs}%.0f")
      .mkString(" "))
    val failed = ops.count(_.failed)
    val units = Map("setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
      "throughput_per_s" -> "1/s")
    val body = Json.obj(Seq(
      "correct" -> (if (failed == 0 && ops.nonEmpty) "true" else "false"),
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units.getOrElse(k, Layers.unit(k)))))
      })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("out")), body + "\n")
    println(body)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // same codegen cache size as graft.Bench: the registry compiles far
      // more distinct plans than Spark's default 100 entries hold
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.LogHygiene.suppressAccumulatorReleaseNoise()
    spark
  }

  /** Latency samples: one per op, or per item where ops share one. */
  def latencies(ops: Seq[OpRec]): Seq[Double] =
    ops.groupBy(o => if (o.item.isEmpty) o.op else o.item).values
      .map(os => Stats.median(os.map(_.latencyMs))).toSeq

  def endToEnd(w: Window, setupS: Double): Seq[(String, Double)] = {
    val lat = latencies(w.ops)
    Seq(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(lat),
      "latency_tail_ms" -> Stats.tail(lat)._2,
      "throughput_per_s" -> w.ops.map(_.units).sum / w.busyS)
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s] $msg")

  /** Run `f` with the job group `op`, so every Spark job it starts carries
    * the op's id. */
  def inGroup[A](spark: SparkSession, op: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(op, op, interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
  }
}
