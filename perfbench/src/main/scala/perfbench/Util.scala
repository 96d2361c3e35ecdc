package perfbench

/** Small helpers with no Spark dependency. */
object Util {

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** The part files of a parquet output directory, at any depth. */
  def partFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  /** Wall clock in epoch milliseconds, with the monotonic clock's resolution. */
  private val wall0 = System.currentTimeMillis().toDouble
  private val mono0 = System.nanoTime()
  def nowMs(): Double = wall0 + (System.nanoTime() - mono0) / 1e6

  /** Collect garbage before a timed op, so no op pays for the last one's. */
  def settle(): Unit = System.gc()

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
