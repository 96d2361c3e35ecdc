package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry

/** registry_sweep: closed loop, one client. Each pass runs every query of
  * a fixed panel of `SparkEntry.queries` in a seed-shuffled order over the
  * generated corpus. A query's time is the call that builds its DataFrame
  * (iterative operators run their jobs there) plus one action that
  * computes every output column and the final ordering: a write to
  * Spark's `noop` sink. `count()` would let Catalyst prune unused columns
  * and drop the final sort, timing a smaller plan than users run. */
final class RegistrySweep(spark: SparkSession, seed: Long, work: String) extends Workload {
  import RegistrySweep._

  private val dataDir = s"$work/registry_data"
  private val panel: Seq[Expected] = loadPanel()
  private val fns = SparkEntry.queries
  private var pass = 0
  /** Queries whose result digest differs from the recorded one. */
  private var wrong = Set.empty[String]

  def setup(): Unit = {
    Main.inGroup(spark, "setup")(RegistryData.write(spark, dataDir, Scale, panel.flatMap(_.tables).toSet))
    Main.log("wrote the registry corpus")
    // warm-up: a first pass runs each query's timed action with its result
    // digest observed on the way and checks the digest; the JIT keeps
    // speeding the queries up over the next passes, so two more run untimed
    panel.foreach { e =>
      val got = Main.inGroup(spark, "warm") {
        scala.util.Try {
          val (df, obs) = observed(fns(e.name)(spark, dataDir))
          noop(df)
          digestOf(obs)
        }.toOption
      }
      if (!got.contains(e.digest)) {
        wrong += e.name
        System.err.println(s"[perfbench] registry digest mismatch: ${e.name}: $got")
      }
    }
    for (_ <- 1 until WarmPasses; e <- panel)
      scala.util.Try(Main.inGroup(spark, "warm")(noop(fns(e.name)(spark, dataDir))))
    Main.log(s"$WarmPasses warm-up passes over ${panel.size} queries done")
    spark.catalog.clearCache()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def measure(seconds: Double, tracer: Option[Tracer]): Window = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    val firstPass = pass
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes; another starts only if it should end in the window
    while (pass == firstPass || elapsed * (pass - firstPass + 1) / (pass - firstPass) <= seconds) {
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(panel.map(_.name))
      order.foreach { name =>
        val op = s"p$pass-$name"
        Util.settle()
        val s = Util.nowMs()
        var c = s
        val threw = Main.inGroup(spark, op) {
          scala.util.Try {
            val df = fns(name)(spark, dataDir)
            c = Util.nowMs()
            noop(df)
          }.isFailure
        }
        val e = Util.nowMs()
        ops += OpRec(op, "query", s, e, e - s, c - s, e - c, 1.0, failed = threw || wrong(name),
          item = name)
        tracer.foreach { t =>
          val id = t.add(op, "op", name, s, e)
          t.add(op, "construct", "SparkEntry.queries call", s, c, id)
          t.add(op, "action", "noop sink write", c, e, id)
        }
      }
      spark.catalog.clearCache()
      pass += 1
    }
    Window(ops.toSeq, ops.map(_.latencyMs).sum / 1000)
  }

  override def detail(w: Window, t: Tracer): String =
    w.ops.groupBy(_.item).toSeq.sortBy(_._1).map { case (name, os) =>
      Json.str(name) -> Json.obj(Seq(
        "runs" -> os.size.toString,
        "latency_ms" -> Json.num(Stats.median(os.map(_.latencyMs))),
        "construct_ms" -> Json.num(Stats.median(os.map(_.constructMs))),
        "action_ms" -> Json.num(Stats.median(os.map(_.actionMs))),
        "plan_ms" -> Json.num(Stats.median(os.map(o => t.planMsWithin(o.start, o.end)))),
        "jobs" -> Json.num(os.map(o => t.jobsByOp.get(o.op).map(_.size).getOrElse(0)).sum.toDouble / os.size),
        "construct_jobs" -> Json.num(os.map(o => t.jobsWithin(o.op, o.start, o.start + o.constructMs)).sum.toDouble / os.size)))
    }.map { case (k, v) => s"$k:$v" }.mkString("{", ",", "}")
}

object RegistrySweep {
  /** Corpus scale, in the engine test corpus' scale-factor units. */
  val Scale = 0.01
  val WarmPasses = 3

  final case class Expected(name: String, digest: Digest, tables: Seq[String])
  final case class Digest(rows: Long, xor: Long, sum: Long)

  /** `df` observing an order-insensitive digest of every row and column:
    * row count, and the xor and bounded sum of the rows' 64-bit hashes. */
  def observed(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols.toIndexedSeq: _*)
    val obs = org.apache.spark.sql.Observation("digest")
    val out = named.observe(obs, count(lit(1)).as("n"), coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)).as("s"))
    (out.toDF(df.columns.toIndexedSeq: _*), obs)
  }

  def digestOf(obs: org.apache.spark.sql.Observation): Digest = {
    val m = obs.get
    Digest(m("n").asInstanceOf[Long], m("x").asInstanceOf[Long], m("s").asInstanceOf[Long])
  }

  /** The panel, the tables each query reads, and its expected digests, recorded by `RegistryRecord` and
    * checked against the DuckDB oracle (`oracle_check.py`). */
  def loadPanel(): Seq[Expected] = {
    val in = getClass.getResourceAsStream("/registry_panel.tsv")
    require(in != null, "registry_panel.tsv missing from the classpath")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t"))
      .map(f => Expected(f(0), Digest(f(1).toLong, f(2).toLong, f(3).toLong), f(4).split(",").toSeq))
      .toSeq
  }
}

/** Maintenance tool: run registry queries once over the generated corpus,
  * dump each result as parquet for the oracle comparison, and print one
  * line per query: name, wall ms, digest (or the error). Usage:
  * {{{perfbench.RegistryRecord <work dir> <out dir> [name prefix,...]}}} */
object RegistryRecord {
  def main(args: Array[String]): Unit = {
    val work = new java.io.File(args(0)).getAbsolutePath
    val out = args(1)
    val keep: String => Boolean = args.lift(2) match {
      case Some(p) => val ps = p.split(","); n => ps.exists(n.startsWith)
      case None => _ => true
    }
    val spark = Main.session(work)
    val dataDir = s"$work/registry_data"
    RegistryData.write(spark, dataDir, RegistrySweep.Scale, RegistryData.Tables.toSet)
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1)).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val res = scala.util.Try {
        val (df, obs) = RegistrySweep.observed(fn(spark, dataDir))
        df.write.mode("overwrite").parquet(s"$out/$name")
        RegistrySweep.digestOf(obs)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val line = res.map(d => s"$name\t${d.rows}\t${d.xor}\t${d.sum}\t$ms")
        .getOrElse(s"$name\tERROR\t${res.failed.get.getMessage.take(200).replace('\n', ' ')}\t\t$ms")
      System.err.println(line)
      line
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/digests.tsv"), lines.mkString("\n") + "\n")
    val oracle = graft.SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), oracle)
    spark.stop()
  }
}
