package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a timed op returns: the user rows it read or wrote, and the
  * output check, run after the op's clock stops. The check is also where
  * a workload updates its model of the expected state. */
final case class Outcome(rows: Long, check: () => Unit = () => ())

/** One closed-loop request: `kind` is "read" or "write". `prepare` runs
  * before the op's clock starts and draws the op's inputs from the
  * workload's model; the body it returns is the timed call into graft. */
final case class Op(kind: String, name: String, prepare: () => () => Outcome)

object Op {
  /** An op whose inputs need no preparation. */
  def timed(kind: String, name: String)(body: => Outcome): Op =
    Op(kind, name, () => () => body)
}

final case class Ctx(spark: SparkSession, seed: Long, work: File,
    cores: Int, opts: Map[String, String])

trait Workload {
  /** Generate and load the inputs; untimed, counted in set-up time. */
  def setup(ctx: Ctx): Unit
  /** Ops run once before timing so that JIT and caches are warm. */
  def warmup(): Seq[Op]
  /** The ops of cycle `c`. A run is whole cycles, so every run sees the
    * same mix of op kinds. */
  def cycle(c: Int): Seq[Op]
  /** Seconds one cycle takes on the reference box (4 CPUs): `--seconds`
    * fixes the number of cycles, so a run on a faster or slower commit or
    * machine does the same ops (time-bound runs would give a faster
    * commit more, and warmer, cycles). */
  def cycleSeconds: Double
  /** End-of-run gauges for the traced run. */
  def finish(): Unit = ()
}

final case class OpRecord(i: Int, kind: String, name: String,
    startUs: Double, ms: Double, rows: Long, ok: Boolean, err: String)

/** Benchmark JVM entry point. Runs one workload for a fixed number of
  * cycles and writes per-op records (and, traced, spans) as JSON lines
  * to the out directory; `perfbench/run.py` turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    val cores = opts.getOrElse("cores",
      Runtime.getRuntime.availableProcessors().toString).toInt
    out.mkdirs()

    val workload: Workload = name match {
      case "etl_jdbc" => new EtlJdbc
      case "lake_versioned" => new LakeVersioned
      case "sql_mix" => new SqlMix
      case other => sys.error(s"unknown workload $other")
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1000.0
    val phases = mutable.LinkedHashMap.empty[String, Double]
    val spark = Session.build(cores, work, traced)
    phases("session") = sinceStart
    val ctx = Ctx(spark, seed, work, cores, opts)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    var setupS = 0.0
    try {
      workload.setup(ctx)
      phases("inputs") = sinceStart - phases.values.sum
      workload.warmup().foreach(op => op.prepare()().check())
      setupS = sinceStart
      phases("warmup") = setupS - phases.values.sum
      if (traced) Trace.start(spark)
      val cycles = math.max(2, math.round(seconds / workload.cycleSeconds))
      for (c <- 0 until cycles.toInt)
        workload.cycle(c).foreach(op => records += runOp(spark, records.size, op))
      Trace.finish(spark)
      workload.finish()
    } finally {
      writeResults(out, name, seed, traced, setupS, phases.toMap, records.toSeq)
      spark.stop()
    }
  }

  private def runOp(spark: SparkSession, i: Int, op: Op): OpRecord = {
    val body = try Right(op.prepare()) catch { case NonFatal(e) => Left(e) }
    Trace.opBegin(spark, i, op.name)
    val startUs = Trace.nowUs
    val t0 = System.nanoTime()
    val res = body.flatMap { b =>
      try Right(b()) catch { case NonFatal(e) => Left(e) }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    Trace.opEnd(spark, i)
    val checked = res.flatMap { o =>
      try { o.check(); Right(o.rows) } catch { case NonFatal(e) => Left(e) }
    }
    checked match {
      case Right(rows) => OpRecord(i, op.kind, op.name, startUs, ms, rows,
        ok = true, null)
      case Left(e) =>
        System.err.println(s"[perfbench] op $i ${op.name} failed: $e")
        OpRecord(i, op.kind, op.name, startUs, ms, 0, ok = false,
          String.valueOf(e))
    }
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def writeResults(out: File, name: String, seed: Long,
      traced: Boolean, setupS: Double, phases: Map[String, Double],
      recs: Seq[OpRecord]): Unit = {
    Json.writeLines(new File(out, "ops.jsonl"), recs.map { r =>
      val c = Option(Trace.counters.get(r.i)).map(_.asScala.toMap)
        .getOrElse(Map.empty)
      Map("i" -> r.i, "kind" -> r.kind, "name" -> r.name,
        "start_us" -> r.startUs, "ms" -> r.ms, "rows" -> r.rows,
        "ok" -> r.ok, "err" -> r.err, "c" -> c)
    })
    if (traced) {
      val spans = Trace.clientSpans.toSeq ++ Trace.listenerSpans.toSeq
      Json.writeLines(new File(out, "spans.jsonl"), spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
          "start" -> s.start, "end" -> s.end,
          "parent" -> (if (s.parent < 0) null else s.parent))
      })
    }
    Json.writeLines(new File(out, "summary.json"), Seq(Map(
      "workload" -> name, "seed" -> seed, "setup_s" -> setupS,
      "setup_phases_s" -> phases,
      "peak_rss_mb" -> peakRssMb(),
      "gauges" -> Trace.gauges.asScala.toMap)))
  }
}

/** The benchmark's Spark session: local[N] with N shuffle partitions,
  * everything it writes kept under the work directory. */
object Session {
  def build(cores: Int, work: File, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.catalog.lake", "graft.sources.v2.GraftCatalog")
      .config("spark.sql.catalog.lake.root", new File(work, "lake").getPath)
    graft.Tables.RequiredConf.foreach { case (k, v) => b.config(k, v) }
    if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** JSON lines for the result files. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  def writeLines(f: File, rows: Seq[Map[String, Any]]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try rows.foreach(r => w.println(org.json4s.jackson.Serialization.write(r)))
    finally w.close()
  }
}
