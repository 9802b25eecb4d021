package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Engine-side runner of the benchmark: one JVM, one `GraftSession.local`,
 * one client issuing ops in a closed loop. It times set-up and every op,
 * keeps each op's output for checking after the timed window, and writes
 * raw records that `perfbench/run.py` turns into metrics.
 *
 * Usage: Main <workload> <runDir> <dataDir> <seconds> <trace 0|1> <cpus>
 *
 * `dataDir` holds the source tables; `runDir` holds the traffic files the
 * generator wrote and receives `ops.jsonl`, `result.json` and, traced,
 * `spans.json`. Workload `train` runs the set-up of every workload in one
 * session and nothing else: run.py archives the classes it loads.
 */
object Main extends AdaptiveSparkPlanHelper {

  def main(args: Array[String]): Unit = {
    val Array(workload, runDirArg, dataDir, secondsArg, traceArg, cpusArg) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val runDir = Paths.get(runDirArg)
    val spark = graft.core.GraftSession.local(cpusArg.toInt)
    val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    if (workload == "train") {
      Seq(new OmServe(spark, runDir), new ReconBatch(spark, runDir),
        new CdcIngest(spark, runDir))
        .foreach(_.setUp(dataDir, new SetupClock(new Tracer(false))))
      spark.stop()
      return
    }
    val w: Workload = workload match {
      case "om-serve" => new OmServe(spark, runDir)
      case "recon-batch" => new ReconBatch(spark, runDir)
      case "cdc-ingest" => new CdcIngest(spark, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(traceArg == "1")
    val setup = w.setUp(dataDir, new SetupClock(tracer))
    val result = new Runner(spark, w, secondsArg.toDouble, tracer, runDir).run()
    val json = s"""{"session_start_s":${f(sessionStartS)},""" +
      s""""setup_s":${f(sessionStartS + setup("total_s"))},""" +
      setup.map { case (k, v) => s""""$k":${f(v)}""" }.mkString(""""setup":{""", ",", "},") +
      result + "}\n"
    Files.writeString(runDir.resolve("result.json"), json)
    spark.stop()
  }

  def f(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** The scans of an executed plan, AQE stages and subqueries included. */
  def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }

  /** Rows rendered one line each, columns in the given order. */
  def lines(rows: Array[Row], cols: Seq[String]): Seq[String] =
    rows.toSeq.map(r => cols.map(c => String.valueOf(r.get(r.fieldIndex(c))))
      .mkString("\u0001"))
}

/** What one workload does; the Runner times and traces it. */
trait Workload {
  /** Build everything the timed ops need from source dir `d` and warm up,
    * timing each step with `time`; returns the step timings in seconds,
    * `total_s` included. */
  def setUp(d: String, time: SetupClock): Map[String, Double]
  /** Run op `i` of the timed window through `ctx`. */
  def op(i: Int, ctx: OpContext): Unit
  /** Ops run in whole groups (a recon-batch pass); the window ends on a
    * group boundary. */
  def groupSize: Int = 1
  /** Check every kept output after the window; returns failure messages. */
  def check(): Seq[String]
  /** Workload-specific fields for result.json, comma-separated. */
  def extra(): String = ""
}

/** The calls an op makes, each one a span when traced. */
final class OpContext(val tracer: Tracer, val id: Int) {
  var tpe = ""
  var kind = "read"
  var rows = 0L
  var df: DataFrame = _
  var extraFields = ""

  /** construct (in `layer`) → plan → collect, the three phases of a read. */
  def query(layer: String)(construct: => DataFrame): Array[Row] = {
    df = tracer.span(layer, id)(construct)
    tracer.span("plans.plan", id)(df.queryExecution.executedPlan)
    val out = tracer.span("spark.execute", id)(df.collect())
    rows = out.length
    out
  }

  def call[T](layer: String)(body: => T): T = tracer.span(layer, id)(body)
}

/** The timed window and the traced counts around it. */
final class Runner(spark: SparkSession, w: Workload, seconds: Double,
                   tracer: Tracer, runDir: Path) {
  import Main.{f, q}

  def run(): String = {
    val ops = mutable.ArrayBuffer.empty[String]
    // Traced, a traced window runs between two untraced ones of the same
    // length: traced minus the two untraced pooled is the tracing overhead,
    // with the drift of a still-warming JVM cancelled to first order.
    val trace = tracer.enabled
    val untraced = new Tracer(false)
    var i = 0
    def window(tr: Tracer): Double = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (elapsed < seconds || i % w.groupSize != 0) {
        val ctx = new OpContext(tr, i)
        val (_, wall) = Main.timed(tr.span("op", i)(w.op(i, ctx)))
        ops += opJson(i, ctx, wall, tr)
        i += 1
      }
      elapsed
    }
    val windows = Seq(window(untraced)) ++ (if (trace) {
      tracer.attach(spark.sparkContext)
      val t = window(tracer)
      tracer.detach()
      Seq(t, window(untraced))
    } else Nil)
    val failures = w.check()
    val sc = spark.sparkContext
    val storage = sc.getRDDStorageInfo.filter(_.isCached)
    val cachedMb = storage.map(r => r.memSize + r.diskSize).sum / 1048576.0
    if (trace) Files.writeString(runDir.resolve("spans.json"), tracer.spansJson)
    Files.write(runDir.resolve("ops.jsonl"), ops.asJava)
    s""""windows_s":${windows.map(f).mkString("[", ",", "]")},""" +
      s""""ops":$i,"failures":${failures.map(q).mkString("[", ",", "]")},""" +
      s""""persisted_rdds":${sc.getPersistentRDDs.size},"cached_mb":${f(cachedMb)}""" +
      Some(w.extra()).filter(_.nonEmpty).map("," + _).getOrElse("")
  }

  private def opJson(i: Int, ctx: OpContext, wall: Double, tr: Tracer): String = {
    val base = s"""{"i":$i,"type":${q(ctx.tpe)},"kind":"${ctx.kind}",""" +
      s""""wall_ms":${f(wall)},"rows":${ctx.rows},"traced":${tr.enabled}"""
    if (!tr.enabled) return base + ctx.extraFields + "}"
    tr.drain()
    val opSpans = tr.spans.filter(_.op == i).toSeq
    val self = tr.selfMs(opSpans)
    val jobsBy = tr.jobsBySpan(opSpans.map(_.id))
    // per layer: self time and jobs started while it was the innermost span
    val byLayer = opSpans.groupBy(_.name).map { case (name, ss) =>
      name -> (ss.map(s => self(s.id)).sum,
        ss.map(s => (s.endNs - s.startNs) / 1e6).sum,
        ss.flatMap(s => jobsBy.getOrElse(s.id, Nil)).size)
    }
    val allJobs = jobsBy.values.flatten.toSeq
    val stages = tr.stagesOf(allJobs)
    val ts = tr.taskStats(stages)
    val sc = if (ctx.df != null) Main.scans(ctx.df) else Nil
    val pushed = sc.count { s =>
      val parts = s.partitionFilters.flatMap(_.references.map(_.name)).toSet
      val data = s.dataFilters.flatMap(_.references.map(_.name)).toSet
      parts("volume") && parts("bucket") && data("key")
    }
    val files = sc.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    base + ctx.extraFields +
      byLayer.map { case (n, (selfMs, durMs, jobs)) =>
        s""""$n":{"self_ms":${f(selfMs)},"ms":${f(durMs)},"jobs":$jobs}"""
      }.mkString(""","layers":{""", ",", "}") +
      s""","jobs":${allJobs.size},"stages":${tr.stagesRun(stages)},""" +
      s""""tasks":${ts.tasks},"task_ms":${ts.runMs},"cpu_ms":${f(ts.cpuNs / 1e6)},""" +
      s""""gc_ms":${ts.gcMs},"shuffle_write_b":${ts.shuffleWrite},""" +
      s""""shuffle_read_b":${ts.shuffleRead},"spill_b":${ts.spill},""" +
      s""""peak_mem_b":${ts.peakExecMem},"input_b":${ts.inputBytes},""" +
      s""""input_rows":${ts.inputRecords},"scans":${sc.size},""" +
      s""""scans_range_pushed":$pushed,"scan_files":$files}"""
  }
}
