package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.core.{Tables => T}
import graft.streaming.{ChangeLog, ChangeStream}

object Io {
  def tsv(p: Path): Vector[Array[String]] =
    Files.readAllLines(p).asScala.toVector.filter(_.nonEmpty).map(_.split("\t", -1))
}

/** Times a set-up step in seconds; traced, each step is also a span. */
final class SetupClock(tracer: Tracer) {
  def apply[T](span: String)(body: => T): (T, Double) = {
    val (r, ms) = Main.timed(tracer.span(span, -1)(body))
    (r, ms / 1000.0)
  }
}

/**
 * om-serve: OM/S3 read RPCs through `graft.Api` over the key-sorted
 * warehouse. Every output is checked against a brute-force filter, sort
 * and limit over the unpruned synthesis view (`Tables.objectsView`).
 */
final class OmServe(spark: SparkSession, runDir: Path) extends Workload {
  private val warmOps = Io.tsv(runDir.resolve("om_warmup.tsv"))
  private val timedOps = Io.tsv(runDir.resolve("om_ops.tsv"))
  private var d = ""
  private val kept = mutable.ArrayBuffer.empty[(Array[String], Seq[String])]

  def setUp(dir: String, time: SetupClock): Map[String, Double] = {
    d = dir
    val (_, wh) = time("core.warehouse_build")(T.objectsSorted(spark, d))
    // the stored tables the RPCs read besides the namespace
    val (_, art) = time("core.artifact_build") {
      T.buckets(spark, d); T.directoriesFso(spark, d); T.filesFso(spark, d)
    }
    val (_, warm) = time("core.warmup")(
      warmOps.foreach(o => run(o, new OpContext(new Tracer(false), -1))))
    Map("warehouse_build_s" -> wh, "artifact_build_s" -> art,
      "warmup_s" -> warm, "total_s" -> (wh + art + warm))
  }

  private def run(o: Array[String], ctx: OpContext): Array[Row] = {
    val Array(tpe, v, b, arg, start, max) = o
    ctx.tpe = tpe
    val api = "api.construct"
    tpe match {
      case "listKeys" => ctx.query(api)(
        graft.Api.listKeys(spark, d, v, b, arg, start, max.toInt))
      case "listObjectsV2" => ctx.query(api)(
        graft.Api.listObjectsV2(spark, d, v, b, arg, start, max.toInt))
      case "lookupKey" => ctx.query(api)(graft.Api.lookupKey(spark, d, v, b, arg))
      case "listStatus" => ctx.query(api)(graft.Api.listStatus(spark, d, v, b, arg))
      case "listStatusFso" => ctx.query(api)(graft.Api.listStatusFso(spark, d, v, b, arg))
    }
  }

  // the generator's block (gen.OM_BLOCK): each holds the exact op mix
  override def groupSize: Int = 40

  def op(i: Int, ctx: OpContext): Unit = {
    val o = timedOps(i % timedOps.size)
    val rows = run(o, ctx)
    kept += ((o, OmServe.render(o(0), rows)))
  }

  def check(): Seq[String] = {
    val view = T.objectsView(spark, d)
      .select("volume", "bucket", "key", "object_id", "data_size",
        "replicated_size", "replication_type", "creation_time",
        "modification_time", "owner", "etag")
      .collect()
    val byBucket = view.groupBy(r => (r.getString(0), r.getString(1)))
    val links = T.bucketLinks(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3))).toMap
    def resolve(vb: (String, String)): (String, String) = {
      var cur = vb
      var hops = 0
      while (links.contains(cur) && hops < 8) { cur = links(cur); hops += 1 }
      cur
    }
    kept.toSeq.flatMap { case (o, got) =>
      val want = OmServe.expected(o, byBucket.getOrElse(resolve((o(1), o(2))), Array.empty))
      if (got == want) None
      else Some(s"om-serve ${o.mkString(" ")}: got ${got.size} rows, " +
        s"want ${want.size}; first difference " +
        got.zipAll(want, "<none>", "<none>").find { case (a, b) => a != b }
          .map { case (a, b) => s"got [$a] want [$b]" }.getOrElse(""))
    }
  }
}

object OmServe {
  private val cols = Map(
    "listKeys" -> Seq("key", "data_size", "replicated_size", "replication_type",
      "creation_time", "owner", "etag"),
    "listObjectsV2" -> Seq("entry", "is_common_prefix", "num_keys", "total_size"),
    "lookupKey" -> Seq("key", "object_id", "data_size", "etag"),
    "listStatus" -> Seq("child", "is_dir", "num_files", "total_size",
      "modification_time"),
    "listStatusFso" -> Seq("child", "is_dir", "num_files", "total_size"))

  /** An op's output as lines in a canonical order: the op's own order for
    * pages, sorted where the RPC leaves the order open. */
  def render(tpe: String, rows: Array[Row]): Seq[String] = {
    val ls = Main.lines(rows, cols(tpe))
    if (tpe == "lookupKey" || tpe == "listStatusFso") ls.sorted else ls
  }

  private def line(xs: Any*): String = xs.map(String.valueOf).mkString("\u0001")

  /** The op's answer by brute force over one bucket's rows of the view. */
  def expected(o: Array[String], rows: Array[Row]): Seq[String] = {
    val Array(tpe, _, _, arg, start, max) = o
    def key(r: Row) = r.getString(2)
    def size(r: Row) = r.getLong(4)
    tpe match {
      case "listKeys" =>
        rows.filter(r => key(r).startsWith(arg) && key(r) > start)
          .sortBy(r => (key(r), size(r), r.getLong(7)))
          .take(max.toInt + 1)
          .map(r => line(key(r), size(r), r.getLong(5), r.getString(6),
            r.getLong(7), r.getString(9), r.getString(10))).toSeq
      case "listObjectsV2" =>
        rows.filter(r => key(r).startsWith(arg) && key(r) > start)
          .groupBy { r =>
            val rest = key(r).substring(arg.length)
            val slash = rest.indexOf('/')
            if (slash >= 0) arg + rest.substring(0, slash + 1) else key(r)
          }.toSeq.sortBy(_._1).take(max.toInt + 1)
          .map { case (entry, rs) =>
            line(entry, rs.exists(r => key(r).substring(arg.length).contains('/')),
              rs.length.toLong, rs.map(size).sum)
          }
      case "lookupKey" =>
        rows.filter(r => key(r) == arg)
          .map(r => line(key(r), r.getLong(3), size(r), r.getString(10))).toSeq.sorted
      case "listStatus" | "listStatusFso" =>
        val prefix = if (arg.isEmpty) "" else arg + "/"
        val under = rows.filter(r => key(r).startsWith(prefix))
          .map(r => (key(r).substring(prefix.length), r))
        if (tpe == "listStatus")
          under.groupBy(_._1.takeWhile(_ != '/')).toSeq.sortBy(_._1).map {
            case (child, rs) => line(child, rs.exists(_._1.contains('/')),
              rs.length.toLong, rs.map(x => size(x._2)).sum, rs.map(_._2.getLong(8)).max)
          }
        else
          under.groupBy(x => (x._1.takeWhile(_ != '/'), x._1.contains('/'))).toSeq
            .map { case ((child, isDir), rs) =>
              line(child, isDir, rs.length.toLong, rs.map(x => size(x._2)).sum)
            }.sorted
    }
  }
}

/**
 * recon-batch: whole passes over `SparkEntry.queries` (the list in
 * perfbench/gen.py) in a seed-shuffled order. Outputs are hashed here the
 * way `graft.Verify` hashes them; run.py compares the hashes with the
 * DuckDB oracle's.
 */
final class ReconBatch(spark: SparkSession, runDir: Path) extends Workload {
  private val passes = Io.tsv(runDir.resolve("recon_passes.tsv"))
  private val order = passes.flatten
  private var d = ""
  private val kept = mutable.ArrayBuffer.empty[(String, Array[Row], Array[String])]
  private val queries = graft.SparkEntry.queries

  override def groupSize: Int = passes.head.length

  def setUp(dir: String, time: SetupClock): Map[String, Double] = {
    d = dir
    val (_, wh) = time("core.warehouse_build")(T.objectsSorted(spark, d))
    // the other stored tables the queries read
    val (_, art) = time("core.artifact_build") {
      T.objectsMixedSorted(spark, d)
      T.directoriesFso(spark, d); T.filesFso(spark, d)
    }
    // one pass in catalog order: first touch of every query's artifacts
    val perQuery = passes.head.sorted.map { name =>
      s"warm_$name" -> time("core.warmup")(queries(name)(spark, d).collect())._2
    }
    val warm = perQuery.map(_._2).sum
    Map("warehouse_build_s" -> wh, "artifact_build_s" -> art,
      "warmup_s" -> warm, "total_s" -> (wh + art + warm)) ++ perQuery
  }

  def op(i: Int, ctx: OpContext): Unit = {
    val name = order(i % order.size)
    ctx.tpe = name
    val rows = ctx.query("operators.construct")(queries(name)(spark, d))
    kept += ((name, rows, ctx.df.columns))
  }

  /** Nothing to check here: the outputs' hashes go to run.py (`extra`). */
  def check(): Seq[String] = Nil

  override def extra(): String = {
    val hashes = kept.toSeq.map { case (name, rows, cols) =>
      name -> ReconBatch.canonHash(rows, cols)
    }
    val oracle = graft.SparkEntry.oracleSql
    val names = passes.head
    "\"hashes\":" + hashes.map { case (n, h) => s"[${Main.q(n)},${Main.q(h)}]" }
      .mkString("[", ",", "]") + ",\"oracle\":" +
      names.map(n => s"${Main.q(n)}:${Main.q(oracle(n))}").mkString("{", ",", "}")
  }
}

object ReconBatch {
  /** `<rows>:<sha256>` over lines of `graft.Verify.canon` values, columns
    * sorted by name, lines sorted — the oracle gate's canonical form. */
  def canonHash(rows: Array[Row], cols: Array[String]): String = {
    val idx = cols.indices.sortBy(cols)
    val lines = rows.map(r => idx.map(i => graft.Verify.canon(r.get(i)))
      .mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${lines.length}:" + md.digest().map(b => f"$b%02x").mkString
  }
}

/**
 * cdc-ingest: set-up bootstraps the three Recon views from the CDC log;
 * each cycle then applies one generated delta (a write) and reads the
 * file-size, counts and NSSummary views for one bucket (three reads).
 * Every read is checked against an independent aggregation, in plain
 * Scala, of the log plus every delta applied so far.
 */
final class CdcIngest(spark: SparkSession, runDir: Path) extends Workload {
  private val reads = Io.tsv(runDir.resolve("cdc_cycles.parquet.reads"))
  private val deltas: Map[Int, Array[Row]] = spark.read
    .parquet(runDir.resolve("cdc_cycles.parquet").toString)
    .select("cycle", "seq", "op", "volume", "bucket", "key", "data_size", "ts")
    .collect().groupBy(_.getInt(0))
  private val logHead = Files.readString(runDir.resolve("cdc_log_head")).trim.toLong
  private val schema = org.apache.spark.sql.types.StructType.fromDDL(ChangeLog.Schema)
  private var work = ""
  private var logDir = ""
  private var applied = 0
  private val expect = new CdcIngest.Expected
  private val failures = mutable.ArrayBuffer.empty[String]
  private val readOps = Seq("read_filesize", "read_counts", "read_nssummary")

  private def delta(c: Int): DataFrame = spark.createDataFrame(
    deltas(c).toSeq.map(r => Row(r.getLong(1), r.getString(2), r.getString(3),
      r.getString(4), r.getString(5), r.getLong(6), r.getLong(7))).asJava, schema)

  def setUp(dir: String, time: SetupClock): Map[String, Double] = {
    // the log is the system's input; writing it is fixture creation. It
    // derives from the namespace synthesis directly: the views never read
    // the key-sorted warehouse, so this workload does not build it
    val (_, art) = time("core.artifact_build") {
      logDir = ChangeStream.cdcLogDir(spark, T.objectsView(spark, dir), dir)
    }
    work = graft.core.TempDirs.create("graft_bench_stream_")
    val (_, boot) = time("streaming.bootstrap")(
      ChangeStream.bootstrapViews(spark, logDir, work))
    // untimed: the expected views start from the log as the engine wrote it
    expect.addLog(spark.read.schema(schema).parquet(logDir).collect(), logHead)
      .foreach(failures += _)
    // the warm-up is cycle 0; the timed window starts at cycle WarmCycles
    val (_, warm) = time("core.warmup")(
      for (c <- 0 until CdcIngest.WarmCycles; k <- 0 until 4)
        step(c, k, new OpContext(new Tracer(false), -1)))
    Map("artifact_build_s" -> art, "bootstrap_s" -> boot, "warmup_s" -> warm,
      "total_s" -> (art + boot + warm))
  }

  private def read(tpe: String, v: String, b: String, ctx: OpContext): Array[Row] = {
    ctx.tpe = tpe
    val layer = "streaming.view_read"
    tpe match {
      case "read_filesize" => ctx.query(layer)(ChangeStream.fileSizeView(spark, work)
        .filter(col("volume") === v && col("bucket") === b))
      case "read_counts" => ctx.query(layer)(ChangeStream.countsView(spark, work))
      case "read_nssummary" => ctx.query(layer)(ChangeStream.nsSummaryView(spark, work)
        .filter(col("volume") === v && col("bucket") === b))
    }
  }

  def op(i: Int, ctx: OpContext): Unit =
    step(CdcIngest.WarmCycles + i / 4, i % 4, ctx)

  /** Step `k` of cycle `c`: the write (k = 0) or one of the three reads. */
  private def step(c: Int, k: Int, ctx: OpContext): Unit = {
    require(deltas.contains(c), s"cdc-ingest: only ${deltas.size} cycles were generated")
    val Array(v, b) = reads(c)
    if (k == 0) {
      ctx.tpe = "apply"
      ctx.kind = "write"
      val batch = delta(c)
      ctx.call("streaming.apply")(ChangeStream.applyDeltaBatch(spark, work, batch))
      val parts = deltas(c).map(r => (r.getString(3), r.getString(4))).distinct.length
      ctx.extraFields = s""","partitions_touched":$parts"""
      expect.add(deltas(c))
      applied += 1
    } else {
      val tpe = readOps(k - 1)
      val got = read(tpe, v, b, ctx).map(r => r.toSeq.map(String.valueOf).mkString("\u0001")).sorted.toSeq
      val want = expect.view(tpe, v, b)
      if (got != want) failures += s"cdc-ingest cycle $c $tpe $v/$b: got " +
        s"${got.size} rows, want ${want.size}; first difference " +
        got.zipAll(want, "<none>", "<none>").find { case (x, y) => x != y }.getOrElse("")
    }
  }

  // four cycles: every run times at least four writes, so the tail
  // percentile falls at their median rather than at the slowest of two,
  // and the first timed cycle, still 10-25% slower than later ones, is a
  // quarter of the samples
  override def groupSize: Int = 16

  def check(): Seq[String] = {
    // the whole of each view, once more, after the last cycle
    val all = Seq(
      "read_filesize" -> ChangeStream.fileSizeView(spark, work),
      "read_counts" -> ChangeStream.countsView(spark, work),
      "read_nssummary" -> ChangeStream.nsSummaryView(spark, work))
    val whole = all.flatMap { case (tpe, df) =>
      val got = df.collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted.toSeq
      val want = expect.view(tpe, null, null)
      if (got == want) None
      else Some(s"cdc-ingest final $tpe: got ${got.size} rows, want ${want.size}")
    }
    failures.toSeq ++ whole
  }

  override def extra(): String =
    s""""deltas_applied":$applied,""" + StateDir.json(work)

}

/** Size of the three view states under a ChangeStream work dir. */
object StateDir {
  def json(work: String): String = {
    // the files the reads scan: the partitions each state's live manifest
    // (named by its `current` pointer) maps to
    val live = Seq("state_filesize", "state_counts", "state_nssummary").flatMap { s =>
      val manifest = Paths.get(Files.readString(Paths.get(work, s, "current")).trim)
      Files.readAllLines(manifest).asScala.filter(_.nonEmpty).map(_.split('\t')(1))
    }
    val liveFiles = live.map(p => Files.list(Paths.get(p)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))).sum
    val bytes = Files.walk(Paths.get(work)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    s""""state_files":$liveFiles,"state_mb":${Main.f(bytes / 1048576.0)}"""
  }
}

object CdcIngest {
  val WarmCycles = 1

  /** pow2 size bin with a 1 KiB floor — Aggregates.pow2Bin's definition. */
  def sizeBin(x: Long): Long =
    math.max(if (x <= 1) 1L else 1L << (64 - java.lang.Long.numberOfLeadingZeros(x - 1)), 1024L)

  /** Every ancestor directory of a key's parent, the parent included. */
  def dirs(key: String): Seq[String] = {
    val segs = key.split("/", -1).dropRight(1)
    (1 to segs.length).map(n => segs.take(n).mkString("/"))
  }

  /** The three views as running sums over the log and each applied delta. */
  final class Expected {
    private val fileSize = mutable.Map.empty[(String, String, Long), (Long, Long)]
    private val nsSummary = mutable.Map.empty[(String, String, String), (Long, Long)]
    private var counts = (0L, 0L)

    private def bump[K](m: mutable.Map[K, (Long, Long)], k: K, n: Long, s: Long): Unit = {
      val (a, b) = m.getOrElse(k, (0L, 0L))
      m(k) = (a + n, b + s)
    }

    /** (cycle, seq, op, volume, bucket, key, data_size, ts) rows. */
    def add(events: Array[Row]): Unit = events.foreach { r =>
      val sgn = if (r.getString(2) == "PUT") 1L else -1L
      val (v, b, k, size) = (r.getString(3), r.getString(4), r.getString(5), r.getLong(6))
      bump(fileSize, (v, b, sizeBin(size)), sgn, sgn * size)
      dirs(k).foreach(dir => bump(nsSummary, (v, b, dir), sgn, sgn * size))
      counts = (counts._1 + sgn, counts._2 + sgn * size)
    }

    /** The log in ChangeLog.Schema order (seq first); checks its head. */
    def addLog(log: Array[Row], head: Long): Option[String] = {
      // a log row is a delta row without the leading cycle number
      add(log.map(r => Row.fromSeq(0 +: r.toSeq)))
      val maxSeq = if (log.isEmpty) 0L else log.map(_.getLong(0)).max
      if (maxSeq == head) None
      else Some(s"cdc-ingest: log head is $maxSeq, the generator assumed $head")
    }

    private def l(xs: Any*) = xs.map(String.valueOf).mkString("\u0001")

    /** A view's rows for one bucket (null = every bucket), as sorted lines. */
    def view(tpe: String, v: String, b: String): Seq[String] = {
      def in(vv: String, bb: String) = v == null || (vv == v && bb == b)
      (tpe match {
        case "read_filesize" => fileSize.toSeq.collect {
          case ((vv, bb, bin), (n, s)) if n > 0 && in(vv, bb) => l(vv, bb, bin, n, s)
        }
        case "read_counts" => Seq(l("keys", counts._1, counts._2))
        case "read_nssummary" => nsSummary.toSeq.collect {
          case ((vv, bb, dir), (n, s)) if n > 0 && in(vv, bb) => l(vv, bb, dir, n, s)
        }
      }).sorted
    }
  }
}
