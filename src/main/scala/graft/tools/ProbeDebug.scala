package graft.tools

/** One-off: time the sf1 probes with extra reps to find the warm floor
  * (is the reported min JIT-bound, IO-bound, or plan-bound?). */
object ProbeDebug {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(32)
    val T = graft.core.Tables
    def scale10(df: org.apache.spark.sql.DataFrame) =
      graft.core.Tables.namespaceScaled10(df)
    val obj10 = scale10(T.objects(spark, sfDir))
    val t0 = System.nanoTime()
    val wh10 = graft.core.TempDirs.create("graft_sf1_")
    T.writeKeySorted(obj10, wh10)
    println(f"[probe] ingest ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val nFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(wh10))
      .filter(p => p.toString.endsWith(".parquet")).count()
    println(s"[probe] files in warehouse: $nFiles")
    val sorted10 = spark.read.parquet(wh10)
    def rep(name: String, n: Int)(run: => Long): Unit = {
      val ts = (1 to n).map { _ =>
        val t = System.nanoTime(); run; (System.nanoTime() - t) / 1e9
      }
      println(f"[probe] $name: ${ts.map(t => f"$t%.2f").mkString(" ")}")
    }
    rep("list_keys", 4)(graft.operators.Listing.listKeys(sorted10,
      "vol1", "bucket3", "warehouse/N/", "warehouse/N/2", 100).count())
    rep("ns_summary", 3)(
      graft.operators.Aggregates.nsSummarySorted(sorted10).count())
    rep("snapshot_diff", 3)(graft.operators.Joins.snapshotDiff(
      scale10(T.snapshotV1(spark, sfDir)),
      scale10(T.snapshotV2(spark, sfDir))).count())
    rep("latest_version", 3)(
      graft.operators.Lifecycle.latestVersionWinsSorted(sorted10).count())
    graft.streaming.ChangeStream.deleteRecursively(
      java.nio.file.Paths.get(wh10))
    spark.stop()
  }
}
