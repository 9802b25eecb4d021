package graft.tools

import org.apache.spark.sql.{functions => F}

/** One-off: attribute q_blocks_pending_page's sweep-vs-probe gate flag —
  * time the SAME operator over the 1× warehouse and a stored 10× scale-up
  * in one JVM, and count the txn populations each shape walks. */
object BppDebug {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(32)
    val T = graft.core.Tables
    def scale10(df: org.apache.spark.sql.DataFrame) =
      graft.core.Tables.namespaceScaled10(df)
    val s1 = T.objectsSorted(spark, sfDir)
    val wh = graft.core.TempDirs.create("graft_bpp_")
    T.writeKeySorted(scale10(T.objectsView(spark, sfDir)), wh + "/objects")
    val s10 = spark.read.parquet(wh + "/objects")
    val cs = T.containersScm(spark, sfDir)
    def bpp(o: org.apache.spark.sql.DataFrame) =
      graft.operators.ClusterHealth.blocksPendingDeletionPage(
        o, cs, 20000L, 40)
    def rep(name: String, n: Int)(run: => Long): Unit = {
      val ts = (1 to n).map { _ =>
        System.gc()
        val t = System.nanoTime(); run; (System.nanoTime() - t) / 1e9
      }
      println(f"[bpp] $name: ${ts.map(t => f"$t%.2f").mkString(" ")}")
    }
    // populations: DELETE-branch log rows + txns above the watermark
    def pop(tag: String, o: org.apache.spark.sql.DataFrame): Unit = {
      val log = graft.operators.CommitLog.synthesizeLog(o)
      val del = log.filter(F.col("op") === "DELETE")
      val txns = del.groupBy(F.col("object_id")).count()
      println(s"[bpp] $tag log=${log.count()} del=${del.count()} " +
        s"txns=${txns.count()} " +
        s"above=${txns.filter(F.col("object_id") > 20000L).count()} " +
        s"page=${bpp(o).count()}")
    }
    pop("1x ", s1)
    pop("10x", s10)
    rep("bpp 1x ", 5)(bpp(s1).count())
    rep("bpp 10x", 5)(bpp(s10).count())
    graft.streaming.ChangeStream.deleteRecursively(
      java.nio.file.Paths.get(wh))
    spark.stop()
  }
}
