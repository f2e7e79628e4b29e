package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark startup is ~5s;
  * per-spec sessions would dominate test time), under the session policy
  * ([[graft.sources.Tables.tune]]) from the start, so a spec that calls a
  * query body directly plans it the way the registry runs it.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.tune(s)
  }
}
