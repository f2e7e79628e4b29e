package graft
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each selected query's result → parquet,
  * plus oracle_sql.json for the driver's DuckDB compare and
  * failures.json (key → error) for the queries that threw. Exits 1 when
  * any query failed.
  */
object Verify {
  /** A string map as one key-sorted JSON object (oracle_sql.json and the
    * failures.json that Verify and [[Bench]] write).
    */
  private[graft] def writeJson(file: java.io.File,
                               entries: Map[String, String]): Unit =
    new ObjectMapper().writeValue(file,
      new java.util.TreeMap[String, String](entries.asJava))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=t24,s7 dumps a subset (SparkEntry.selected); the
    // oracle json holds the same subset so a subset compare doesn't
    // report missing dirs.
    val failures = SparkEntry.selected.flatMap { q =>
      val failure =
        try {
          q.run(spark, sfDir).write.mode("overwrite")
            .parquet(s"$outDir/${q.name}")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] ${q.name} failed: $e")
          Some(q.name -> e.toString)
        }
      // free this query's materialize-once pins (see Bench)
      graft.std.Materialize.releaseAll()
      failure
    }
    writeJson(new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.sqlOf(SparkEntry.selected))
    writeJson(new java.io.File(s"$outDir/failures.json"), failures.toMap)
    // free the session memos (see graft.std.SessionMemo) before stop
    graft.std.SessionMemo.releaseSession(spark)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        s"see $outDir/failures.json")
      sys.exit(1)
    }
  }
}
