package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session-scoped memo of inferred parquet schemas, keyed (session,
  * path) and valid while the path's leaf-file listing and the session's
  * parquet reader confs are unchanged.
  *
  * `spark.read.parquet(path)` launches a footer-reading job on every
  * call just to learn the schema; the same read with the schema given
  * launches none. A rewritten table (any leaf file added, removed,
  * resized or touched) or a changed `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` conf re-infers. Entries of stopped
  * sessions are swept on every read, by [[graft.std.SessionMemo]]'s
  * rule. The stamp costs one driver-side listing per read, the same
  * listing Spark's file index makes for the read itself. It caches a `StructType`, not a pin, so it has no release path
  * and stays out of the memo hit/build counters.
  *
  * @param stopped predicate marking a session as dead (injectable so the
  *                sweep is testable without stopping the JVM's one local
  *                SparkContext).
  */
private[graft] final class SchemaMemo(
    stopped: SparkSession => Boolean = _.sparkContext.isStopped) {

  private type Stamp = (Seq[(String, Long, Long)], Map[String, String])

  private val map = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Stamp, StructType)]

  /** `spark.read.parquet(path)`, inferring the schema only when no
    * entry matches the path's current stamp. A path that cannot be
    * listed goes straight to Spark, so its error is Spark's own.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    map.keys.filter(k => stopped(k._1)).toList.foreach(map.remove)
    val files =
      try Some(leafFiles(spark, path))
      catch { case _: java.io.IOException => None }
    files match {
      case None => spark.read.parquet(path)
      case Some(fs) =>
        val stamp: Stamp = (fs, parquetConfs(spark))
        map.get((spark, path)) match {
          case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            map.put((spark, path), (stamp, df.schema))
            df
        }
    }
  }

  /** (path, length, modification time) of every file under `path`. */
  private def leafFiles(spark: SparkSession,
                        path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val b = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result()
  }

  private def parquetConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    }

  private[graft] def entryCount(spark: SparkSession): Int =
    map.count { case ((s, _), _) => s eq spark }
}

/** Parquet table loaders over a scale-factor directory (TESTDATA.md).
  * Each read keeps `spark.read.parquet`'s column pruning and filter
  * pushdown and never pre-materializes; the only state is the
  * [[SchemaMemo]], so a table's schema is inferred once per session and
  * listing instead of by a Spark job on every read.
  */
object Tables {
  private val schemas = new SchemaMemo()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    schemas.read(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  /** `events.parquet` has shipped in two physical encodings across
    * testdata generations: TIMESTAMP(NANOS) — which Spark's reader
    * rejects, so [[tune]]'s legacy flag reads the nanos as long and
    * this loader converts via integer division (micros fit a long;
    * double division would lose precision at 1e18) — and plain
    * TIMESTAMP(MICROS), which surfaces as TIMESTAMP_NTZ and only needs
    * the cast onto the session-UTC timestamp type every downstream
    * operator and oracle was built against. Branching on the FOOTER
    * type (not the generation) keeps one loader correct for both; the
    * corpus has no sub-microsecond components, so either path matches
    * DuckDB's TIMESTAMP_NS→TIMESTAMP coercion exactly.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    tune(spark)
    val raw = apply(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ =>
        // µs parquet: NTZ wall-clock == UTC instant under the session's
        // pinned UTC zone, so this cast is value-identity
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")

  /** Read a parquet directory written across SCHEMA REVISIONS:
    * `mergeSchema` unions every file footer's schema (an O(files)
    * planning cost the default reader skips — which is why this is a
    * separate entry point, not the default), and columns absent from
    * older files surface as nulls. Compose with
    * [[graft.std.SchemaOps.conformTo]] to land on one declared schema —
    * together they are the scale form of the reference's defensive
    * column probing (`Project.py:33,48,54,158-164`): at 100 TB the
    * "does this column exist" question is per-FILE, not per-table.
    *
    * LIMIT: added/removed/renamed columns only. A column whose TYPE
    * drifted under the SAME name makes parquet's schema merge throw at
    * planning time — that case needs per-revision directories and
    * [[readConformed]], which casts each revision before the union.
    */
  def readEvolving(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Read per-revision output directories onto one declared schema:
    * each revision is read with its own footer schema, conformed
    * ([[graft.std.SchemaOps.conformTo]] — missing columns null, drifted
    * TYPES cast, extras dropped), then unioned. Handles the same-name
    * type drift [[readEvolving]] cannot (string amount → double
    * amount), at the cost of requiring the pipeline's natural
    * revision-directory layout.
    */
  def readConformed(spark: SparkSession, revisionDirs: Seq[String],
                    target: org.apache.spark.sql.types.StructType): DataFrame = {
    require(revisionDirs.nonEmpty, "need at least one revision directory")
    revisionDirs
      .map(p => graft.std.SchemaOps.conformTo(spark.read.parquet(p), target))
      .reduce(_ unionByName _)
  }

  /** The session policy, applied by every registered query's
    * [[graft.QuerySpec.run]] and once at session start by the mains and
    * the test session. ANSI must be OFF for pandas-parity coerce-to-null
    * casts (SURVEY §1.3); AQE handles runtime re-planning (skew,
    * small-partition coalescing) at scale.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Join strategy (opt guide §3.1/§9): allow shuffled-hash join when
    // its per-partition size conditions hold instead of defaulting to
    // sort-merge — the iterative operators (graph loops, power
    // iteration) join a large pinned frame per round, and SMJ re-sorts
    // it every time; SHJ builds the small side and streams the big one.
    // The AQE threshold lets a planned SMJ rewrite to SHJ at runtime
    // when every post-shuffle partition is under 128 MiB — a
    // per-partition bound, so it stays valid at any corpus size
    // (measured: x60 4.3→3.4 s, x34 4.2→3.6 s, s33 11.4→9.4 s at
    // sf0.1/local[32]).
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728")
    // TIMESTAMP(NANOS) parquet columns (events table) read as long; set
    // here — not as a loader side effect — so typing is consistent for
    // the whole session lifetime.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }
}
