package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders over a scale-factor directory (TESTDATA.md).
  * Thin on purpose: `spark.read.parquet` gives column pruning and filter
  * pushdown for free; never pre-materialize.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

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
