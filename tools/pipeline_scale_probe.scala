// pipeline_curation scale probe: end-to-end wall time of the full
// t77 → d5 → d14 → t22 composite on 1x/4x/10x replicas of the sf0.1
// injected near-dup corpus. Replicas are token-suffix distinct, so
// span dups, LSH candidate pairs, and clusters all replicate linearly
// and never collide across replicas — the composite's volume knobs
// (window hashes, shingle bands, cluster edges, split lanes) scale
// with the corpus while its driver-side state stays O(1). Expectation:
// wall time roughly linear in corpus tokens; super-linear growth would
// point at the LSH candidate join or the CC fixed-point fanning out
// under composition (each tier's standalone probe is already linear —
// this prices the COMPOSITION).
//
// Run: /opt/spark/bin/spark-shell --master "local[32]" --driver-memory 24g \
//        --driver-class-path target/scala-2.13/classes \
//        --conf spark.ui.enabled=false -I tools/pipeline_scale_probe.scala
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

spark.conf.set("spark.sql.shuffle.partitions", "32")
spark.conf.set("spark.sql.session.timeZone", "UTC")
spark.sparkContext.setLogLevel("ERROR")
graft.sources.Tables.tune(spark)

def time[T](label: String)(f: => T): T = {
  val t0 = System.nanoTime()
  val r = f
  println(f"[probe] $label%-10s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
  r
}

// the query fixture's own corpus shape: normalized docs ∪ mutated
// near-dup copies (every 7th doc, every 13th token dropped)
def nearDup(docs: DataFrame): DataFrame = {
  val base = docs.select(col("doc_id"),
    lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("text"))
  base.unionByName(base.filter(col("doc_id") % 7 === 0).select(
    (col("doc_id") + 100000).as("doc_id"),
    concat_ws(" ", filter(split(col("text"), " "),
      (t, i) => (i + 1) % 13 =!= 0)).as("text")))
}

def run(raw: DataFrame, label: String, nearDup: Boolean = false): Unit = {
  val r = time(label)(
    graft.ext.ExtQueries.curationTrainPipelineFrom(raw,
        chrome = if (nearDup) "tweaked" else "promo",
        span = if (nearDup) "neardup" else "exact")
      .agg(count(lit(1)), countDistinct(col("doc_id")),
        sum(col("shard_pos"))).collect()(0))
  println(s"[probe] $label rows=${r.getLong(0)} docs=${r.getLong(1)}")
  graft.std.Materialize.releaseAll()
}

val docs1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
  .select("doc_id", "text").repartition(32, col("doc_id"))
def rep(n: Int): DataFrame = (0 until n).map(i =>
  docs1.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
    concat_ws(" ", transform(split(col("text"), " "),
      t => concat(t, lit(s"_$i")))).as("text"))).reduce(_ unionByName _)

run(nearDup(docs1), "warmup")
run(nearDup(docs1), "1x")
run(nearDup(rep(4)).repartition(32).localCheckpoint(true), "4x")
run(nearDup(rep(10)).repartition(64).localCheckpoint(true), "10x")
// near-dup span policy (pipeline_curation_neardup): t79's L x
// fingerprint volume through the same composition — expectation is
// the same near-linear shape at ~L x the span tier's cost
run(nearDup(docs1), "nd-1x", nearDup = true)
run(nearDup(rep(4)).repartition(32).localCheckpoint(true), "nd-4x",
  nearDup = true)
run(nearDup(rep(10)).repartition(64).localCheckpoint(true), "nd-10x",
  nearDup = true)
sys.exit(0)
