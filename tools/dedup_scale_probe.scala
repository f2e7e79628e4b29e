// Dedup-pipeline scale probe: per-stage timings of the d5 resolution
// chain (shingle → MinHash signatures → LSH candidates → Jaccard verify
// → connected components) on 1×/10×/100× replicas of the sf0.1 corpus.
// Replicas are TOKEN-suffix distinct (every token gets a replica
// marker) and id-shifted, so near-dup density per replica stays
// constant and cross-replica Jaccard is 0 — candidate volume should
// scale linearly and CC round count stay flat. (A first version
// appended one marker token per TEXT: that leaves replicas of a doc
// near-identical, every doc forms a 100-clique, and candidates go
// quadratic — 41M candidate pairs at 100×. That run is kept in the
// README as the adversarial case motivating lshCandidatePairs'
// maxBucketSize cap.)
//
// Run: /opt/spark/bin/spark-shell --master "local[32]" --driver-memory 24g \
//        --driver-class-path target/scala-2.13/classes \
//        --conf spark.ui.enabled=false -I tools/dedup_scale_probe.scala
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextOps}

spark.conf.set("spark.sql.shuffle.partitions", "32")
spark.conf.set("spark.sql.session.timeZone", "UTC")
spark.sparkContext.setLogLevel("ERROR")
graft.sources.Tables.tune(spark)

def time[T](label: String)(f: => T): T = {
  val t0 = System.nanoTime()
  val r = f
  println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
  r
}

// same injected near-dup construction as ExtQueries.nearDupCorpus
def corpusOf(docs: DataFrame): DataFrame = {
  val base = docs.select(col("doc_id"), TextOps.normText(col("text")).as("text"))
  val mut = base.filter(col("doc_id") % 7 === 0).select(
    (col("doc_id") + 100000).as("doc_id"),
    concat_ws(" ", filter(split(col("text"), " "),
      (t, i) => (i + 1) % 13 =!= 0)).as("text"))
  base.unionByName(mut)
}

def pipeline(docs: DataFrame, label: String): Unit = {
  val corpus = corpusOf(docs).repartition(32, col("doc_id"))
  val withSh = time(s"$label shingle")(graft.std.Materialize.once(
    TextOps.attrBarrier(corpus, Seq("doc_id"), "_toks", split(col("text"), " "))
      .select(col("doc_id"), TextOps.shingles(col("_toks"), 3).as("sh"))))
  val sigs = time(s"$label signatures")(
    graft.std.Materialize.once(Dedup.minHashSignatures(withSh, 8)))
  val cands = time(s"$label lsh-candidates") {
    val c = Dedup.lshCandidatePairs(sigs, 8, 4).localCheckpoint(true)
    println(s"[probe] $label n_cands=" + c.count()); c
  }
  val pairs = time(s"$label verify") {
    val p = Dedup.verifiedNearDups(cands, withSh, 0.5)
      .select("id_a", "id_b").localCheckpoint(true)
    println(s"[probe] $label n_pairs=" + p.count()); p
  }
  time(s"$label connected-components") {
    val l = Dedup.connectedComponents(corpus.select("doc_id"), pairs)
    println(s"[probe] $label n_nodes=" + l.count()); l
  }
  graft.std.Materialize.releaseAll()
  graft.std.Materialize.releaseCheckpoint(cands)
  graft.std.Materialize.releaseCheckpoint(pairs)
}

// parens: ONE statement under spark-shell -I line-at-a-time evaluation
// (a bare leading-dot continuation leaves docs1 un-pruned)
val docs1 = (spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
  .select("doc_id", "text"))
def rep(n: Int): DataFrame = (0 until n).map(i =>
  docs1.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
    concat_ws(" ", transform(split(col("text"), " "),
      t => concat(t, lit(s"_$i")))).as("text"))).reduce(_ unionByName _)

pipeline(docs1, "warmup") // absorb JVM/codegen warmup
pipeline(docs1, "1x")
pipeline(rep(10).repartition(32).localCheckpoint(true), "10x")
pipeline(rep(100).repartition(64).localCheckpoint(true), "100x")
sys.exit(0)
