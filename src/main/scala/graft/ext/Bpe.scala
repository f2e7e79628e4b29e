package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer training over the corpus — learn the merge table, the
  * step a training-data pipeline runs BEFORE any token counting means
  * anything. The classic algorithm (Sennrich et al.): start from
  * characters, repeatedly merge the most frequent adjacent symbol pair.
  *
  * 100 TB shape: the corpus-sized work is exactly ONE pass — the word
  * frequency count (tokens shuffle once, partial-aggregated). Every
  * merge iteration after that runs on the WORD VOCABULARY (≪ corpus:
  * frequencies stand in for the corpus), as one pair-count aggregate +
  * one per-row symbol rewrite — the same driver-loop-over-small-frames
  * shape as [[Dedup.connectedComponents]]. Iterations re-pin the vocab
  * frame and release the previous pin, so the loop holds one
  * vocab-sized frame at a time.
  *
  * Determinism: the winning pair is (max summed frequency, then
  * lexicographic (left, right)) — total order, no hash iteration
  * anywhere; greedy left-to-right application (the fold below) is the
  * standard BPE rule, so "aaa" under merge (a,a) becomes [aa, a].
  */
object Bpe {

  /** Greedy left-to-right application of merge (a, b) to a symbol
    * array, as a pure fold expression.
    */
  private def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** The one corpus-sized pass: word frequencies, words as char-symbol
    * arrays — everything after this runs on the word vocabulary.
    */
  private def charVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        filter(split(col("word"), ""), s => s =!= "").as("syms"))

  /** Frequency-weighted adjacent-pair counts over the vocabulary,
    * sorted by the canonical (n desc, l asc, r asc) pick order.
    */
  private def rankedPairs(vocab: DataFrame): DataFrame =
    vocab
      // greatest(.., 0): an empty/whitespace-only document yields
      // word "" with ZERO symbols, and slice rejects length -1 at
      // runtime — empty arrays must contribute no pairs, not crash
      .select(col("freq"), explode(zip_with(
        slice(col("syms"), lit(1),
          greatest(size(col("syms")) - 1, lit(0))),
        slice(col("syms"), lit(2),
          greatest(size(col("syms")) - 1, lit(0))),
        (x, y) => struct(x.as("l"), y.as("r")))).as("p"))
      .groupBy(col("p.l"), col("p.r"))
      .agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("l").asc, col("r").asc)

  /** Learn up to `nMerges` BPE merges from the corpus' whitespace
    * words. Returns the ordered merge table — (left, right) pairs, the
    * artifact a tokenizer ships. One pair-count job + one rewrite per
    * MERGE — the didactic sequential form; [[trainMergesBatched]] is
    * the production loop (identical output, ~batch× fewer jobs).
    */
  def trainMerges(docs: DataFrame, nMerges: Int,
                  textCol: String = "text"): Seq[(String, String)] =
    trainMergesBatched(docs, nMerges, maxBatch = 1, textCol)

  /** [[trainMerges]] with BOUNDED-ITERATION BATCHING: each round counts
    * pairs ONCE, then commits a BATCH of merges in one vocabulary
    * rewrite — at a real 32k-merge vocabulary the sequential loop is
    * 32k Spark-job round-trips of driver latency, and this is the
    * standard fix (commuting merges batch).
    *
    * PROVABLY identical to the sequential table (spec-checked), via two
    * guards on the candidate list sorted in canonical pick order:
    *
    *  1. *Disjoint prefix*: walk candidates in order, selecting while
    *     the pair shares no symbol with — and neither side equals the
    *     produced `l+r` string of — any already-selected merge; STOP
    *     the batch at the first violation. Selected merges therefore
    *     can neither lose occurrences (they'd need to share a symbol
    *     with an earlier merge) nor gain them (gaining requires a side
    *     equal to an earlier merge's product), so their counts — and
    *     hence their sequential pick order — are exactly the counted
    *     ones. The prefix rule also means every conflicting pair ranks
    *     at-or-below the stop candidate.
    *  2. *Strict-majority trim*: let S = the count of the first
    *     NON-selected candidate (the stop, or the first beyond the
    *     window; 0 if the candidate list is exhausted). Keep only
    *     selected merges with count > S. Any pair the batch does NOT
    *     commit — including pairs newly CREATED by a committed merge,
    *     whose count is bounded by the conflicting (x, l)/(r, y) pair
    *     they descend from, itself ≤ S by guard 1 — has updated count
    *     ≤ S, so it cannot overtake (or tie-break against) any kept
    *     merge mid-batch. If the trim empties the batch, the top
    *     candidate alone is committed (the sequential pick is always
    *     exact).
    *
    * Worst case (every adjacent candidate conflicting) degenerates to
    * the sequential 1-merge round; typical corpora commit most of
    * `maxBatch` per round (probed: see README).
    */
  def trainMergesBatched(docs: DataFrame, nMerges: Int, maxBatch: Int = 64,
                         textCol: String = "text"): Seq[(String, String)] = {
    require(nMerges >= 1, "need at least one merge")
    require(maxBatch >= 1, "need a positive batch bound")
    var vocab = graft.std.Materialize.pinUnregistered(
      charVocab(docs, textCol))
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    try {
      var exhausted = false
      while (merges.size < nMerges && !exhausted) {
        val want = math.min(maxBatch, nMerges - merges.size)
        val cands = rankedPairs(vocab).head(want + 1)
        if (cands.isEmpty) exhausted = true
        else {
          val used = scala.collection.mutable.Set.empty[String]
          val selected =
            scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
          var stopped = false
          var idx = 0
          while (!stopped && idx < cands.length && selected.size < want) {
            val c = cands(idx)
            val (l, r) = (c.getString(0), c.getString(1))
            if (used(l) || used(r)) stopped = true
            else {
              selected += ((l, r, c.getLong(2)))
              used ++= Seq(l, r, l + r)
              idx += 1
            }
          }
          val sBound = if (idx < cands.length) cands(idx).getLong(2) else 0L
          val exact = selected.takeWhile(_._3 > sBound).toList match {
            case Nil => selected.take(1).toList
            case kept => kept
          }
          merges ++= exact.map(t => (t._1, t._2))
          val next = graft.std.Materialize.pinUnregistered(
            vocab.select(col("freq"),
              exact.foldLeft(col("syms")) { case (sy, (a, b, _)) =>
                mergePair(sy, a, b)
              }.as("syms")))
          graft.std.Materialize.releasePin(vocab)
          vocab = next
        }
      }
      merges.toList
    } finally graft.std.Materialize.releasePin(vocab)
  }

  /** [[trainMerges]] with the merge loop on the DRIVER — the production
    * shape at 100 TB. The corpus-sized work is exactly ONE Spark job
    * (the word-frequency pass, shuffled once with partial aggregation);
    * the merge loop then runs over the collected word vocabulary with
    * INCREMENTAL pair counts (only words containing the winning pair
    * are rewritten, classic single-machine BPE), so 32k merges cost
    * zero additional Spark jobs instead of 64k driver round-trips.
    *
    * `maxVocab` bounds driver memory: the vocabulary is capped to the
    * top-`maxVocab` words by (freq desc, word asc) — a deterministic
    * frequency floor, the standard practice (sub-floor words are
    * singleton-rare; their absence can only affect merges whose counts
    * are below the floor). With no truncation the table is IDENTICAL
    * to [[trainMerges]] (spec-checked). Distributed fallback
    * ([[trainMergesBatched]]) exists for vocabularies that genuinely
    * exceed driver memory; the README's "BPE-training probe" shows
    * why this local form is the default — real pair
    * distributions are conflict-dense at the head, so exactness-
    * preserving distributed batching rarely commits more than one
    * merge per round.
    */
  def trainMergesLocal(docs: DataFrame, nMerges: Int,
                       maxVocab: Int = 1 << 20,
                       textCol: String = "text"): Seq[(String, String)] = {
    require(nMerges >= 1, "need at least one merge")
    require(maxVocab >= 1, "need a positive vocabulary cap")
    val rows = docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(maxVocab)
      .collect()
    mergeLoop(
      rows.map(r => r.getString(0)),
      rows.map(_.getLong(1)),
      nMerges)
  }

  /** The incremental-pair-count merge loop shared by
    * [[trainMergesLocal]] (fed by the one-job Spark word-frequency
    * pass) and [[trainMergesInMemory]] (fed by a plain Scala count) —
    * the algorithm itself is identical, which is what lets a
    * query-time Spark training run be oracle-gated against a table the
    * pure trainer froze at compile time (t61).
    */
  private def mergeLoop(words: Array[String], freq: Array[Long],
                        nMerges: Int): Seq[(String, String)] = {
    val syms = words.map(w =>
      scala.collection.mutable.ArrayBuffer.from(
        w.split("").filter(_.nonEmpty)))

    // pair → (count, word indices containing it), plus a pick-ordered
    // view for O(log P) best-pair extraction
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    val where = scala.collection.mutable
      .Map.empty[(String, String), scala.collection.mutable.Set[Int]]
    val ordered = scala.collection.mutable
      .TreeSet.empty[(Long, String, String)](
        Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String))
    def pairsOf(ss: scala.collection.Seq[String]): Iterator[(String, String)] =
      if (ss.length < 2) Iterator.empty
      else ss.iterator.zip(ss.iterator.drop(1))
    def bump(p: (String, String), d: Long, idx: Int, present: Boolean): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) ordered.remove((old, p._1, p._2))
      val now = old + d
      if (now != 0L) { counts(p) = now; ordered.add((now, p._1, p._2)) }
      else counts.remove(p)
      val set = where.getOrElseUpdate(p, scala.collection.mutable.Set.empty)
      if (present) set.add(idx) else set.remove(idx)
      if (set.isEmpty) where.remove(p)
      ()
    }
    syms.indices.foreach { i =>
      pairsOf(syms(i)).toSeq.groupBy(identity).foreach { case (p, occ) =>
        bump(p, occ.size * freq(i), i, present = true)
      }
    }
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    while (merges.size < nMerges && ordered.nonEmpty) {
      val (_, a, b) = ordered.head
      merges += ((a, b))
      val affected = where.get((a, b)).map(_.toArray).getOrElse(Array.empty)
      affected.foreach { i =>
        val before = pairsOf(syms(i)).toSeq.groupBy(identity)
        // greedy left-to-right in place
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        syms(i).foreach { s =>
          if (out.nonEmpty && out.last == a && s == b)
            out(out.length - 1) = a + b
          else out += s
        }
        syms(i) = out
        val after = pairsOf(out).toSeq.groupBy(identity)
        (before.keySet ++ after.keySet).foreach { p =>
          val d = after.get(p).map(_.size).getOrElse(0) -
            before.get(p).map(_.size).getOrElse(0)
          val present = after.contains(p)
          if (d != 0 || before.contains(p) != present)
            bump(p, d.toLong * freq(i), i, present)
        }
      }
    }
    merges.toList
  }

  /** Apply a learned merge table to a token column — chars → learned
    * subword units, the encode step (per-row expression chain, one
    * fold per merge; fine for merge tables of demo size, a production
    * encoder compiles the table into a trie).
    */
  def encodeWord(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(filter(split(word, ""), s => s =!= "")) {
      case (syms, (a, b)) => mergePair(syms, a, b)
    }

  /** A frozen demo merge table: the first 24 merges
    * [[trainMergesLocal]] learns from the sf0.01 documents corpus,
    * committed as a constant so the t36 oracle twin can unroll the
    * identical table into SQL. Any fixed table exercises the encode
    * path; this one being the corpus' own head makes the compression
    * realistic (≈2.9 chars/token at sf0.01).
    */
  val DemoMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar",
    "j" -> "o", "jo" -> "in", "a" -> "s", "as" -> "h", "h" -> "ash",
    "r" -> "ow", "at" -> "c", "atc" -> "h", "b" -> "atch", "a" -> "n",
    "c" -> "an", "s" -> "can", "c" -> "o", "c" -> "u")

  /** Pure-Scala BPE training over an in-memory word list — no
    * SparkSession anywhere, which is what lets [[TrainedMerges]] exist
    * as a compile-time constant the t61 oracle SQL can unroll. The
    * words must already be normalized ([[TextOps.normText]] is the
    * identity on them); frequencies count duplicates, the vocabulary
    * orders by (freq desc, word asc) exactly like
    * [[trainMergesLocal]]'s Spark pass, and the merge loop is the SAME
    * code ([[mergeLoop]]) — so on the same corpus the two trainers are
    * equal BY CONSTRUCTION of everything except the counting pass,
    * and that equality is what t61 gates.
    */
  def trainMergesInMemory(words: Seq[String],
                          nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 1, "need at least one merge")
    val wf = words.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy { case (w, f) => (-f, w) }
    mergeLoop(wf.map(_._1).toArray, wf.map(_._2).toArray, nMerges)
  }

  /** The t61 training corpus: a fixed, already-normalized word list
    * with a deliberately Zipf-ish shape (high-frequency short
    * function words, a mid tier sharing stems, a rare tail) so the
    * learned table contains real multi-character progressions rather
    * than degenerate single merges. Committed as a constant — both
    * the query-time Spark training run and the oracle's frozen table
    * derive from it.
    */
  val TrainWords: Seq[String] =
    Seq.fill(24)("the") ++ Seq.fill(18)("then") ++
      Seq.fill(15)("there") ++ Seq.fill(12)("that") ++
      Seq.fill(10)("this") ++ Seq.fill(9)("than") ++
      Seq.fill(8)("batch") ++ Seq.fill(8)("match") ++
      Seq.fill(7)("catch") ++ Seq.fill(7)("patch") ++
      Seq.fill(6)("row") ++ Seq.fill(6)("rows") ++
      Seq.fill(5)("join") ++ Seq.fill(5)("joins") ++
      Seq.fill(4)("joined") ++ Seq.fill(3)("hash") ++
      Seq.fill(3)("hashes") ++ Seq.fill(2)("scan") ++
      Seq.fill(2)("scans") ++ Seq("partition", "shuffle")

  /** The trained-then-frozen merge table for t61:
    * [[trainMergesInMemory]] over [[TrainWords]] — evaluated once at
    * class init by plain Scala, no Spark. The t61 query re-trains the
    * SAME corpus through [[trainMergesLocal]]'s Spark pass at query
    * time and requires equality, so a drift between the distributed
    * and pure trainers turns the oracle gate red instead of passing
    * silently.
    */
  lazy val TrainedMerges: Seq[(String, String)] =
    trainMergesInMemory(TrainWords, 16)

  /** Tokenizer fertility report (t51): per language, tokens-per-word
    * and chars-per-token under a merge table — the standard check that
    * a tokenizer trained on one distribution doesn't tax another (a
    * language at 2-3× the fertility of the training language pays that
    * multiple in sequence length, training cost, and effective context
    * at inference; the fix is retraining or vocabulary extension, and
    * this report is how the problem is SEEN).
    *
    * 100-TB shape: the [[encodeDocsPartitioned]] kernel (broadcast
    * table, per-partition word→pieces memoization — ~10× the
    * expression fold on a Zipf corpus, measured at sf0.1) with
    * language riding the scan, then one partially-aggregated shuffle
    * down to |languages| rows — no join. Char counts are of the
    * normalized text (what the encoder actually consumed).
    */
  def fertilityByLang(docs: DataFrame, merges: Seq[(String, String)],
                      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val base = docs.select(col("lang"),
      TextOps.normText(col(textCol)).as("_nt"))
    base.as[(String, String)].mapPartitions { it =>
      val encode = partitionEncoder(bc.value)
      it.map { case (lang, nt) =>
        val ntSafe = Option(nt).getOrElse("")
        val words = ntSafe.split(" ", -1)
        var toks = 0L
        var w = 0
        while (w < words.length) { toks += encode(words(w)).length; w += 1 }
        (lang, words.length.toLong, toks, ntSafe.length.toLong)
      }
    }.toDF("lang", "_w", "_t", "_c")
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("_w")).as("total_words"),
        sum(col("_t")).as("total_tokens"),
        sum(col("_c")).as("total_chars"))
      .select(col("lang"), col("n_docs"), col("total_words"),
        col("total_tokens"), col("total_chars"),
        when(col("total_words") > 0,
          round(col("total_tokens").cast("double") /
            col("total_words").cast("double"), 6)).as("fertility"),
        when(col("total_tokens") > 0,
          round(col("total_chars").cast("double") /
            col("total_tokens").cast("double"), 6)).as("chars_per_token"))
  }

  /** Corpus-wide BPE ENCODE (t36) — apply a learned merge table to
    * every document, the map step that turns curated text into token
    * sequences. Per doc: whitespace words, each encoded char→subword
    * by [[encodeWord]], flattened in word order; reports word/token
    * counts and a digest of the token stream.
    *
    * 100-TB shape: pure per-row expressions over a barriered token
    * attribute — NO shuffle, NO join, scan-once; the whole encode is
    * one codegen'd map pass, which is the only shape a corpus-sized
    * tokenize can afford. Expression nesting grows with the merge
    * table (one fold per merge), so this form is for demo-sized
    * tables; [[encodeDocsPartitioned]] is the same semantics for
    * production table sizes.
    */
  def encodeDocs(docs: DataFrame, merges: Seq[(String, String)],
                 textCol: String = "text"): DataFrame = {
    // null text encodes like the empty document (the t28 rule) — the
    // partitioned form's Option guard, as an expression
    val base = docs.select(col("doc_id"),
      coalesce(col(textCol), lit("")).as(textCol))
    val b = TextOps.attrBarrier(base, Seq("doc_id"),
      "_toks", TextOps.tokens(col(textCol)))
    // barrier the piece array too: it is referenced twice below (size +
    // digest) and lambdas sit outside codegen subexpression elimination
    val b2 = TextOps.attrBarrier(b, Seq("doc_id", "_toks"),
      "_pieces", flatten(transform(col("_toks"),
        w => encodeWord(w, merges))))
    b2.select(
      col("doc_id"),
      size(col("_toks")).cast("long").as("n_words"),
      size(col("_pieces")).cast("long").as("n_tokens"),
      md5(concat_ws(" ", col("_pieces"))).as("tokens_md5"))
  }

  /** [[encodeDocs]] for PRODUCTION merge-table sizes (32k+): the
    * expression form nests one fold per merge, which is fine at demo
    * size but not at a real vocabulary — here the table ships to
    * executors once as a broadcast and each partition encodes
    * imperatively. Semantics are IDENTICAL to the fold (in-table-order
    * greedy left-to-right passes — spec-proven equal on the corpus):
    * a rank-priority encoder would be faster per word but is only
    * equivalent under the trained-table invariant (pairs over a merged
    * symbol always rank later), which an arbitrary table needn't obey.
    * One of the rare genuine `mapPartitions` cases (SURVEY §2:
    * imperative per-row kernel no expression can host at this size).
    */
  def encodeDocsPartitioned(docs: DataFrame,
                            merges: Seq[(String, String)],
                            textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val base = docs.select(col("doc_id").cast("long"),
      TextOps.normText(col(textCol)).as("_nt"))
    base.as[(Long, String)].mapPartitions { it =>
      val encode = partitionEncoder(bc.value)
      it.map { case (id, nt) =>
        val words = Option(nt).getOrElse("").split(" ", -1)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var w = 0
        while (w < words.length) {
          out ++= encode(words(w))
          w += 1
        }
        (id, words.length.toLong, out.length.toLong,
          out.mkString(" "))
      }
    }.toDF("doc_id", "n_words", "n_tokens", "_joined")
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        md5(col("_joined")).as("tokens_md5"))
  }

  /** The per-partition imperative word encoder
    * ([[encodeDocsPartitioned]] / [[fertilityByLang]]): in-table-order
    * greedy left-to-right passes over a broadcast merge table. Zipf
    * makes word repeats the common case, so word→pieces is memoized
    * per partition, capped so executor memory stays bounded on an
    * adversarially diverse vocabulary (past the cap, encode raw).
    */
  private def partitionEncoder(table: Array[(String, String)])
      : String => Array[String] = {
    val cache = new java.util.HashMap[String, Array[String]]()
    val cacheCap = 1 << 16
    (word: String) => {
      val hit = cache.get(word)
      if (hit != null) hit
      else {
        val syms = scala.collection.mutable.ArrayBuffer
          .from(word.split("").filter(_.nonEmpty))
        var m = 0
        while (m < table.length && syms.length > 1) {
          val (a, b) = table(m)
          var i = 0
          while (i < syms.length - 1) {
            if (syms(i) == a && syms(i + 1) == b) {
              syms(i) = a + b
              syms.remove(i + 1)
            } else i += 1
          }
          m += 1
        }
        val arr = syms.toArray
        if (cache.size < cacheCap) cache.put(word, arr)
        arr
      }
    }
  }
}
