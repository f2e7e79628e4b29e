package graft.std

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Session-scoped memo of pinned DataFrames, keyed (session, tag) — the
  * owner of every frame that outlives one query
  * ([[graft.queries.Merged.cleanedShared]], the d5–d7 cluster
  * resolution, the d8/t23 contamination profile, the trained quantizers,
  * the curation standing state).
  *
  * [[getOrBuild]] pins what it stores: a builder returns a plain lazy
  * frame and the memo materializes it with
  * [[Materialize.pinUnregistered]] (hash-partitioned on `keys` when
  * given), so every entry is self-contained and the per-query pins its
  * build registered can die at [[Materialize.releaseAll]]. A local
  * relation (e.g. a driver-side codebook) is already self-contained and
  * is stored as it is.
  *
  * Lifecycle guarantees a bare `TrieMap.getOrElseUpdate` lacks:
  *
  *  - `getOrElseUpdate` evaluates the builder OUTSIDE the insertion CAS,
  *    so two concurrent first calls (a streaming micro-batch alongside an
  *    interactive query — exactly what [[Materialize.scoped]] supports)
  *    both build. Here the loser goes through `putIfAbsent` and its pin
  *    is released immediately.
  *  - Strong session keys would live forever: a long-running JVM that
  *    creates and stops many sessions (the test suite does) would retain
  *    every stopped session and its plans. Every [[getOrBuild]] first
  *    sweeps entries whose context has stopped.
  *  - One [[releaseSession]] call in driver/test teardown frees every
  *    entry of a session.
  *
  * Tags are global, so call sites make them self-describing (a `site|`
  * prefix): the hit/build counters are one flat map per tag.
  *
  * SNAPSHOT SEMANTICS: a memoized frame is the data as of the FIRST call
  * per (session, tag) — the pin fixes it, so later changes to the
  * underlying files are invisible until [[releaseSession]] or session
  * stop. That is the right trade for the bench/verify drivers (immutable
  * testdata, ~12 reuses per session); library callers who need
  * re-read-on-every-query semantics use the declarative (un-memoized)
  * form of each query instead.
  */
object SessionMemo {

  private val map = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Memoized, pinned build — see the object doc for the race + sweep
    * contract. Every call lands in the per-tag hit/build counters
    * ([[counters]]); a losing racer's build still counts, because its
    * cost was paid even though its frame was released.
    */
  def getOrBuild(spark: SparkSession, tag: String, keys: Column*)
                (build: => DataFrame): DataFrame = {
    sweep(_.sparkContext.isStopped)
    val k = (spark, tag)
    map.get(k) match {
      case Some(v) => recordHit(tag); v
      case None =>
        val b = build
        val v = if (b.isLocal) b else Materialize.pinUnregistered(b, keys: _*)
        recordBuild(tag)
        map.putIfAbsent(k, v) match {
          case Some(winner) => release(v); winner
          case None         => v
        }
    }
  }

  private def release(f: DataFrame): Unit =
    try Materialize.releasePin(f) catch { case _: Throwable => () }

  private def drop(dead: ((SparkSession, String)) => Boolean): Unit =
    map.keys.filter(dead).toList.foreach(k => map.remove(k).foreach(release))

  /** Drop and release the entries of `spark` whose tag matches `tags`
    * (every entry by default) — the one call driver ([[graft.Bench]],
    * [[graft.Verify]]) and test teardown make.
    */
  def releaseSession(spark: SparkSession,
                     tags: String => Boolean = _ => true): Unit =
    drop { case (s, t) => (s eq spark) && tags(t) }

  /** Evict entries whose session has stopped (`stopped` is injectable so
    * the sweep is testable without stopping the JVM's one local
    * SparkContext). Their executor blocks died with the context (the
    * release attempt is belt-and-braces, so a fake-stopped test session
    * still frees real blocks); the map entry holding the session + plan
    * objects is what would otherwise leak.
    */
  private[graft] def sweep(stopped: SparkSession => Boolean): Unit =
    drop(k => stopped(k._1))

  private[graft] def entryCount(spark: SparkSession): Int =
    map.count { case ((s, _), _) => s eq spark }

  private val stats =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  private def recordHit(tag: String): Unit = {
    val _ = stats.updateWith(tag) {
      case Some((h, b)) => Some((h + 1, b))
      case None         => Some((1L, 0L))
    }
  }

  private def recordBuild(tag: String): Unit = {
    val _ = stats.updateWith(tag) {
      case Some((h, b)) => Some((h, b + 1))
      case None         => Some((0L, 1L))
    }
  }

  /** Per-tag (hits, builds) since JVM start (or [[resetCounters]]).
    * [[graft.Bench]] emits this into BENCH_FULL.json so a slow
    * memo-consuming query is attributable from the record alone:
    * builds == 1 per tag → the memo held and the drift is host-side;
    * builds > 1 → the frame was rebuilt mid-suite.
    */
  def counters: Map[String, (Long, Long)] = stats.toMap

  private[graft] def resetCounters(): Unit = stats.clear()
}
