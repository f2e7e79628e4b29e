package graft.std

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Materialize-once barrier for diamond-shaped plans.
  *
  * A lazily-composed pipeline whose intermediate frame feeds N downstream
  * consumers (a self-join's two sides, a verify join plus a signature
  * aggregate, ...) re-executes the whole upstream subtree once per
  * consumer unless Spark happens to reuse the exchange — and exchange
  * reuse is fragile under AQE re-planning and alias divergence. For an
  * expensive upstream (regex normalization + shingling over a corpus)
  * that turns an 11 s query into a ~100 s one when the reuse doesn't
  * fire. Pinning the frame makes the cost deterministic: compute once,
  * read N times.
  *
  * Two mechanisms, selected by the session conf
  * `spark.graft.materialize.mode`:
  *
  *  - `local` (default): `localCheckpoint(eager)` — executor-local
  *    blocks, lineage truncated. Fastest on a single-node runner, but a
  *    lost executor is unrecoverable, so it is the LOCAL mode.
  *  - `disk`: `persist(DISK_ONLY)` + a materializing action — lineage is
  *    kept, so on a multi-executor cluster a lost executor's partitions
  *    recompute from source instead of failing the job. This is the
  *    cluster-safe mode (a parquet intermediate would additionally
  *    survive driver restarts; DISK_ONLY keeps the same API surface).
  *
  * Call sites only rely on the materialize-once contract, not on the
  * mechanism — `MaterializeModeSpec` proves the dedup pipeline emits
  * identical rows under both.
  *
  * Every pin is REGISTERED, and the per-query drivers ([[graft.Bench]],
  * [[graft.Verify]]) call [[releaseAll]] after each query's action:
  * without that, eagerly-stored blocks accumulate across a 60-query
  * session, the storage pool squeezes execution memory, and late
  * queries nondeterministically spill (round-3 bench: two identical
  * pipelines at 6 s and 69 s — the slow one ran last).
  */
object Materialize {

  /** Pins are tagged with the owner token of the [[scoped]] block active
    * on the registering thread (null = unscoped). Scopes release only
    * their own pins, so a streaming micro-batch pinning on its own
    * thread can no longer drop an interactive query's still-in-use
    * checkpoint blocks (and vice versa).
    */
  private val pins =
    scala.collection.mutable.ListBuffer.empty[(AnyRef, () => Unit)]

  private val owner = new ThreadLocal[AnyRef]

  private def register(release: () => Unit): Unit =
    synchronized { pins += ((owner.get(), release)) }

  /** Compute `df` once and return a frame whose reads never re-execute
    * the upstream plan. The pin is held until [[releaseAll]].
    */
  def once(df: DataFrame): DataFrame = {
    val mode =
      df.sparkSession.conf.get("spark.graft.materialize.mode", "local")
    mode match {
      case "disk" =>
        val p = df.persist(StorageLevel.DISK_ONLY)
        p.count() // scan every partition so the cache is fully built
        register(() => { p.unpersist(false); () })
        p
      case _ =>
        val cp = df.localCheckpoint(true)
        register(() => releaseCheckpoint(cp))
        cp
    }
  }

  /** Partitioning-preserving UNREGISTERED pin for session-memoized
    * standing state whose consumers equi-join on `keys` every warm
    * run (the curation standing fingerprint indexes): localCheckpoint
    * first (lineage truncation — the plain persist form keeps the
    * full logical subtree, which re-grows analyzer cost and
    * re-introduces self-join attribute ambiguity against sibling
    * frames of the same source), then a cached repartition ON TOP of
    * the checkpoint. The cached plan is the two-node
    * `Repartition(LogicalRDD)`, so consumers see
    * `HashPartitioning(keys, shuffle.partitions)` from the in-memory
    * scan and the standing side of every warm lookup join stops
    * re-exchanging — the local-mode analogue of keeping the index
    * hash-bucketed on disk at cluster scale. Build cost (one extra
    * exchange + cache write) is paid once per session; the memo layer
    * reuses the frame across queries and reps. Release with
    * [[releasePin]] (it unpersists the cache AND the checkpoint RDD
    * under it).
    */
  def pinUnregisteredBy(df: DataFrame,
                        keys: org.apache.spark.sql.Column*): DataFrame =
    df.sparkSession.conf.get("spark.graft.materialize.mode", "local") match {
      case "disk" =>
        // cluster-safe mode: persist keeps the plan (so the repartition's
        // partitioning is visible) AND the lineage — no checkpoint needed
        val p = df.repartition(keys: _*).persist(StorageLevel.DISK_ONLY)
        p.count()
        p
      case _ =>
        val cp = df.localCheckpoint(true)
        val p = cp.repartition(keys: _*)
          .persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
    }

  /** Materialize `df` once WITHOUT registering in the pin registry —
    * for state that must outlive per-query `releaseAll` / per-batch
    * `scoped` release (e.g. the incremental-dedup corpus state held
    * across a whole stream). Honors the same
    * `spark.graft.materialize.mode` switch as [[once]]; the owner
    * releases with [[releasePin]] when done.
    */
  def pinUnregistered(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.materialize.mode", "local") match {
      case "disk" =>
        val p = df.persist(StorageLevel.DISK_ONLY)
        p.count()
        p
      case _ => df.localCheckpoint(true)
    }

  /** Release a frame pinned by [[pinUnregistered]], whichever mechanism
    * built it: `unpersist` covers the DISK_ONLY cache entry,
    * [[releaseCheckpoint]] the localCheckpoint blocks (each is a no-op
    * for the other mode).
    */
  def releasePin(df: DataFrame): Unit = {
    try { df.unpersist(false); () } catch { case _: Throwable => () }
    releaseCheckpoint(df)
  }

  /** Drop the executor blocks behind a frame returned by
    * `localCheckpoint` — `Dataset.unpersist` only covers CacheManager
    * entries, so the checkpoint RDD must be unpersisted directly. The
    * whole logical tree is traversed so a projection sitting on top of
    * the checkpoint (e.g. the d5 cluster memo's select over the CC
    * result) still releases the underlying RDD — every checkpoint in
    * the tree is freed, so only call once every consumer of every
    * pinned input has run its action. After release the frame is
    * unusable (lineage was truncated).
    */
  def releaseCheckpoint(cp: DataFrame): Unit =
    cp.queryExecution.logical.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false); ()
      case _              => ()
    }

  /** Release every UNSCOPED pin registered since the last call. The
    * per-query harness calls this between queries; anything that must
    * outlive a query (e.g. the d5/d6/d7 shared-clusters memo)
    * materializes with a bare `localCheckpoint` instead of [[once]].
    * Pins owned by a live [[scoped]] block (a concurrent streaming
    * micro-batch) are left for their scope to release.
    */
  def releaseAll(): Unit = {
    val mine = synchronized {
      val (scopedPins, unscoped) = pins.partition(_._1 != null)
      pins.clear(); pins ++= scopedPins
      unscoped.toList
    }
    mine.foreach(p => try p._2() catch { case _: Throwable => () })
  }

  /** Run `f` and release ONLY the pins it registered — the long-running
    *-process form of [[releaseAll]]: a streaming `foreachBatch` that
    * pins per micro-batch must not hold those blocks into the next
    * batch, and must not drop pins owned by unrelated queries on the
    * same session. Release happens after `f` returns, so every action
    * inside `f` (the micro-batch's write) must complete inside it.
    * Ownership is a per-thread token: pins registered on this thread
    * while the scope is live belong to it, so two concurrently-pinning
    * pipelines on different threads (a micro-batch alongside an
    * interactive query) can no longer release each other's blocks.
    * `once` calls that `f` dispatches to OTHER threads register as
    * unscoped, so the scope does not free them and the next
    * [[releaseAll]] does — keep pinning on the scope's own thread.
    */
  def scoped[T](f: => T): T = {
    val token = new Object
    val prev = owner.get()
    owner.set(token)
    try f
    finally {
      owner.set(prev)
      val mine = synchronized {
        val (s, rest) = pins.partition(_._1 eq token)
        pins.clear(); pins ++= rest
        s.toList
      }
      mine.foreach(p => try p._2() catch { case _: Throwable => () })
    }
  }

  /** Currently-held pin count (test hook). */
  private[graft] def pinCount: Int = synchronized { pins.length }
}
