package graft.std

import org.apache.spark.sql.{Column, DataFrame, GraftPins}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
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
  * Every pin in the engine has one lifecycle:
  *
  *  - [[pinUnregistered]] builds it. It is the one reader of the session
  *    conf `spark.graft.materialize.mode`:
  *    - `local` (default): `localCheckpoint(eager)` — executor-local
  *      blocks, lineage truncated. Fastest on a single-node runner, but
  *      a lost executor is unrecoverable, so it is the LOCAL mode.
  *    - `disk`: DISK_ONLY blocks that keep their lineage, so on a
  *      multi-executor cluster a lost executor's partitions recompute
  *      from source instead of failing the job
  *      ([[org.apache.spark.sql.GraftPins.persistRows]]; the keyed form
  *      is a `persist(DISK_ONLY)` repartition).
  *  - [[releasePin]] frees it, whichever mechanism built it.
  *  - Its owner decides when: a per-query pin is handed to the registry
  *    ([[once]] / [[register]]) and freed by [[releaseAll]] or the
  *    enclosing [[scoped]] block; a frame that outlives the query is
  *    held by [[SessionMemo]] (which pins its own entries) or by an
  *    explicit owner such as `Dedup.IncrementalState`.
  *
  * Call sites only rely on the materialize-once contract, not on the
  * mechanism — `MaterializeModeSpec` proves the pinned pipelines emit
  * identical rows under both modes.
  *
  * The per-query drivers ([[graft.Bench]], [[graft.Verify]]) call
  * [[releaseAll]] after each query's action: without that,
  * eagerly-stored blocks accumulate across a session, the storage pool
  * squeezes execution memory, and late queries nondeterministically
  * spill.
  */
object Materialize {

  /** Pins are tagged with the owner token of the [[scoped]] block active
    * on the registering thread (null = unscoped). Scopes release only
    * their own pins, so a streaming micro-batch pinning on its own
    * thread can no longer drop an interactive query's still-in-use
    * checkpoint blocks (and vice versa).
    */
  private val pins =
    scala.collection.mutable.ListBuffer.empty[(AnyRef, DataFrame)]

  private val owner = new ThreadLocal[AnyRef]

  /** Compute `df` once and return a frame whose reads never re-execute
    * the upstream plan. The pin is held until [[releaseAll]] (or the end
    * of the enclosing [[scoped]] block).
    */
  def once(df: DataFrame): DataFrame = register(pinUnregistered(df))

  /** Hand a [[pinUnregistered]] result to the per-query registry, so
    * [[releaseAll]] (or the enclosing [[scoped]] block) frees it —
    * for loops that pin round by round and return their last round.
    */
  def register(pinned: DataFrame): DataFrame = {
    synchronized { pins += ((owner.get(), pinned)) }
    pinned
  }

  /** Materialize `df` once WITHOUT registering it; the owner releases
    * it with [[releasePin]].
    *
    * With `keys` the pin stays hash-partitioned on them, for standing
    * state whose consumers equi-join on `keys` on every warm run (the
    * curation fingerprint indexes): the cached plan is a repartition,
    * so consumers see `HashPartitioning(keys, shuffle.partitions)` from
    * the in-memory scan and the standing side of every lookup join
    * stops re-exchanging. In `local` mode the repartition sits on top
    * of a checkpoint (lineage truncation — the plain persist form keeps
    * the full logical subtree, which re-grows analyzer cost and
    * re-introduces self-join attribute ambiguity against sibling frames
    * of the same source); `disk` persists the repartition directly.
    */
  def pinUnregistered(df: DataFrame, keys: Column*): DataFrame = {
    val disk =
      df.sparkSession.conf.get("spark.graft.materialize.mode", "local") ==
        "disk"
    if (keys.isEmpty) {
      if (disk) GraftPins.persistRows(df, StorageLevel.DISK_ONLY)
      else df.localCheckpoint(true)
    } else {
      val base = if (disk) df else df.localCheckpoint(true)
      val p = base.repartition(keys: _*)
        .persist(if (disk) StorageLevel.DISK_ONLY
                 else StorageLevel.MEMORY_AND_DISK)
      p.count() // scan every partition so the cache is fully built
      p
    }
  }

  /** Free the blocks a [[pinUnregistered]] frame holds: its cache entry
    * and the pinned RDD at the root of its plan, under at most the keyed
    * form's repartition (`Dataset.unpersist` only covers cache entries).
    * Pinned frames it was built from are left alone, so releasing a pin
    * never frees another owner's pin. After release a `local`-mode
    * frame is unusable (lineage was truncated).
    */
  def releasePin(df: DataFrame): Unit = {
    try { df.unpersist(false); () } catch { case _: Throwable => () }
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(false); ()
      case RepartitionByExpression(_, lr: LogicalRDD, _, _) =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }
  }

  private def releaseOwned(owned: AnyRef => Boolean): Unit = {
    val mine = synchronized {
      val (m, rest) = pins.partition(p => owned(p._1))
      pins.clear(); pins ++= rest
      m.toList
    }
    mine.foreach(p => try releasePin(p._2) catch { case _: Throwable => () })
  }

  /** Release every UNSCOPED pin registered since the last call. The
    * per-query harness calls this between queries. Pins owned by a live
    * [[scoped]] block (a concurrent streaming micro-batch) are left for
    * their scope to release.
    */
  def releaseAll(): Unit = releaseOwned(_ == null)

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
      releaseOwned(_ eq token)
    }
  }

  /** Currently-held pin count (test hook). */
  private[graft] def pinCount: Int = synchronized { pins.length }
}
