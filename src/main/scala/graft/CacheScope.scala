package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Scoped lifecycle for operator-internal materializations (persisted reuse
  * frames and eager local checkpoints).
  *
  * WHY: operators like [[graft.operators.Dedup.jaccardDuplicatePairs]]
  * persist small intermediate frames (digests, band keys, sketches) that are
  * consumed several times within one query. Spark's CacheManager holds those
  * entries STRONGLY until an explicit unpersist — and every subsequent
  * query pays a plan-canonicalization comparison against every live entry
  * during cache lookup. A long-running service (or a benchmark harness)
  * composing hundreds of such queries in one session accumulates entries
  * and storage blocks without bound; the round-3 full-set bench measured a
  * ~10× collapse from exactly that accumulation.
  *
  * CONTRACT: a scope is opened around one unit of work (one query build +
  * execute), is confined to the opening thread, and frees every
  * materialization registered inside it when the unit completes:
  *
  * {{{
  * CacheScope.withScope {
  *   val pairs = Dedup.jaccardDuplicatePairs(docs, "text", "doc_id")
  *   pairs.count()   // consumers run INSIDE the scope
  * }                  // persisted frames + checkpoints freed here
  * }}}
  *
  * Outside any scope, [[persist]] returns its frame unchanged: an
  * operator-internal frame persisted there would be a CacheManager entry
  * its caller can never free, so a scope-less caller gets plan-level
  * re-evaluation instead, and may persist the operator's OUTPUT itself.
  * Registration binds to the scope open on the REGISTERING thread at
  * plan-build time, so concurrent queries on separate threads (the Verify
  * harness shape) get independent scopes.
  *
  * Checkpoint caveat: a `localCheckpoint` truncates lineage, so freeing it
  * is only safe once every consumer job has finished — which is precisely
  * the scope-close point. Never close a scope while one of its frames is
  * still lazily un-consumed.
  */
object CacheScope {

  final class Scope private[CacheScope] () {
    private val actions = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    private[CacheScope] def add(a: () => Unit): Unit = synchronized { actions += a }
    private[CacheScope] def close(): Unit = synchronized {
      // reverse order: later materializations may sit atop earlier ones
      actions.reverseIterator.foreach(a => try a() catch { case _: Throwable => () })
      actions.clear()
    }
    private[CacheScope] def count: Int = synchronized(actions.length)
  }

  private val scopes = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Is a scope open on this thread? */
  def active: Boolean = scopes.get.nonEmpty

  /** Number of cleanups registered in the innermost open scope (test hook). */
  def registeredCount: Int = scopes.get.headOption.map(_.count).getOrElse(0)

  /** Inside an open scope: persist `ds` (MEMORY_AND_DISK — recomputable
    * lineage, NOT a checkpoint: a lost executor recomputes a partition
    * instead of killing the query) and register its unpersist with the
    * innermost scope. Outside any scope: `ds` unchanged, un-persisted.
    */
  def persist[T](ds: Dataset[T]): Dataset[T] =
    if (active) track(ds.persist(StorageLevel.MEMORY_AND_DISK)) else ds

  /** Register an already-persisted Dataset for unpersist at scope close.
    * `unpersist` removes the CacheManager ENTRY (not just the blocks), so a
    * closed scope leaves no per-query growth in cache-lookup state.
    *
    * BLOCKING unpersist (r15): scope close runs BETWEEN units of work (the
    * bench's inter-query gap, a service's per-request boundary). A
    * non-blocking close queues async RemoveRdd/RemoveBlock messages on the
    * driver's BlockManagerMaster endpoint — a single-threaded inbox — and
    * that backlog drains INTO the next unit's block operations, taxing
    * whichever query runs next (the r14 "composed-gate full-set elevation"
    * mechanism: each gate query's run 2 executed while run 1's fixture
    * debris was still being reclaimed). Blocking pins the reclamation to
    * the scope that created the state, where it belongs.
    */
  def track[T](ds: Dataset[T]): Dataset[T] = {
    scopes.get match {
      case s :: _ => s.add(() => { ds.unpersist(blocking = true); () })
      case Nil    => ()
    }
    ds
  }

  /** Session conf key selecting RELIABLE checkpointing for every
    * [[localCheckpoint]] call on that session. `localCheckpoint` truncates
    * lineage into executor-local blocks: fast (no file I/O) but an executor
    * loss mid-computation makes the checkpointed partitions unrecoverable —
    * the job FAILS (restart from scratch; never a wrong answer). On a real
    * multi-executor cluster running long iterative ops (PageRank,
    * alt-star CC), set this to `true` and call
    * `spark.sparkContext.setCheckpointDir(<fault-tolerant path>)`: each
    * materialization is then written to the checkpoint dir and survives
    * executor loss, at the cost of one distributed write+read per
    * materialization. Local/bench/verify runs keep the default (`false`) —
    * a single-JVM `local[n]` session cannot lose an executor.
    *
    * Both modes return a `LogicalRDD` frame that preserves
    * `outputPartitioning`, so co-partitioned join plans are identical
    * under either. Reliable-mode files are reclaimed by Spark's context
    * cleaner (`spark.cleaner.referenceTracking.cleanCheckpoints=true`) or
    * at application end — the scope-close `unpersist` frees any in-memory
    * blocks but deliberately does not delete checkpoint FILES, which may
    * still back a recovering consumer.
    */
  val ReliableCheckpointKey = "spark.graft.checkpoint.reliable"

  /** Eager checkpoint whose storage is freed at scope close — executor-
    * local by default, reliable (checkpoint-dir) when the session sets
    * [[ReliableCheckpointKey]]. The checkpointed RDD is reached through
    * the returned frame's `LogicalRDD` plan node; each call checkpoints a
    * fresh RDD, so a scope only ever frees checkpoints it created (safe
    * under concurrent scopes, unlike persisted-plan entries which
    * CacheManager dedupes across threads).
    */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val reliable =
      df.sparkSession.conf.get(ReliableCheckpointKey, "false").trim.equalsIgnoreCase("true")
    val cp =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)
    scopes.get match {
      case s :: _ =>
        // blocking at scope close, same rationale as [[track]]; the EAGER
        // mid-computation frees ([[unpersistCheckpoint]]) stay async — they
        // run inside an iteration loop where waiting would serialize rounds
        checkpointRdd(cp).foreach(r => s.add(() => { r.unpersist(blocking = true); () }))
      case Nil => ()
    }
    cp
  }

  private def checkpointRdd(cp: DataFrame): Option[RDD[_]] =
    cp.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Eagerly free a checkpoint BEFORE its scope closes. Iterative operators
    * checkpoint every round; scope-close-only reclamation would pin
    * O(rounds × data) storage at once, so each loop frees round N-1's
    * checkpoint as soon as round N's has truncated lineage past it and
    * every intermediate consumer job has run. Idempotent (RDD.unpersist on
    * an already-freed RDD is a no-op), so the scope's own close repeating
    * the unpersist is harmless.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(r => { r.unpersist(blocking = false); () })

  /** Is the session's CacheManager entry table empty? The accessor is
    * `private[sql]`, so this goes through reflection (bytecode access is
    * public). Shared by CacheLifecycleSpec and the Stress harness's
    * post-scope asserts: "scope closed" must MEAN "no entries left", and a
    * stress body added without scope discipline should fail its own run,
    * not resurface as the round-3 accumulation collapse.
    */
  def cacheManagerEmpty(spark: org.apache.spark.sql.SparkSession): Boolean = {
    val ss = spark.sharedState
    val cm = ss.getClass.getMethod("cacheManager").invoke(ss)
    cm.getClass.getMethod("isEmpty").invoke(cm).asInstanceOf[Boolean]
  }

  /** Run `body` in a fresh scope on this thread; free everything registered
    * inside it afterwards (including on exception). Scopes nest: inner
    * registrations free at the inner close.
    */
  def withScope[T](body: => T): T = {
    val s = new Scope
    scopes.set(s :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get match { case _ :: t => t; case Nil => Nil })
      s.close()
    }
  }
}
