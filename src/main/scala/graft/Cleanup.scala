package graft

import org.apache.spark.sql.DataFrame

/** Registry for DataFrames a query builder materialized (localCheckpoint /
  * cache) that must outlive the builder call but not the query run:
  * `Harness.run` drains it after each unit of work, also when the work
  * throws, so checkpoint blocks don't accumulate in executor storage for
  * the life of the session — ContextCleaner only frees them when the RDD
  * is GC'd, which in a long-lived bench/verify JVM can be never. At 100 TB the same discipline
  * applies: a pipeline that checkpoints a derived corpus per stage must
  * unpersist superseded stages explicitly (see Dedup.duplicateClusters for
  * the in-operator version of this rule).
  *
  * The registry is PER-THREAD: `drain()` only unpersists what the calling
  * thread registered, so a concurrent query on another thread (e.g. two
  * harnesses sharing one SparkSession) can never have its checkpoint
  * blocks yanked mid-run — unpersisting a localCheckpoint is
  * unrecoverable (lineage is truncated; the job fails rather than
  * recomputes). Within one thread the contract is build → force → drain
  * per query: building a second query before forcing the first would
  * drain blocks the first still needs, so don't interleave — `Harness.run`
  * and the specs all follow the sequential shape.
  */
object Cleanup {
  private val pending =
    ThreadLocal.withInitial[java.util.ArrayDeque[DataFrame]](() => new java.util.ArrayDeque[DataFrame]())

  /** Register a materialized DataFrame for later unpersist by THIS thread;
    * returns it.
    */
  def register(df: DataFrame): DataFrame = { pending.get().add(df); df }

  /** Unpersist every DataFrame the calling thread registered
    * (non-blocking). Safe to call when empty; safe to call repeatedly.
    */
  def drain(): Unit = {
    val q = pending.get()
    var df = q.poll()
    while (df != null) { df.unpersist(); df = q.poll() }
  }

  /** Number of registrations awaiting drain on the calling thread
    * (spec/debug surface for the build→force→drain contract).
    */
  def pendingCount: Int = pending.get().size
}
