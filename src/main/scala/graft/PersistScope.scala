package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The one owner of cached intermediates. Operators that must persist a
  * shared sub-relation (e.g. the exploded shingle index both sides of a
  * self-join read) call [[PersistScope.cache]]; whoever runs the work
  * opens a scope around it with [[PersistScope.within]], and the scope
  * releases everything it claimed when the block exits, also when the
  * block throws. Nobody passes a scope around: nested operators find the
  * innermost open one on the calling thread.
  *
  * Contract: the DataFrame an operator returns may read the cached
  * blocks, so the action that consumes it (write/collect) belongs inside
  * the same `within` block. After the block the plan still runs, but
  * recomputes what the cache held.
  *
  * Scopes live on a plain, NON-inheritable thread-local stack. They
  * nest, and an inner scope releases only what it claimed. A thread
  * started inside a block (Spark's stream execution threads are started
  * from the caller's) sees no scope: it must not persist into one that
  * can close under it, so stream handlers open their own per trigger.
  * With no scope open, `cache` is a plain `persist()` owned by the
  * session, which its caller releases (e.g. `spark.catalog.clearCache()`).
  * `localCheckpoint`ed frames are RDD persistence, not CacheManager
  * entries, and are released by their callers, not here.
  */
object PersistScope {
  /** The calling thread's open scopes, innermost first: what each claimed. */
  private val open =
    ThreadLocal.withInitial[List[mutable.Buffer[DataFrame]]](() => Nil)

  /** Runs `body` inside a fresh scope and releases what the scope claimed
    * when `body` returns or throws. */
  def within[A](body: => A): A = {
    val outer = open.get
    val claimed = mutable.Buffer[DataFrame]()
    open.set(claimed :: outer)
    try body
    finally {
      open.set(outer)
      claimed.foreach(_.unpersist(blocking = false))
    }
  }

  /** Persist `df` and register it with the innermost open scope. If the
    * plan is ALREADY cached (CacheManager matches by logical plan, so a
    * different DataFrame over the same plan counts — e.g. two operators
    * in one query sharing a sub-relation, or a bench pass re-running a
    * query), no scope claims it: re-persisting would only log
    * CacheManager's "already cached" warning, and unpersisting it when
    * the block ends would pull the cache out from under the first owner.
    *
    * Hazard under CONCURRENT scopes on different threads (correctness-
    * safe, perf cliff): ownership is first-persist-wins, so if the owning
    * scope closes while a non-owning thread's job is mid-flight, the
    * cache vanishes and that job recomputes the plan. */
  def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else { open.get.headOption.foreach(_ += df); df.persist() }
}
