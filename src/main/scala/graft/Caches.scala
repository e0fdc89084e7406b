package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Query-scoped cache tracking: every block a query builder materializes
  * — a `persist` or a `localCheckpoint` — is released when the query's
  * scope closes, so a long-lived session embedding the registry (the
  * [[Graft]] facade's advertised use) does not accumulate
  * MEMORY_AND_DISK blocks per query executed — and does not depend on a
  * harness-side `spark.catalog.clearCache()` to stay bounded.
  *
  * The single rule: builders persist through [[scoped]] (a drop-in
  * `.transform(Caches.scoped)` where `.persist(MEMORY_AND_DISK)` used to
  * be) and checkpoint through [[checkpointed]] (where
  * `.localCheckpoint(eager)` used to be). Each call registers a release
  * action with the innermost [[scope]] open on the thread, and the scope
  * runs its actions (non-blocking unpersists) when it closes — AFTER the
  * scope body has consumed the result, so caches still serve every
  * multi-branch read inside the query. A scope releases exactly what it
  * registered, whatever other scopes are open on other threads. With no
  * active scope both calls degrade to the bare Spark operation (ad-hoc
  * notebook use keeps its caches; `spark.catalog.clearCache()` remains
  * the manual lever for persists).
  *
  * CacheScopeSpec pins `sparkContext.getPersistentRDDs` empty after
  * scoped runs of every persist- or checkpoint-taking query family, and
  * that no other `src/main` file persists or checkpoints directly.
  */
object Caches {

  private type Buf = scala.collection.mutable.ArrayBuffer[() => Unit]

  private val scopes = new ThreadLocal[List[Buf]] {
    override def initialValue: List[Buf] = Nil
  }

  private def register(release: () => Unit): Unit = scopes.get() match {
    case head :: _ => head += release
    case Nil       => ()
  }

  /** Persist at MEMORY_AND_DISK (spills, never OOMs) and register with
    * the innermost active scope. Usage: `df.transform(Caches.scoped)`.
    */
  def scoped[T](ds: Dataset[T]): Dataset[T] =
    scopedAs(ds, StorageLevel.MEMORY_AND_DISK)

  /** Persists and registers only when no equal plan is cached yet: the
    * scope that cached the plan first owns its release, so a nested or
    * concurrent scope reading the same plan cannot drop it on close
    * (`unpersist` matches by plan). The lookup and the persist are not
    * atomic: two threads persisting an equal plan at once can both
    * register it, and the first to close drops it for the other.
    */
  def scopedAs[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.persist(level)
      register(() => ds.unpersist(blocking = false))
    }
    ds
  }

  /** `ds.localCheckpoint(eager)` with its backing RDD (the returned
    * frame's [[LogicalRDD]]) registered with the innermost active scope.
    * A lazy checkpoint materializes in the first job that reads it.
    */
  def checkpointed[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val ck = ds.localCheckpoint(eager)
    val backing = ck.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    register(() => backing.unpersist(blocking = false))
    ck
  }

  /** Run `body` with cache tracking: frames persisted through [[scoped]]
    * and checkpointed through [[checkpointed]] inside it are released on
    * exit. Nest-safe: an inner scope releases only its own registrations.
    * `spark` names the session the scope serves; each release action
    * carries its own handle.
    */
  def scope[T](spark: SparkSession)(body: => T): T = {
    val buf: Buf = scala.collection.mutable.ArrayBuffer.empty
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get() match { case _ :: t => t; case Nil => Nil })
      buf.foreach { release =>
        try release()
        catch { case _: Throwable => () }
      }
    }
  }
}
