package graft

import java.util.concurrent.ConcurrentHashMap

/** What one run-state query fitted or computed in this JVM, keyed by the
  * dataset it ran on. A run-state oracle inlines that value (the exact
  * centroids, codebooks, merges or rates the Spark run used), so fit
  * nondeterminism can never split the Spark result from its DuckDB twin.
  *
  * The sole-dir rule: the oracle may only name a value when exactly one
  * dataset was recorded — Verify's shape. A JVM that ran several sfDirs
  * (multi-SF bench sweeps) gets None and the query falls back to the
  * rows-only check, instead of a twin built from another dataset's
  * model. */
final class RunState[V] {
  private val byDir = new ConcurrentHashMap[String, V]()

  /** The value for `dir`, fitted at most once per JVM: concurrent callers
    * of one dir wait for the single fit and share its result. */
  def getOrFit(dir: String)(fit: => V): V =
    byDir.computeIfAbsent(dir, _ => fit)

  /** Record (or replace) the value the latest run on `dir` computed. */
  def record(dir: String, v: V): Unit = byDir.put(dir, v)

  /** The recorded value when exactly one dir has one, else None. */
  def sole: Option[V] = {
    import scala.jdk.CollectionConverters._
    byDir.values().asScala.toList match {
      case v :: Nil => Some(v)
      case _ => None
    }
  }

  /** Drop `dir`'s record — specs undo the second dir they simulate. */
  private[graft] def forget(dir: String): Unit = byDir.remove(dir)
}
