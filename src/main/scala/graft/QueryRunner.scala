package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicLong

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Runs the harness's queries one at a time on one session: Bench, Verify,
  * Scaling and Explain all go through it.
  *
  * Each execution runs on its own driver thread under a job group that is
  * fresh per execution: `cancelJobGroupAndFutureJobs` remembers a cancelled
  * group for the life of the context, so a reused id would cancel the
  * same query's next run at its first job. On timeout the runner cancels
  * the group (its running and its future jobs), interrupts the thread and
  * joins it within `graceMs`, so a timed-out query is not still running
  * while the next one is timed. A thread that outlives the grace (a
  * driver-side loop that ignores interrupts, such as a local graph solve)
  * cannot be stopped: every later execution on this runner reports
  * `tainted`, because it shares the driver with it. After each execution,
  * untimed, the runner clears the session's cache: it releases what the
  * query persisted (and the broadcasts its cached lineage pins), which
  * would otherwise GC-thrash whatever runs next (q29 measured 12.4 s
  * after dirty neighbours vs 1.4 s clean) and leak into later queries'
  * plans.
  *
  * `tag` prefixes the runner's stderr lines (`[bench]`, `[verify]`, ...). */
final class QueryRunner(val spark: SparkSession, tag: String,
                        timeoutMs: Long = QueryRunner.timeoutMs,
                        graceMs: Long = QueryRunner.GraceMs) {
  import QueryRunner._

  private var leaked: Option[String] = None

  def run[T](name: String)(body: => T): Outcome[T] = {
    val sc = spark.sparkContext
    val group = s"$name#${executions.incrementAndGet()}"
    val tainted = leaked.isDefined
    if (tainted)
      System.err.println(s"[$tag] $name TAINTED: ${leaked.get} still runs on the driver")
    @volatile var result: Try[T] = null
    val worker = new Thread(() => {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      result =
        try Success(body)
        catch { case e: Throwable => Failure(e) }
        finally sc.clearJobGroup()
    }, s"graft-query-$group")
    worker.setDaemon(true)
    val t0 = System.nanoTime()
    worker.start()
    worker.join(timeoutMs)
    val timedOut = worker.isAlive
    if (timedOut) {
      sc.cancelJobGroupAndFutureJobs(group, s"$name timed out")
      worker.interrupt()
      worker.join(graceMs)
      System.err.println(s"[$tag] $name TIMED OUT after ${timeoutMs / 1000}s")
      if (worker.isAlive) {
        leaked = Some(name)
        System.err.println(s"[$tag] $name still runs $graceMs ms after its " +
          "cancel; later queries on this session are tainted")
      }
    } else result.failed.foreach(e => System.err.println(s"[$tag] $name failed: ${e.getMessage}"))
    val seconds = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    Outcome(seconds, if (timedOut)
      Failure(new TimeoutException(s"$name timed out after ${timeoutMs / 1000}s")) else result,
      tainted)
  }
}

object QueryRunner {
  type Query = (SparkSession, String) => DataFrame

  /** One execution: wall seconds from thread start to its join (or to the
    * end of the grace); its value, its error, or a TimeoutException; and
    * whether a leaked earlier query still ran beside it. */
  final case class Outcome[+T](seconds: Double, result: Try[T], tainted: Boolean)

  /** How long a timed-out query's thread gets to finish after its cancel. */
  val GraceMs = 30000L

  /** Per-query timeout: `SPARK_GRAFT_QUERY_TIMEOUT` seconds, default 300. */
  def timeoutMs: Long =
    sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong * 1000

  /** The `SPARK_GRAFT_ONLY` comma-separated name filter, if set. */
  def only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  private val executions = new AtomicLong

  /** `pool`'s entries named in `names` (all of them when None), in the
    * pool's own order. Fails naming every name the pool does not hold. */
  def resolve(names: Option[Seq[String]], pool: Map[String, Query]): Seq[(String, Query)] =
    names match {
      case None => pool.toSeq
      case Some(ns) =>
        val unknown = ns.filterNot(pool.contains)
        require(unknown.isEmpty, s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
          unknown.mkString(", "))
        pool.toSeq.filter { case (n, _) => ns.contains(n) }
    }

  /** Materialize every output row of `df` through the noop sink and return
    * the row count, taken inline by an Observation (no second job). The
    * sink runs the normal action path, so session SQL confs reach the
    * executor threads, and Catalyst cannot prune the query to a row-count
    * shortcut as it could for a bare `count()`. */
  def noopRows(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }
}
