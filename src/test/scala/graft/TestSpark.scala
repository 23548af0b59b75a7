package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(cores = 4, shufflePartitions = 4)
    s
  }

  /** Spark jobs `f` starts on this thread, counted by a listener filtered
    * to a fresh job group, with the bus drained before and after. */
  def jobsRun(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try { f; org.apache.spark.TestBus.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    n.get
  }

  /** Run `f` with a wall-clock bound — for asserting that adversarial input
    * fails FAST rather than spinning (a plain test would just hang the
    * suite). Throws TimeoutException if the deadline passes. */
  def timed[A](millis: Long)(f: => A): A = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future(f), millis.millis)
  }
}
