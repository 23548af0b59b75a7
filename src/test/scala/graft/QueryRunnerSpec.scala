package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.util.Success

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Categorify

/** The harness runner's contract: timed-out queries are cancelled and
  * joined before the next one runs, a leak it cannot stop is reported,
  * failures do not end the run, job groups are fresh per execution, bad
  * names fail by name, and each query's cache is released. */
class QueryRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  /** A job whose tasks sleep far past any timeout below. */
  private def slowJob(): Long = {
    val nap = udf { (i: Long) => Thread.sleep(60000); i }
    spark.range(0, 4, 1, 4).select(nap(col("id"))).collect().length.toLong
  }

  private def timedOut(o: QueryRunner.Outcome[_]) =
    o.result.failed.toOption.exists(_.isInstanceOf[TimeoutException])

  /** Jobs started and ended under job groups of query `name`. */
  private final class JobWatch(name: String) extends SparkListener {
    val started = new AtomicInteger
    val ended = new AtomicInteger
    private val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private def ours(p: java.util.Properties) =
      p != null && Option(p.getProperty("spark.jobGroup.id")).exists(_.startsWith(s"$name#"))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (ours(e.properties)) { groups.add(e.jobId); started.incrementAndGet() }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (groups.remove(e.jobId)) ended.incrementAndGet()
  }

  test("a timed-out query is cancelled and joined before the next one starts") {
    val watch = new JobWatch("slow")
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(watch)
    try {
      val runner = new QueryRunner(spark, "spec", timeoutMs = 3000, graceMs = 30000)
      val driver = new AtomicReference[Thread]
      val slow = runner.run("slow") {
        driver.set(Thread.currentThread())
        try slowJob() catch { case _: Exception => } // the body goes on...
        spark.range(10).count() // ...into a second job of the cancelled group
      }
      assert(timedOut(slow))
      assert(!slow.tainted)
      val seen = runner.run("next") {
        org.apache.spark.TestBus.drain(sc)
        (watch.started.get, watch.ended.get, driver.get.isAlive)
      }
      val (started, ended, alive) = seen.result.get
      assert(started >= 1, "the slow job must have started before the timeout")
      assert(started === ended, "no job of the timed-out query is still active")
      assert(!alive, "the timed-out query's driver thread has finished")
      assert(!seen.tainted)
    } finally sc.removeSparkListener(watch)
  }

  test("a query that ignores interrupts past the grace taints the later ones") {
    val runner = new QueryRunner(spark, "spec", timeoutMs = 200, graceMs = 200)
    @volatile var release = false
    val driver = new AtomicReference[Thread]
    val stuck = runner.run("stuck") {
      driver.set(Thread.currentThread())
      while (!release) try Thread.sleep(20) catch { case _: InterruptedException => }
    }
    try {
      assert(timedOut(stuck))
      assert(!stuck.tainted, "the leaking query itself ran alone")
      val later = runner.run("later")(1)
      assert(later.result === Success(1))
      assert(later.tainted)
      assert(runner.run("later still")(2).tainted)
    } finally {
      release = true
      driver.get.join(10000)
    }
    assert(!new QueryRunner(spark, "spec").run("fresh session")(3).tainted)
  }

  test("a failing query does not stop the run") {
    val runner = new QueryRunner(spark, "spec")
    val thrown = runner.run("throws")(throw new IllegalStateException("boom"))
    val jobFails = runner.run("job fails")(spark.sql("SELECT assert_true(false)").collect())
    val fine = runner.run("fine")(QueryRunner.noopRows(spark.range(7).toDF()))
    assert(thrown.result.failed.get.getMessage === "boom")
    assert(jobFails.result.isFailure && !timedOut(jobFails))
    assert(fine.result === Success(7L))
  }

  test("a query run again after it timed out is not cancelled at start") {
    val runner = new QueryRunner(spark, "spec", timeoutMs = 2000, graceMs = 30000)
    assert(timedOut(runner.run("again")(slowJob())))
    assert(runner.run("again")(spark.range(5).count()).result === Success(5L))
  }

  test("an unknown name fails naming it") {
    val pool: Map[String, QueryRunner.Query] =
      Map("q1" -> ((s, _) => s.range(1).toDF()), "q2" -> ((s, _) => s.range(2).toDF()))
    val e = intercept[IllegalArgumentException](
      QueryRunner.resolve(Some(Seq("q2", "q9_missing")), pool))
    assert(e.getMessage.contains("q9_missing"))
    assert(!e.getMessage.contains("q2"))
    assert(QueryRunner.resolve(Some(Seq("q2")), pool).map(_._1) === Seq("q2"))
    assert(QueryRunner.resolve(None, pool).map(_._1).toSet === Set("q1", "q2"))
  }

  test("the cache a query's Categorify.fit persists is released after it") {
    import spark.implicits._
    val runner = new QueryRunner(spark, "spec")
    val before = sc.getPersistentRDDs.keySet
    val o = runner.run("fit") {
      val df = Seq("a", "b", "b", "c").toDF("v")
      val rows = QueryRunner.noopRows(Categorify.fit(df, Seq("v")).transform(df))
      (rows, sc.getPersistentRDDs.keySet -- before)
    }
    val (rows, persisted) = o.result.get
    assert(rows === 4L)
    assert(persisted.nonEmpty, "fit caches its fitted table")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
