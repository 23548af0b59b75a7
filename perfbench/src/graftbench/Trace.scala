package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer accounting for the traced run. Spans time the public calls
  * the benchmark makes into each layer; a SparkListener and a
  * StreamingQueryListener count what Spark's scheduler and the streaming
  * engine did. Totals are read only after the listener bus is drained.
  * With tracing off nothing is registered and [[span]] just runs its body.
  */
final class Trace(val on: Boolean) {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  @volatile private var ingestMs = 0L

  /** The workload is about to hand a micro-batch to a stream: the next
    * trigger's start minus this instant is the batch's streaming.wait_ms. */
  def markIngest(): Unit = ingestMs = System.currentTimeMillis()

  def add(name: String, v: Double): Unit = synchronized {
    sums(name) = sums.getOrElse(name, 0.0) + v
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally add(name, (System.nanoTime() - t0) / 1e6)
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      add("spark.jobs", 1)
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_ms", m.executorRunTime.toDouble)
        add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.task_gc_ms", m.jvmGCTime.toDouble)
        add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("streaming.trigger_ms", d("triggerExecution"))
        add("streaming.add_batch_ms", d("addBatch"))
        add("streaming.planning_ms", d("queryPlanning"))
        add("streaming.commit_ms", d("walCommit") + d("commitOffsets"))
        add("streaming.wait_ms", math.max(0L,
          java.time.Instant.parse(p.timestamp).toEpochMilli - ingestMs).toDouble)
      }
    }
  }

  def register(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the bus, then return the totals and the job intervals that
    * were recorded since the last call, and reset both. */
  def take(spark: SparkSession): (Map[String, Double], Seq[(Long, Long)]) = {
    if (on) BenchBus.drain(spark.sparkContext)
    synchronized {
      val out = (sums.toMap, jobIntervals.toSeq)
      sums.clear(); jobIntervals.clear()
      out
    }
  }
}

object Trace {
  /** Names the listeners fill, as opposed to the benchmark's own spans. */
  def listenerKey(name: String): Boolean =
    name.startsWith("spark.") || name.startsWith("streaming.")

  /** Milliseconds of [t0, t1] that no Spark job covered. */
  def outsideJobsMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = t0
    jobs.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    (t1 - t0 - covered).toDouble
  }
}
