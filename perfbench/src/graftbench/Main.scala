package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Settings handed over by run.py in `params.json`. */
final class Params(m: java.util.Map[String, AnyRef]) {
  private def get(k: String): AnyRef =
    Option(m.get(k)).getOrElse(sys.error(s"params.json lacks '$k'"))
  def str(k: String): String = get(k).toString
  def int(k: String): Int = get(k).asInstanceOf[Number].intValue
  def long(k: String): Long = get(k).asInstanceOf[Number].longValue
  def bool(k: String): Boolean = get(k).asInstanceOf[java.lang.Boolean]
  def dir(k: String): String = new File(str(k)).getAbsolutePath
}

/** One workload: set up once, then timed ops in whole rounds. */
trait Workload {
  /** Ops per round; a run attempts whole rounds only. */
  def roundSize: Int = 1
  /** Untimed executions of the op before the timed ones (the first is the
    * cold one). */
  def warmupOps: Int = 1
  def setup(): Unit
  /** Op `i` (timed for i >= 0; i = -1 is the untimed warm-up op);
    * returns the items it handled. */
  def op(i: Int): Long
  /** Untimed: record what op `i` returned, for the checker. */
  def afterOp(i: Int): Unit = ()
  /** Untimed, traced runs only: per-layer figures that need extra work
    * beside op `i` (decomposed calls, a brute-force baseline). */
  def traceOp(i: Int): Unit = ()
  /** Untimed: final outputs for the checker. */
  def finish(): Unit = ()
  /** Directories whose bytes on disk are the workload's outputs. */
  def outputDirs: Seq[String]
}

final class Ctx(val spark: SparkSession, val p: Params, val trace: Trace) {
  val in: String = p.dir("in_dir")
  val out: String = p.dir("out_dir")
  val json = new ObjectMapper()

  /** Appends one JSON line to `out/<name>` (checker input). */
  def dump(name: String, value: AnyRef): Unit = {
    val w = new java.io.FileWriter(new File(out, name), true)
    try { w.write(json.writeValueAsString(value)); w.write('\n') } finally w.close()
  }
}

object Main {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val json = new ObjectMapper()
    val p = new Params(json.readValue(new File(args(0)),
      classOf[java.util.Map[String, AnyRef]]))
    val scratch = p.dir("scratch_dir")
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[${p.int("slots")}]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", p.int("shuffle_partitions").toString)
      .config("spark.default.parallelism", p.int("shuffle_partitions").toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(p.bool("trace"))
    trace.register(spark)
    val ctx = new Ctx(spark, p, trace)

    val w: Workload = p.str("workload") match {
      case "medallion_batch" => new Medallion(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case "online_serve" => new OnlineServe(ctx)
      case "ann_index" => new AnnIndex(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val setupLayers = trace.take(spark)._1 // setup's events are not any op's
    // warm-up: the first, cold executions of the op are set-up, not timed ops
    val warm0 = System.nanoTime()
    w.op(-w.warmupOps)
    val warmupMs = (System.nanoTime() - warm0) / 1e6
    (1 - w.warmupOps until 0).foreach(w.op)
    trace.take(spark)

    val seconds = p.int("seconds")
    val minRounds = p.int("min_rounds")
    val ops = new java.util.ArrayList[AnyRef]()
    val firstOpStartMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    var rounds = 0
    while (rounds < minRounds || System.nanoTime() < deadline) {
      for (_ <- 0 until w.roundSize) {
        val jvm0 = jvmCounters()
        val cpu0 = osBean.getProcessCpuTime
        val wall0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val items = w.op(i)
        val wallNs = System.nanoTime() - t0
        val wall1 = System.currentTimeMillis()
        val cpuNs = osBean.getProcessCpuTime - cpu0
        val rec = new java.util.LinkedHashMap[String, AnyRef]()
        rec.put("wall_ms", Double.box(wallNs / 1e6))
        rec.put("cpu_ms", Double.box(cpuNs / 1e6))
        rec.put("items", Long.box(items))
        if (trace.on) {
          val (sums, jobs) = trace.take(spark)
          val layers = new java.util.TreeMap[String, AnyRef]()
          jvmCounters().zip(jvm0).zip(Seq("jvm.gc_ms", "jvm.jit_ms", "spark.codegen_compiles"))
            .foreach { case ((a, b), k) => layers.put(k, Double.box((a - b).toDouble)) }
          sums.foreach { case (k, v) => layers.put(k, Double.box(v)) }
          layers.put("spark.outside_jobs_ms",
            Double.box(Trace.outsideJobsMs(wall0, wall1, jobs)))
          // the side calls' own spans only: their listener counts describe
          // the side calls, not op i, and must not replace op i's spark.*
          w.traceOp(i)
          trace.take(spark)._1.filter { case (k, _) => !Trace.listenerKey(k) }
            .foreach { case (k, v) => layers.put(k, Double.box(v)) }
          rec.put("layers", layers)
        }
        w.afterOp(i)
        ops.add(rec)
        i += 1
      }
      rounds += 1
    }
    w.finish()
    val outputBytes = w.outputDirs.map(d => du(new File(d))).sum
    val heapUsed = retainedHeap()

    val res = new java.util.LinkedHashMap[String, AnyRef]()
    res.put("first_op_epoch_ms", Long.box(firstOpStartMs))
    res.put("warmup_op_ms", Double.box(warmupMs))
    res.put("rounds", Int.box(rounds))
    res.put("round_size", Int.box(w.roundSize))
    res.put("ops", ops)
    res.put("setup_layers", setupLayers.map { case (k, v) => k -> Double.box(v) }.asJava)
    res.put("heap_retained_mb", Double.box(heapUsed / 1e6))
    res.put("output_mb", Double.box(outputBytes / 1e6))
    json.writeValue(new File(p.dir("result_file")), res)
    spark.stop()
  }

  /** (GC ms of all collectors, JIT compile ms, whole-stage codegen
    * compilations) so far in this JVM. */
  private def jvmCounters(): Seq[Long] = Seq(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Heap in use after full GCs, once Spark's ContextCleaner (which frees
    * broadcasts and shuffles asynchronously after a GC) has settled: GC
    * until two readings agree within 1%. */
  private def retainedHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    def read(): Long = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var prev = read()
    var cur = read()
    var n = 0
    while (math.abs(cur - prev) > prev / 100 && n < 10) { prev = cur; cur = read(); n += 1 }
    cur
  }

  /** Bytes of every regular file under `f`, checksum side files excluded. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else if (f.isFile && !f.getName.endsWith(".crc")) f.length
    else 0L
}
