package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

import graft.store.FeatureStore
import graft.streaming.Streams

/** One op = one two-stage serving request: FeatureStore.getOnlineFeatures
  * for a fixed number of user keys against a table published at setup
  * through Streams.upsertOnline, then candidate retrieval for as many query
  * embeddings through the persisted IVF index [[AnnIndex]] builds at setup.
  * A round is `round_size` requests; the last of each round sends the
  * fixed int64 key set (the Feast entity type) against the int key. */
final class OnlineServe(ctx: Ctx) extends Workload {
  import ctx.{p, spark, trace}

  private val ann = new AnnIndex(ctx)
  override val warmupOps: Int = p.int("warmup_ops")

  private val root = s"${ctx.out}/online"
  override val roundSize: Int = p.int("round_size")
  private val schema = StructType.fromDDL(p.str("entity_ddl"))
  private val view = FeatureStore.FeatureView("user_features",
    Seq("user_id"), "ts", Long.MaxValue, schema.fieldNames.toSeq.drop(2))

  private val req = ctx.json.readTree(new java.io.File(s"${ctx.in}/requests.json"))
  private val intRequests: IndexedSeq[Seq[Long]] =
    req.get("int_requests").elements().asScala
      .map(_.elements().asScala.map(_.asLong).toSeq).toIndexedSeq
  private val longKeys: Seq[Long] =
    req.get("int64_keys").elements().asScala.map(_.asLong).toSeq

  private var kind = ""
  private var keys: Seq[Long] = Nil
  private var rows: Array[Row] = Array.empty

  /** Publishes the entity snapshot through the streaming upsert path,
    * probes until the fixed probe keys are servable, then builds the index. */
  def setup(): Unit = {
    val mem = MemoryStream[String](Encoders.STRING, spark)
    val q = Streams.upsertOnline(Streams.decodeJson(mem.toDF(), schema),
      Seq("user_id"), "ts", "ts", root)
      .option("checkpointLocation", s"${p.dir("scratch_dir")}/checkpoints/serve")
      .start()
    trace.markIngest()
    mem.addData(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"${ctx.in}/entities.jsonl")).asScala.toSeq)
    q.processAllAvailable()
    val probe = keyFrame(longKeys, IntegerType)
    val t0 = System.currentTimeMillis()
    trace.span("store.visible_ms") {
      while (FeatureStore.getOnlineFeatures(spark, root, view, probe).count() < longKeys.size) {
        require(System.currentTimeMillis() - t0 < 60000L, "published keys never became visible")
        Thread.sleep(10)
      }
    }
    q.stop()
    ann.setup()
  }

  private def keyFrame(ks: Seq[Long], t: DataType): DataFrame = {
    val vals: Seq[Row] =
      if (t == LongType) ks.map(k => Row(k)) else ks.map(k => Row(k.toInt))
    spark.createDataFrame(vals.asJava, StructType(Seq(StructField("user_id", t))))
  }

  def op(i: Int): Long = {
    val int64 = i >= 0 && i % roundSize == roundSize - 1
    kind = if (int64) "int64" else "int"
    keys =
      if (int64) longKeys
      else if (i < 0) intRequests(Math.floorMod(i, intRequests.size))
      else intRequests(((i / roundSize) * (roundSize - 1) + i % roundSize) %
        intRequests.size)
    val kdf = keyFrame(keys, if (int64) LongType else IntegerType)
    val df = trace.span("store.lookup_plan_ms") {
      FeatureStore.getOnlineFeatures(spark, root, view, kdf)
    }
    rows = trace.span("store.lookup_exec_ms")(df.collect())
    ann.op(i)
    keys.size
  }

  override def traceOp(i: Int): Unit = ann.traceOp(i)

  override def afterOp(i: Int): Unit = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("op", Int.box(i))
    m.put("kind", kind)
    m.put("keys", keys.map(Long.box).asJava)
    m.put("rows", rows.map(r => ctx.json.readTree(r.json)).toSeq.asJava)
    ctx.dump("responses.jsonl", m)
    ann.afterOp(i)
  }

  def outputDirs: Seq[String] = root +: ann.outputDirs
}
