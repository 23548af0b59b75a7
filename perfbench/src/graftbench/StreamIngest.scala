package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.jobs.{SilverToGold, StreamSilverToGold}
import graft.model.Aliccp
import graft.ops.Categorify
import graft.store.{FeatureStore, OnlineTable}
import graft.streaming.Streams

/** One op = one micro-batch of silver JSON records through
  * decodeJson -> StreamSilverToGold.transform -> upsertOnline, then a probe
  * lookup of the batch's keys, repeated until they are visible. The
  * categorify model is fitted at setup by SilverToGold.run and loaded the
  * way the streaming job loads it. */
final class StreamIngest(ctx: Ctx) extends Workload {
  import ctx.{p, spark, trace}

  private val root = s"${ctx.out}/online"
  private val probeKeys = p.int("probe_keys")
  private val view = FeatureStore.FeatureView("user_gold",
    Seq("user_id_raw"), "datetime", Long.MaxValue, Aliccp.goldIndexCols)
  private val keySchema = StructType(Seq(StructField("user_id_raw", IntegerType)))

  private def lines(f: java.io.File): Seq[String] =
    java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq.filter(_.nonEmpty)

  private val batches: IndexedSeq[Seq[String]] =
    new java.io.File(s"${ctx.in}/stream").listFiles()
      .filter(_.getName.startsWith("batch-")).sortBy(_.getName)
      .map(lines).toIndexedSeq
  private val batchKeys: IndexedSeq[Seq[Int]] = batches.map(_.take(probeKeys)
    .map(l => ctx.json.readTree(l).get("user_id").asInt))

  private val mem = MemoryStream[String](Encoders.STRING, spark)
  private var query: StreamingQuery = _
  private var probe: Array[Row] = Array.empty
  private var probes = 0

  def setup(): Unit = {
    SilverToGold.run(spark, s"${ctx.in}/silver", s"${ctx.out}/setup-gold",
      s"${ctx.out}/model")
    val model = Categorify.load(spark, s"${ctx.out}/model", Aliccp.goldIndexCols)
    val gold = StreamSilverToGold.transform(
      Streams.decodeJson(mem.toDF(), Aliccp.silverSchema), model)
    query = Streams.upsertOnline(gold, Seq("user_id_raw"), "datetime",
      "item_id_raw", root)
      .option("checkpointLocation", s"${p.dir("scratch_dir")}/checkpoints/ingest")
      .start()
    mem.addData(lines(new java.io.File(s"${ctx.in}/stream/seed.jsonl")))
    query.processAllAvailable()
  }

  def op(i: Int): Long = {
    val batch = batches(Math.floorMod(i, batches.size))
    val t0 = System.currentTimeMillis()
    trace.markIngest()
    mem.addData(batch)
    query.processAllAvailable()
    val keys = spark.createDataFrame(
      batchKeys(Math.floorMod(i, batches.size)).map(k => Row(k)).asJava, keySchema)
    // visible = every probe key answers with a row written by this batch
    def visible(rows: Array[Row]) = rows.length == probeKeys &&
      rows.forall(_.getAs[java.sql.Timestamp]("datetime").getTime >= t0)
    probes = 0
    trace.span("store.visible_ms") {
      do {
        probe = FeatureStore.getOnlineFeatures(spark, root, view, keys).collect()
        probes += 1
      } while (!visible(probe) && System.currentTimeMillis() - t0 < 60000L)
    }
    batch.size
  }

  override def afterOp(i: Int): Unit = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("op", Int.box(i))
    m.put("batch", Int.box(Math.floorMod(i, batches.size)))
    m.put("probes", Int.box(probes))
    m.put("rows", probe.map(r => ctx.json.readTree(r.json)).toSeq.asJava)
    ctx.dump("probes.jsonl", m)
  }

  override def finish(): Unit = {
    query.stop()
    trace.span("store.final_read_ms") {
      OnlineTable.read(spark, root).get
        .write.parquet(s"${ctx.out}/snapshot")
    }
  }

  def outputDirs: Seq[String] = Seq(root)
}
