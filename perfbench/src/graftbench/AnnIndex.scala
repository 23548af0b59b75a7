package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.llm.{IvfIndex, Pq, Similarity}

/** Build at setup: Pq.fit + Pq.encode + IvfIndex.fit +
  * buildInverted over the seeded corpus. One op = one fixed-size query batch through
  * Similarity.ivfTopKPersisted. Traced runs also time the brute-force
  * Similarity.cosineTopK over the same batch (the break-even baseline). */
final class AnnIndex(ctx: Ctx) extends Workload {
  import ctx.{p, spark, trace}

  private val cells = s"${ctx.out}/ivf_cells"
  private val codes = s"${ctx.out}/pq_codes"
  private val k = p.int("k")
  private val nprobe = p.int("nprobe")
  private val seed = p.long("index_seed")
  override val warmupOps: Int = p.int("warmup_ops")
  private lazy val corpus = spark.read.parquet(s"${ctx.in}/corpus")
  private var index: IvfIndex.Model = _
  private var batches: IndexedSeq[Seq[Row]] = _
  private var qschema: org.apache.spark.sql.types.StructType = _
  private var result: Array[Row] = Array.empty

  def setup(): Unit = {
    val q = spark.read.parquet(s"${ctx.in}/queries")
    qschema = q.schema
    batches = q.orderBy("qid").collect().toSeq
      .grouped(p.int("query_batch")).toIndexedSeq
    val pq = trace.span("llm.pq_fit_ms") {
      Pq.fit(corpus, "nvec", m = p.int("pq_m"), ksub = p.int("pq_ksub"),
        seed = seed, maxIter = p.int("pq_max_iter"))
    }
    trace.span("llm.pq_encode_ms") {
      Pq.encode(corpus, "nvec", pq).drop("nvec").write.parquet(codes)
    }
    index = trace.span("llm.ivf_fit_ms") {
      IvfIndex.fit(corpus, nlist = p.int("nlist"), seed = seed)
    }
    trace.span("llm.ivf_build_ms")(IvfIndex.buildInverted(corpus, index, cells))
  }

  private def batch(i: Int): Seq[Row] = batches(Math.floorMod(i, batches.size))

  private def queries(i: Int): DataFrame =
    spark.createDataFrame(batch(i).asJava, qschema)

  def op(i: Int): Long = {
    result = trace.span("llm.ivf_probe_ms") {
      Similarity.ivfTopKPersisted(queries(i), cells, k, index, nprobe).collect()
    }
    batch(i).size
  }

  override def traceOp(i: Int): Unit = trace.span("llm.exact_topk_ms") {
    Similarity.cosineTopK(queries(i), corpus, k).collect()
  }

  override def afterOp(i: Int): Unit = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("op", Int.box(i))
    m.put("qids", batch(i).map(r => Long.box(r.getLong(0))).asJava)
    m.put("rows", result.map(r => Seq[AnyRef](Long.box(r.getAs[Long]("qid")),
      Long.box(r.getAs[Long]("nid")), Long.box(r.getAs[Long]("rank"))).asJava)
      .toSeq.asJava)
    ctx.dump("topk.jsonl", m)
  }

  def outputDirs: Seq[String] = Seq(cells, codes)
}
