package graftbench

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.jobs.{BronzeToSilver, GetHistoricalFeatures, SilverToGold}
import graft.model.Aliccp
import graft.ops.{BronzeSilver, Categorify, PointInTime}
import graft.sources.Sources

/** One op = the paper's batch path over the same bronze CSVs:
  * BronzeToSilver.run -> SilverToGold.run -> GetHistoricalFeatures.run,
  * each op writing under its own directory so every op's outputs can be
  * checked afterwards. */
final class Medallion(ctx: Ctx) extends Workload {
  import ctx.{p, spark, trace}

  private val skeleton = s"${ctx.in}/bronze/skeleton"
  private val common = s"${ctx.in}/bronze/common"
  private val entity = s"${ctx.in}/entity"
  private val ttl = p.long("ttl")
  private val bronzeRows = p.long("bronze_rows")
  val features: Seq[String] = Seq("item_id", "item_category", "click")

  private var lastOp = -1
  private def opDir(i: Int) =
    if (i < 0) s"${ctx.out}/warmup" else s"${ctx.out}/op$i"

  def setup(): Unit = ()

  def op(i: Int): Long = {
    val d = opDir(i)
    lastOp = i
    trace.span("jobs.bronze_to_silver_ms") {
      BronzeToSilver.run(spark, skeleton, common, s"$d/silver")
    }
    trace.span("jobs.silver_to_gold_ms") {
      SilverToGold.run(spark, s"$d/silver", s"$d/gold", s"$d/model")
    }
    trace.span("jobs.historical_features_ms") {
      GetHistoricalFeatures.run(spark, entity, s"$d/silver", s"$d/hist",
        "user_id", "ts", "sample_id", ttl, features)
    }
    bronzeRows
  }

  /** The ops each job wires, called one at a time over the same inputs
    * (results go to the noop sink; the model to a throwaway dir). */
  override def traceOp(i: Int): Unit = {
    def strings(n: Int) =
      StructType((0 until n).map(j => StructField(s"_c$j", StringType)))
    val sk = Sources.csv(spark, skeleton, strings(6))
      .select(col("_c0").cast("long").as("sample_id"),
        col("_c1").cast("int").as("click"),
        col("_c2").cast("int").as("conversion"),
        col("_c3").as("key"), col("_c5").as("blob"))
    val cm = Sources.csv(spark, common, strings(3))
      .select(col("_c0").as("key"), col("_c2").as("blob"))
    trace.span("ops.to_silver_ms") {
      noop(BronzeSilver.toSilver(sk, cm, Aliccp.silverFields))
    }
    val silver = spark.read.parquet(s"${opDir(i)}/silver")
    val kept = silver.select(Aliccp.goldKeep.map(col): _*).na.drop()
    val withRaw = Aliccp.goldRawCopy.foldLeft(kept)(
      (df, c) => df.withColumn(s"${c}_raw", col(c)))
    val model = trace.span("ops.categorify_fit_ms") {
      Categorify.fit(withRaw, Aliccp.goldIndexCols)
    }
    trace.span("ops.categorify_transform_ms")(noop(model.transform(withRaw)))
    trace.span("ops.categorify_save_ms")(model.save(s"${ctx.out}/trace-model"))
    trace.span("ops.asof_join_ms") {
      noop(PointInTime.asofJoin(spark.read.parquet(entity),
        silver.select(("user_id" +: "sample_id" +: features).map(col): _*),
        Seq("user_id"), "ts", "sample_id", ttl, strict = false,
        rightTieBreak = "sample_id"))
    }
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def outputDirs: Seq[String] = Seq(opDir(lastOp))
}
