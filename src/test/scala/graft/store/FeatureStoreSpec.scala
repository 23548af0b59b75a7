package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import FeatureStore._

class FeatureStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val view = FeatureView("user_feats", Seq("uid"), "ts",
    ttlUs = 100L, features = Seq("score"))

  private def source = Seq(
    (1L, 10L, 0.5, "junk"), (1L, 30L, 0.9, "junk"),
    (2L, 20L, 0.1, "junk")).toDF("uid", "ts", "score", "extra")

  test("materializeOnline keeps newest row per key; lookup filters to requested keys") {
    val dir = java.nio.file.Files.createTempDirectory("fs").toString
    materializeOnline(view, source, s"$dir/online")
    val keys = Seq(1L).toDF("uid")
    val out = getOnlineFeatures(spark, s"$dir/online", view, keys)
      .select("uid", "ts", "score").as[(Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 30L, 0.9)))
  }

  test("materializeOnline buckets by the entity key: bigint keys find every " +
      "present row of an int entity column; a local key set runs no job") {
    val dir = java.nio.file.Files.createTempDirectory("fs").toString
    val intView = view.copy(name = "int_feats")
    val src = (1 to 40).flatMap(u => Seq((u, 10L, u * 0.5), (u, 30L, u * 1.0)))
      .toDF("uid", "ts", "score")
    materializeOnline(intView, src, s"$dir/online")
    val keys = ((1L to 40L by 3L) ++ Seq(41L, 1000L)).toDF("uid")
    var lookup: org.apache.spark.sql.DataFrame = null
    assert(TestSpark.jobsRun {
      lookup = getOnlineFeatures(spark, s"$dir/online", intView, keys)
    } === 0, "building the lookup on a local key set ran a job")
    val out = lookup.select(col("uid").cast("long"), col("ts"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    assert(out === (1L to 40L by 3L).map(u => (u, 30L, u * 1.0)).toSet)
  }

  test("view projection drops non-feature columns") {
    assert(view.project(source).columns.toSeq === Seq("uid", "ts", "score"))
  }

  test("getHistoricalFeatures: as-of semantics with view TTL, inclusive ts") {
    val entities = Seq((1L, 30L), (1L, 200L), (2L, 15L))
      .toDF("uid", "ets")
    val out = getHistoricalFeatures(entities, view, source, "ets")
      .select("uid", "ets", "score").as[(Long, Long, Option[Double])]
      .collect().toSet
    assert(out === Set(
      (1L, 30L, Some(0.9)),   // ts=30 inclusive (strict=false)
      (1L, 200L, None),       // newest (ts=30) older than TTL=100 -> null
      (2L, 15L, None)))       // ts=20 in the future -> null
  }
}
