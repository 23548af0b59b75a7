package graft.ops

import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Categorify must match MLlib StringIndexer(frequencyDesc,
  * handleInvalid=keep) — the reference's indexer
  * (batch_process_Silver_to_Gold.py:106-126) — including tie-breaks and
  * the unseen-value index. */
class CategorifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("frequency desc ordering with value-asc tie-break") {
    val df = Seq("b", "b", "a", "a", "c").toDF("v")
    val model = Categorify.fit(df, Seq("v"))
    val lut = model.lookups("v").as[(String, Long)].collect().toMap
    // a and b tie at 2 -> a (value asc) gets 0; c least frequent -> 2
    assert(lut === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    assert(model.sizes("v") === 3L)
  }

  test("transform maps values; unseen -> numLabels; nulls excluded from fit") {
    val fitDf = Seq(Some("x"), Some("x"), Some("y"), None).toDF("v")
    val model = Categorify.fit(fitDf, Seq("v"))
    assert(model.sizes("v") === 2L)
    val out = Categorify.Model(model.lookups, model.sizes)
      .transform(Seq("x", "y", "zzz").toDF("v"))
      .select("v").as[Long].collect().toSeq
    assert(out === Seq(0L, 1L, 2L)) // zzz unseen -> 2 = numLabels
  }

  test("matches MLlib StringIndexer output on skewed data") {
    val data = (1 to 200).map(i => s"v${i % 7}") ++ (1 to 50).map(_ => "v3")
    val df = data.toDF("v")
    val ours = Categorify.fit(df, Seq("v")).lookups("v")
      .as[(String, Long)].collect().toMap
    val mllib = new StringIndexer().setInputCol("v").setOutputCol("idx")
      .setStringOrderType("frequencyDesc").setHandleInvalid("keep")
      .fit(df)
    val theirs = mllib.labelsArray(0).zipWithIndex
      .map { case (v, i) => v -> i.toLong }.toMap
    assert(ours === theirs)
  }

  test("matches MLlib StringIndexer on tie-heavy random data (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // tiny alphabet -> many frequency ties -> exercises the value-asc
    // tie-break exhaustively
    val gen = Gen.listOfN(60, Gen.oneOf("a", "b", "c", "d", "e"))
    val prop = Prop.forAll(gen) { values =>
      val df = values.toDF("v")
      val ours = Categorify.fit(df, Seq("v")).lookups("v")
        .as[(String, Long)].collect().toMap
      val theirs = new StringIndexer().setInputCol("v").setOutputCol("i")
        .setStringOrderType("frequencyDesc").setHandleInvalid("keep")
        .fit(df).labelsArray(0).zipWithIndex
        .map { case (v, i) => v -> i.toLong }.toMap
      ours == theirs
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("transform broadcast is size-gated: above-gate vocab rides a shuffled join") {
    // a 100×-scale vocabulary must NOT be force-broadcast (8 GB ceiling /
    // executor OOM); with the gate at 0 and auto-broadcast disabled the
    // executed plan must contain no BroadcastExchange, while the default
    // gate on a small vocab still picks the broadcast path
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val df = s.createDataFrame(Seq("a", "b", "b", "c").map(Tuple1(_)))
      .toDF("v")
    val model = Categorify.fit(df, Seq("v"))
    val gated = model.transform(df, broadcastMaxRows = 0L)
    gated.collect()
    // scope the assertion ABOVE the cached lookup's InMemoryRelation: the
    // fit-time plan cached inside it legitimately holds the ≤64-row
    // bucket-offset broadcast, which is not the join under test
    val gatedPlan = gated.queryExecution.executedPlan.toString
      .split("InMemoryRelation").head
    assert(!gatedPlan.contains("BroadcastExchange"),
      s"above-gate vocab still broadcasts:\n$gatedPlan")
    assert(gatedPlan.contains("SortMergeJoin")
      || gatedPlan.contains("ShuffledHashJoin"), gatedPlan)
    val hinted = model.transform(df) // default gate: 3-row vocab broadcasts
    hinted.collect()
    assert(hinted.queryExecution.executedPlan.toString
      .split("InMemoryRelation").head.contains("BroadcastExchange"))
    // both paths agree on the indexed values
    assert(gated.collect().map(_.getLong(0)).sorted.toSeq
      === hinted.collect().map(_.getLong(0)).sorted.toSeq)
  }

  private def tmpDir() = java.nio.file.Files.createTempDirectory("catg").toString

  test("save/load round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("catg").toString
    val df = Seq("a", "b", "b").toDF("v")
    Categorify.fit(df, Seq("v")).save(dir)
    val loaded = Categorify.load(spark, dir, Seq("v"))
    assert(loaded.sizes("v") === 2L)
    val out = loaded.transform(Seq("b").toDF("v")).select("v").as[Long].head()
    assert(out === 0L)
  }

  test("save of a 3-column model is one Spark job; load runs none") {
    val df = Seq(("a", "x", "p"), ("b", "x", "q"), ("b", "y", "q")).toDF("u", "v", "w")
    val model = Categorify.fit(df, Seq("u", "v", "w"))
    val dir = tmpDir()
    assert(TestSpark.jobsRun(model.save(dir)) === 1)
    var loaded: Categorify.Model = null
    assert(TestSpark.jobsRun { loaded = Categorify.load(spark, dir, Seq("u", "v", "w")) } === 0)
    assert(loaded.sizes === model.sizes)
    Seq("u", "v", "w").foreach { c =>
      assert(loaded.lookups(c).as[(String, Long)].collect().toMap ===
        model.lookups(c).as[(String, Long)].collect().toMap, c)
    }
    // a loaded model (no fitted table) saves the same vocabularies
    val again = tmpDir()
    loaded.save(again)
    assert(Categorify.load(spark, again, Seq("u", "v", "w")).lookups("u")
      .as[(String, Long)].collect().toMap === Map("b" -> 0L, "a" -> 1L))
    model.unpersist()
  }

  test("an all-NULL column round-trips as an empty vocabulary") {
    val df = Seq[(String, Option[String])](("a", None), ("b", None)).toDF("v", "n")
    val dir = tmpDir()
    Categorify.fit(df, Seq("v", "n")).save(dir)
    val loaded = Categorify.load(spark, dir, Seq("v", "n"))
    assert(loaded.sizes === Map("v" -> 2L, "n" -> 0L))
    assert(loaded.lookups("n").schema.toDDL === "value STRING,idx BIGINT")
    assert(loaded.lookups("n").count() === 0L)
    // every value is unseen: index = size = 0
    assert(loaded.transform(Seq(("a", "z")).toDF("v", "n")).select("n")
      .as[Long].collect().toSeq === Seq(0L))
  }

  test("column names that partition paths escape round-trip") {
    val df = Seq(("a", "x"), ("a", "y"), ("b", "y")).toDF("a b", "k=v%")
    val model = Categorify.fit(df, Seq("a b", "k=v%"))
    val dir = tmpDir()
    model.save(dir)
    val loaded = Categorify.load(spark, dir, Seq("a b", "k=v%"))
    assert(loaded.sizes === model.sizes)
    Seq("a b", "k=v%").foreach { c =>
      assert(new java.io.File(s"$dir/$c").isDirectory, c)
      assert(loaded.lookups(c).as[(String, Long)].collect().toMap ===
        model.lookups(c).as[(String, Long)].collect().toMap, c)
    }
  }

  test("saving over another model leaves exactly the new model's columns") {
    val dir = tmpDir()
    Categorify.fit(Seq(("a", "b")).toDF("x", "y"), Seq("x", "y")).save(dir)
    Categorify.fit(Seq("c", "d").toDF("z"), Seq("z")).save(dir)
    val visible = new java.io.File(dir).list().filterNot(_.startsWith("_"))
      .filterNot(_.startsWith(".")).toSet
    assert(visible === Set("z"))
    assert(Categorify.load(spark, dir, Seq("z")).sizes === Map("z" -> 2L))
    val e = intercept[NoSuchElementException](Categorify.load(spark, dir, Seq("x")))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("x"))
  }

  test("load without the sizes sidecar fails naming the path") {
    val dir = tmpDir()
    Categorify.fit(Seq("a").toDF("v"), Seq("v")).save(dir)
    assert(new java.io.File(s"$dir/_sizes").delete())
    val e = intercept[java.io.FileNotFoundException](Categorify.load(spark, dir, Seq("v")))
    assert(e.getMessage.contains(dir), e.getMessage)
  }
}
