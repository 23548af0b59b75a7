package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming semantics: out-of-order events must still resolve to
  * latest-by-EVENT-time per key (not arrival order — the reference's Redis
  * upsert weakness, SURVEY.md §7.4 risk 4), and the JSON codec must
  * round-trip the reference's Kafka record shape. */
class StreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("latestPerKey resolves by event time across out-of-order micro-batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val df = mem.toDF().toDF("k", "ts", "v")
    val q = graft.ops.PointInTime.latestPerKey(df, Seq("k"), "ts", "v")
      .writeStream.format("memory").queryName("lpk_test")
      .outputMode("complete").start()
    // batch 1: newest value for u1 arrives FIRST
    mem.addData(("u1", 300L, "newest"), ("u2", 10L, "x"))
    q.processAllAvailable()
    // batch 2: late, older event for u1 arrives after
    mem.addData(("u1", 100L, "stale-late"))
    q.processAllAvailable()
    val out = spark.table("lpk_test")
      .select("k", "v").as[(String, String)].collect().toMap
    q.stop()
    // arrival-order upsert would yield u1 -> stale-late; event-time is correct
    assert(out === Map("u1" -> "newest", "u2" -> "x"))
  }

  test("json encode/decode round-trips the Kafka record shape") {
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("score", DoubleType),
      StructField("seg", StringType)))
    val rows = Seq((7L, 0.5, "a"), (8L, 1.5, "b"))
    val encoded = Streams.encodeJson(rows.toDF("user_id", "score", "seg"))
    assert(encoded.columns.toSeq === Seq("value"))
    val back = Streams.decodeJson(encoded, schema)
      .as[(Long, Double, String)].collect().toSeq
    assert(back === rows)
  }

  test("latestPerKeyStateful: explicit state emits only changed keys, by event time") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val out = Streams.latestPerKeyStateful[String, (String, Long, String)](
      mem.toDS(), _._1, _._2)
    val q = out.toDF("k", "row")
      .selectExpr("k", "row._2 AS ts", "row._3 AS v")
      .writeStream.format("memory").queryName("lpks_test")
      .outputMode("update").start()
    mem.addData(("u1", 300L, "newest"), ("u2", 10L, "x"))
    q.processAllAvailable()
    mem.addData(("u1", 100L, "stale-late"), ("u2", 20L, "y"))
    q.processAllAvailable()
    val rows = spark.table("lpks_test")
      .selectExpr("k", "v").as[(String, String)].collect().toSeq
    q.stop()
    // u1's late row is older -> no second emission; u2 advanced -> re-emitted
    assert(rows.count(_._1 == "u1") === 1)
    assert(rows.filter(_._1 == "u1").head._2 === "newest")
    assert(rows.filter(_._1 == "u2").map(_._2).toSet === Set("x", "y"))
  }

  test("dedupWithinWatermark keeps first arrival, drops in-horizon duplicates") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val df = mem.toDF().toDF("k", "ts_s", "v")
      .withColumn("evt", col("ts_s").cast("timestamp"))
    val q = Streams.dedupWithinWatermark(df, Seq("k"), "evt", "10 seconds")
      .writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    mem.addData(("a", 100L, "first"), ("b", 100L, "b1"))
    q.processAllAvailable()
    mem.addData(("a", 105L, "dup-in-horizon")) // same key, within 10s
    q.processAllAvailable()
    val out = spark.table("wm_test").select("k", "v")
      .as[(String, String)].collect().toSet
    q.stop()
    assert(out === Set(("a", "first"), ("b", "b1")))
  }

  test("dedupByFingerprint gates bag-of-words duplicates at ingest, late dups included") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val df = mem.toDF().toDF("doc_id", "ts_s", "text")
      .withColumn("evt", col("ts_s").cast("timestamp"))
    val q = Streams.dedupByFingerprint(df, "text", "evt", "30 seconds")
      .writeStream.format("memory").queryName("fpd_test")
      .outputMode("append").start()
    // batch 1: two docs; "world hello" is a TOKEN PERMUTATION of doc 1 —
    // same bag-of-words fingerprint, must be gated out in-batch
    mem.addData((1L, 100L, "hello world"), (2L, 100L, "world hello"),
      (3L, 101L, "something else"))
    q.processAllAvailable()
    // batch 2: a LATE duplicate (older event time, still in horizon) and a
    // case/whitespace variant — both collapse to already-seen fingerprints
    mem.addData((4L, 90L, "Hello   WORLD"), (5L, 102L, "else something"))
    q.processAllAvailable()
    // batch 3: genuinely new content passes the gate
    mem.addData((6L, 103L, "fresh content"))
    q.processAllAvailable()
    val out = spark.table("fpd_test").select("doc_id")
      .as[Long].collect().toSet
    q.stop()
    assert(out === Set(1L, 3L, 6L))
  }

  test("upsertOnline: event-time upsert across micro-batches; late rows never clobber") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString
    val path = s"$dir/online"
    val mem = MemoryStream[(Long, Long, String)]
    // non-identity preprocess hook (the reference's preprocess_fn): rows
    // flagged "drop-me" must never reach the store
    val q = Streams.upsertOnline(mem.toDF().toDF("uid", "ts", "v"),
      Seq("uid"), "ts", "v", path,
      preprocess = df => df.filter(org.apache.spark.sql.functions
        .col("v") =!= "drop-me")).start()
    mem.addData((1L, 100L, "a"), (2L, 50L, "b"), (9L, 999L, "drop-me"))
    q.processAllAvailable()
    // a reader that resolved the first snapshot keeps working even after
    // the next publish (previous version is retained one cycle)
    val oldSnapshot = graft.store.OnlineTable.read(spark, path).get
    mem.addData((1L, 200L, "newer"), (2L, 10L, "stale-late"), (3L, 1L, "c"))
    q.processAllAvailable()
    q.stop()
    val out = graft.store.OnlineTable.read(spark, path).get
      .select("uid", "v").as[(Long, String)].collect().toMap
    // uid 1 advanced, uid 2's late row ignored, uid 3 inserted, 9 filtered
    assert(out === Map(1L -> "newer", 2L -> "b", 3L -> "c"))
    assert(oldSnapshot.select("uid", "v").as[(Long, String)].collect().toMap
      === Map(1L -> "a", 2L -> "b"))
  }

  test("upsertOnline compactEvery collapses accumulated generations mid-stream") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsertc").toString
    val path = s"$dir/online"
    // count populated bucket SUBDIRS per generation: evicted manifests'
    // bucket dirs are collected promptly, while the emptied parent g-
    // dir itself waits out the orphan grace window (cosmetic)
    def gens: Set[String] =
      Option(new java.io.File(path).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("g-"))
        .flatMap(g => Option(g.listFiles()).toSeq.flatten
          .filter(_.isDirectory).map(b => s"${g.getName}/${b.getName}"))
        .map(_.split('/').head).toSet
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streams.upsertOnline(mem.toDF().toDF("uid", "ts", "v"),
      Seq("uid"), "ts", "v", path, compactEvery = 2).start()
    // batch 0: seed spread over the buckets; batches 1, 2: point upserts
    mem.addData((1L to 40L).map(k => (k, 1L, s"v$k")): _*)
    q.processAllAvailable()
    mem.addData((5L, 2L, "u5"))
    q.processAllAvailable()
    mem.addData((6L, 2L, "u6")) // batchId 2 -> compact after publish
    q.processAllAvailable()
    q.stop()
    val out = graft.store.OnlineTable.read(spark, path).get
      .select("uid", "v").as[(Long, String)].collect().toMap
    assert(out.size === 40 && out(5L) === "u5" && out(6L) === "u6")
    // one more publish cycle evicts pre-compact manifests; after that
    // the only retained generations are the compact one (+ none newer)
    val m = (prev: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =>
      graft.ops.PointInTime.latestPerKey(prev.unionByName(b),
        Seq("uid"), "ts", "v")
    graft.store.OnlineTable.publishBucketedBatch(
      Seq((7L, 3L, "u7")).toDF("uid", "ts", "v"), path, Seq("uid"), m)
    assert(gens.size <= 2,
      s"pre-compact generations must be collected, still have $gens")
    assert(graft.store.OnlineTable.read(spark, path).get.count() === 40L)
  }

  test("stream-stream interval join: clicks attribute to impressions in-window only") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sql = spark.sqlContext
    val imps = MemoryStream[(Long, Long)]
    val clicks = MemoryStream[(Long, Long)]
    val l = imps.toDF().toDF("ad_id", "imp_us")
      .withColumn("imp_ts", timestamp_micros(col("imp_us")))
    val r = clicks.toDF().toDF("ad_id", "click_us")
      .withColumn("click_ts", timestamp_micros(col("click_us")))
    val joined = Streams.streamIntervalJoin(l, r, "ad_id",
      "imp_ts", "click_ts", delay = "5 seconds", window = "10 seconds")
    val q = joined.select("ad_id", "imp_us", "click_us")
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    val base = 1700000000000000L
    imps.addData((1L, base), (2L, base), (3L, base))
    clicks.addData((1L, base + 3000000L))  // 3s after: attributed
    clicks.addData((2L, base + 30000000L)) // 30s after: outside window
    clicks.addData((4L, base + 1000000L))  // unknown ad: no impression
    q.processAllAvailable()
    val out = spark.table("ssj").select("ad_id").as[Long].collect().toSet
    q.stop()
    assert(out === Set(1L))
  }

  test("interval join drops late rows WITH accounting and evicts state") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sql = spark.sqlContext
    val imps = MemoryStream[(Long, Long)]
    val clicks = MemoryStream[(Long, Long)]
    val l = imps.toDF().toDF("ad_id", "imp_us")
      .withColumn("imp_ts", timestamp_micros(col("imp_us")))
    val r = clicks.toDF().toDF("ad_id", "click_us")
      .withColumn("click_ts", timestamp_micros(col("click_us")))
    val joined = Streams.streamIntervalJoin(l, r, "ad_id",
      "imp_ts", "click_ts", delay = "5 seconds", window = "10 seconds")
    val q = joined.select("ad_id", "imp_us", "click_us")
      .writeStream.format("memory").queryName("ssj_ledger")
      .outputMode("append").start()
    val base = 1700000000000000L
    val minute = 60000000L
    // batch 1: an impression + its in-window click (attributes), plus a
    // far-future row on BOTH sides to advance both watermarks a minute
    // past the impression's join band
    imps.addData((1L, base), (99L, base + minute))
    clicks.addData((1L, base + 3000000L), (98L, base + minute))
    q.processAllAvailable()
    // batch 2: a click for ad 1 only 4s after its impression — INSIDE
    // the band, but its event time is ~56s behind the click-side
    // watermark (base+55s): Spark must drop it as late, not attribute it
    clicks.addData((1L, base + 4000000L))
    q.processAllAvailable()
    val out = spark.table("ssj_ledger")
      .select("ad_id", "click_us").as[(Long, Long)].collect().toSet
    val ledger = Streams.watermarkLedger(q)
    q.stop()
    assert(out === Set((1L, base + 3000000L)),
      s"late click must NOT attribute, got $out")
    // the drop is ACCOUNTED, not silent
    assert(ledger.droppedLate >= 1L,
      s"watermark ledger must record the late drop, got $ledger")
    // and the watermark evicted the out-of-band join state (ad 1's
    // impression band [base, base+15s] is fully behind both watermarks)
    assert(ledger.evicted >= 1L,
      s"watermark must evict expired join state, got $ledger")
  }

  test("left-outer interval join: unmatched impression emits NULLs exactly once, post-watermark") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sql = spark.sqlContext
    val imps = MemoryStream[(Long, Long)]
    val clicks = MemoryStream[(Long, Long)]
    val l = imps.toDF().toDF("ad_id", "imp_us")
      .withColumn("imp_ts", timestamp_micros(col("imp_us")))
    val r = clicks.toDF().toDF("ad_id", "click_us")
      .withColumn("click_ts", timestamp_micros(col("click_us")))
    val joined = Streams.streamIntervalJoinLeftOuter(l, r, "ad_id",
      "imp_ts", "click_ts", delay = "5 seconds", window = "10 seconds")
    val q = joined.select("ad_id", "imp_us", "click_us")
      .writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    val base = 1700000000000000L
    // ad 1 gets a click in-band; ad 2 never does
    imps.addData((1L, base), (2L, base))
    clicks.addData((1L, base + 3000000L))
    q.processAllAvailable()
    // before the watermark passes ad 2's band [base, base+15s], its NULL
    // row must NOT have been emitted — a match could still arrive
    val early = spark.table("ssj_outer")
      .select("ad_id", "click_us").as[(Long, Option[Long])].collect().toSet
    assert(early === Set((1L, Some(base + 3000000L))),
      s"negative must not emit while its band is open, got $early")
    // advance both watermarks past the band: +60s on each side
    imps.addData((99L, base + 60000000L))
    clicks.addData((98L, base + 60000000L))
    q.processAllAvailable()
    val out = spark.table("ssj_outer")
      .select("ad_id", "click_us").as[(Long, Option[Long])].collect().toList
    q.stop()
    // ad 2 emits its NULL form exactly ONCE; ad 1 never gets a NULL row
    assert(out.count(_ == (2L, None)) === 1,
      s"unmatched impression must emit exactly once, got $out")
    assert(!out.contains((1L, None)),
      s"matched impression must never emit a NULL row, got $out")
  }

  test("q296 labeler semantics: a slow click flips its impression from " +
      "negative to positive iff it lands inside the band") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sql = spark.sqlContext
    val imps = MemoryStream[(Long, Long)]
    val clicks = MemoryStream[(Long, Long)]
    val l = imps.toDF().toDF("ad_id", "imp_us")
      .withColumn("imp_ts", timestamp_micros(col("imp_us")))
    val r = clicks.toDF().toDF("ad_id", "click_us")
      .withColumn("click_ts", timestamp_micros(col("click_us")))
    val joined = Streams.streamIntervalJoinLeftOuter(l, r, "ad_id",
      "imp_ts", "click_ts", delay = "5 seconds", window = "10 seconds")
    val q = joined.select("ad_id", "imp_us", "click_us")
      .writeStream.format("memory").queryName("ssj_labels")
      .outputMode("append").start()
    val base = 1700000000000000L
    // both impressions arrive first; their clicks are SLOW (a later
    // micro-batch). The watermark has not closed either band yet, so
    // neither impression may have been written off as a negative.
    imps.addData((1L, base), (2L, base))
    q.processAllAvailable()
    assert(spark.table("ssj_labels").count() === 0,
      "no verdict may emit while both bands are open")
    // ad 1's slow click lands INSIDE the band (+8s <= 10s): it must flip
    // the impression to a positive. ad 2's lands OUTSIDE (+20s): no flip.
    clicks.addData((1L, base + 8000000L), (2L, base + 20000000L))
    q.processAllAvailable()
    // close the bands on both sides
    imps.addData((99L, base + 60000000L))
    clicks.addData((98L, base + 60000000L))
    q.processAllAvailable()
    val out = spark.table("ssj_labels")
      .select("ad_id", "click_us").as[(Long, Option[Long])].collect().toList
      .filter(t => t._1 == 1L || t._1 == 2L)
    q.stop()
    // positive: exactly the in-band pair, and NO null row for ad 1 —
    // the held-back NULL form was discarded when the slow click matched
    assert(out.count(_ == (1L, Some(base + 8000000L))) === 1 &&
      !out.contains((1L, None)),
      s"slow in-band click must flip its impression to positive, got $out")
    // negative: ad 2 emits its NULL form exactly once; the out-of-band
    // click never attributes
    assert(out.count(_ == (2L, None)) === 1 &&
      !out.exists(t => t._1 == 2L && t._2.isDefined),
      s"out-of-band click must leave its impression negative, got $out")
  }

  test("stream-static broadcast enrichment join") {
    implicit val sql = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val mem = MemoryStream[(Long, Double)]
    val joined = mem.toDF().toDF("uid", "amount")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("uid"), "left")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    mem.addData((1L, 5.0), (9L, 7.0))
    q.processAllAvailable()
    val out = spark.table("ss_join")
      .select("uid", "tier").as[(Long, Option[String])].collect().toSet
    q.stop()
    assert(out === Set((1L, Some("gold")), (9L, None)))
  }

  test("stateful query recovers state from checkpoint across restarts") {
    val root = java.nio.file.Files.createTempDirectory("ckpt").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    Seq((1L, 300L, "newest")).toDF("uid", "ts", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val out = s"$root/out"
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(in)
        .as[(Long, Long, String)]
      // memory sink can't recover from a checkpoint; foreachBatch can
      val q = Streams.latestPerKeyStateful[Long, (Long, Long, String)](
        stream, _._1, _._2)
        .toDF("k", "row").selectExpr("k", "row._3 AS v")
        .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    // restart: an OLDER event for the same key arrives; recovered state
    // must suppress the emission (a fresh query would re-emit for key 1)
    Seq((1L, 100L, "stale-late"), (2L, 1L, "new-key"))
      .toDF("uid", "ts", "v").coalesce(1).write.mode("append").parquet(in)
    run()
    val all = spark.read.parquet(out).as[(Long, String)].collect().toSet
    assert(all === Set((1L, "newest"), (2L, "new-key")),
      s"recovered state should suppress the stale update, got $all")
  }

  test("stream-stream join with watermarks and a time-range condition") {
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]
    val buys = MemoryStream[(Long, Long)]
    val c = clicks.toDF().toDF("uid", "c_s")
      .withColumn("c_t", col("c_s").cast("timestamp"))
      .withWatermark("c_t", "1 minute")
    val b = buys.toDF().toDF("b_uid", "b_s")
      .withColumn("b_t", col("b_s").cast("timestamp"))
      .withWatermark("b_t", "1 minute")
    // attribute each buy to clicks within the preceding 30s
    val joined = b.join(c,
      col("uid") === col("b_uid") &&
        col("c_t") <= col("b_t") && col("c_t") >= col("b_t") - expr("interval 30 seconds"))
    val q = joined.select("b_uid", "c_s", "b_s")
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    clicks.addData((1L, 100L), (1L, 140L), (2L, 100L))
    buys.addData((1L, 150L), (2L, 500L))
    q.processAllAvailable()
    val out = spark.table("ssj_test").as[(Long, Long, Long)].collect().toSet
    q.stop()
    // buy(1,150) matches click(1,140) only (click at 100 is >30s before);
    // buy(2,500) has no click in range
    assert(out === Set((1L, 140L, 150L)))
  }

  test("streamAsofEnrich: latest feature as of event time, inside lookback") {
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val ev = MemoryStream[(Long, Long, Long)]
    val ft = MemoryStream[(Long, Long, Long, Double)]
    val e = ev.toDF().toDF("event_id", "uid", "e_s")
      .withColumn("e_t", col("e_s").cast("timestamp"))
    val f = ft.toDF().toDF("feat_id", "uid", "f_s", "fv")
      .withColumn("f_t", col("f_s").cast("timestamp"))
    val enriched = Streams.streamAsofEnrich(e, f, "uid", "e_t", "f_t",
      delay = "10 seconds", lookback = "1 minute",
      eventCols = Seq("event_id", "uid", "e_s"),
      featureCols = Seq("feat_id", "fv"), tieBreak = "feat_id")
    val q = enriched.select("event_id", "uid", "e_s", "feat_id", "fv")
      .writeStream.format("memory").queryName("asof_test")
      .outputMode("append").start()
    ft.addData((101L, 1L, 10L, 1.0), (102L, 1L, 50L, 2.0),
      (103L, 1L, 120L, 3.0),
      (201L, 2L, 30L, 5.0), (202L, 2L, 30L, 6.0), // same-ts tie for uid 2
      (999L, 998L, 4000L, 0.0)) // watermark-flush sentinel, unused key
    ev.addData((1L, 1L, 60L),   // [0,60]: feats at 10,50 -> latest 50
      (2L, 1L, 115L),           // [55,115]: nothing (50 too old, 120 future)
      (3L, 1L, 125L),           // [65,125]: feat at 120
      (4L, 2L, 40L),            // tie at 30 -> max feat_id wins
      (99L, 999L, 4000L))       // watermark-flush sentinel, unused key
    q.processAllAvailable()
    val out = spark.table("asof_test").as[(Long, Long, Long, Long, Double)]
      .collect().toSet
    q.stop()
    assert(out === Set(
      (1L, 1L, 60L, 102L, 2.0),
      (3L, 1L, 125L, 103L, 3.0),
      (4L, 2L, 40L, 202L, 6.0)),
      s"as-of enrichment mismatch: $out")
  }

  test("streaming session windows with watermark merge gap-close events") {
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val stream = mem.toDF().toDF("k", "ts_s")
      .withColumn("evt", col("ts_s").cast("timestamp"))
      .withWatermark("evt", "10 minutes")
      .groupBy(col("k"), session_window(col("evt"), "30 seconds"))
      .agg(count(lit(1)).as("n"))
    val q = stream.select("k", "n").writeStream.format("memory")
      .queryName("sess_test").outputMode("complete").start()
    // two sessions for key a: {0, 20, 40} (gaps <= 30s) and {200}
    mem.addData(("a", 0L), ("a", 20L), ("a", 40L), ("a", 200L), ("b", 5L))
    q.processAllAvailable()
    val out = spark.table("sess_test").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    q.stop()
    assert(out === Map("a" -> Seq(1L, 3L), "b" -> Seq(1L)))
  }

  test("driftGate: append mode emits closed windows once, state stays window-bounded") {
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("ts_s", "v")
      .withColumn("evt", col("ts_s").cast("timestamp"))
    // reference: 2 low + 2 high values on a 4-bin [0,8) grid
    val ref = Seq(2L, 0L, 2L, 0L)
    val gate = Streams.driftGate(stream, "evt", "v",
      delay = "5 seconds", windowLen = "1 minute",
      reference = ref, lo = 0.0, hi = 8.0, bins = 4)
    val q = gate.writeStream.format("memory").queryName("drift_test")
      .outputMode("append").start()
    // window [0,60): same shape as the reference (gap 0 everywhere)
    mem.addData((10L, 1.0), (20L, 1.0), (30L, 5.0), (40L, 5.0))
    q.processAllAvailable()
    assert(spark.table("drift_test").count() === 0L,
      "window still open: nothing must emit")
    // advance the watermark past 60s -> [0,60) closes and emits ONCE
    mem.addData((80L, 1.0), (81L, 1.0), (82L, 1.0))
    q.processAllAvailable()
    val r1 = spark.table("drift_test")
      .as[(Long, Long, Long, Long, Long, Int)].collect()
    assert(r1.length === 1)
    val (w0, nWin, nRef, gap, _, atBin) = r1.head
    assert(w0 === 0L && nWin === 4L && nRef === 4L)
    assert(gap === 0L && atBin === -1, "same-shape window must show no gap")
    // close [60,120): 3 all-low values vs the half-high reference —
    // sup gap at bin 0 boundary: |ca·n_ref − cr·n_win| = |3·4 − 2·3| = 6
    mem.addData((200L, 1.0))
    q.processAllAvailable()
    val out = spark.table("drift_test")
      .as[(Long, Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._4, r._6))).toMap
    // state is bounded by OPEN windows: closed ones were evicted
    val stateRows = q.lastProgress.stateOperators.asScala
      .map(_.numRowsTotal).sum
    q.stop()
    assert(out.keySet === Set(0L, 60000000L))
    assert(out(60000000L) === ((3L, 6L, 0)),
      s"drifted window mismatch: $out")
    assert(stateRows <= 2,
      s"state must hold only open windows, found $stateRows rows")
  }

  private implicit class ArrayAsScala[T](a: Array[T]) {
    def asScala: Seq[T] = a.toSeq
  }

  test("runToMemory drives an AvailableNow file stream to completion") {
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "v").write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val out = Streams.runToMemory(
      graft.ops.PointInTime.latestPerKey(stream, Seq("k"), "ts", "v"),
      s"rtm_${System.nanoTime()}")
    assert(out.select("k", "v").as[(Long, String)].collect().toSet
      === Set((1L, "b"), (2L, "c")))
  }

  test("rollingDriftScore: a permanent level shift alarms for exactly " +
      "lag windows, then re-baselines") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("rolldrift").toString
    // 12 days x 4 events; days 1-5 level 1.0 (bin 0), days 6-12 level
    // 500.0 (clamps to the top bin) — a PERMANENT shift at day 6
    val rows = for { d <- 1 to 12; i <- 1 to 4 }
      yield (d.toLong * 86400L + i * 10L, if (d <= 5) 1.0 else 500.0)
    rows.toDF("ts_s", "v")
      .select(timestamp_seconds(col("ts_s")).as("evt"), col("v"))
      .write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val perWin = Streams.runToMemory(
      Streams.driftWindows(stream, "evt", "v",
        delay = "1 hour", windowLen = "1 day", lo = 0.0, hi = 8.0,
        bins = 4),
      s"rolld_${System.nanoTime()}")
    val out = Streams.rollingDriftScore(perWin, lag = 3)
      .withColumn("day", expr("w_start div 86400000000"))
      .withColumn("alarm", when(col("n_ref").isNotNull,
        col("max_gap") * 20 > col("n_win") * col("n_ref") * 3))
      .select("day", "alarm").as[(Long, Option[Boolean])]
      .collect().toMap
    assert(out.keySet === (1L to 12L).toSet)
    // day 1: no reference yet — warmup is NULL, never a verdict
    assert(out(1L).isEmpty, "warmup window must not carry a verdict")
    // days 2-5: steady state, no alarm
    (2L to 5L).foreach(d => assert(out(d) === Some(false),
      s"pre-shift day $d must not alarm"))
    // days 6-8: the rolling reference still contains pre-shift days —
    // EXACTLY lag = 3 alarming windows
    (6L to 8L).foreach(d => assert(out(d) === Some(true),
      s"day $d (reference still pre-shift-contaminated) must alarm"))
    // day 9 on: the reference is all post-shift — re-baselined
    (9L to 12L).foreach(d => assert(out(d) === Some(false),
      s"day $d must have re-baselined onto the new level"))
  }
}
