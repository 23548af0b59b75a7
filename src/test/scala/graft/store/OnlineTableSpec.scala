package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class OnlineTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def versions(root: String): Set[String] =
    new java.io.File(root).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("m-"))
      .map(_.getName).toSet

  private def genSubdirs(root: String): Set[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("g-"))
      .flatMap(g => g.listFiles().filter(_.isDirectory)
        .map(b => s"${g.getName}/${b.getName}"))
      .toSet

  private def commitSeqs(root: String): Seq[Long] =
    Option(new java.io.File(root, "_commits").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("c-"))
      .map(_.stripPrefix("c-").toLong).sorted

  test("publish/read roundtrip; pointer flips; old snapshots GC'd after one cycle") {
    val root = java.nio.file.Files.createTempDirectory("ot").toString + "/t"
    assert(OnlineTable.read(spark, root).isEmpty)
    OnlineTable.publish(Seq((1L, "a")).toDF("k", "v"), root, Seq("k"))
    val v1 = OnlineTable.currentVersion(spark, root).get
    assert(v1.startsWith("m-"))
    assert(OnlineTable.read(spark, root).get.as[(Long, String)].head() === ((1L, "a")))

    OnlineTable.publish(Seq((1L, "b")).toDF("k", "v"), root, Seq("k"))
    val v2 = OnlineTable.currentVersion(spark, root).get
    assert(v2 !== v1)
    assert(OnlineTable.read(spark, root).get.as[(Long, String)].head() === ((1L, "b")))
    // previous retained for in-flight readers
    assert(versions(root) === Set(v1, v2))
    assert(genSubdirs(root).size === 2)

    OnlineTable.publish(Seq((1L, "c")).toDF("k", "v"), root, Seq("k"))
    val v3 = OnlineTable.currentVersion(spark, root).get
    // v1 and its bucket dir collected, v2 retained
    assert(versions(root) === Set(v2, v3))
    assert(genSubdirs(root).size === 2)
    // an empty frame publishes an empty table, not an unpublished one
    OnlineTable.publish(Seq.empty[(Long, String)].toDF("k", "v"), root, Seq("k"))
    assert(OnlineTable.read(spark, root).get.count() === 0L)
    assert(OnlineTable.lookup(spark, root, Seq("k"), Seq(1L).toDF("k")).get
      .count() === 0L)
  }

  test("a crashed publish (orphan version dir, log untouched) is invisible and collected") {
    val root = java.nio.file.Files.createTempDirectory("ot2").toString + "/t"
    OnlineTable.publish(Seq((1L, "live")).toDF("k", "v"), root, Seq("k"))
    val live = OnlineTable.currentVersion(spark, root).get
    // simulate a writer that died after writing its generation and its
    // manifest but before the commit
    val orphanGen = "g-9999999999999-deadbeef"
    val orphanMan = "m-9999999999999-deadbeef"
    Seq((1L, "orphan")).toDF("k", "v")
      .write.parquet(s"$root/$orphanGen/__graft_bucket=0")
    java.nio.file.Files.write(java.nio.file.Paths.get(root, orphanMan),
      s"nbuckets=64\n0\t$orphanGen/__graft_bucket=0".getBytes("UTF-8"))
    assert(OnlineTable.read(spark, root).get
      .select("v").as[String].head() === "live", "orphan must be invisible")
    // fresh (within the in-flight grace window): a concurrent publisher
    // mid-commit looks exactly like this, so GC must NOT touch it yet
    OnlineTable.publish(Seq((1L, "next")).toDF("k", "v"), root, Seq("k"))
    assert(versions(root).contains(orphanMan) &&
      genSubdirs(root).contains(s"$orphanGen/__graft_bucket=0"),
      "an in-grace uncommitted manifest and gen must survive GC (they may be mid-commit)")
    // age them past the grace window -> the writer is provably dead
    Seq(orphanMan, orphanGen, s"$orphanGen/__graft_bucket=0")
      .foreach(f => age(s"$root/$f"))
    OnlineTable.publish(Seq((1L, "after")).toDF("k", "v"), root, Seq("k"))
    assert(!versions(root).contains(orphanMan),
      "aged orphan manifest must be garbage-collected by the next publish")
    assert(!new java.io.File(root, orphanGen).exists(),
      "aged orphan gen must be garbage-collected by the next publish")
    assert(!versions(root).contains(live), "superseded snapshots still GC")
    assert(OnlineTable.read(spark, root).get
      .select("v").as[String].head() === "after")
  }

  private def age(path: String): Unit = {
    val f = new java.io.File(path)
    val old = System.currentTimeMillis() - OnlineTable.OrphanGraceMs - 60000
    assert(f.setLastModified(old))
  }

  test("interleaved publishers: exclusive create admits exactly one per seq") {
    val root = java.nio.file.Files.createTempDirectory("ot7").toString + "/t"
    OnlineTable.publish(Seq((1L, "v0")).toDF("k", "v"), root, Seq("k"))
    // two publishers race for seq 2: the filesystem admits ONE commit
    // file, and the loser retries against the new head, so both land
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { i =>
      new Thread(() =>
        try OnlineTable.publish(Seq((1L, s"r$i")).toDF("k", "v"), root,
          Seq("k"), keepVersions = 5)
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"retrying publish must absorb collisions: $errs")
    assert(commitSeqs(root) === Seq(1L, 2L, 3L),
      "each publisher must take exactly one seq")
    // no torn snapshot: every retained version reads completely
    val vs = OnlineTable.listVersions(spark, root)
    vs.foreach { v =>
      assert(OnlineTable.readVersion(spark, root, v).count() === 1L)
    }
    val tail = vs.takeRight(2).map(v =>
      OnlineTable.readVersion(spark, root, v).select("v").as[String].head())
    assert(tail.toSet === Set("r0", "r1"),
      s"both retrying publishers must be in the log, got $tail")
    // a lost race retries the commit of the snapshot it already wrote:
    // one manifest and one generation per publish, no rewritten orphan
    assert(versions(root).size === 3, s"manifests: ${versions(root)}")
    assert(genSubdirs(root).map(_.takeWhile(_ != '/')).size === 3,
      s"generations: ${genSubdirs(root)}")
  }

  test("time travel: deeper retention keeps history readable by version") {
    val root = java.nio.file.Files.createTempDirectory("ot4").toString + "/t"
    def pub(v: String): Unit =
      OnlineTable.publish(Seq((1L, v)).toDF("k", "v"), root, Seq("k"),
        keepVersions = 3)
    pub("gen1"); pub("gen2"); pub("gen3")
    val vs = OnlineTable.listVersions(spark, root)
    assert(vs.size === 3)
    assert(OnlineTable.readVersion(spark, root, vs.head)
      .select("v").as[String].head() === "gen1")
    assert(OnlineTable.readVersion(spark, root, vs.last)
      .select("v").as[String].head() === "gen3")
    // a fourth publish evicts gen1
    pub("gen4")
    val vs2 = OnlineTable.listVersions(spark, root)
    assert(vs2.size === 3 && !vs2.contains(vs.head))
    assert(versions(root) === vs2.toSet)
    assert(OnlineTable.read(spark, root).get
      .select("v").as[String].head() === "gen4")
  }

  test("a committed version that is not a manifest fails at once, naming " +
      "root and version") {
    val root = java.nio.file.Files.createTempDirectory("ot5").toString + "/t"
    // a parquet snapshot dir committed by hand, as other code writing
    // under a reused root would leave it
    val stale = "v-0000000000001-deadbeef"
    Seq((1L, 1L, "x")).toDF("k", "ts", "v").write.parquet(s"$root/$stale")
    new java.io.File(root, "_commits").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_commits", "c-000000000001"),
      stale.getBytes("UTF-8"))
    val m = latestMerge(Seq("k"), "ts", "ts")
    // no publish retries this error: each call raises it on its first
    // read of the head, commits nothing and writes no generation
    def fails(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(root) && e.getMessage.contains(stale),
        s"$what: ${e.getMessage}")
    }
    fails("read")(OnlineTable.read(spark, root))
    fails("lookup")(OnlineTable.lookup(spark, root, Seq("k"), Seq(1L).toDF("k")))
    fails("publishBucketedBatch")(OnlineTable.publishBucketedBatch(
      Seq((1L, 2L, "y")).toDF("k", "ts", "v"), root, Seq("k"), m))
    fails("publish")(OnlineTable.publish(
      Seq((1L, 2L, "y")).toDF("k", "ts", "v"), root, Seq("k")))
    assert(commitSeqs(root) === Seq(1L))
    assert(genSubdirs(root).isEmpty && versions(root).isEmpty)
  }

  // ---- bucketed incremental publish ---------------------------------

  private def latestMerge(key: Seq[String], ts: String, tie: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)
        => org.apache.spark.sql.DataFrame =
    (prev, b) => graft.ops.PointInTime.latestPerKey(
      prev.unionByName(b), key, ts, tie)

  test("bucketed publish rewrites O(touched buckets), not the table") {
    val root = java.nio.file.Files.createTempDirectory("otb1").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    // seed: 200 keys spread over 16 buckets
    val seed = (1L to 200L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v")
    OnlineTable.publishBucketedBatch(seed, root, Seq("k"), m, nBuckets = 16)
    val gensBefore = genSubdirs(root)
    assert(gensBefore.size === 16, s"seed must fill all buckets: $gensBefore")
    // a one-key batch must add gen dirs for exactly ONE bucket
    OnlineTable.publishBucketedBatch(
      Seq((7L, 2L, "updated")).toDF("k", "ts", "v"), root, Seq("k"), m)
    val gensAfter = genSubdirs(root)
    assert((gensAfter -- gensBefore).size === 1,
      s"one-key batch must write exactly one bucket: ${gensAfter -- gensBefore}")
    // the merged table is the latest-per-key union
    val live = OnlineTable.read(spark, root).get
      .as[(Long, Long, String)].collect()
      .map { case (k, ts, v) => k -> ((ts, v)) }.toMap
    assert(live.size === 200 && live(7L) === ((2L, "updated")) &&
      live(8L) === ((1L, "v8")))
    // superseded bucket gens are GC'd once their manifest leaves the log
    OnlineTable.publishBucketedBatch(
      Seq((7L, 3L, "again")).toDF("k", "ts", "v"), root, Seq("k"), m)
    val gensFinal = genSubdirs(root)
    assert((gensBefore -- gensFinal).size === 1,
      "bucket 7's seed gen must be collected once no retained manifest " +
        s"references it; before=${gensBefore.size} final=${gensFinal.size}")
  }

  test("bucketed time travel and torn-snapshot impossibility") {
    val root = java.nio.file.Files.createTempDirectory("otb2").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    OnlineTable.publishBucketedBatch(
      (1L to 50L).map(k => (k, 1L, "a")).toDF("k", "ts", "v"),
      root, Seq("k"), m, nBuckets = 8, keepVersions = 3)
    OnlineTable.publishBucketedBatch(
      Seq((1L, 2L, "b")).toDF("k", "ts", "v"), root, Seq("k"), m,
      keepVersions = 3)
    val vs = OnlineTable.listVersions(spark, root)
    assert(vs.size === 2 && vs.forall(_.startsWith("m-")))
    // the OLD manifest still reads completely (its gens are retained)
    val old = OnlineTable.readVersion(spark, root, vs.head)
      .as[(Long, Long, String)].collect()
      .map { case (k, ts, v) => k -> ((ts, v)) }.toMap
    assert(old.size === 50 && old(1L) === ((1L, "a")))
    val now = OnlineTable.readVersion(spark, root, vs.last)
      .as[(Long, Long, String)].collect()
      .map { case (k, ts, v) => k -> ((ts, v)) }.toMap
    assert(now(1L) === ((2L, "b")) && now.size === 50)
  }

  test("bucketed CAS: concurrent batches both land, no lost update") {
    val root = java.nio.file.Files.createTempDirectory("otb3").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    OnlineTable.publishBucketedBatch(
      Seq((0L, 1L, "base")).toDF("k", "ts", "v"), root, Seq("k"), m,
      nBuckets = 4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { i =>
      new Thread(() =>
        try OnlineTable.publishBucketedBatch(
          Seq((i.toLong, 1L, s"w$i")).toDF("k", "ts", "v"),
          root, Seq("k"), m)
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"bucketed CAS loop must absorb the race: $errs")
    val live = OnlineTable.read(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(live === Set((0L, "base"), (1L, "w1"), (2L, "w2")),
      s"a lost update dropped a contribution: $live")
  }

  test("full publish interleaves with upserts") {
    val root = java.nio.file.Files.createTempDirectory("otb4").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    def nBuckets: Int = {
      val v = OnlineTable.currentVersion(spark, root).get
      val src = scala.io.Source.fromFile(s"$root/$v")
      try src.getLines().next().stripPrefix("nbuckets=").toInt
      finally src.close()
    }
    // a whole-table publish pins the bucket count: an upsert asking for
    // 4 buckets keeps the published 64 and rewrites one of them
    OnlineTable.publish(
      (1L to 200L).map(k => (k, 1L, s"full$k")).toDF("k", "ts", "v"),
      root, Seq("k"))
    assert(nBuckets === 64)
    val published = genSubdirs(root)
    OnlineTable.publishBucketedBatch(
      Seq((2L, 2L, "upd")).toDF("k", "ts", "v"), root, Seq("k"), m,
      nBuckets = 4)
    assert(nBuckets === 64)
    assert((genSubdirs(root) -- published).size === 1,
      "a one-key upsert must write exactly one bucket")
    val live = OnlineTable.read(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(live.size === 200 && live(2L) === "upd" && live(1L) === "full1")
    // a later whole-table publish supersedes both
    OnlineTable.publish(Seq((9L, 9L, "flat")).toDF("k", "ts", "v"), root, Seq("k"))
    assert(OnlineTable.read(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSeq === Seq((9L, "flat")))
    // and its GC (next cycle) collects the published and upserted gens
    OnlineTable.publish(Seq((9L, 10L, "flat2")).toDF("k", "ts", "v"), root, Seq("k"))
    val left = genSubdirs(root)
    assert(left.size === 2 && (left intersect published).isEmpty,
      s"superseded gens must be collected once no retained manifest references them: $left")
  }

  test("bucket-pruned lookup scans only the keys' buckets, same answer") {
    val root = java.nio.file.Files.createTempDirectory("otb5").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    OnlineTable.publishBucketedBatch(
      (1L to 300L).map(kk => (kk, 1L, s"v$kk")).toDF("k", "ts", "v"),
      root, Seq("k"), m, nBuckets = 16)
    val keys = Seq(7L, 8L).toDF("k")
    val out = OnlineTable.lookup(spark, root, Seq("k"), keys).get
    val got = out.select("k", "v").as[(Long, String)].collect().toSet
    assert(got === Set((7L, "v7"), (8L, "v8")))
    // the scan must reference at most 2 of the 16 bucket dirs
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val scanned = out.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.rootPaths.map(_.toString)
    }.flatten.filter(_.contains("__graft_bucket=")).toSet
    assert(scanned.nonEmpty && scanned.size <= 2,
      s"lookup scanned ${scanned.size} buckets: $scanned")
    // a key set hashing to no published bucket returns empty, not error
    assert(OnlineTable.lookup(spark, root, Seq("k"),
      Seq(987654321L).toDF("k")).get.count() >= 0L)
    // an INT key column serves int and bigint requests alike (bigint is
    // Feast's entity key type): both hash to the buckets the rows are in
    val rootInt = java.nio.file.Files.createTempDirectory("otb5i").toString + "/t"
    OnlineTable.publishBucketedBatch(
      (1 to 300).map(kk => (kk, 1L, s"v$kk")).toDF("k", "ts", "v"),
      rootInt, Seq("k"), m, nBuckets = 16)
    val want = (1L to 16L).map(kk => (kk, s"v$kk")).toSet
    Seq((1L to 16L).toDF("k"), (1 to 16).toDF("k")).foreach { ks =>
      val hits = OnlineTable.lookup(spark, rootInt, Seq("k"), ks).get
        .select(col("k").cast("long"), col("v")).as[(Long, String)]
        .collect().toSet
      assert(hits === want, s"${ks.schema("k").dataType} keys missed " +
        s"${want -- hits}")
    }
    // a whole-table publish serves lookups the same way
    val root2 = java.nio.file.Files.createTempDirectory("otb6").toString + "/t"
    OnlineTable.publish(Seq((1L, 1L, "x")).toDF("k", "ts", "v"), root2, Seq("k"))
    assert(OnlineTable.lookup(spark, root2, Seq("k"), Seq(1L).toDF("k"))
      .get.count() === 1L)
    assert(OnlineTable.lookup(spark, root2 + "_never", Seq("k"),
      Seq(1L).toDF("k")).isEmpty)
  }

  test("lookup routes a local key set with no Spark job; parquet-read keys " +
      "return the same rows") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val root = java.nio.file.Files.createTempDirectory("otb12").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    // an INT key column, requested with int and with bigint keys
    OnlineTable.publishBucketedBatch(
      (1 to 300).map(kk => (kk, 1L, s"v$kk")).toDF("k", "ts", "v"),
      root, Seq("k"), m, nBuckets = 16)
    val want = (1L to 14L).map(kk => (kk, s"v$kk")).toSet
    def rows(keys: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      OnlineTable.lookup(spark, root, Seq("k"), keys).get
        .select(col("k").cast("long"), col("v")).as[(Long, String)]
        .collect().toSet
    // 14 present keys and 2 absent ones
    val ks = (1L to 14L) ++ Seq(5000L, 5001L)
    Seq(ks.map(_.toInt).toDF("k"), ks.toDF("k")).foreach { local =>
      val t = local.schema("k").dataType
      assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(TestSpark.jobsRun(OnlineTable.lookup(spark, root, Seq("k"), local)) === 0,
        s"building a lookup on local $t keys ran a job")
      val dir = java.nio.file.Files.createTempDirectory("otb12k").toString + "/k"
      local.write.parquet(dir)
      val fromFile = spark.read.parquet(dir)
      assert(!fromFile.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      // not routed: joined against every bucket, its plan run once
      assert(TestSpark.jobsRun(OnlineTable.lookup(spark, root, Seq("k"), fromFile)) === 0,
        s"building a lookup on parquet $t keys ran a job")
      assert(rows(local) === want, s"$t local keys")
      assert(rows(fromFile) === want, s"$t parquet keys")
    }
  }

  test("bucketed manifests record the snapshot schema; read runs no Spark job") {
    import org.apache.spark.sql.types.{DataType, StructType}
    val root = java.nio.file.Files.createTempDirectory("otb13").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    def recorded: StructType = {
      val v = OnlineTable.currentVersion(spark, root).get
      val src = scala.io.Source.fromFile(s"$root/$v")
      try DataType.fromJson(src.getLines().find(_.startsWith("schema=")).get
        .stripPrefix("schema=")).asInstanceOf[StructType]
      finally src.close()
    }
    // the schema Spark infers from the live bucket files themselves
    def inferred: StructType = spark.read.parquet(
      genSubdirs(root).toSeq.map(d => s"$root/$d"): _*).schema
    def check(step: String): Unit = {
      assert(recorded === inferred, s"$step: manifest schema")
      var read: org.apache.spark.sql.DataFrame = null
      assert(TestSpark.jobsRun { read = OnlineTable.read(spark, root).get } === 0,
        s"$step: reading the snapshot ran a job")
      assert(read.schema === inferred, s"$step: read schema")
      assert(read.count() === 40L, s"$step: rows")
    }
    // non-nullable columns and a nested array: the manifest records them
    // as a parquet read reports them
    OnlineTable.publishBucketedBatch(
      (1 to 40).map(kk => (kk, 1L, s"v$kk", Seq(kk.toDouble))).toDF("k", "ts", "v", "xs"),
      root, Seq("k"), m, nBuckets = 8)
    check("publishBucketedBatch")
    OnlineTable.publishBucketedBatch(
      Seq((3, 2L, "u3", Seq(0.5))).toDF("k", "ts", "v", "xs"), root, Seq("k"), m)
    check("upsert")
    OnlineTable.rebucket(spark, root, Seq("k"), 4)
    check("rebucket")
    OnlineTable.compact(spark, root, Seq("k"))
    check("compact")
  }

  test("a whole-table read lists its buckets in groups, at any listing threshold") {
    val root = java.nio.file.Files.createTempDirectory("otb14").toString + "/t"
    OnlineTable.publish((1L to 300L).map(kk => (kk, s"v$kk")).toDF("k", "v"),
      root, Seq("k"))
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.getOption(key)
    // more buckets than the threshold: each scan lists on the driver
    try {
      spark.conf.set(key, "32")
      assert(TestSpark.jobsRun(OnlineTable.read(spark, root).get) === 0,
        "building the read ran a job")
      assert(OnlineTable.read(spark, root).get.count() === 300L)
      // a threshold of 0 (which Spark accepts) lists in parallel, and reads
      spark.conf.set(key, "0")
      assert(OnlineTable.read(spark, root).get.count() === 300L)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an empty FIRST micro-batch is a no-op, not a crash") {
    val root = java.nio.file.Files.createTempDirectory("otb8").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    val empty = Seq.empty[(Long, Long, String)].toDF("k", "ts", "v")
    // the stream's first trigger is often empty: publish must no-op,
    // leaving the table unpublished (the old path crashed on
    // require(entries.nonEmpty))
    OnlineTable.publishBucketedBatch(empty, root, Seq("k"), m, nBuckets = 4)
    assert(OnlineTable.currentVersion(spark, root).isEmpty)
    // the next real batch publishes normally
    OnlineTable.publishBucketedBatch(
      Seq((1L, 1L, "a")).toDF("k", "ts", "v"), root, Seq("k"), m,
      nBuckets = 4)
    assert(OnlineTable.read(spark, root).get.count() === 1L)
    // an empty batch against a LIVE bucketed table is also a no-op
    val v = OnlineTable.currentVersion(spark, root)
    OnlineTable.publishBucketedBatch(empty, root, Seq("k"), m)
    assert(OnlineTable.currentVersion(spark, root) === v)
    // a delete-style merge that empties every bucket commits an empty
    // table, which later upserts fill again
    OnlineTable.publishBucketedBatch(Seq((1L, 2L, "gone")).toDF("k", "ts", "v"),
      root, Seq("k"), (_, b) => b.filter(lit(false)))
    assert(OnlineTable.currentVersion(spark, root) !== v)
    assert(OnlineTable.read(spark, root).get.count() === 0L)
    OnlineTable.publishBucketedBatch(
      Seq((2L, 1L, "b")).toDF("k", "ts", "v"), root, Seq("k"), m)
    assert(OnlineTable.read(spark, root).get.select("v").as[String]
      .collect().toSeq === Seq("b"))
  }

  test("rebucket migrates bucket count under concurrent upserts, no lost update") {
    val root = java.nio.file.Files.createTempDirectory("otb9").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    OnlineTable.publishBucketedBatch(
      (1L to 100L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"),
      root, Seq("k"), m, nBuckets = 4)
    // rebucket 4 -> 16 while upserts race it through the same CAS log
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val rb = new Thread(() =>
      try OnlineTable.rebucket(spark, root, Seq("k"), 16)
      catch { case e: Throwable => errs.add(e) })
    val up = new Thread(() =>
      try (1 to 3).foreach { i =>
        OnlineTable.publishBucketedBatch(
          Seq((i.toLong, 2L, s"upd$i")).toDF("k", "ts", "v"),
          root, Seq("k"), m)
      } catch { case e: Throwable => errs.add(e) })
    rb.start(); up.start(); rb.join(180000); up.join(180000)
    assert(errs.isEmpty, s"rebucket/upsert race must be absorbed: $errs")
    // nothing lost: all 100 keys live, the 3 updates present
    val live = OnlineTable.read(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(live.size === 100)
    (1 to 3).foreach(i => assert(live(i.toLong) === s"upd$i",
      s"update $i lost across the rebucket flip"))
    // the live manifest carries the NEW bucket count: a fresh one-key
    // upsert rewrites exactly one of 16 buckets
    val before = genSubdirs(root)
    OnlineTable.publishBucketedBatch(
      Seq((50L, 3L, "post")).toDF("k", "ts", "v"), root, Seq("k"), m)
    val added = genSubdirs(root) -- before
    assert(added.size === 1, s"post-rebucket upsert wrote $added")
    // point lookups stay correct across the flip
    val got = OnlineTable.lookup(spark, root, Seq("k"), Seq(50L).toDF("k"))
      .get.select("v").as[String].collect().toSet
    assert(got === Set("post"))
    // rebucketing a never-published table is a no-op
    OnlineTable.rebucket(spark, root + "_never", Seq("k"), 8)
  }

  test("compact collapses accumulated micro-batch gens into one generation") {
    val root = java.nio.file.Files.createTempDirectory("otb10").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    OnlineTable.publishBucketedBatch(
      (1L to 60L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"),
      root, Seq("k"), m, nBuckets = 16)
    (2L to 11L).foreach { i =>
      OnlineTable.publishBucketedBatch(
        Seq((i, 10L + i, s"u$i")).toDF("k", "ts", "v"), root, Seq("k"), m)
    }
    // retention keeps 2 manifests; their gens span several generations
    assert(genSubdirs(root).map(_.split('/').head).size > 4,
      "micro-batches must have scattered buckets across gens")
    OnlineTable.compact(spark, root, Seq("k"))
    val live = OnlineTable.read(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(live.size === 60 && live(3L) === "u3" && live(50L) === "v50")
    // bucket count preserved: a fresh one-key upsert rewrites 1 of 16
    val before = genSubdirs(root)
    OnlineTable.publishBucketedBatch(
      Seq((30L, 99L, "post")).toDF("k", "ts", "v"), root, Seq("k"), m)
    assert((genSubdirs(root) -- before).size === 1)
    // one more publish evicts the last pre-compact manifest: the only
    // retained gens are the compact generation + the two post upserts
    OnlineTable.publishBucketedBatch(
      Seq((31L, 99L, "post2")).toDF("k", "ts", "v"), root, Seq("k"), m)
    val prefixes = genSubdirs(root).map(_.split('/').head)
    assert(prefixes.size <= 3,
      s"pre-compact gens must be collected, still have $prefixes")
    assert(OnlineTable.read(spark, root).get.count() === 60L)
    // compacting a never-published table is a no-op
    OnlineTable.compact(spark, root + "_never", Seq("k"))
  }

  test("three-way race: compact x rebucket x upserts — no lost update, " +
      "no torn reader, monotone log") {
    val root = java.nio.file.Files.createTempDirectory("otb11").toString + "/t"
    val m = latestMerge(Seq("k"), "ts", "ts")
    // seed 100 keys in 4 buckets, then scatter micro-batch gens so the
    // compact thread has real generations to collapse
    OnlineTable.publishBucketedBatch(
      (1L to 100L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"),
      root, Seq("k"), m, nBuckets = 4)
    (2L to 6L).foreach { i =>
      OnlineTable.publishBucketedBatch(
        Seq((i, 2L, s"u$i")).toDF("k", "ts", "v"), root, Seq("k"), m)
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // continuous reader: every observed snapshot must be complete (100
    // keys — upserts touch existing keys only). A missing-files error is
    // NOT torn state: it is the documented retention race (a reader that
    // held a snapshot across >keepVersions commits re-derives, exactly
    // like the writers' isMissingFiles path) — the reader retries; only
    // a WRONG ROW COUNT (a half-visible generation) is a torn snapshot.
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          OnlineTable.read(spark, root).foreach { df =>
            val n = df.count()
            if (n != 100L)
              errs.add(new AssertionError(s"torn snapshot: $n rows"))
          }
        } catch {
          case _: Throwable => () // retention race: re-derive next loop
        }
      }
    })
    val rb = new Thread(() =>
      try OnlineTable.rebucket(spark, root, Seq("k"), 16)
      catch { case e: Throwable => errs.add(e) })
    val cp = new Thread(() =>
      try OnlineTable.compact(spark, root, Seq("k"))
      catch { case e: Throwable => errs.add(e) })
    val up = new Thread(() =>
      try (1 to 5).foreach { i =>
        OnlineTable.publishBucketedBatch(
          Seq((i.toLong, 3L, s"upd$i")).toDF("k", "ts", "v"),
          root, Seq("k"), m)
      } catch { case e: Throwable => errs.add(e) })
    reader.start(); rb.start(); cp.start(); up.start()
    rb.join(180000); cp.join(180000); up.join(180000)
    stop.set(true); reader.join(60000)
    assert(errs.isEmpty, s"three-way race must be absorbed cleanly: $errs")
    // no lost update: every key lives, and latest-ts wins everywhere —
    // ts=3 upserts over ts=2 scatter over the ts=1 seed, regardless of
    // which side of the rebucket/compact flips each one landed on
    val live = OnlineTable.read(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(live.size === 100)
    (1 to 5).foreach(i => assert(live(i.toLong) === s"upd$i",
      s"update $i lost across the compact/rebucket flips"))
    assert(live(6L) === "u6")
    assert(live(50L) === "v50")
    // monotone, gapless log: 1 seed + 5 scatter + 5 upserts + rebucket +
    // compact = 13 successful commits, each consuming exactly one seq
    // (CAS losers retry WITHOUT committing); retention GC trims only a
    // prefix, so the retained window is contiguous up to head = 13
    val seqs = Option(new java.io.File(root, "_commits").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("c-"))
      .map(_.stripPrefix("c-").toLong).sorted
    assert(seqs.nonEmpty && seqs.last === 13L,
      s"head seq must be 13 (one per successful commit), got $seqs")
    assert(seqs === (seqs.head to seqs.last),
      s"retained commit window must be gapless, got $seqs")
    // the surviving manifest is coherent: a one-key upsert rewrites
    // exactly ONE bucket of whichever count won the count race (4 if
    // compact's re-derive landed last, 16 if the rebucket did)
    val before = genSubdirs(root)
    OnlineTable.publishBucketedBatch(
      Seq((42L, 9L, "post")).toDF("k", "ts", "v"), root, Seq("k"), m)
    assert((genSubdirs(root) -- before).size === 1)
    val got = OnlineTable.lookup(spark, root, Seq("k"), Seq(42L).toDF("k"))
      .get.select("v").as[String].collect().toSet
    assert(got === Set("post"))
  }

  test("getOnlineFeatures broadcasts keys against the live snapshot") {
    val root = java.nio.file.Files.createTempDirectory("ot3").toString + "/t"
    val view = FeatureStore.FeatureView("v", Seq("k"), "ts", 1000000L, Seq("f"))
    FeatureStore.materializeOnline(view,
      Seq((1L, 10L, "x"), (1L, 20L, "y"), (2L, 5L, "z"))
        .toDF("k", "ts", "f"), root)
    val out = FeatureStore.getOnlineFeatures(spark, root, view,
        Seq(Tuple1(1L)).toDF("k"))
      .select("k", "f").as[(Long, String)].collect().toSet
    assert(out === Set((1L, "y")))
  }
}
