package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dot / norm / cosine on known vectors") {
    val df = Seq((Seq(1f, 2f, 2f), Seq(2f, 0f, 0f))).toDF("a", "b")
    assert(df.select(Similarity.dot(col("a"), col("b"))).as[Double].head() === 2.0)
    assert(df.select(Similarity.l2Norm(col("a"))).as[Double].head() === 3.0)
    assert(df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
      === 2.0 / (3.0 * 2.0))
  }

  test("cosineTopK ranks by similarity, excludes self, respects k") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f))).toDF("nid", "nvec")
    val qs = vecs.select(col("nid").as("qid"), col("nvec").as("qvec"))
      .filter(col("qid") === 1L)
    val out = Similarity.cosineTopK(qs, vecs, k = 2)
      .select("nid", "rank").as[(Long, Long)].collect().toSeq
    assert(out === Seq((2L, 1L), (3L, 2L))) // nearest first; self excluded
  }

  test("ivfTopK finds planted twins with cluster structure") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 30).map(_ => unit())
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val twin = v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)
      Seq((2L * i, v.toSeq), (2L * i + 1, twin.toSeq))
    }
    val corpus = rows.toDF("nid", "nvec")
    val qs = corpus.filter(col("nid") % 2 === 0)
      .select(col("nid").as("qid"), col("nvec").as("qvec"))
    val ivf = Similarity.ivfTopK(qs, corpus, k = 1, nlist = 8, nprobe = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    val hits = (0 until 30).count(i => ivf.get(2L * i).contains(2L * i + 1))
    assert(hits >= 24, s"IVF found only $hits/30 planted twins")
  }

  test("IvfIndex save/load round-trips and probes identically to fresh fit") {
    val dim = 8
    val rnd = new scala.util.Random(23)
    val rows = (0L until 200L).map(i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val corpus = rows.toDF("nid", "nvec")
    val qs = corpus.filter(col("nid") % 10 === 0)
      .select(col("nid").as("qid"), col("nvec").as("qvec"))
    val fitted = IvfIndex.fit(corpus, nlist = 4, fitFraction = 1.0)
    val path = java.nio.file.Files.createTempDirectory("ivf_spec").toString + "/idx"
    fitted.save(spark, path)
    val loaded = IvfIndex.load(spark, path)
    assert(loaded === fitted, "persisted index must round-trip bit-identically")
    val a = Similarity.ivfTopK(qs, corpus, k = 3, fitted, nprobe = 2)
      .collect().toSet
    val b = Similarity.ivfTopK(qs, corpus, k = 3, loaded, nprobe = 2)
      .collect().toSet
    assert(a === b, "fresh-fit and loaded index must probe identically")
  }

  test("IVF append: appended vectors findable, staleness trips, refit restores balance") {
    val dim = 8
    val rnd = new scala.util.Random(47)
    def around(anchor: Array[Float], spread: Float): Seq[Float] =
      anchor.map(a => a + spread * rnd.nextGaussian().toFloat).toSeq
    // base corpus: 4 well-separated anchors near the origin region
    val baseAnchors = (0 until 4).map(i =>
      Array.tabulate(dim)(j => if (j == i * 2) 3f else 0f))
    val base = (0 until 200).map(i =>
      (i.toLong, around(baseAnchors(i % 4), 0.2f)))
    val corpus = base.toDF("nid", "nvec")
    val index = IvfIndex.fit(corpus, nlist = 8, fitFraction = 1.0)
    val root = java.nio.file.Files.createTempDirectory("ivf_append")
    val cells = root.resolve("cells").toString
    IvfIndex.buildInverted(corpus, index, cells)
    // distribution shift: ONE new anchor in a far region the fit never
    // saw — the stale centroids funnel all 300 appended rows into one
    // cell (the hot-cell pathology q294 ledgers); the refit's KMeans
    // splits that 300-point mass (largest SSE term) across cells
    val newAnchor = Array.fill(dim)(8f)
    val appended = (0 until 300).map(i =>
      (1000L + i, around(newAnchor, 0.2f)))
    IvfIndex.appendInverted(appended.toDF("nid", "nvec"), index, cells)
    assert(recordedSchema(cells) === spark.read.parquet(cells).schema)

    // 1. recall-after-append tripwire (the q239 shape: fixed data +
    // seeds, so the floor either holds forever or the append path
    // broke): perturbed twins of appended rows must find their source
    // query ids are DISJOINT from corpus ids (the probe excludes
    // qid == nid as a self-match); target = qid - 4000
    val queries = appended.take(30).map { case (id, v) =>
      (id + 4000L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)) }
      .toDF("qid", "qvec")
    def recall(idx: IvfIndex.Model, path: String): Double = {
      val got = Similarity.ivfTopKPersisted(queries, path, k = 1, idx,
          nprobe = 3)
        .select("qid", "nid").as[(Long, Long)].collect().toMap
      got.count { case (q, n) => q - 4000L == n }.toDouble / 30
    }
    val staleRecall = recall(index, cells)
    assert(staleRecall >= 0.9,
      s"appended rows must be findable through the stale index, " +
        s"recall=$staleRecall")

    // 2. the occupancy monitor trips: the funnel cell holds > 4x fair
    // share; the grown trigger stays quiet at this size
    val st = IvfIndex.staleness(spark, cells, index)
    assert(st.nRows === 500L)
    assert(st.hotCells >= 1 && st.needsRefit,
      s"shifted append must trip the hot-cell trigger, got $st")
    assert(!st.grown, s"500 rows must not trip the 2x512-per-cell " +
      s"grown trigger, got $st")
    // the grown trigger, isolated: size the discipline for tiny cells
    assert(IvfIndex.staleness(spark, cells, index, cellTarget = 10).grown)

    // 3. the refit policy fires, and the refit index restores the
    // cell-size discipline (7 anchors, 8 centroids -> no funnel cell)
    // without losing the appended rows' recall
    val refit = IvfIndex.refitIfStale(spark, cells, index)
    assert(refit.nonEmpty, "refitIfStale must fire on a stale index")
    val cells2 = root.resolve("cells2").toString
    val all = spark.read.parquet(cells).select(col("nid"), col("nvec"))
    IvfIndex.buildInverted(all, refit.get, cells2)
    val st2 = IvfIndex.staleness(spark, cells2, refit.get)
    assert(st2.hotCells === 0 && !st2.needsRefit,
      s"refit must clear the hot-cell trigger, got $st2")
    assert(st2.maxCell < st.maxCell,
      s"refit must shrink the hottest cell: ${st.maxCell} -> ${st2.maxCell}")
    val refitRecall = recall(refit.get, cells2)
    assert(refitRecall >= 0.9,
      s"refit must not lose appended-row recall, got $refitRecall")
    // policy idempotence: a healthy tree does not refit again
    assert(IvfIndex.refitIfStale(spark, cells2, refit.get).isEmpty)
  }

  test("ivfTopKPersisted equals the in-memory probe and prunes to probed cells") {
    val dim = 8
    val rnd = new scala.util.Random(31)
    val rows = (0L until 300L).map(i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val corpus = rows.toDF("nid", "nvec")
    val qs = corpus.filter(col("nid") % 25 === 0)
      .select(col("nid").as("qid"), col("nvec").as("qvec"))
    val idx = IvfIndex.fit(corpus, nlist = 6, fitFraction = 1.0)
    val cells = java.nio.file.Files.createTempDirectory("ivf_inv").toString +
      "/cells"
    IvfIndex.buildInverted(corpus, idx, cells)
    assert(recordedSchema(cells) === spark.read.parquet(cells).schema)
    val mem = Similarity.ivfTopK(qs, corpus, k = 3, idx, nprobe = 2)
      .collect().toSet
    val per = Similarity.ivfTopKPersisted(qs, cells, k = 3, idx, nprobe = 2)
    assert(per.collect().toSet === mem,
      "persisted inverted-file probe must equal the in-memory probe")
    // the scan reads only files under the probed cells' dirs — for the
    // whole batch, and for one query that probes 2 of the 6 cells
    def probedCells(q: org.apache.spark.sql.DataFrame): Set[Int] =
      q.select(Similarity.ivfProbeCells(col("qvec"), idx, 2))
        .as[Seq[Int]].collect().flatten.toSet
    Seq(qs, qs.limit(1)).foreach { q =>
      val probed = probedCells(q)
      val files = Similarity.ivfTopKPersisted(q, cells, k = 3, idx, nprobe = 2)
        .inputFiles
      assert(files.nonEmpty && files.forall(f =>
        probed.exists(c => f.contains(s"/cell=$c/"))),
        s"scan outside the probed cells $probed: ${files.toSeq}")
    }
    assert(probedCells(qs.limit(1)).size === 2)
  }

  /** The schema an inverted file's writer recorded under its root. */
  private def recordedSchema(cells: String) =
    org.apache.spark.sql.types.DataType.fromJson(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(cells, IvfIndex.SchemaFile)), "UTF-8"))

  /** `qs` written to parquet and read back: the same rows, not local. */
  private def fromParquet(qs: org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("ivf_q").toString + "/q"
    qs.write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("ivfTopKPersisted builds on a local query batch with no Spark job; " +
      "the same queries read from parquet give the same rows") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val rnd = new scala.util.Random(53)
    val corpus = (0L until 300L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("nid", "nvec")
    val qs = (0L until 12L).map(i =>
      (1000L + i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("qid", "qvec")
    val idx = IvfIndex.fit(corpus, nlist = 6, fitFraction = 1.0)
    val cells = java.nio.file.Files.createTempDirectory("ivf_local").toString +
      "/cells"
    IvfIndex.buildInverted(corpus, idx, cells)
    assert(qs.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    // no warm-up probe: the schema is read from the tree, never inferred
    var local: org.apache.spark.sql.DataFrame = null
    assert(TestSpark.jobsRun {
      local = Similarity.ivfTopKPersisted(qs, cells, k = 3, idx, nprobe = 2)
    } === 0)
    val got = local.collect().toSet
    val nonLocal = fromParquet(qs)
    assert(!nonLocal.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(Similarity.ivfTopKPersisted(nonLocal, cells, k = 3, idx, nprobe = 2)
      .collect().toSet === got)
    assert(Similarity.ivfTopK(qs, corpus, k = 3, idx, nprobe = 2)
      .collect().toSet === got)
    assert(got.size === 36)
  }

  test("ivfTopKPersisted: a probed cell with no dir contributes no rows") {
    // three clusters and a fourth centroid far from all of them: no vector
    // is assigned to cell 3, so the inverted file has no cell=3 dir
    val rnd = new scala.util.Random(61)
    val anchors = Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(-1f, 0f))
    val corpus = (0L until 90L).map(i => (i,
      anchors((i % 3).toInt).map(_ + 0.1f * rnd.nextGaussian().toFloat)))
      .toDF("nid", "nvec")
    val idx = IvfIndex.Model(anchors.zipWithIndex.map { case (a, i) =>
      (i, a, 1.0) } :+ ((3, Seq(50f, 50f), 5000.0)))
    val cells = java.nio.file.Files.createTempDirectory("ivf_empty").toString +
      "/cells"
    IvfIndex.buildInverted(corpus, idx, cells)
    assert(!new java.io.File(cells, "cell=3").exists())
    val qs = (0L until 6L).map(i => (1000L + i,
      anchors((i % 3).toInt).map(_ + 0.1f * rnd.nextGaussian().toFloat)))
      .toDF("qid", "qvec")
    // nprobe = nlist: every query probes the empty cell too
    val want = Similarity.ivfTopK(qs, corpus, k = 3, idx, nprobe = 4)
      .collect().toSet
    assert(want.size === 18)
    Seq(qs, fromParquet(qs)).foreach { q =>
      assert(Similarity.ivfTopKPersisted(q, cells, k = 3, idx, nprobe = 4)
        .collect().toSet === want)
    }
    // a query whose only probed cell is the empty one gets no rows
    val far = Seq((2000L, Seq(50f, 50f))).toDF("qid", "qvec")
    Seq(far, fromParquet(far)).foreach { q =>
      assert(Similarity.ivfTopKPersisted(q, cells, k = 3, idx, nprobe = 1)
        .count() === 0L)
      assert(Similarity.ivfTopKBudgeted(q, cells, k = 3, idx, nprobe = 1,
        budget = 10).count() === 0L)
    }
  }

  test("ivfTopKPersisted: a cells tree recording no schema fails naming it") {
    val corpus = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("nid", "nvec")
    val idx = IvfIndex.fit(corpus, nlist = 2, fitFraction = 1.0)
    val cells = java.nio.file.Files.createTempDirectory("ivf_noschema")
      .toString + "/cells"
    corpus.withColumn("cell", Similarity.ivfCell(col("nvec"), idx))
      .write.partitionBy("cell").parquet(cells)
    val qs = Seq((10L, Seq(1f, 0f))).toDF("qid", "qvec")
    val e = intercept[IllegalArgumentException](
      Similarity.ivfTopKPersisted(qs, cells, k = 1, idx, nprobe = 1))
    assert(e.getMessage.contains(cells) &&
      e.getMessage.contains("records no schema"), e.getMessage)
  }

  test("ivfTopKBudgeted: exact ledger, slack budget equals unbudgeted, " +
      "binding budget truncates newest-id rows first") {
    val dim = 8
    val rnd = new scala.util.Random(97)
    val rows = (0L until 300L).map(i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val corpus = rows.toDF("nid", "nvec")
    val qs = corpus.filter(col("nid") % 25 === 0)
      .select(col("nid").as("qid"), col("nvec").as("qvec"))
    val idx = IvfIndex.fit(corpus, nlist = 6, fitFraction = 1.0)
    val cells = java.nio.file.Files.createTempDirectory("ivf_bud").toString +
      "/cells"
    IvfIndex.buildInverted(corpus, idx, cells)
    // independent candidate sets: every corpus row in a probed cell
    val cellOf = corpus
      .select(col("nid"), Similarity.ivfCell(col("nvec"), idx).as("c"))
      .as[(Long, Int)].collect().toMap
    val probedOf = qs.select(col("qid"),
        Similarity.ivfProbeCells(col("qvec"), idx, 2).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    val candsOf = probedOf.map { case (q, cs) =>
      q -> cellOf.filter { case (n, c) => n != q && cs.contains(c) }
        .keys.toSeq.sorted }
    // slack budget (>= every candidate set): rows must equal the
    // unbudgeted persisted probe, ledger must carry exact counts, zero
    // truncation
    val slack = Similarity.ivfTopKBudgeted(qs, cells, k = 3, idx,
        nprobe = 2, budget = 1000)
      .as[(Long, Long, Double, Long, Long, Long)].collect()
    val unbud = Similarity.ivfTopKPersisted(qs, cells, k = 3, idx,
        nprobe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(slack.map(r => (r._1, r._2, r._3, r._4)).toSet === unbud,
      "slack budget must reproduce the unbudgeted probe row for row")
    slack.foreach { case (q, _, _, _, nc, nt) =>
      assert(nc === candsOf(q).size.toLong, s"n_cand wrong for query $q")
      assert(nt === 0L, s"slack budget must not truncate (query $q)")
    }
    // binding budget: kept rows come only from each query's
    // budget-smallest nids (append-order truncation drops newest first),
    // and the ledger accounts the exact overflow
    val budget = 20
    val tight = Similarity.ivfTopKBudgeted(qs, cells, k = 3, idx,
        nprobe = 2, budget = budget)
      .as[(Long, Long, Double, Long, Long, Long)].collect()
    assert(tight.exists(_._6 > 0L), "fixture must make the budget bind")
    tight.foreach { case (q, n, _, _, nc, nt) =>
      val cand = candsOf(q)
      assert(nc === cand.size.toLong)
      assert(nt === math.max(0, cand.size - budget).toLong,
        s"truncation ledger wrong for query $q")
      assert(cand.take(budget).contains(n),
        s"query $q kept nid $n from beyond its scan budget")
    }
  }

  test("annTopK finds planted near-neighbors (high-cosine pairs)") {
    // sign-LSH recall depends on cosine: P(bucket-match) ~ (1-θ/π)^planes per
    // table, so near-random vectors (cos~0.2, as in the fixture embeddings)
    // are not bucketable — plant genuine neighbors (cos ~0.95+) instead.
    val dim = 16
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 40).map(_ => unit())
    // pairs (2i, 2i+1): a base vector and a tiny perturbation of it
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val twin = v.zipWithIndex.map { case (x, j) =>
        x + 0.05f * (if ((i + j) % 2 == 0) 1 else -1) * math.abs(rnd.nextGaussian()).toFloat }
      Seq((2L * i, v.toSeq), (2L * i + 1, twin.toSeq))
    }
    val corpus = rows.toDF("nid", "nvec")
    val qs = corpus.filter(col("nid") % 2 === 0)
      .select(col("nid").as("qid"), col("nvec").as("qvec"))
    val ann = Similarity.annTopK(qs, corpus, dim = dim, k = 1,
        planes = 8, tables = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    val hits = (0 until 40).count(i => ann.get(2L * i).contains(2L * i + 1))
    assert(hits >= 28, s"ANN found only $hits/40 planted twins")
  }

  test("semanticDupPairs finds planted twin pairs, verifies cosine, no cross join") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 30).map(_ => unit())
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val twin = v.zipWithIndex.map { case (x, j) =>
        x + 0.03f * (if ((i + j) % 2 == 0) 1 else -1) * math.abs(rnd.nextGaussian()).toFloat }
      Seq((2L * i, v.toSeq), (2L * i + 1, twin.toSeq))
    }
    val corpus = rows.toDF("nid", "nvec")
    val pairs = Similarity.semanticDupPairs(corpus, dim = dim, minCos = 0.9,
      planes = 6, tables = 6)
    // the whole-corpus self-join must stay bucket-equi-join-shaped
    assert(!pairs.queryExecution.executedPlan.toString.toLowerCase
      .matches("(?s).*(cartesian|broadcastnestedloop).*"),
      "semantic dedup must not contain a cross/NLJ join")
    val got = pairs.as[(Long, Long, Double)].collect()
    assert(got.forall { case (a, b, c) => a < b && c >= 0.9 },
      "pairs must be ordered, above threshold")
    val gotSet = got.map(p => (p._1, p._2)).toSet
    val hits = (0 until 30).count(i => gotSet.contains((2L * i, 2L * i + 1)))
    assert(hits >= 24, s"semantic dedup found only $hits/30 planted twin pairs")
  }

  test("sparseCosineTopK: identical docs cos 1, disjoint absent, df cap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),     // identical to 1 -> cos 1.0
      (3L, "alpha delta epsilon"),  // shares only 'alpha' with 1/2
      (4L, "zeta eta theta"),       // disjoint -> no pairs
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Similarity.sparseCosineTopK(docs, "doc_id", "text", k = 3)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byDoc = out.groupBy(_._1)
    // identical docs: every shared term weight equal -> cosine exactly 1
    assert(byDoc(1L).head === ((1L, 2L, 1.0, 1L)))
    assert(byDoc(2L).head === ((2L, 1L, 1.0, 1L)))
    // 3 ranks its two alpha-sharers; 4 and the null doc never appear
    assert(byDoc(3L).map(_._2).toSet === Set(1L, 2L))
    assert(!byDoc.contains(4L) && !byDoc.contains(5L))
    // ranks are 1..k dense per doc, tie on cos broken by ascending nid
    assert(byDoc(3L).sortBy(_._4).map(_._2) === Seq(1L, 2L))
    // df cap 2: 'alpha' (df 3) leaves the space; 1~2 still cos 1 on
    // beta/gamma, 3 loses its only link to them
    val capped = Similarity.sparseCosineTopK(docs, "doc_id", "text",
        k = 3, maxDf = 2L).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet === Set((1L, 2L), (2L, 1L)))
  }

  test("sparseCosineTopK tokenizes the corpus once (runtime exchange reuse)") {
    // the weighted postings `w` feed three consumers (norms + both join
    // sides); AQE must reuse the tokenize->tf exchange rather than
    // re-scanning the corpus 3×. The pre-AQE plan alone can't show this
    // (it prints 18 scans), so assert on the EXECUTED plan — the
    // UnigramLmSpec coverageVocab discipline. A refactor that breaks the
    // reuse (e.g. divergent projections before the join) fails here, not
    // silently in the 100 TB bill.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull)
    val out = Similarity.sparseCosineTopK(docs, "doc_id", "text",
      k = 2, maxDf = 150L)
    out.collect()
    val ex = out.queryExecution.executedPlan.toString
    assert(ex.contains("ReusedQueryStage") || ex.contains("ReusedExchange"),
      s"no runtime exchange reuse in:\n$ex")
  }
}
