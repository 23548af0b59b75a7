package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (query side broadcast — exact, O(n·q)).
  * Scale path: random-hyperplane LSH bucketing — candidates only meet inside
  * a bucket equi-join, so the shuffle key is the bucket signature and no n²
  * stage exists. All math in double precision via native higher-order
  * functions (`zip_with`/`aggregate`) — codegen-adjacent, no UDF.
  */
object Similarity {

  /** Dot product of two float/double arrays, computed in double — the
    * native codegen'd kernel (graft.parse.DotProductExpr); bit-identical to
    * the `aggregate(zip_with(...))` HOF fold but without per-element
    * interpreted lambda evaluation. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def l2Norm(a: Column): Column = sqrt(call_function("vec_dot", a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Round to 6 decimals as floor(x*1e6+0.5)/1e6 — pure IEEE ops, so the
    * result is bit-identical in any engine given identical input doubles
    * (round()'s half-way handling is engine-specific; see SparkEntry
    * Scaladoc). Rank on this so top-k ordering is reproducible. */
  private[graft] def round6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6

  /** Exact top-k cosine neighbors for each query row.
    *
    * `queries(qid, qvec)` is broadcast against `corpus(nid, nvec)`; the
    * n×q similarity pass is embarrassingly parallel over corpus partitions,
    * then one shuffle on qid ranks the top-k. Self-matches excluded when ids
    * collide.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Precompute norms once per row (not once per pair): 3x fewer flops in
    // the n×q hot loop.
    val q = queries.withColumn("__qn", l2Norm(col("qvec")))
    val c = corpus.withColumn("__nn", l2Norm(col("nvec")))
    val joined = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      // rank on a rounded similarity so ordering is reproducible across
      // engines despite residual float differences
      .withColumn("cos",
        round6(dot(col("qvec"), col("nvec")) / (col("__qn") * col("__nn"))))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "nid", "cos", "rank")
  }

  /** Embedding-cosine near-dup: every corpus row whose cosine similarity
    * with a query-batch row meets `minCos` — the threshold (rather than
    * top-k) retrieval shape LLM dedup pipelines run against a candidate
    * batch. Exact: the bounded query batch broadcasts, the corpus scan is
    * embarrassingly parallel, and no shuffle exists at all (threshold
    * filtering needs no per-query ranking). For full-corpus×corpus
    * near-dup at scale, generate candidates with [[annTopK]]'s LSH buckets
    * instead and verify with the same cosine. */
  def cosineNearDup(queries: DataFrame, corpus: DataFrame,
                    minCos: Double): DataFrame = {
    val q = queries.withColumn("__qn", l2Norm(col("qvec")))
    val c = corpus.withColumn("__nn", l2Norm(col("nvec")))
    c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos",
        round6(dot(col("qvec"), col("nvec")) / (col("__qn") * col("__nn"))))
      .filter(col("cos") >= minCos)
      .select("qid", "nid", "cos")
  }

  /** IVF (inverted-file) ANN top-k: KMeans partitions the corpus into
    * `nlist` cells; each query probes its `nprobe` nearest centroids and
    * scores only those cells' vectors exactly. The candidate meeting is an
    * equi-join on cell id — shuffle-parallel, no n² stage. The scale path
    * when the corpus has cluster structure; hyperplane LSH (below) when it
    * doesn't. Deterministic under the fixed seed.
    *
    * Fits a throwaway [[IvfIndex]] inline. A REAL deployment builds the
    * index once and probes it many times — use [[IvfIndex.fit]] +
    * [[IvfIndex.Model.save]]/[[IvfIndex.load]] and the `Model` overload
    * below, exactly like [[graft.ops.Categorify]]'s fit/save/load split;
    * the per-run KMeans fit otherwise dominates probe latency.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
              fitFraction: Double = 0.25): DataFrame =
    ivfTopK(queries, corpus, k,
      IvfIndex.fit(corpus, nlist, seed, fitFraction), nprobe)

  /** Probe path of IVF top-k against a pre-fitted centroid index.
    *
    * The centroid index is nlist×dim floats — a PLAN-TIME LITERAL, so cell
    * assignment is a single projection (nlist codegen'd vec_dot kernels +
    * argmax), not a corpus×centroids join: the corpus is never replicated
    * or shuffled to find its cell.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              index: IvfIndex.Model, nprobe: Int): DataFrame = {
    val corpusCells = corpus.withColumn("cell", ivfCell(col("nvec"), index))
    val queryCells = queries.withColumn("cell",
      explode(ivfProbeCells(col("qvec"), index, nprobe)))
    ivfRank(queryCells, corpusCells, k)
  }

  /** Probe path against a PERSISTED inverted file
    * ([[IvfIndex.buildInverted]]): only the probed cells' partition
    * directories are READ — the scan prunes to ~nprobe/nlist of the corpus
    * on disk, and no corpus row is ever scored against a centroid at probe
    * time (assignment happened once, at build). Identical output to
    * [[ivfTopK]] on the same corpus/index (SimilaritySpec asserts it).
    *
    * Each query's `nprobe` cells are collected to the driver, and their
    * union names the cell dirs the scan reads. A local query batch (a
    * `LocalRelation`) is routed while the plan is optimized, with no
    * Spark job; any other batch runs one job to collect its cells. */
  def ivfTopKPersisted(queries: DataFrame, cellsPath: String, k: Int,
                       index: IvfIndex.Model, nprobe: Int): DataFrame = {
    val (queryCells, corpusCells) =
      ivfProbePersisted(queries, cellsPath, index, nprobe)
    ivfRank(queryCells, corpusCells, k)
  }

  /** The persisted probe's two sides: each query exploded to its
    * `nprobe` best cells, and the inverted file's scan of only the cells
    * some query probes. The probes are collected to the driver: a local
    * batch folds the projection at optimization (no job), any other
    * batch runs one single-stage job. */
  private def ivfProbePersisted(queries: DataFrame, cellsPath: String,
                                index: IvfIndex.Model,
                                nprobe: Int): (DataFrame, DataFrame) = {
    val probes = ivfProbeCells(col("qvec"), index, nprobe)
    val probed = queries.select(probes).collect().flatMap(_.getSeq[Int](0)).toSet
    (queries.withColumn("cell", explode(probes)),
      readCells(queries.sparkSession, cellsPath, probed))
  }

  /** The inverted file's rows in the `probed` cells: a scan of only their
    * `cell=<i>` dirs, the probed cells entering as paths, not as a
    * per-call literal list the plan would compile, read with the schema
    * the writer recorded ([[IvfIndex.SchemaFile]]), so no inference job
    * runs. A cell no vector was assigned to has no dir and contributes
    * no rows. */
  private def readCells(spark: SparkSession, cellsPath: String,
                        probed: Set[Int]): DataFrame = {
    val root = new Path(cellsPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val names = probed.map(c => s"cell=$c")
    val dirs = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && names(st.getPath.getName))
      .map(_.getPath.toString).sorted
    val schemaFile = new Path(root, IvfIndex.SchemaFile)
    require(fs.exists(schemaFile), s"inverted file $cellsPath records no " +
      "schema; write it with IvfIndex.buildInverted")
    val in = fs.open(schemaFile)
    val schema = try DataType.fromJson(
      new String(in.readAllBytes(), "UTF-8")).asInstanceOf[StructType]
    finally in.close()
    if (dirs.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", cellsPath).parquet(dirs: _*)
  }

  /** BUDGETED probe of a persisted inverted file, with a truncation
    * ledger: [[ivfTopKPersisted]]'s pruned scan, but each query reads at
    * most `budget` candidate rows from its probed cells — the per-probe
    * work bound the cell-size discipline promises ([[IvfIndex]]'s
    * nlist = n/cellTarget contract: balanced cells keep candidate mass at
    * ~nprobe × cellTarget, so a sane budget never binds; a HOT cell blows
    * past it and the prober must either truncate or blow its latency
    * SLA). Truncation order is ascending `nid` — the deterministic proxy
    * for posting/append order (appends assign ascending id ranges, so
    * overflow drops the newest rows first, exactly what a bounded
    * posting-list read does) — and is ACCOUNTED, never silent: every
    * output row carries the query's full candidate count (`n_cand`) and
    * how many rows truncation dropped (`n_trunc`), the retrieval
    * analogue of the streaming watermark ledger. A monitor alarming on
    * `n_trunc > 0` rates is the online complement of
    * [[IvfIndex.staleness]]'s offline occupancy verdicts (SCALING.md's
    * round-17 section measures the recall cost of ignoring either: 0.35
    * absolute recall at 30× replica by the second hot append).
    *
    * One pass: the scan-order ranking, the per-query candidate count,
    * and the top-k ranking all ride ONE hash partitioning on `qid` (the
    * count is a window over the same key — no second scan of the probed
    * cells, no ledger join-back). */
  def ivfTopKBudgeted(queries: DataFrame, cellsPath: String, k: Int,
                      index: IvfIndex.Model, nprobe: Int,
                      budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (queryCells, corpusCells) =
      ivfProbePersisted(queries, cellsPath, index, nprobe)
    val cand = queryCells.join(corpusCells, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
    val wScan = Window.partitionBy("qid").orderBy(asc("nid"))
    val wAll = Window.partitionBy("qid")
    val wRank = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    cand.withColumn("__scan", row_number().over(wScan))
      .withColumn("n_cand", count(lit(1)).over(wAll))
      .filter(col("__scan") <= budget)
      .withColumn("cos", round6(cosine(col("qvec"), col("nvec"))))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rank"),
        col("n_cand"),
        greatest(col("n_cand") - budget, lit(0L)).as("n_trunc"))
  }

  /** Shared IVF ranking tail: meet candidates on cell id, score exactly,
    * keep each query's top k. Each corpus vector lives in exactly one cell
    * and probe cells are distinct, so (qid, nid) pairs are already
    * unique — no dedup shuffle. */
  private def ivfRank(queryCells: DataFrame, corpusCells: DataFrame,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = queryCells.join(corpusCells, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    cands.withColumn("cos", round6(cosine(col("qvec"), col("nvec"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "nid", "cos", "rank")
  }

  /** score_i(v) = v·c_i − ||c_i||²/2 — argmax over i equals the nearest
    * centroid by L2 (the ||v||² term is constant per row). Centroids enter
    * as plan literals. */
  private def ivfScore(vec: Column, cv: Seq[Float], n2: Double): Column =
    dot(vec, typedlit(cv)) - lit(n2 / 2)

  /** Nearest-cell id for a vector under `index` — the corpus-side
    * assignment: one codegen'd projection (nlist vec_dot kernels + argmax),
    * never a corpus×centroids join. array_position takes the FIRST
    * maximum, i.e. the lowest cell id on ties. Public so callers can
    * materialize cell layouts (partition-by-cell storage) and so the
    * recall harness can measure per-cell populations. */
  def ivfCell(vec: Column, index: IvfIndex.Model): Column = {
    val scores = array(index.centroids.map { case (_, cv, n2) =>
      ivfScore(vec, cv, n2) }: _*)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Top-`nprobe` probe cells for a query vector, best-first: an
    * nlist-element comparator sort per query ROW, never a per-(query,
    * centroid) pair stage. Ties break toward the lower cell id, matching
    * [[ivfCell]]. */
  def ivfProbeCells(vec: Column, index: IvfIndex.Model,
                    nprobe: Int): Column = {
    val qcells = array(index.centroids.map { case (i, cv, n2) =>
      struct(ivfScore(vec, cv, n2).as("d"), lit(i).as("cell")) }: _*)
    val sorted = array_sort(qcells, (l, r) =>
      when(l("d") > r("d"), -1).when(l("d") < r("d"), 1)
        .otherwise(l("cell") - r("cell")).cast("int"))
    transform(slice(sorted, 1, nprobe), x => x("cell"))
  }

  /** Corpus-wide embedding near-dup PAIRS — the full-corpus×corpus
    * semantic-dedup shape [[cosineNearDup]]'s broadcast-batch form cannot
    * reach (no side is bounded): LSH-bucket the corpus once, self-join on
    * (table, bucket) so candidates only meet inside a bucket, verify with
    * exact cosine. Approximate — recall is the standard hyperplane-LSH
    * collision bound under `planes`/`tables`; every emitted pair is
    * exactly verified. Only (table, bucket, id) rides the bucket
    * self-join (the annTopK narrow-shuffle shape); vectors re-attach to
    * the deduplicated pair set. Feed the result to
    * [[Dedup.connectedComponents]] to collapse groups — pairs from clone
    * cliques are quadratic in clique size, groups are linear. */
  def semanticDupPairs(corpus: DataFrame, dim: Int, minCos: Double,
                       planes: Int = 8, tables: Int = 4): DataFrame = {
    val cb = corpus.select(col("nid"),
      explode(hyperplaneBuckets(col("nvec"), dim, planes, tables)).as("b"))
      .select(col("nid"), col("b.table").as("table"), col("b.bucket").as("bucket"))
    val cands = cb.select(col("nid").as("id_a"), col("table"), col("bucket"))
      .join(cb.select(col("nid").as("id_b"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val va = corpus.select(col("nid").as("id_a"), col("nvec").as("va"))
    val vb = corpus.select(col("nid").as("id_b"), col("nvec").as("vb"))
    cands.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cos", round6(cosine(col("va"), col("vb"))))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Random-hyperplane (sign) LSH bucket id for a vector: `planes` random
    * unit directions from a fixed seed; bit i = sign(v · h_i). Vectors in the
    * same bucket are cosine-close with high probability; union over `tables`
    * independent bucketings raises recall. */
  def hyperplaneBuckets(vec: Column, dim: Int, planes: Int, tables: Int,
                        seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    def gaussian(): Double = rnd.nextGaussian()
    val buckets = (0 until tables).map { t =>
      val sig = (0 until planes).map { _ =>
        val plane = Array.fill(dim)(gaussian())
        val d = call_function("vec_dot", vec, typedlit(plane.toSeq))
        when(d >= 0, lit(1)).otherwise(lit(0))
      }
      struct(lit(t).as("table"),
        sig.zipWithIndex.map { case (b, i) => b * (1 << i) }
          .reduce(_ + _).as("bucket"))
    }
    array(buckets: _*)
  }

  /** ANN top-k via LSH: bucket both sides, equi-join on (table, bucket),
    * exact cosine within candidates, rank top-k per query. Approximate —
    * recall depends on planes/tables; use for the 100 TB path where
    * broadcast of queries or corpus-wide scan per query set is infeasible.
    *
    * Only (table, bucket, id) rides the bucket join — a vector appears in
    * `tables` buckets, and letting the embeddings ride that exploded
    * shuffle multiplies the heaviest column by `tables` and again by every
    * duplicated candidate pair. Vectors are re-attached to the (far
    * smaller) deduplicated pair set, the same narrow-shuffle shape
    * minhashLsh uses for its shingle arrays. */
  def annTopK(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
              planes: Int = 12, tables: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qb = queries.select(col("qid"),
      explode(hyperplaneBuckets(col("qvec"), dim, planes, tables)).as("qb"))
      .select(col("qid"),
        col("qb.table").as("table"), col("qb.bucket").as("bucket"))
    val cb = corpus.select(col("nid"),
      explode(hyperplaneBuckets(col("nvec"), dim, planes, tables)).as("cb"))
      .select(col("nid"),
        col("cb.table").as("table"), col("cb.bucket").as("bucket"))
    val cands = qb.join(cb, Seq("table", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .dropDuplicates("qid", "nid")
    val scored = cands
      .join(queries, Seq("qid"))
      .join(corpus, Seq("nid"))
      .withColumn("cos", round6(cosine(col("qvec"), col("nvec"))))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "nid", "cos", "rank")
  }

  /** Sparse TF-IDF cosine top-k over raw TEXT — no embeddings: each doc
    * is its (tok → tf·N/df) weight vector and similarity rides an
    * INVERTED-INDEX equi-join on tokens (Σ posting² candidate mass, the
    * q17/q34/q46 discipline — never docs² pairs), so only docs sharing a
    * surviving token are ever compared. `maxDf` drops stopword-ish
    * posting lists (df > cap) from the vector space BEFORE the join —
    * the hot-bucket guard every inverted-index operator here carries;
    * norms are computed over the same capped space, so cosine stays a
    * true cosine in that space.
    *
    * Engine-exactness: the idf is q59's log-free ratio (tf·N/df — one
    * IEEE division), per-term products round to 6 decimals and sum as
    * exact decimals (the established cross-engine float discipline: sum
    * ORDER is the only nondeterminism doubles admit, decimals are
    * associative), and sqrt/divide are correctly-rounded IEEE ops — an
    * external oracle reproduces every score bit-for-bit.
    *
    * Each unordered pair's dot product is computed ONCE (id_a < id_b)
    * and mirrored by a cheap union before the per-doc ranking window, so
    * the expensive posting join is never doubled. Output:
    * (id, nid, cos, rank) with rank 1..k per id by (cos desc, nid asc). */
  def sparseCosineTopK(docs: DataFrame, id: String, text: String, k: Int,
                       maxDf: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dec6(c: Column): Column =
      (floor(c * 1e6 + 0.5) / 1e6).cast("decimal(38,6)")
    val base = docs.filter(col(text).isNotNull)
    val tf = base
      .select(col(id).as("__doc"),
        explode(TextStats.tokens(lower(col(text)))).as("tok"))
      .groupBy("__doc", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val n = base.agg(count(lit(1)).as("__n"))
    val w = tf.join(dfreq, Seq("tok")).crossJoin(broadcast(n))
      .select(col("__doc"), col("tok"),
        ((col("tf") * col("__n")).cast("double") / col("df")).as("w"))
    val norms = w.groupBy("__doc")
      .agg(sqrt(sum(dec6(col("w") * col("w"))).cast("double")).as("norm"))
    val pairs = w.select(col("__doc").as("id_a"), col("tok"),
        col("w").as("wa"))
      .join(w.select(col("__doc").as("id_b"), col("tok"),
        col("w").as("wb")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(dec6(col("wa") * col("wb"))).cast("double").as("dot"))
    val mirrored = pairs.unionByName(pairs.select(
      col("id_b").as("id_a"), col("id_a").as("id_b"), col("dot")))
    val scored = mirrored
      .join(norms.select(col("__doc").as("id_a"), col("norm").as("__na")),
        Seq("id_a"))
      .join(norms.select(col("__doc").as("id_b"), col("norm").as("__nb")),
        Seq("id_b"))
      .withColumn("cos", round6(col("dot") / (col("__na") * col("__nb"))))
    val rw = Window.partitionBy("id_a").orderBy(desc("cos"), asc("id_b"))
    scored.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a").as(id), col("id_b").as("nid"),
        col("cos"), col("rank"))
  }
}
