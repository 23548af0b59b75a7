package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale posture: every variant is join/groupBy-shaped (shuffle on a
  * derived, well-distributed key), never all-pairs. The exact all-pairs
  * verifier is only applied to LSH candidate pairs, whose count is bounded
  * by bucket collisions, not n².
  *
  * REQUIRES [[graft.ext.GraftExtensions]] on the session
  * (`spark.sql.extensions=graft.ext.GraftExtensions`; GraftSession sets
  * it): the hot paths resolve the registered codegen kernels (shingles_k,
  * minhash32, simhash64, jaccard, rolling_fingerprint). The `*Hof`
  * variants are plain `functions._` compositions usable on any session.
  */
object Dedup {

  /** Exact dedup by a key expression (e.g. raw text or
    * [[TextStats.fingerprint]]): one row per group, keeping the smallest id;
    * `dup_count` reports group size. Map-side partial agg, single shuffle. */
  def exact(df: DataFrame, key: Column, id: String): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Token k-shingles of the document, distinct — single-pass codegen'd
    * kernel (graft.parse.ShinglesExpr), property-tested identical to
    * [[shinglesHof]]. */
  def shingles(text: Column, k: Int): Column =
    call_function("shingles_k", lower(text), lit(k))

  /** The pure-`functions._` composition of [[shingles]] — the independent
    * reference the kernel is property-tested against. */
  def shinglesHof(text: Column, k: Int): Column = {
    val toks = TextStats.tokens(lower(text))
    val n = size(toks)
    array_distinct(
      when(n >= k,
        transform(sequence(lit(0), n - k),
          i => array_join(slice(toks, i + 1, lit(k)), " ")))
        .otherwise(array(array_join(toks, " "))))
  }

  /** MinHash signature: for each of `numHashes` permutations
    * `h_i(x) = (a_i * x + b_i) mod p`, the min over the shingle set's base
    * Murmur3 hashes — computed by the single-pass codegen'd kernel
    * graft.parse.MinhashExpr (property-tested identical to
    * [[minhashSignatureHof]], which needed numHashes interpreted lambda
    * passes per row). Deterministic under the fixed seed. */
  def minhashSignature(shingleArr: Column, numHashes: Int, seed: Long = 42L,
                       hashMode: String = "murmur3"): Column =
    call_function("minhash32", shingleArr, lit(numHashes), lit(seed),
      lit(hashMode))

  /** The pure-`functions._` composition of [[minhashSignature]] — kept as
    * the independent reference the kernel is property-tested against. */
  def minhashSignatureHof(shingleArr: Column, numHashes: Int, seed: Long = 42L): Column = {
    val p = 2147483647L // 2^31 - 1, Mersenne prime
    val rnd = new scala.util.Random(seed)
    val params = Seq.fill(numHashes)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong ->
      rnd.nextInt(Int.MaxValue).toLong)
    // base hash materialized ONCE per shingle, then each permutation maps
    // over the precomputed longs
    val baseHashes = transform(shingleArr, s => hash(s).cast("long"))
    val sigs = params.map { case (a, b) =>
      array_min(transform(baseHashes, h => pmod(h * a + b, lit(p))))
    }
    array(sigs: _*)
  }

  /** MinHash-LSH near-dup candidate pairs over `df(id, text)`:
    * signature -> `bands` bands of `rowsPerBand` -> band-hash bucket join ->
    * exact Jaccard verification >= `threshold`.
    *
    * The band bucket join is an equi-join on (band_idx, band_hash) — fully
    * shuffle-parallel; no n² stage. Returns (id_a, id_b, jaccard) with
    * id_a < id_b.
    */
  def minhashLsh(df: DataFrame, id: String, text: String,
                 shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                 threshold: Double = 0.6,
                 hashMode: String = "murmur3"): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSig = df.select(
      col(id).as("doc"),
      shingles(col(text), shingleK).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes, 42L, hashMode))
      .cache() // reused: banded (exploded) + 2 shingle re-attach joins
    // Band join carries only (band, bandkey, id) — the shingle arrays are
    // re-attached to the (much smaller) candidate-pair set afterwards, so
    // the wide arrays never ride the band shuffle. The band key is the raw
    // rowsPerBand-long signature slice (8·rowsPerBand bytes), not a hash of
    // it: still narrow, and candidacy is then EXACTLY "some band agrees" —
    // no engine-specific band-hash in the semantics, so an external oracle
    // can recompute the same candidate set.
    val banded = withSig.select(
      col("doc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
        .as(Seq("band", "bandkey")))
    val a = banded.select(col("band"), col("bandkey"), col("doc").as("id_a"))
    val b = banded.select(col("band"), col("bandkey"), col("doc").as("id_b"))
    val cands = a.join(b, Seq("band", "bandkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val sh = withSig.select(col("doc"), col("sh"))
    cands
      .join(sh.select(col("doc").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays — native
    * codegen'd kernel (graft.parse.JaccardExpr): one hash-set pass instead
    * of the interpreted array_intersect + sizes composition. */
  def jaccard(a: Column, b: Column): Column = call_function("jaccard", a, b)

  /** Exact all-pairs n-gram Jaccard near-dup over a (small or pre-filtered)
    * document set — the oracle-checkable ground truth the LSH variant
    * approximates. Broadcast the right side when it fits. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        shingleK: Int, threshold: Double): DataFrame = {
    val s = df.select(col(id).as("doc"), shingles(col(text), shingleK).as("sh"))
    val a = s.select(col("doc").as("id_a"), col("sh").as("sh_a"))
    val b = s.select(col("doc").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      // classic length prefilter: J = inter/union <= min(|a|,|b|)/max(|a|,|b|),
      // so pairs failing min >= t*max can never reach the threshold — skips
      // the set intersection entirely for most of the cross product. The
      // 1e-9 slack keeps it lossless under float rounding: 0.8*5 is
      // 4.0000000000000002 in doubles, which would wrongly drop an exact
      // J=0.8 pair of sizes (4,5). Borderline admits are re-verified by the
      // exact jaccard filter below.
      .filter(least(size(col("sh_a")), size(col("sh_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))) - lit(1e-9))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT Jaccard near-dup pairs WITHOUT an all-pairs stage: prefix
    * filtering (Bayardo/Ma/Srikant "Scaling Up All Pairs Similarity
    * Search" WWW'07; Chaudhuri/Ganti/Kaushik SSJoin ICDE'06). Returns the
    * SAME pair set as [[ngramJaccardPairs]] — not an approximation — but
    * generates candidates through an inverted index instead of a crossJoin.
    *
    * Principle: order every shingle set by a global total order; if
    * J(a,b) >= t then |a∩b| >= ceil(t·max(|a|,|b|)) =: α, and the smallest
    * common shingle must sit within the first |x| − α + 1 positions of each
    * ordered set (its position is bounded by the >= α−1 larger common
    * shingles behind it). So an equi-join on PREFIX shingles alone yields a
    * guaranteed superset of qualifying pairs; exact Jaccard then verifies.
    *
    * The global order is rarest-first (ascending corpus document frequency,
    * ties by value): prefixes then hold the rarest shingles, so inverted-
    * index buckets stay small — work is Σ bucket² over rare shingles, not
    * n². One df agg + one window rank + one equi-join; every shuffle keys
    * on well-distributed values. The α used is ceil(t·|x|) − 1, one looser
    * than the tight bound, as a float guard: ceil(0.8·5) evaluates to 5 in
    * doubles (0.8·5 = 4.0000000000000002), which would over-shorten the
    * prefix and silently drop an exact-boundary pair. One extra prefix
    * token per doc buys guaranteed losslessness.
    *
    * [[ngramJaccardPairs]] stays as the independent all-pairs ground truth
    * this is asserted equal to (DedupSpec), fixture-scale only. */
  def prefixJaccardPairs(df: DataFrame, id: String, text: String,
                         shingleK: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = df.select(col(id).as("doc"), shingles(col(text), shingleK).as("sh"))
      .withColumn("n", size(col("sh")))
      .cache() // reused: inverted index build + 2 pair re-attach joins
    val ex = s.select(col("doc"), col("n"), explode(col("sh")).as("tok"))
    val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfreq, Seq("tok"))
      .withColumn("r", row_number().over(
        Window.partitionBy("doc").orderBy(asc("df"), asc("tok"))))
    // prefix length |x| − α + 1 with α = ceil(t·|x|) − 1 (float guard above)
    val prefix = ranked
      .filter(col("r") <= col("n") - ceil(lit(threshold) * col("n")) + 2)
      .select(col("tok"), col("doc"), col("n"))
    val a = prefix.select(col("tok"), col("doc").as("id_a"), col("n").as("n_a"))
    val b = prefix.select(col("tok"), col("doc").as("id_b"), col("n").as("n_b"))
    val cands = a.join(b, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      // same lossless length filter (with float slack) as ngramJaccardPairs
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val sh = s.select(col("doc"), col("sh"))
    cands
      .join(sh.select(col("doc").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Size-gated EXACT Jaccard pair generation: the all-pairs plan below
    * `allPairsMax` docs, the prefix-filtered inverted-index plan above it.
    * Both return the identical pair set (DedupSpec asserts it), so the
    * gate is purely a physical-plan choice — the same call Spark's own
    * join planning makes between broadcast-NLJ and shuffle join. Rationale
    * (measured, SCALING.md): the prefix plan's ~8-stage critical path is
    * pure fixed latency at fixture scale (~4–6 s regardless of rows, and
    * the longest sequential stage chain in the suite, so it amplifies any
    * per-stage slowdown — GC pressure, co-located load — multiplicatively,
    * the round-4 in-suite bench pathology), while the crossJoin is O(n²)
    * work that is faster below ~10⁴ docs and impossible above ~10⁶. The
    * gating count is a single-column scan — negligible next to either
    * join at any scale.
    *
    * `allPairsMax` < 0 (the default) reads the gate from conf
    * `spark.graft.dedup.allPairsMax` (default 10000) — an ops knob, and
    * how the load-sensitivity experiment in SCALING.md forces each path
    * from the unmodified bench binary.
    *
    * The gating count is one extra action over `df`'s lineage. On a cached
    * or cheap input that is negligible next to either join; when `df` is
    * the uncached tail of an expensive pipeline, pass `docCount` (from an
    * `Observation` on an upstream action, or any a-priori bound — the gate
    * only needs which side of the cap the corpus falls on, so any
    * same-side estimate is as good as the exact count) and no extra pass
    * happens at all. */
  def jaccardPairsAuto(df: DataFrame, id: String, text: String,
                       shingleK: Int, threshold: Double,
                       allPairsMax: Long = -1, docCount: Long = -1): DataFrame = {
    val cap = if (allPairsMax >= 0) allPairsMax
      else {
        val raw = df.sparkSession.conf
          .get("spark.graft.dedup.allPairsMax", "10000")
        try raw.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"spark.graft.dedup.allPairsMax must be a long, got '$raw'")
        }
      }
    val n = if (docCount >= 0) docCount else df.select(id).count()
    if (n <= cap)
      ngramJaccardPairs(df, id, text, shingleK, threshold)
    else
      prefixJaccardPairs(df, id, text, shingleK, threshold)
  }

  /** Collapse near-dup PAIRS into groups: connected components by
    * iterative min-label propagation WITH POINTER DOUBLING. Each round
    * every node takes the min label among itself and its neighbors, then
    * jumps to its label's label (path halving). Plain propagation needs
    * O(diameter) rounds — fine for shallow dedup clusters, quadratic pain
    * on adversarial chains; the doubling step compresses label chains
    * geometrically, so convergence is O(log diameter) (same bound as the
    * large-star/small-star MapReduce formulation). Data stays distributed;
    * the driver only checks the convergence counter.
    *
    * Returns (node, label) where label = min doc id of the component.
    *
    * SIZE-GATED like [[jaccardPairsAuto]]: below
    * `spark.graft.cc.localMax` pairs (default 100 000, ~1.6 MB of longs —
    * broadcast-scale; 0 disables) the solve is a driver union-find over
    * the collected edge list, replacing 2·O(log d) shuffle jobs (each a
    * full stage barrier) with microseconds. Deduplicated near-dup pair
    * sets are routinely tiny relative to the corpus, so this is the
    * common case at ANY corpus size. The decision probe IS the fetch —
    * `limit(localMax+1).collect()`. Cost honesty: CollectLimit stops
    * CONSUMING early, but every shuffle map stage upstream of `pairs`
    * still executes in full before the first row is available; what the
    * probe saves is the reduce-side work past the cap, and when the run
    * falls through to the distributed path the DAGScheduler reuses those
    * completed map stages rather than recomputing them. A pipeline that
    * already knows its pair count (an `Observation` on an upstream
    * action, or any same-side-of-the-cap estimate) should pass
    * `pairCountHint` >= 0: a hint above the cap skips the probe entirely
    * and goes straight to the distributed solve. Long-keyed pairs only;
    * other key types always distribute.
    *
    * NULL ids: a pair with a NULL endpoint carries no linkage and is
    * dropped up front — BOTH paths see the same null-free edge list
    * (spec-asserted; previously the union-find path read NULLs as node 0
    * while the distributed path's joins dropped them).
    * Both paths return identical results (spec-asserted). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 30,
                          pairCountHint: Long = -1): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter, pairCountHint)._1

  /** Duplicate-cluster representative selection — the PRODUCTION keep
    * rule: given near-dup pairs and a per-doc score, collapse each
    * connected component to its best-scoring member (score desc, id asc
    * on ties — exact copies tie on score and fall back to the stable id
    * order), instead of the arbitrary min-id [[exact]] keeps. Docs in no
    * pair form singleton groups and keep themselves.
    *
    * Returns one row per input doc: (id, group_id, keep_id) with
    * group_id = the component's min label (singletons: the doc itself).
    * Filter `id === keep_id` downstream for the deduped corpus; the full
    * mapping is returned so provenance ("which doc replaced mine")
    * survives.
    *
    * Scale: components come from the O(log d) pointer-doubling path
    * ([[connectedComponents]]); the winner pick is one ranking window
    * PER COMPONENT — components are clique-sized, not corpus-sized, so
    * the window never serializes the corpus. */
  def keepBest(docs: DataFrame, id: String, score: String,
               pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = connectedComponents(pairs, aCol, bCol)
      .select(col("node").as("__n"), col("label").as("__lbl"))
    val w = Window.partitionBy("group_id").orderBy(desc(score), asc(id))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs.select(col(id), col(score))
      .join(cc, col(id) === col("__n"), "left")
      .withColumn("group_id", coalesce(col("__lbl"), col(id)))
      .withColumn("keep_id", first(col(id)).over(w))
      .select(col(id), col("group_id"), col("keep_id"))
  }

  /** Driver union-find for the below-gate path: root of every set is its
    * minimum id by construction (union attaches the larger root beneath
    * the smaller), so find(node) IS the component's min label — the same
    * contract the distributed propagation converges to. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              edges: Array[(Long, Long)]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = parent.getOrDefault(x, x)
      if (r == x) { parent.put(x, x); x }
      else {
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    val rows = parent.keySet().asScala.toSeq.sorted
      .map(n => org.apache.spark.sql.Row(n, find(n)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** [[connectedComponents]] plus the number of propagation rounds it ran
    * (0 = the union-find path; each distributed round materializes inside
    * the call via localCheckpoint, so the count is final at return). The
    * weak-scaling harness records it as the O(log diameter) evidence
    * (SCALING.md `cc` row, which forces the distributed path): rounds
    * must stay ~flat as the corpus grows, only per-round cost may scale. */
  def connectedComponentsWithRounds(pairs: DataFrame, aCol: String,
                                    bCol: String, maxIter: Int = 30,
                                    pairCountHint: Long = -1): (DataFrame, Int) = {
    val sess = pairs.sparkSession
    val localMax = {
      val raw = sess.conf.get("spark.graft.cc.localMax", "100000")
      try raw.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"spark.graft.cc.localMax must be a long, got '$raw'")
      }
    }
    // shared null semantics for BOTH paths: a NULL endpoint links nothing
    val clean = pairs.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    import org.apache.spark.sql.types.LongType
    val longKeyed = pairs.schema(aCol).dataType == LongType &&
      pairs.schema(bCol).dataType == LongType
    if (localMax > 0 && longKeyed) {
      val cap = math.min(localMax, Int.MaxValue - 2L).toInt
      if (pairCountHint < 0 || pairCountHint <= cap) {
        // probe-is-the-fetch; a hint above the cap skips this entirely
        val fetched = clean.select(col(aCol), col(bCol)).limit(cap + 1)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        if (fetched.length <= cap)
          return (localComponents(sess, fetched), 0)
      }
    }
    val edges = clean.select(col(aCol).as("src"), col(bCol).as("dst"))
    val sym = edges.union(
      edges.select(col("dst").as("src"), col("src").as("dst"))).cache()
    // localCheckpoint each round: iterative self-joins otherwise nest every
    // previous round into the logical plan (exponential re-planning, then
    // OOM). On a cluster with an unreliable-executor concern use
    // sparkContext.setCheckpointDir + .checkpoint() instead.
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      // `old` rides along so convergence is observable inside the round's
      // own materializing action — no separate probe pass over the labels
      val prop = labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
      // pointer doubling: label <- label(label). Labels only ever
      // decrease, so the jump is monotone and safe; it is what turns an
      // O(diameter) walk into O(log diameter) rounds. Round 0 is skipped
      // (labels are still identity there, the jump is a no-op).
      val doubled =
        if (i == 0) prop
        else {
          val l2 = prop.select(col("node").as("pnode"), col("label").as("plabel"))
          prop.join(l2, prop("label") === l2("pnode"), "left")
            .select(col("node"), col("old"),
              least(col("label"), coalesce(col("plabel"), col("label")))
                .as("label"))
        }
      // `old` rides THROUGH the checkpoint, so the convergence probe is a
      // narrow filter+isEmpty over already-materialized local blocks —
      // checked every round for ~free (the previous probe re-joined next
      // against labels, a full extra shuffle job every other round, and
      // detected convergence a round late). An Observation on the
      // checkpoint itself would be cheaper still, but localCheckpoint
      // rebuilds the Dataset around the raw RDD, where CollectMetrics
      // never fires — measured returning 0 and truncating the loop.
      // The driver sees only the flag; labels stay distributed.
      val next = doubled.localCheckpoint()
      converged = next.filter(col("label") < col("old")).isEmpty
      labels = next.select("node", "label")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(s"CC did not converge in $maxIter rounds")
    (labels, i)
  }

  /** Benchmark decontamination: documents sharing >= `minShared` distinct
    * token k-grams with a benchmark/eval document — the n-gram-overlap
    * contamination rule LLM training pipelines run before training so
    * eval data does not leak into the corpus (GPT-3 appendix C shape:
    * flag any training doc overlapping an eval doc on long n-grams).
    * Returns (doc, bench_doc, shared).
    *
    * Scale posture: inverted-index equi-join on the shingle VALUE — the
    * corpus explodes to (doc, shingle) rows, the benchmark side likewise,
    * candidates meet only inside equal-shingle buckets (Σ bucket² work,
    * the rollingDedupPairs shape), never a corpus × benchmark all-pairs
    * stage. The benchmark side is typically tiny but nothing here
    * requires it to be.
    *
    * `maxShingleDocFreq` drops shingles appearing in more than that many
    * CORPUS documents before the join (boilerplate k-grams carry no
    * contamination signal and their buckets go quadratic — the same
    * stop-fingerprint discipline as rollingDedupPairs); capped runs are a
    * candidate filter, and `shared` then under-counts boilerplate-heavy
    * overlaps. Short documents (< k tokens) fall back to a whole-doc
    * shingle (the [[shingles]] kernel contract), so two short docs only
    * ever match on exact text equality. */
  def contaminationPairs(docs: DataFrame, docId: String, docText: String,
                         bench: DataFrame, benchId: String, benchText: String,
                         shingleK: Int, minShared: Int,
                         maxShingleDocFreq: Option[Long] = None): DataFrame = {
    val d = docs.select(col(docId).as("doc"),
      explode(shingles(col(docText), shingleK)).as("sh"))
    val corpus = maxShingleDocFreq match {
      case Some(cap) =>
        val hot = d.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("sh")
        d.join(hot, Seq("sh"), "left_anti")
      case None => d
    }
    val b = bench.select(col(benchId).as("bench_doc"),
      explode(shingles(col(benchText), shingleK)).as("sh"))
    corpus.join(b, Seq("sh"))
      .groupBy("doc", "bench_doc").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Contamination span REMOVAL — the surgery after [[contaminationPairs]]
    * detection (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": cut the overlapping span, keep the document): every
    * doc position whose token k-gram also occurs in the benchmark set has
    * its k covered token positions excised, and the survivors are
    * re-joined in order. Strict positional k-grams on BOTH sides (a doc
    * shorter than k has no full k-gram to leak and passes untouched —
    * unlike the detector's whole-doc fallback, removal must never erase
    * a doc over a sub-k phrase). Scale shape — the corpus is tokenized
    * ONCE and nothing token-level ever rides a shuffle: the tokenized
    * rows are repartitioned by doc (one exchange both consumers reuse —
    * the q97 lesson: at 100 TB the tokenize is the dominant cost, so a
    * second scan branch would double it), the positional-shingle branch
    * equi-joins the benchmark shingle set (work ~ Σ bucket² over shared
    * shingles, never corpus × benchmark; the set is eval-sized and AQE
    * broadcasts it) and collapses to ONE hit-position array per flagged
    * doc (bounded by doc length), and that hit-doc-sized table joins
    * back on the already-doc-partitioned rows. The excision itself is a
    * per-row index-aware filter (token i survives unless some hit start
    * h covers it) — no posexplode, no (doc, pos) shuffle, no
    * collect_list rebuild. Output: (docId, n_tokens, n_removed,
    * clean_text); a fully contaminated doc survives as an empty
    * clean_text row — the caller decides whether to drop it.
    *
    * Per-row excision cost is O(tokens × hits) with a short-circuiting
    * exists; hits per doc are bounded by the doc's shingle count, so a
    * ubiquitous boilerplate shingle (in the benchmark AND everywhere in
    * the corpus) is the one input that both densifies the join bucket
    * and inflates every doc's hit array. `maxShingleDocFreq` is the
    * [[contaminationPairs]] guard for exactly that: drop shingles whose
    * corpus document-frequency exceeds the cap before the join —
    * production runs k=13 plus a cap; a 13-gram frequent across the
    * whole corpus is boilerplate, not benchmark leakage. */
  def removeContaminatedSpans(docs: DataFrame, docId: String,
                              docText: String, bench: DataFrame,
                              benchText: String, k: Int,
                              maxShingleDocFreq: Option[Long] = None)
      : DataFrame = {
    def posShingles(tcol: Column): Column =
      when(size(tcol) >= k,
        transform(sequence(lit(0), size(tcol) - k),
          i => struct(i.cast("int").as("pos"),
            array_join(slice(tcol, i + 1, lit(k)), " ").as("sh"))))
        .otherwise(array().cast("array<struct<pos:int,sh:string>>"))
    val base = docs.select(col(docId).as("doc"),
      TextStats.tokens(lower(col(docText))).as("__t"))
      .repartition(col("doc"))
    val allSh = base.select(col("doc"), explode(posShingles(col("__t"))).as("g"))
      .select(col("doc"), col("g.pos").as("pos"), col("g.sh").as("sh"))
    val docSh = maxShingleDocFreq match {
      case Some(cap) =>
        val hot = allSh.groupBy("sh")
          .agg(count_distinct(col("doc")).as("df"))
          .filter(col("df") > cap).select("sh")
        allSh.join(hot, Seq("sh"), "left_anti")
      case None => allSh
    }
    val benchSh = bench
      .select(explode(posShingles(TextStats.tokens(lower(col(benchText))))).as("g"))
      .select(col("g.sh").as("sh")).distinct()
    val hitsPerDoc = docSh.join(benchSh, Seq("sh"))
      .groupBy("doc").agg(collect_set(col("pos")).as("__hits"))
    val hits = coalesce(col("__hits"), array().cast("array<int>"))
    val kept = filter(col("__t"),
      (_, i) => !exists(hits, h => i >= h && i <= h + lit(k - 1)))
    base.join(hitsPerDoc, Seq("doc"), "left")
      .select(col("doc").as(docId),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, " ").as("clean_text"))
  }

  /** Cross-corpus EXACT-SUBSTRING dedup — the ExactSubstr pass of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), re-expressed join-shaped instead of a monolithic suffix
    * array: any k-token window whose text occurs in MORE THAN ONE
    * distinct document is a duplicated span, and every occurrence is
    * scrubbed from every document EXCEPT the minimum-id holder of that
    * window ([[exactDupGroups]]'s keep rule at span granularity — one
    * canonical copy of repeated content survives, the rest of the corpus
    * loses it). Distinct from [[removeContaminatedSpans]] (corpus vs an
    * external benchmark) and [[rollingDedupPairs]] (winnowed
    * SAMPLED fingerprints -> candidate pairs): this is exhaustive at
    * window granularity and emits cleaned text, not pairs.
    *
    * Shape: ONE tokenize; positional windows explode; the window
    * histogram is a map-side-combined groupBy (distinct-doc count +
    * min-doc keeper per window text); hits join back window-keyed, so
    * work is Σ bucket² over duplicated windows, never doc-pairs². The
    * one web-scale hazard is the boilerplate window that appears in
    * half the corpus — `maxShingleDocFreq` drops windows above a
    * document-frequency cap before the join-back (the
    * [[removeContaminatedSpans]] guard; such windows are boilerplate for
    * a boilerplate FILTER to handle, not span dedup).
    *
    * Caching contract: the tokenized corpus is persisted
    * (MEMORY_AND_DISK) and stays persisted after the returned frame is
    * computed; this method never releases it. The caller releases it
    * (`spark.catalog.clearCache()`, as Bench, Verify and Scaling do
    * between queries) once it is done with the result, or every call
    * leaves one more cached relation in the session. */
  def selfSubstringScrub(docs: DataFrame, docId: String, docText: String,
                         k: Int, maxShingleDocFreq: Option[Long] = None)
      : DataFrame = {
    def posShingles(tcol: Column): Column =
      when(size(tcol) >= k,
        transform(sequence(lit(0), size(tcol) - k),
          i => struct(i.cast("int").as("pos"),
            array_join(slice(tcol, i + 1, lit(k)), " ").as("sh"))))
        .otherwise(array().cast("array<struct<pos:int,sh:string>>"))
    // base is consumed three ways (the window histogram, the join-back,
    // and the final cleaned-text join) and tokenize is the query's most
    // expensive per-row expression — uncached, the scan + tokenize
    // re-execute per branch (3 scans in the recorded q112 plan; the
    // q253 fingerprint-persist shape). Released by the caller (scaladoc).
    val base = docs.select(col(docId).as("doc"),
      TextStats.tokens(lower(col(docText))).as("__t"))
      .repartition(col("doc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allSh = base.select(col("doc"), explode(posShingles(col("__t"))).as("g"))
      .select(col("doc"), col("g.pos").as("pos"), col("g.sh").as("sh"))
    val dupAll = allSh.groupBy("sh")
      .agg(count_distinct(col("doc")).as("df"), min(col("doc")).as("keeper"))
      .filter(col("df") >= 2)
    val dup = maxShingleDocFreq
      .fold(dupAll)(cap => dupAll.filter(col("df") <= cap))
      .select("sh", "keeper")
    val hitsPerDoc = allSh.join(dup, Seq("sh"))
      .filter(col("doc") =!= col("keeper"))
      .groupBy("doc").agg(collect_set(col("pos")).as("__hits"))
    val hits = coalesce(col("__hits"), array().cast("array<int>"))
    val kept = filter(col("__t"),
      (_, i) => !exists(hits, h => i >= h && i <= h + lit(k - 1)))
    base.join(hitsPerDoc, Seq("doc"), "left")
      .select(col("doc").as(docId),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, " ").as("clean_text"))
  }

  /** 64-bit SimHash over per-token 64-bit hashes: sign-sum each bit
    * position. Near-dups have small Hamming distance. Native codegen'd
    * kernel (graft.parse.SimhashExpr) — the HOF formulation needed 64
    * interpreted `aggregate` folds per row. `hashMode` "xxh64" (production
    * default, = Spark's xxhash64 seed 42) or "md5" (DuckDB-recomputable;
    * see graft.parse.Md5Hash). */
  def simhash(text: Column, hashMode: String = "xxh64"): Column =
    call_function("simhash64", TextStats.tokens(lower(text)), lit(hashMode))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Substring-level near-dup pairs via an INVERTED INDEX over winnowed
    * rolling-hash fingerprints (TextStats.rollingFingerprint): explode each
    * doc's distinct fingerprint values, self-equi-join on the value, count
    * co-occurrences per pair. `shared` = |distinct fp(a) ∩ fp(b)| — the same
    * number the all-pairs `intersect_count` composition produced, with no n²
    * stage: work is proportional to Σ bucket² over fingerprint buckets, not
    * to doc-pairs.
    *
    * At web scale a ubiquitous boilerplate substring makes one fp bucket
    * quadratic — `maxFpDocFreq` drops fingerprints appearing in more than
    * that many docs (the standard "stop-fingerprint" cap; MOSS does the
    * same). Capped runs are a candidate filter, not an exact intersection
    * count. */
  def rollingDedupPairs(df: DataFrame, id: String, text: String,
                        minShared: Int,
                        maxFpDocFreq: Option[Long] = None): DataFrame = {
    val ex = df.select(col(id).as("doc"),
      explode(array_distinct(TextStats.rollingFingerprint(col(text)))).as("fp"))
    val index = maxFpDocFreq match {
      case Some(cap) =>
        // one extra agg over (fp) — tiny vs the pair join it prevents
        val hot = ex.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("fp")
        ex.join(hot, Seq("fp"), "left_anti")
      case None => ex
    }
    val a = index.select(col("fp"), col("doc").as("id_a"))
    val b = index.select(col("fp"), col("doc").as("id_b"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** SimHash near-dup pairs WITHOUT an all-pairs stage: split the 64-bit
    * fingerprint into `radius + 1` bit-bands; by pigeonhole, any pair with
    * hamming distance <= radius must agree exactly on at least one band, so
    * a per-band equi-join on (band, bits) generates every qualifying pair
    * (Manku et al., WWW'07 — the scheme Google used for web-crawl dedup).
    * Candidates are then verified with the exact Hamming distance.
    *
    * Recall is EXACT (guaranteed superset of candidates), not approximate:
    * the result equals the all-pairs crossJoin filtered to the same radius
    * (asserted in DedupSpec). The join carries only (band, bits, id, sh) —
    * 28 bytes/row — so the shuffle stays narrow at any corpus size.
    *
    * Scale note: band width is 64/(radius+1) bits; smaller radii give wider
    * bands and exponentially fewer bucket collisions (radius 3 -> 16-bit
    * bands, the classic production setting). Radius 8 -> 7-bit bands is
    * fine into the tens of millions of docs; beyond that, tighten the
    * radius or add Manku's permuted-table refinement. */
  def simhashBandedPairs(df: DataFrame, id: String, text: String,
                         radius: Int = 8,
                         hashMode: String = "xxh64"): DataFrame = {
    require(radius >= 0 && radius < 64, s"radius $radius out of [0, 64)")
    val bands = radius + 1
    val base = 64 / bands
    val rem = 64 % bands
    // first `rem` bands are one bit wider; offsets partition all 64 bits
    val widths = Seq.tabulate(bands)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val hashed = df.select(col(id).as("doc"),
      simhash(col(text), hashMode).as("sh"))
    val bandBits = widths.zip(offsets).map { case (w, off) =>
      // JVM shifts are mod 64: (1L << 64) - 1 would be 0, collapsing the
      // radius-0 single 64-bit band into one global bucket (an O(n²)
      // self-join) — the full-width band needs the explicit all-ones mask
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("sh"), off).bitwiseAND(lit(mask))
    }
    val banded = hashed.select(col("doc"), col("sh"),
      posexplode(array(bandBits: _*)).as(Seq("band", "bits")))
    val a = banded.select(col("band"), col("bits"),
      col("doc").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bits"),
      col("doc").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")).cast("long"))
      .filter(col("hamming") <= radius)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  /** Corpus snapshot diff — the CDC-style audit between two versions of
    * an evolving corpus (nightly crawl vs yesterday's, a re-ingest vs
    * the published set): every doc id classified `added` / `removed` /
    * `changed` / `unchanged` by a full outer join on the id plus a
    * null-safe content-hash compare. This is what decides how much of
    * an incremental pipeline ([[graft.llm.DedupIndex]], the stream
    * ingest spine) actually needs to re-run.
    *
    * One id-keyed shuffle join; the content compare is a per-row md5 —
    * no text ever rides the shuffle beyond its 32-hex digest. NULL text
    * hashes to a reserved sentinel digest so (null, null) compares
    * unchanged and (null, "x") compares changed in every engine. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: String,
                   text: String): DataFrame = {
    def fp(c: Column): Column = coalesce(md5(c.cast("binary")), lit("<null>"))
    val o = oldDf.select(col(id).as("__id"), fp(col(text)).as("__fp_old"))
    val n = newDf.select(col(id).as("__id"), fp(col(text)).as("__fp_new"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(id),
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") === col("__fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Pairwise cross-GROUP n-gram overlap — the corpus diversity audit a
    * mixture designer reads before setting source weights (and the
    * source-level analogue of [[decontaminate]]'s doc-level question):
    * for every pair of groups (sources, snapshots, languages), the
    * Jaccard overlap of their distinct token k-shingle SETS. High
    * overlap between two sources means double-weighting near-identical
    * content; near-zero overlap against the rest flags an outlier
    * source worth inspecting.
    *
    * Shape: distinct (group, shingle) — one shuffle — then a shingle-
    * keyed self-join. After the distinct, a shingle appears in at most
    * G rows (G = #groups), so the join fans out to at most C(G,2) pairs
    * per shingle VALUE — the all-pairs blowup is structurally capped by
    * the group count, no df cap needed (contrast [[contaminationPairs]],
    * where one side is per-document). The G-row size table broadcast-
    * crosses with itself to keep zero-intersection pairs in the output
    * (documented broadcast NLJ — G² rows, PlanAuditSpec allowlist). */
  def crossGroupOverlap(docs: DataFrame, groupCol: String, text: String,
                        k: Int): DataFrame = {
    // NOT persisted (measured, round 18): sh has four references and the
    // pre-AQE plan re-derives shingles+distinct per branch, but runtime
    // exchange reuse collapses the identical distinct subtrees and the
    // InMemoryRelation write costs more than what it saves — isolated
    // min-of-2 A/B at sf0.1: persisted {2.93, 3.80} vs uncached
    // {1.94, 2.01} s. The q112 persist wins because its three consumers
    // diverge BEFORE any shared exchange; here they diverge after.
    val sh = docs
      .select(col(groupCol).as("g"), explode(shingles(col(text), k)).as("sh"))
      .distinct()
    val sizes = sh.groupBy("g").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("g_a"), col("b.g").as("g_b"))
      .agg(count(lit(1)).as("inter"))
    val grid = sizes.select(col("g").as("g_a"), col("n").as("n_a"))
      .crossJoin(broadcast(sizes.select(col("g").as("g_b"), col("n").as("n_b"))))
      .filter(col("g_a") < col("g_b"))
    grid.join(inter, Seq("g_a", "g_b"), "left")
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        coalesce(col("inter"), lit(0L)).as("inter"))
      .withColumn("jaccard",
        floor(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")) * 1e6 + 0.5) / 1e6)
  }
}
