package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.parse.AliccpCodec
import graft.ops.{BronzeSilver, Categorify, Checks, Eval, ItemCf, Layout, PointInTime, RangeJoin, Scaler, Scd, Skew, Spatial}
import graft.llm.{Bpe, Dedup, IvfIndex, LinkGraph, Pack, Pq, Privacy, Rank, Similarity, Sketches, TextStats, Urls}
import graft.multimodal.{Avi, Binary, Bmp, Flac, Gif, Gzip, Jpeg, Mp3, Mp4, Ogg, Pdf, Png, Tar, Tiff, Warc, Wav, Webp, Zip}
import graft.sources.{Sources, Tables}
import graft.store.FeatureStore
import graft.streaming.Streams

/** Driver contract — one named query per implemented operator
  * (SURVEY.md §2 inventory + LLM-pipeline north-star ops), each with a
  * DuckDB-oracle SQL twin in [[oracleSql]].
  *
  * Conventions for exact cross-engine hash parity:
  *  - every aggregate/computed column is aliased identically in both sides;
  *  - floating aggregates are ROUNDed in both sides (FP sums associate
  *    differently across engines);
  *  - all event-time logic is integer epoch-micros (`events.ts` is
  *    normalized by Tables.tsUsOf whatever the parquet precision; DuckDB
  *    mirrors with epoch_us);
  *  - every result has a deterministic total ORDER BY.
  */
object SparkEntry {

  /** Harness determinism: total output order WITHOUT `orderBy`'s range
    * exchange, whose RangePartitioner sampling pass re-executes the entire
    * upstream pipeline (a measured ~2x on parse/join-heavy queries). Every
    * query's result here is harness-sized (<= ~150k narrow rows), so one
    * post-shuffle task sorts it in milliseconds while the pipeline runs
    * once, fully parallel. This is presentation-tail engineering for the
    * oracle contract — a production query would not globally sort a large
    * result at all (and `orderBy` + `limit` compiles to TakeOrderedAndProject,
    * which has no sampling pass and stays as-is, see q44). */
  private implicit class OrderedResult(df: DataFrame) {
    def ordered(cols: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }

  /** q245's phrase workload — shared by the query and its generated
    * oracle SQL so the two can never drift. Mix of hot 2-grams, selective
    * 3-grams, and a deliberate zero-hit phrase (the empty-result row is
    * part of the contract). */
  private val q245Phrases = Seq(
    "big data", "the window", "table key filter", "row value spark",
    "data lake house")

  /** q247's bootstrap constants, shared by the query and its generated
    * oracle. Thresholds are the Poisson(1) CDF at k = 0..7 (weights cap
    * at 8; P(X>8|λ=1) ≈ 1e-6), kept as STRINGS so the exact same literal
    * text reaches both engines — shortest-repr doubles round-trip
    * bit-identically through both parsers. */
  private val q247Replicates = 100
  private val q247PoissonCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253")

  /** q263's DCG rank discounts: w(r) = round(1e6/log2(r+1)) for
    * r = 1..10, plus their prefix sums (the ideal DCG of m <= 10
    * relevant items). log2 is engine-hostile in query bodies (q212
    * float policy) but rank is bounded by k, so the discount curve
    * lives HERE as integers — both engines consume identical literals
    * and every DCG stays an exact integer sum until one division. */
  private val ndcgW: Seq[Long] = (1 to 10).map(r =>
    math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)
  private val ndcgWCum: Seq[Long] = ndcgW.scanLeft(0L)(_ + _).tail

  /** Per-process scratch path under java.io.tmpdir for query bodies that
    * must materialize on-disk state (online store, dedup index,
    * partitioned sink). The path is keyed by (purpose, data-dir hash,
    * JVM pid): within one JVM repeated invocations reuse and clear ONE
    * directory per purpose×dir (no accumulating temp litter — each
    * run's tree replaces the last), while concurrent JVMs running the
    * same query against the same data dir get DISJOINT trees — a
    * same-path peer could otherwise delete files mid-read of the other
    * (a spurious, if loud, bench/verify failure). Siblings left by dead
    * processes (same purpose×dir prefix, different pid) are swept here
    * by age: untouched for [[ScratchStaleMs]] means the owning run is
    * long gone — the age guard keeps a live concurrent run's tree safe. */
  private val ScratchStaleMs = 6L * 3600 * 1000
  private def scratchDir(purpose: String, dir: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import IvfIndex.rmTree
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val prefix = s"graft_scratch_${purpose}_$tag"
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    val now = System.currentTimeMillis()
    val st = Files.list(tmp)
    try st.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"${prefix}_"))
      .filter(p => !p.getFileName.toString.endsWith(s"_$pid"))
      .filter(p => now - Files.getLastModifiedTime(p).toMillis > ScratchStaleMs)
      .foreach(rmTree)
    finally st.close()
    val p = tmp.resolve(s"${prefix}_$pid")
    rmTree(p)
    p.toString
  }

  /** q39's IVF settings, chosen from the measured recall-vs-cost curve
    * (SCALING.md "ANN recall"): on the near-random fixture embeddings
    * recall tracks scanned fraction ~linearly whatever the knobs, and
    * nlist=64/nprobe=16 (recall@5 0.764 at 0.467 of the corpus scored)
    * strictly dominates the old nlist=16/nprobe=4 (0.70 at 0.447) on both
    * axes — finer cells are uniformly better. nlist follows the √n
    * discipline (√50k ≈ 224 capped for fixture cell population; at corpus
    * scale nlist grows with √n, not this constant). Shared by the query
    * and its oracle twin so the two can never diverge. */
  private val Q39Nlist = 64
  private val Q39Nprobe = 16

  /** q89's per-cluster sample budget: hot cells are thinned to ~this
    * many docs (rate = min(1, T/|cell|)), cold cells keep everything —
    * the cluster-balancing shape. A constant, not a per-SF knob: the
    * semantics ("cap every cluster's contribution") are scale-free. */
  private val Q89Target = 40L

  /** q297's per-query candidate budget: deliberately BELOW the fixture
    * probe's typical candidate mass at sf0.01/sf0.1 (nprobe/nlist ×
    * corpus ≈ 500–1250 rows) so the truncation ledger is non-trivially
    * oracle-verified — at production settings the budget would be
    * nprobe × hotFactor × cellTarget (the contract SCALING.md's
    * round-17 section measures), which balanced cells never hit. Shared
    * with the oracle so the two can never diverge. */
  private val Q297Budget = 256

  // ---- Run state: what each run-state query fitted or computed in this
  // JVM, inlined by its oracle twin (Verify dumps oracle SQL after the
  // queries ran). Every oracle follows RunState's sole-dir rule.

  /** The persisted IVF index each of q39/q89/q240/q273/q294/q297/q298
    * probed, with its cells path: acquired once per JVM per content key
    * ([[ivfAcquire]]). Keyed by that key (dir, embeddings files, nlist),
    * so a dataset regenerated in place, or a second nlist, counts as a
    * second dir and the oracles omit rather than guess which index ran. */
  private[graft] val ivfState = new RunState[(IvfIndex.Model, String)]

  /** q76's learned BPE merge tables, fit once per dir. */
  private val bpeState = new RunState[Bpe.Merges]
  private val Q76Merges = 64

  /** q142's heavy-hitters record: the top-K (token, lower-bound count)
    * entries and the decrement offset (all integers — no float-literal
    * round-trip concerns); DuckDB recomputes the exact counts those
    * bounds must bracket. */
  private val hhState =
    new RunState[(Seq[graft.llm.Sketches.HeavyHitter], Long)]
  private val Q142K = 64
  private val Q142Top = 20

  /** q239/q240's fitted PQ codebooks, fit once per dir: the oracles inline
    * the float-rounded centroids (shortest-repr double literals
    * round-trip DuckDB's parser bit-identically — the q39 technique). */
  private val pqState = new RunState[Pq.Model]
  private val PqM = 8
  private val PqKsub = 16

  /** q80's waterfilled mix rates (shortest-repr double literals). */
  private val mixRatesState = new RunState[Map[Option[String], Double]]

  /** Flagship query on sf0.001: the reference's full Bronze->Silver spine —
    * KV parse -> broadcast join -> invalid-sample filter -> typed wide
    * projection. */
  def entry(spark: SparkSession): DataFrame =
    queries("q14_bronze_silver")(spark, "/root/testdata/sf0.001")

  /** The per-(dir, dataset-content) persisted IVF index — built and
    * published on first use in any JVM ([[IvfIndex.acquire]]), held in
    * [[ivfState]] thereafter. Returns the model and the cells path.
    * Shared by q39 and every query that must see the IDENTICAL index;
    * `corpus` must be (nid, nvec)-shaped. */
  private def ivfAcquire(s: SparkSession, dir: String,
                         corpus: DataFrame,
                         nlist: Int = Q39Nlist): (IvfIndex.Model, String) = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // The content key folds in the embeddings files' (name, size, mtime)
    // alongside the full dir string: a path-only key would silently reuse
    // stale centroids after the dataset at that path is regenerated,
    // within this JVM or across JVMs. A handful of file stats — computed
    // per call, cheap next to any probe.
    val embPath = Paths.get(dir, "embeddings.parquet")
    val contentFp = if (Files.exists(embPath)) {
      val st = Files.walk(embPath)
      try st.iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq.map(_.toString).sorted
        .map(p => s"$p:${Files.size(Paths.get(p))}:" +
          Files.getLastModifiedTime(Paths.get(p)).toMillis)
        .mkString("|")
      finally st.close()
    } else ""
    val key = dir + "\u0000" + contentFp
    ivfState.getOrFit(s"$key\u0000$nlist")(
      IvfIndex.acquire(s, corpus, key, nlist))
  }

  /** One DuckDB list of `model`'s cell scores over the DOUBLE[] column
    * `ev`, in cell order: score_i(v) = v·c_i − ||c_i||²/2, identical to
    * Similarity.ivfCell's. Centroid floats widen to exact doubles, whose
    * shortest-repr text round-trips DuckDB's parser bit-identically (the
    * q24 technique); the ||c||²/2 terms are literals too, so the only
    * arithmetic both engines perform is the same left-to-right dot fold.
    * The argmax position minus one is the cell (first max wins = lowest
    * cell on ties, like Spark's `array_position`). */
  private def ivfScoresSql(m: IvfIndex.Model): String =
    m.centroids.sortBy(_._1).map { case (_, cv, n2) =>
      val dot = s"list_sum(list_apply(list_zip(ev, " +
        s"[${cv.map(_.toDouble).mkString(",")}]), x -> x[1] * x[2]))"
      s"($dot - ${n2 / 2})"
    }.mkString("[\n    ", ",\n    ", "]")

  /** `model`'s cell ids in [[ivfScoresSql]]'s order, as a DuckDB list. */
  private def ivfCellIdsSql(m: IvfIndex.Model): String =
    m.centroids.map(_._1).sorted.mkString("[", ",", "]")

  /** The declared query catalog. CACHING CONTRACT for embedders: some
    * queries `persist()` multi-referenced intermediates inside their
    * closure and do NOT unpersist (their lifetime is the returned plan's)
    * — Bench and Verify release them via `spark.catalog.clearCache()`
    * after each query. A long-lived driver invoking these without that
    * per-query hygiene accumulates cached relations (r17 ADVICE #3). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Relational core (SURVEY §2.2/2.4: P*, A1-A2) -------------------
    "q01_pricing_agg" -> ((s, dir) => {
      // Cross-engine exactness: the source doubles carry <=2 decimals, so
      // casting to decimal is lossless and decimal sums are exact and
      // order-independent (double sums are not — partition merge order
      // varies). Final cast back to double is deterministic. Averages use
      // floor(x*10^4+0.5)/10^4 — pure IEEE ops, identical in any engine,
      // unlike round()'s engine-specific half-way handling.
      val qty = col("l_quantity").cast("decimal(12,2)")
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      val tax = col("l_tax").cast("decimal(4,2)")
      val n = count(lit(1))
      def avg4(sumDec: Column, n: Column): Column =
        floor(sumDec.cast("double") / n * 10000 + 0.5) / 10000
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qty).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base"),
          sum(price * (lit(1) - disc)).cast("double").as("sum_disc_price"),
          sum(price * (lit(1) - disc) * (lit(1) + tax)).cast("double").as("sum_charge"),
          avg4(sum(qty), n).as("avg_qty"),
          avg4(sum(disc), n).as("avg_disc"),
          n.as("count_order"))
        .ordered(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_filter_project" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 25)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // no ROUND: per-row IEEE double arithmetic is bit-identical across
          // engines, while round()'s half-way behavior is not (Spark goes
          // through shortest-decimal-repr HALF_UP; DuckDB rounds the binary)
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          col("l_quantity").cast("int").as("qty_int"))
        .ordered(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- Joins (SURVEY §2.3: J1 broadcast-dim equi-join chain) ----------
    "q03_join_nation" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val cust = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      val region = Tables(s, dir, "region")
      orders
        .join(cust, orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .filter(col("r_name") === "ASIA" && col("o_orderstatus") === "F")
        .groupBy(col("n_name"))
        .agg(sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .ordered(col("n_name"))
    }),

    "q04_join_priority" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val orders = Tables(s, dir, "orders")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum((col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount").cast("decimal(4,2)")))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .ordered(col("o_orderpriority"))
    }),

    // ---- AliCCP KV codec (SURVEY §2.5 F4/F5, §2.9) ----------------------
    // Synthesizes the reference's \x01\x02\x03 blob format from events rows,
    // parses it natively, merges two maps (last-wins), extracts typed fields
    // — the oracle asserts the codec round-trips exactly.
    "q05_kv_roundtrip" -> ((s, dir) => {
      import AliccpCodec._
      val e = Tables.wide(s, dir, "events")
      // coalesce dynamic fragments: one NULL column must not null the
      // whole concat (which would empty the map and lose the OTHER
      // fields); try_cast because ANSI cast('') throws
      val blob1 = concat(
        lit("101"), lit(KvSep), coalesce(col("user_id").cast("string"), lit("")),
        lit(WeightSep), lit("1.0"), lit(RecSep),
        lit("et"), lit(KvSep), coalesce(col("event_type"), lit("")),
        lit(WeightSep), lit("1.0"))
      val blob2 = concat(
        lit("205"), lit(KvSep), coalesce(col("event_id").cast("string"), lit("")),
        lit(WeightSep), lit("1.0"), lit(RecSep),
        lit("et"), lit(KvSep), coalesce(col("event_type"), lit("")), lit("X"),
        lit(WeightSep), lit("1.0"))
      val m = mergeKv(parseKv(blob1), parseKv(blob2))
      e.select(
        col("event_id"),
        try_element_at(m, lit("101")).try_cast("bigint").as("user_id_p"),
        try_element_at(m, lit("205")).try_cast("bigint").as("item_p"),
        try_element_at(m, lit("et")).as("et_p"))
        .ordered(col("event_id"))
    }),

    // ---- Categorify (SURVEY §2.5 F1-F3: StringIndexer semantics) --------
    "q06_categorify" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      Categorify.indexColumn(cust, "c_mktsegment", "seg_idx")
        .select(col("c_custkey"), col("seg_idx"))
        .ordered(col("c_custkey"))
    }),

    // ---- Feature-store temporal ops (SURVEY §2.4 A4, §2.3 J2) -----------
    "q07_latest_per_key" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select("user_id", "event_id", "ts_us", "event_type", "value")
      PointInTime.latestPerKey(e, Seq("user_id"), "ts_us", "event_id")
        .ordered(col("user_id"))
    }),

    "q08_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts_us").as("p_ts"))
      val feats = e.select(col("event_id").as("f_id"), col("user_id"),
        col("ts_us").as("f_ts"), col("event_type").as("f_type"),
        col("value").as("f_value"))
      PointInTime.asofJoin(purchases, feats, Seq("user_id"),
          "p_ts", "f_ts", ttlUs = 7L * 24 * 3600 * 1000000,
          strict = true, rightTieBreak = "f_id")
        .ordered(col("p_id"))
    }),

    // ---- Semi-join (SURVEY §2.3 J3) -------------------------------------
    "q09_semi_join" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val big = Tables(s, dir, "lineitem")
        .filter(col("l_quantity") > 49)
        .select(col("l_orderkey").as("o_orderkey"))
      orders.join(big, Seq("o_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .ordered(col("o_orderkey"))
    }),

    // ---- Window ranking (engine surface beyond reference, SURVEY §2.10) -
    "q10_topk_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
        .ordered(col("o_custkey"), col("rnk"))
    }),

    // ---- Vocab stats (SURVEY §2.4 A2) — one pass, not 16 ----------------
    "q11_vocab_stats" -> ((s, dir) => {
      Tables(s, dir, "part").agg(
        countDistinct(col("p_brand")).as("n_brand"),
        countDistinct(col("p_type")).as("n_type"),
        countDistinct(col("p_size")).as("n_size"),
        count(lit(1)).as("n_rows"))
    }),

    // ---- LLM ops: exact dedup via content fingerprint -------------------
    "q12_dedup_exact" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.exact(docs, TextStats.fingerprint(col("text")), "doc_id")
        .ordered(col("dedup_key"))
    }),

    // ---- LLM ops: text analysis -----------------------------------------
    "q13_text_stats" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      docs.select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        size(array_distinct(TextStats.tokens(col("text")))).cast("long").as("n_uniq"),
        length(col("text")).cast("long").as("len_chars"),
        (floor(TextStats.stopwordRatio(col("text"), Seq("the", "a")) * 10000 + 0.5) / 10000).as("stop_ratio"))
        .ordered(col("doc_id"))
    }),

    // ---- Bronze->Silver spine (SURVEY §3.1: S1,J1,P4,P2,F4,F5) ----------
    "q14_bronze_silver" -> ((s, dir) => {
      val e = Tables.wide(s, dir, "events")
      BronzeSilver.toSilver(
        BronzeSilver.skeletonFromEvents(e),
        BronzeSilver.commonFromEvents(e),
        BronzeSilver.syntheticFields)
        .ordered(col("sample_id"))
    }),

    // ---- Silver->Gold multi-col categorify (SURVEY §3.2: F1-F3,P6) ------
    "q15_gold_transform" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      val base = cust.join(broadcast(nation),
          cust("c_nationkey") === nation("n_nationkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("n_name"))
        // drop on the indexed columns only — the oracle filters exactly
        // these; a bare na.drop() would also drop NULL c_custkey rows
        .na.drop(Seq("c_mktsegment", "n_name"))
      val model = Categorify.fit(base, Seq("c_mktsegment", "n_name"))
      model.transform(base)
        .select(col("c_custkey"), col("c_mktsegment").as("seg_idx"),
          col("n_name").as("nat_idx"))
        .ordered(col("c_custkey"))
    }),

    // ---- LLM ops: exact n-gram (unigram) Jaccard near-dup pairs ---------
    "q16_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleK = 1,
          threshold = 0.8)
        .ordered(col("id_a"), col("id_b"))
    }),

    // ---- LLM ops: MinHash-LSH near-dup (oracle-checked end to end) ------
    // hashMode=md5 makes the per-shingle base hash DuckDB-recomputable
    // (md5_number_lower >> 33), and band candidacy is raw-slice equality —
    // so the oracle independently recomputes signatures, banding AND
    // verification. Production corpora keep the default murmur3 base
    // (same plan, cheaper hash); DedupSpec pins both modes' recall.
    "q17_minhash_lsh" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.minhashLsh(docs, "doc_id", "text", shingleK = 3,
          bands = 8, rowsPerBand = 4, threshold = 0.6, hashMode = "md5")
        .ordered(col("id_a"), col("id_b"))
    }),

    // ---- LLM ops: SimHash near-dup pairs, banded candidate generation ---
    // hashMode=md5 (DuckDB md5_number_lower) lets the oracle recompute the
    // 64-bit fingerprints bit-for-bit and take exact all-pairs hamming at
    // the same radius; the banded result provably equals it (pigeonhole,
    // DedupSpec). Production default stays xxh64.
    "q18_simhash" -> ((s, dir) => {
      Dedup.simhashBandedPairs(
          Tables(s, dir, "documents"), "doc_id", "text", radius = 6,
          hashMode = "md5")
        .ordered(col("id_a"), col("id_b"))
    }),

    // ---- LLM ops: brute-force cosine top-k over embeddings --------------
    "q19_cosine_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      Similarity.cosineTopK(queries, corpus, k = 5)
        .ordered(col("qid"), col("rank"))
    }),

    // ---- LLM ops: language-ID by stopword-marker voting -----------------
    "q20_langid" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_guess"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: quality scoring (Gopher-style heuristics) -------------
    "q21_quality" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"),
          TextStats.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: binary payload metadata (decode stub in tests) -----
    "q22_binary_meta" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("payload"))
      Binary.withMetadata(docs, "payload")
        .select(col("doc_id"), col("n_bytes"), col("digest"))
        .ordered(col("doc_id"))
    }),

    // ---- Structured Streaming: latest-per-key materialization (T1-T6) ---
    "q23_stream_latest" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q23_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        // file-source streams need a directory: stream the sf dir with a
        // glob filter selecting only the events table file
        val stream = Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .select("user_id", "event_id", "ts_us", "event_type", "value")
        PointInTime.latestPerKey(stream, Seq("user_id"), "ts_us", "event_id")
      }.ordered(col("user_id"))
    }),

    // ---- Streaming tumbling-window aggregation (T7 through the REAL
    // streaming machinery: IncrementalExecution + state store, complete
    // mode; distinct aggregates are unsupported on streams, so the
    // payload aggregates are count + exact decimal sum) ----------------
    "q63_stream_window" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q63_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .groupBy(window(timestamp_micros(col("ts_us")), "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum((floor(col("value") * 1e4 + 0.5) / 1e4)
              .cast("decimal(18,4)")).cast("double").as("sum_value"))
          .select(unix_micros(col("w.start")).as("w_start"),
            col("event_type"), col("n"), col("sum_value"))
      }.ordered(col("w_start"), col("event_type"))
    }),

    // ---- Bucketed co-located join: the one-time-layout answer to the
    // recurring fact⋈dim shuffle. Both sides are bucketed on the join key
    // at write time, so the join plan has NO Exchange on either side
    // (asserted in SourcesSpec); the oracle is the plain join — bucketing
    // must be semantically invisible. --------------------------------
    "q64_bucketed_join" -> ((s, dir) => {
      Sources.writeBucketed(
        Tables(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_q64_orders", "o_custkey", 8)
      Sources.writeBucketed(
        Tables(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        "graft_q64_customer", "c_custkey", 8)
      s.table("graft_q64_orders")
        .join(s.table("graft_q64_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .ordered(col("c_custkey"))
    }),

    // ---- LLM ops: ANN top-k via hyperplane LSH (oracle-checked) ---------
    "q24_ann_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      // few planes / many tables: the fixture embeddings are near-random
      // (neighbor cosine ~0.2-0.4), so narrow buckets would have ~0
      // recall. (4, 16) is the smallest measured >=0.9 recall@5 point on
      // the swept curve (SCALING.md "ANN recall": 0.906 at cand_frac
      // 0.643, vs 0.74 at 0.410 for the old (4, 8)); the curve's
      // dominant frontier and the planes-vs-tables cost model are
      // documented there.
      Similarity.annTopK(queries, corpus, dim = 64, k = 5,
          planes = 4, tables = 16)
        .ordered(col("qid"), col("rank"))
    }),

    // ---- LLM ops: IVF ANN top-k (KMeans cells; rows-only) ---------------
    // Fit-once / probe-many: the centroid index for an sfDir is built,
    // persisted, and LOADED on first use, then reused — repeated runs
    // measure the steady-state probe path, which is what a deployed IVF
    // service executes (index build is an offline job, like Categorify's
    // model store; see IvfIndex scaladoc).
    "q39_ivf_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      val (index, cells) = ivfAcquire(s, dir, corpus)
      // probe the PERSISTED inverted file: the scan prunes to the probed
      // cells' partitions — no corpus-wide centroid scoring per run
      Similarity.ivfTopKPersisted(queries, cells, k = 5, index,
          nprobe = Q39Nprobe)
        .ordered(col("qid"), col("rank"))
    }),

    // ---- LLM ops: cluster-balanced sampling (SemDeDup/DataComp shape) ---
    // Semantic diversification for training-data selection: assign every
    // embedding to its IVF cell (the SAME persisted index q39 probes),
    // cap each cluster's contribution at ~Q89Target docs via a
    // deterministic per-row md5-uniform coin against rate =
    // min(1, T/|cell|) — hot/redundant regions are thinned, rare regions
    // survive whole. Cell assignment is one codegen'd projection
    // (centroids as plan literals), counts are an nlist-row broadcast;
    // zero corpus-sized shuffles. The oracle replays the fitted
    // centroids, counts, and the q66 uniform literally.
    "q89_cluster_sample" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val (index, _) = ivfAcquire(s, dir, corpus)
      val assigned = emb.select(col("vec_id"),
        Similarity.ivfCell(col("embedding"), index).as("cell"))
      val counts = assigned.groupBy("cell").agg(count(lit(1)).as("cn"))
      val u = shiftrightunsigned(call_function("md5_lower64",
        col("vec_id").cast("string")), 33).cast("double") / 2147483648.0
      assigned.join(broadcast(counts), Seq("cell"))
        .withColumn("rate", least(lit(1.0),
          lit(Q89Target.toDouble) / col("cn").cast("double")))
        .filter(u < col("rate"))
        .select(col("vec_id"), col("cell"))
        .ordered(col("vec_id"))
    }),

    // ---- LLM ops: per-source corpus report ------------------------------
    // The curation dashboard a mixture designer reads before setting
    // q80's temperatures: per source — doc count, token mass, mean doc
    // length, mean quality (decimal-summed: a float sum would vary with
    // Spark's partition order and never match an external engine), and
    // how many of its docs are exact duplicates of ANY doc CORPUS-wide
    // (md5 content groups of size > 1 — cross-source dups a per-source
    // rollup alone cannot see). Two partial-agg shuffles plus one
    // fingerprint equi-join; all skew is group-sized, AQE-handled.
    "q90_corpus_report" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val base = docs.select(col("source"), col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tok"),
        TextStats.qualityScore(col("text")).cast("decimal(18,12)").as("q"),
        md5(col("text").cast("binary")).as("fp"))
      val fpc = base.groupBy("fp").agg(count(lit(1)).as("fpc"))
      base.join(fpc, Seq("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          sum("q").as("__sq"),
          sum(when(col("fpc") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (floor(col("n_tokens").cast("double") / col("n_docs") * 1e6
            + 0.5) / 1e6).as("avg_tokens"),
          (floor(col("__sq").cast("double") / col("n_docs") * 1e6
            + 0.5) / 1e6).as("mean_quality"),
          col("n_dup_docs"))
        .ordered(col("source"))
    }),

    // ---- Feature store: online materialization + point lookup (A4,S10) --
    "q28_online_lookup" -> ((s, dir) => {
      val view = FeatureStore.FeatureView("user_latest", Seq("user_id"),
        "ts_us", ttlUs = 365L * 24 * 3600 * 1000000,
        features = Seq("event_id", "event_type", "value"))
      val e = Tables.events(s, dir)
      val path = scratchDir("online", dir) + "/user_latest"
      FeatureStore.materializeOnline(view, e, path, tieBreak = "event_id")
      val keys = e.select("user_id").distinct()
        .filter(col("user_id") % 5 === 0)
      FeatureStore.getOnlineFeatures(s, path, view, keys)
        .select("user_id", "ts_us", "event_id", "event_type", "value")
        .ordered(col("user_id"))
    }),

    // ---- Window analytics: lag / running-min (SURVEY §2.10 surface) -----
    "q25_window_analytics" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select("user_id", "event_id", "ts_us", "event_type", "value")
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      e.select(col("user_id"), col("event_id"), col("ts_us"),
          row_number().over(w).cast("long").as("rn"),
          lag("event_type", 1).over(w).as("prev_type"),
          min("value").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("run_min"))
        .ordered(col("user_id"), col("rn"))
    }),

    // ---- Streaming JSON codec round-trip (C5/C6: Kafka record shape) ----
    "q29_json_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val e = Tables.wide(s, dir, "events")
        .select("user_id", "event_id", "event_type", "value")
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      Streams.decodeJson(Streams.encodeJson(e), schema)
        .ordered(col("event_id"))
    }),

    // ---- Tumbling-window aggregation (T7; epoch-aligned) ----------------
    "q30_tumbling_window" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.groupBy(window(timestamp_micros(col("ts_us")), "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .select(unix_micros(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("n_users"))
        .ordered(col("w_start"), col("event_type"))
    }),

    // ---- Rollup aggregation ---------------------------------------------
    "q26_rollup" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).as("__g_rf"),
          grouping(col("l_linestatus")).as("__g_ls"))
        // flags participate in the sort (total order even with NULL group
        // values in the data), then drop out of the compared schema
        .ordered(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"), col("__g_rf"), col("__g_ls"))
        .select("l_returnflag", "l_linestatus", "n", "sum_qty")
    }),

    // ---- LLM ops: near-dup groups (pairs -> connected components) -------
    // Pair generation is size-gated (Dedup.jaccardPairsAuto): below 10⁴
    // docs the all-pairs plan (O(n²) work but a 2-stage critical path),
    // above it the EXACT prefix-filtered inverted-index join — both yield
    // the same pair set (proven in DedupSpec), so the recursive-CTE oracle
    // is byte-identical either way and no plan ever crossJoins data it
    // cannot afford to: at 100× the docs the prefix path scales with
    // rare-shingle bucket sizes, not doc-pairs². The gate exists because
    // the prefix plan's ~8 extra sequential stages are pure fixed latency
    // at fixture scale (~4–6 s; the round-4 bench measured it amplifying
    // 4× under suite-level load — longest serial stage chain in the
    // suite), while above ~10⁴ docs the n² term dominates everything.
    "q34_dedup_groups" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val pairs = Dedup.jaccardPairsAuto(docs, "doc_id", "text",
        shingleK = 1, threshold = 0.8)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("label").as("group_id"))
        .ordered(col("doc_id"))
    }),

    // ---- Session windows: 30-min-gap user sessions (T7 surface) ---------
    "q32_session_window" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.groupBy(col("user_id"),
          session_window(timestamp_micros(col("ts_us")), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("w.start")).as("s_start"),
          unix_micros(col("w.end")).as("s_end"), col("n"))
        .ordered(col("user_id"), col("s_start"))
    }),

    // ---- Corpus stats: document frequency via explode (generator) -------
    "q33_doc_freq" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      docs.select(explode(
          array_distinct(TextStats.tokens(lower(col("text"))))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 50)
        .ordered(desc("df"), asc("tok"))
    }),

    // ---- Skew-salted two-phase aggregation (same result, split reducers)
    "q31_salted_agg" -> ((s, dir) => {
      Skew.saltedAgg(Tables(s, dir, "lineitem"), Seq("l_returnflag"),
          buckets = 8, partial = sum, merge = sum,
          valueCol = "l_quantity", as = "sum_qty")
        .select(col("l_returnflag"),
          col("sum_qty").cast("decimal(14,2)").cast("double").as("sum_qty"))
        .ordered(col("l_returnflag"))
    }),

    // ---- Array function battery -----------------------------------------
    "q54_array_funcs" -> ((s, dir) => {
      val toks = TextStats.tokens(lower(col("text")))
      Tables(s, dir, "documents").select(
          col("doc_id"),
          size(toks).cast("long").as("n"),
          array_join(slice(array_sort(array_distinct(toks)), 1, 3), ",").as("first3"),
          // try_: plain element_at THROWS on an empty array under Spark
          // 4's default ANSI mode; the oracle's toks[1] yields NULL
          try_element_at(toks, lit(1)).as("head_tok"),
          try_element_at(toks, lit(-1)).as("last_tok"),
          // pinned false on NULL text in BOTH engines: a nullable boolean
          // round-trips ambiguously through the comparator's dataframe
          // layer (None vs NaN) even when both sides are NULL
          coalesce(array_contains(toks, "spark"), lit(false)).as("has_spark"),
          size(array_remove(toks, "the")).cast("long").as("n_no_the"))
        .ordered(col("doc_id"))
    }),

    // ---- Map function battery (KV codec adjacents) ----------------------
    "q55_map_funcs" -> ((s, dir) => {
      import AliccpCodec._
      val e = Tables.wide(s, dir, "events")
      // coalesce each value: a NULL key column would null the whole
      // concat (empty map, and plain element_at would then throw under
      // ANSI); the oracle mirrors with the same COALESCE
      val m = parseKvFast(concat(
        lit("101"), lit(KvSep), coalesce(col("user_id").cast("string"), lit("")),
        lit(WeightSep), lit("1.0"), lit(RecSep),
        lit("205"), lit(KvSep),
        coalesce((col("event_id") % 100).cast("string"), lit("")),
        lit(WeightSep), lit("1.0")))
      e.select(
          col("event_id"),
          size(map_keys(m)).cast("long").as("n_keys"),
          array_join(array_sort(map_keys(m)), ",").as("keys_sorted"),
          array_join(array_sort(map_values(m)), ",").as("vals_sorted"),
          try_element_at(m, lit("101")).as("v101"))
        .ordered(col("event_id"))
    }),

    // ---- LLM ops: embedding-cosine near-dup (threshold retrieval) -------
    "q56_cosine_neardup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      Similarity.cosineNearDup(queries, corpus, minCos = 0.3)
        .ordered(col("qid"), col("nid"))
    }),

    // ---- Exact multi-percentiles (percentile_cont semantics) ------------
    "q57_percentiles" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          expr("percentile(l_extendedprice, 0.9)").as("price_p90"))
        .ordered(col("l_returnflag"))
    }),

    // ---- Multimodal: REAL image header decode over synthesized bytes ----
    // Valid container bytes are built per doc — PNG signature + IHDR,
    // JPEG SOI + SOF0 frame header, or a GIF signature + logical screen
    // descriptor, by doc_id % 4 — with dimensions derived from doc_id,
    // parsed back by the media_meta kernel; the oracle recomputes the
    // expected dimensions arithmetically — so a parser regression
    // (offset, endianness — GIF dims are LITTLE-endian where PNG/JPEG
    // are big — channel mapping, marker-walk bug) hash-fails. BinarySpec
    // covers APPn-prefixed and damaged layouts.
    "q58_media_meta" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val w = col("doc_id") % 1000 + 1
      val h = col("doc_id") % 777 + 1
      val m = col("doc_id") % 4
      val colorType = when(m === 0, lit("02")).otherwise(lit("06"))
      val pngHex = concat(
        lit("89504E470D0A1A0A"), // signature
        lit("0000000D49484452"), // IHDR length + tag
        lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
        lit("08"), colorType)    // bit depth 8, color type
      val jpegHex = concat(
        lit("FFD8"),             // SOI
        lit("FFC00011"),         // SOF0, len 17 (3 components)
        lit("08"),               // precision
        lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
        lit("03"),               // 3 components
        lit("011100021101031101")) // id/sampling/quant per component
      def le16hex(v: Column): Column =
        concat(lpad(hex(v % 256), 2, "0"), lpad(hex(floor(v / 256)), 2, "0"))
      val gifHex = concat(
        lit("474946383961"),     // "GIF89a"
        le16hex(w), le16hex(h),
        lit("000000"))           // no GCT, background, aspect
      val payloadHex = when(m === 2, jpegHex)
        .when(m === 3, gifHex)
        .otherwise(pngHex)
      val meta = Binary.mediaMeta(to_binary(payloadHex, lit("hex")))
      docs.select(col("doc_id"), meta.getField("kind").as("kind"),
          meta.getField("width").as("width"),
          meta.getField("height").as("height"),
          meta.getField("channels").as("channels"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: TF-IDF scoring (explode -> tf -> df -> join) ----------
    // idf is the LINEAR ratio n_docs/df, not log(n/df): log goes through
    // libm and differs across engines, while integer-product / single
    // IEEE division is bit-identical (see Scaladoc conventions).
    "q59_tfidf" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextStats.tokens(lower(col("text")))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, Seq("tok"))
        .crossJoin(broadcast(n))
        .filter(col("tf") >= 3)
        .withColumn("tfidf", (col("tf") * col("n_docs")).cast("double") / col("df"))
        .select("doc_id", "tok", "tf", "df", "tfidf")
        .ordered(col("doc_id"), col("tok"))
    }),

    // ---- Deterministic train/val/test split (content-hash bucketing) ----
    // md5 of the id string is engine-independent, so the assignment is
    // reproducible anywhere — the property a training-data split needs
    // (rand()-based splits shift between runs/engines/partitionings).
    "q60_split" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      docs.select(col("doc_id"), h.as("hash_bucket"),
          when(h.isin("c", "d"), "val")
            .when(h.isin("e", "f"), "test")
            .otherwise("train").as("split"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: composed corpus-clean pipeline ------------------------
    // The full cleanup pass a training-data pipeline chains: language
    // filter + quality threshold + token bounds + exact-dedup keeping the
    // canonical (min-id) representative per content fingerprint. Every
    // stage is the already-oracled primitive (q20/q21/q13/q12), composed.
    "q61_corpus_clean" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        TextStats.langId(col("text")).as("lang"),
        (floor(TextStats.qualityScore(col("text")) * 1e6 + 0.5) / 1e6).as("quality"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.fingerprint(col("text")).as("fp"))
      // min-doc_id-per-fingerprint via ONE window rank: the groupBy +
      // self-join formulation scanned `scored` twice, i.e. ran every text
      // kernel (langId/quality/tokens/fingerprint) twice per document
      scored
        .withColumn("__rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("__rn") === 1)
        .filter(col("lang") === "en" && col("quality") >= 0.55 &&
          col("n_tokens").between(5, 5000))
        .select("doc_id", "lang", "quality", "n_tokens")
        .ordered(col("doc_id"))
    }),

    // ---- Skew-salted equi-join (same rows as the plain join) ------------
    // The salt spreads each hot user's events over `buckets` reducers; the
    // oracle is the UNSALTED join — proving the rewrite is semantics-free.
    "q62_salted_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select("user_id", "event_id", "value")
      val users = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      Skew.saltedJoin(e, users, Seq("user_id"), buckets = 8)
        .groupBy("user_id", "n_events")
        .agg(count(lit(1)).as("n_joined"),
          // floor-round to the decimal's scale first: the raw-double
          // decimal cast rounds via shortest-repr in Spark but via the
          // binary value in DuckDB, diverging for >4-decimal doubles
          sum((floor(col("value") * 1e4 + 0.5) / 1e4)
            .cast("decimal(18,4)")).cast("double").as("sum_value"))
        .ordered(col("user_id"))
    }),

    // ---- Feature store: get_historical_features facade (J2 via API) -----
    "q53_historical_features" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val view = FeatureStore.FeatureView("user_hist", Seq("user_id"),
        "ts_us", ttlUs = 3L * 24 * 3600 * 1000000,
        features = Seq("event_id", "value"))
      val entities = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("e_id"), col("user_id"),
          col("ts_us").as("e_ts"))
      FeatureStore.getHistoricalFeatures(entities, view, e, "e_ts",
          tieBreak = "event_id")
        .select(col("e_id"), col("user_id"), col("e_ts"),
          col("event_id").as("f_id"), col("value").as("f_value"))
        .ordered(col("e_id"))
    }),

    // ---- Interval join: same-user events within ±1h of each purchase ----
    "q52_interval_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_ts"))
      // distinct alias on the right side: purchases/others share a parent,
      // so purchases("user_id") === others("user_id") would resolve to the
      // same attribute (trivially-true predicate + self-join heuristics)
      val others = e.select(col("event_id").as("o_id"),
        col("user_id").as("o_uid"), col("ts_us").as("o_ts"))
      val hourUs = 3600L * 1000000
      purchases.join(others,
          col("user_id") === col("o_uid") &&
            col("o_ts") >= col("p_ts") - hourUs &&
            col("o_ts") <= col("p_ts") + hourUs &&
            col("o_id") =!= col("p_id"), "left")
        .groupBy(col("p_id"))
        .agg(count(col("o_id")).as("n_nearby"))
        .ordered(col("p_id"))
    }),

    // ---- Null semantics: coalesce / nullif / null-safe equality ---------
    "q49_null_semantics" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.select(
          col("event_id"),
          // props is sometimes null in the fixture; exercise the trio
          coalesce(col("props"), lit("<none>")).as("props_or_default"),
          nullif(col("event_type"), lit("error")).as("type_or_null"),
          (col("props") <=> lit(null)).as("props_is_null"))
        .ordered(col("event_id"))
    }),

    // ---- String function battery ----------------------------------------
    "q50_string_funcs" -> ((s, dir) => {
      Tables(s, dir, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("up"),
          lower(col("c_mktsegment")).as("lo"),
          length(trim(col("c_name"))).cast("long").as("len_trim"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          substring(col("c_name"), 1, 8).as("prefix"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
          translate(col("c_name"), "#", "-").as("translated"),
          instr(col("c_name"), "0").cast("long").as("pos0"))
        .ordered(col("c_custkey"))
    }),

    // ---- Datetime function battery --------------------------------------
    "q51_datetime_funcs" -> ((s, dir) => {
      Tables(s, dir, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(lit("1998-12-31").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days_to_eoy"))
        .ordered(col("o_orderkey"))
    }),

    // ---- Rollup with grouping flags -------------------------------------
    "q47_grouping_flags" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        // grouping flags in the sort: with NULL group values in the DATA,
        // (rf, ls) alone cannot distinguish the (NULL, NULL) data group
        // from rollup subtotal rows — the order would not be total
        .ordered(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"), col("g_rf"), col("g_ls"))
    }),

    // ---- Exact median via window formulation (engine-exact both sides) --
    "q48_median" -> ((s, dir) => {
      val w = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
      val li = Tables(s, dir, "lineitem")
      // group sizes via broadcast join (3 rows) — a count-over-partition
      // window would force a second full sort of the fact table
      val counts = li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
        .withColumnRenamed("l_returnflag", "__rf")
      li.withColumn("rn", row_number().over(w))
        // null-safe join: a NULL returnflag group must keep its median row
        // (plain equality would silently drop the whole NULL partition)
        .join(broadcast(counts), col("l_returnflag") <=> col("__rf"))
        .drop("__rf")
        .filter(col("rn") === expr("(cnt + 1) div 2") ||
          col("rn") === expr("(cnt + 2) div 2"))
        .groupBy(col("l_returnflag"))
        // the two middle rows (or one, counted twice) average exactly:
        // quantities are halves at most, so /2 stays exact in double
        .agg((sum(col("l_quantity")) / count(lit(1))).as("median_qty"))
        .ordered(col("l_returnflag"))
    }),

    // ---- Rolling-hash near-dup candidates (substring sharing; rows-only)
    "q46_rolling_dedup" -> ((s, dir) => {
      Dedup.rollingDedupPairs(
          Tables(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          "doc_id", "text", minShared = 8)
        .ordered(col("id_a"), col("id_b"))
    }),

    // ---- Shipping-priority style 3-way join + top-k (TPC-H Q3 shape) ----
    "q44_ship_priority" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      cust.filter(col("c_mktsegment") === "BUILDING")
        .join(orders, cust("c_custkey") === orders("o_custkey"))
        .join(li, orders("o_orderkey") === li("l_orderkey"))
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount").cast("decimal(4,2)"))))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(20)
    }),

    // ---- Conditional aggregation (TPC-H Q12 shape) ----------------------
    "q45_cond_agg" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val orders = Tables(s, dir, "orders")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("low_line_count"))
        .ordered(col("l_linestatus"))
    }),

    // ---- Anti-join: customers with no orders ----------------------------
    "q41_anti_join" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"))
      cust.join(orders, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .ordered(col("c_custkey"))
    }),

    // ---- Correlated EXISTS subquery (SQL surface) -----------------------
    "q42_exists_subquery" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_q42")
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q42")
      s.sql("""
        SELECT o_orderkey, o_totalprice FROM orders_q42 o
        WHERE EXISTS (
          SELECT 1 FROM lineitem_q42 l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        ORDER BY o_orderkey""")
    }),

    // ---- Scalar subquery: orders above global average price -------------
    "q43_scalar_subquery" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_q43")
      s.sql("""
        SELECT o_orderkey, o_totalprice FROM orders_q43
        WHERE o_totalprice > 2 * (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                 / COUNT(*) FROM orders_q43)
        ORDER BY o_orderkey""")
    }),

    // ---- Vocab sizes via KMV sketch (UDAF; oracle-checked via md5 mode) -
    // hashMode=md5: the KMV estimate is a pure function of the hash
    // values, so with a cross-engine hash the oracle recomputes the exact
    // bottom-k set and estimate in SQL (distinct -> hash -> k smallest ->
    // (k-1)/u_k). Production sketches keep xxh64.
    "q40_vocab_sketch" -> ((s, dir) => {
      Tables(s, dir, "lineitem").agg(
        Sketches.kmvDistinct(col("l_orderkey"), 256, "md5").as("n_orders_est"),
        Sketches.kmvDistinct(col("l_partkey"), 256, "md5").as("n_parts_est"),
        count(lit(1)).as("n_rows"))
    }),

    // ---- SQL surface (S11): the engine as a SQL endpoint over views -----
    "q38_sql_surface" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT e.user_id,
               COUNT(*) AS n_purchases,
               MIN(e.ts_us) AS first_ts,
               MAX(e.ts_us) AS last_ts
        FROM events_v e
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
        HAVING COUNT(*) >= 2
        ORDER BY e.user_id""")
    }),

    // ---- Cube aggregation ----------------------------------------------
    "q35_cube" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .ordered(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }),

    // ---- Pivot (event_type -> columns) ----------------------------------
    "q36_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("click", "view", "purchase"))
        .ordered(col("user_id"))
    }),

    // ---- Regex extraction (RE2-compatible pattern set) ------------------
    "q37_regex" -> ((s, dir) => {
      Tables(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "[a-z]+[0-9]+", 0).as("first_alnum"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_numbers"))
        .ordered(col("doc_id"))
    }),

    // ---- Set operations ------------------------------------------------
    "q27_setops" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      def keys(st: String) =
        o.filter(col("o_orderstatus") === st).select("o_custkey")
      keys("F").intersect(keys("O")).except(keys("P"))
        .ordered(col("o_custkey"))
    }),

    // ---- LLM ops: greedy sequence packing (fixed token budget) ----------
    // Training-data batch construction: assign docs to packs of <= budget
    // tokens, streaming within each source in doc_id order (the standard
    // first-fit approximation — a boundary doc spills into the next pack
    // and the trainer truncates). Pack.packSequences is a DISTRIBUTED
    // prefix sum: each source's id span is range-bucketed, per-bucket
    // token totals (a tiny aggregate) become cumulative bucket offsets,
    // and each bucket cumsums locally — parallelism scales with rows, not
    // #sources (a single-window-per-source formulation serializes each
    // source onto one task; PackSpec asserts both produce identical
    // output). floor(cum/budget), never a double cast (Spark casts
    // truncate, DuckDB casts round).
    "q65_pack_sequences" -> ((s, dir) => {
      Pack.packSequences(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              coalesce(TextStats.tokenCount(col("text")).cast("long"), lit(0L))
                .as("n_tokens")),
          "doc_id", "source", "n_tokens", budget = 2048)
        .select("doc_id", "source", "n_tokens", "pack_id")
        .ordered(col("source"), col("doc_id"))
    }),

    // ---- LLM ops: stratified mixture sampling (deterministic) -----------
    // Data-mixture construction: per-source sampling rates applied via a
    // content-hash uniform (md5_lower64 >>> 33 is 31 bits, exact as a
    // double in [0,1) — identical in any engine), so the sample is
    // reproducible across runs, engines, and partitionings, unlike
    // rand()-based sample(). Pure per-row projection + filter: no
    // shuffle at all, scales with the scan.
    "q66_stratified_sample" -> ((s, dir) => {
      val u = shiftrightunsigned(
        call_function("md5_lower64", col("doc_id").cast("string")), 33)
        .cast("double") / 2147483648.0
      val rate = stratifiedRates.foldLeft(lit(stratifiedDefaultRate)) {
        case (acc, (src, r)) => when(col("source") === src, r).otherwise(acc)
      }
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), u.as("u"))
        .filter(col("u") < rate)
        .ordered(col("doc_id"))
    }),

    // ---- One-pass ANALYZE: per-column statistics battery ----------------
    // The CBO-stats collection every engine runs before planning: ONE
    // scan computes every numeric column's count/nulls/min/max, an HLL
    // cardinality sketch (the 100 TB distinct answer) and the exact
    // distinct (the fixture-scale verification rider; its Expand is
    // the one per-column cost a production ANALYZE would drop). The
    // one-row aggregate then melts to per-column rows via a literal
    // struct array — no second scan. Hash inputs are micro-unit
    // integer strings (one fixed convention for ints and doubles
    // alike) so the oracle replays the registers exactly.
    "q168_analyze" -> ((s, dir) => {
      // MELT FIRST, aggregate per column-name group: the original
      // single-agg battery (4 countDistinct + 4 object-typed HLL
      // buffers in ONE Aggregate) planned as a 5-projection Expand
      // feeding ObjectHashAggregate — 3M expanded rows each carrying
      // every sketch buffer, 20.9 s at sf0.1. Exploding to
      // (column, value) rows keeps everything in codegen: the
      // non-distinct battery is one ObjectHashAggregate over 4 groups
      // (each row updates ONE sketch, not four), and the exact-
      // distinct rider is a plain two-level hash count — no Expand
      // anywhere. Values are bit-identical (the double cast is exact
      // for every column's domain; the hash-input string is unchanged).
      val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_discount")
      val li = Tables(s, dir, "lineitem")
      val melted = li.select(explode(array(cols.map(c =>
          struct(lit(c).as("column"), col(c).cast("double").as("v"))): _*))
          .as("s"))
        .select(col("s.column").as("column"), col("s.v").as("v"))
      val h31v = shiftrightunsigned(call_function("md5_lower64",
        floor(col("v") * 1e6 + 0.5).cast("long").cast("string")), 33)
      val base = melted.groupBy(col("column")).agg(
        count(lit(1)).as("n"), count(col("v")).as("cnt"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        Sketches.hllRegisters(h31v, 8).as("sk"))
      val nd = melted.filter(col("v").isNotNull)
        .groupBy(col("column"), col("v")).agg(count(lit(1)).as("__one"))
        .groupBy(col("column")).agg(count(lit(1)).as("exact_distinct"))
      base.join(nd, Seq("column"), "left")
        .select(col("column"), col("n"),
          (col("n") - col("cnt")).as("n_null"),
          col("min_v"), col("max_v"),
          (floor(Sketches.hllEstimate(col("sk"), 8) * 1e6 + 0.5) / 1e6)
            .as("hll_est"),
          coalesce(col("exact_distinct"), lit(0L)).as("exact_distinct"))
        .ordered(col("column"))
    }),

    // ---- Feature engineering: time-grid gap fill + interpolation --------
    // The resampling dual of PointInTime's as-of lookup: irregular
    // per-user events regularized to a 4-hour grid (one row per
    // (user, bucket) across the user's observed span), cell means in
    // integer micro-units, interior holes LINEARLY INTERPOLATED from
    // the bracketing observations via two window passes over one
    // user-keyed partitioning. The oracle replays the grid
    // (generate_series), both ignore-nulls windows, and the identical
    // interpolation expression tree.
    "q169_gap_fill" -> ((s, dir) => {
      import graft.ops.Resample
      Resample.gapFill(
          Tables(s, dir, "events").select(col("user_id"), col("ts"),
            col("value")),
          "user_id", "ts", "value", bucketSec = 14400L)
        .select(col("user_id"), col("bucket"),
          (floor(col("value") * 1e6 + 0.5) / 1e6).as("value"),
          col("observed"))
        .ordered(col("user_id"), col("bucket"))
    }),

    // ---- Feature engineering: rolling time-RANGE window -----------------
    // The trailing-30-day spend feature (rolling sum/count/mean per
    // customer AS OF each order): a RANGE-frame window over the order's
    // epoch-day — every order within [day-29, day] of the same customer
    // contributes, ties on the same day all land in each other's frame
    // (value-range semantics, deterministic under same-day reorders,
    // where a ROWS frame would not be). Sums ride integer micro-units;
    // ONE user-keyed Exchange carries all three aggregates. The q44/
    // q156 row-frame family cannot express this — the frame is a TIME
    // span, not a row count.
    "q170_rolling_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("day"),
          floor(col("o_totalprice") * 1e6 + 0.5).cast("long").as("p6"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-29, Window.currentRow)
      o.select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(col("p6")).over(w).as("rs6"),
          count(lit(1)).over(w).as("roll_n"))
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          (floor(col("rs6").cast("double") / 1e6 * 1e2 + 0.5) / 1e2)
            .as("roll_sum"),
          col("roll_n"),
          (floor(col("rs6").cast("double") /
            (col("roll_n") * lit(1e6)) * 1e2 + 0.5) / 1e2).as("roll_avg"))
        .ordered(col("o_orderkey"))
    }),

    // ---- Statistics battery: grouped OLS by normal equations ------------
    // The distributed linear-model fit done the way a 100 TB engine
    // must: y = b0 + b1*x1 + b2*x2 per group from NINE mergeable
    // moment sums (the sufficient statistics — integer micro-unit
    // quantization, decimal products, order-insensitive, the q163
    // discipline), then the 3x3 normal equations solved in closed form
    // by Cramer's rule in ONE fixed double expression tree the oracle
    // replays verbatim. No gradient loop, no driver-side solver — the
    // whole fit is one aggregation pass plus a per-group O(1) finale.
    "q171_ols_normal" -> ((s, dir) => {
      def u6(c: Column) = floor(c * 1e6 + 0.5).cast("long")
      def wide(c: Column) = c.cast("decimal(19,0)")
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_returnflag").isNotNull)
      val x1 = u6(col("l_quantity")); val x2 = u6(col("l_discount"))
      val y = u6(col("l_extendedprice"))
      val m = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
        sum(wide(x1) * wide(x1)).as("s11"),
        sum(wide(x1) * wide(x2)).as("s12"),
        sum(wide(x2) * wide(x2)).as("s22"),
        sum(wide(x1) * wide(y)).as("s1y"),
        sum(wide(x2) * wide(y)).as("s2y"),
        sum(wide(y) * wide(y)).as("syy"))
      // real-unit doubles (micro scales divide out), then Cramer on
      //   [ n   a12 a13 ] [b0]   [c1]
      //   [ a12 a22 a23 ] [b1] = [c2]
      //   [ a13 a23 a33 ] [b2]   [c3]
      val nD = col("n").cast("double")
      def d6(c: String) = col(c).cast("double") / 1e6
      def d12(c: String) = col(c).cast("double") / 1e12
      val a12 = d6("s1"); val a13 = d6("s2")
      val a22 = d12("s11"); val a23 = d12("s12"); val a33 = d12("s22")
      val c1 = d6("sy"); val c2 = d12("s1y"); val c3 = d12("s2y")
      val det = nD * (a22 * a33 - a23 * a23) -
        a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13)
      val b0 = (c1 * (a22 * a33 - a23 * a23) -
        a12 * (c2 * a33 - a23 * c3) + a13 * (c2 * a23 - a22 * c3)) / det
      val b1 = (nD * (c2 * a33 - a23 * c3) -
        c1 * (a12 * a33 - a23 * a13) + a13 * (a12 * c3 - c2 * a13)) / det
      val b2 = (nD * (a22 * c3 - c2 * a23) -
        a12 * (a12 * c3 - c2 * a13) + c1 * (a12 * a23 - a22 * a13)) / det
      // SSE = y'y - b'X'y (normal-equation identity); R2 = 1 - SSE/SST
      val syyD = d12("syy")
      val sse = syyD - b0 * c1 - b1 * c2 - b2 * c3
      val sst = syyD - c1 * c1 / nD
      def r6(c: Column) = floor(c * 1e6 + 0.5) / 1e6
      m.select(col("l_returnflag"), col("n"),
          r6(b0).as("b0"), r6(b1).as("b1"), r6(b2).as("b2"),
          r6(lit(1.0) - sse / sst).as("r2"))
        .ordered(col("l_returnflag"))
    }),

    // ---- Feature engineering: sketch-driven quantile binning ------------
    // The bucketize-by-quantiles transform (Categorify's numeric
    // cousin): one histogram-sketch pass fits 9 decile cut points on
    // l_extendedprice (q131's [900,105000)x512 dyadic grid), the cuts
    // enter the projection as plan literals (join-free, Scaler
    // discipline), and each sampled row maps to bucket = #cuts <= value.
    // The oracle re-derives the identical midpoint cuts from the same
    // binning and replays the bucket count declaratively.
    "q166_quantile_bin" -> ((s, dir) => {
      import graft.ops.Binning
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_extendedprice").isNotNull)
      val cuts = Binning.fitCuts(li, "l_extendedprice",
        900.0, 105000.0, 512, nBuckets = 10)
      li.filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          Binning.bucketize(col("l_extendedprice"), cuts).as("bucket"))
        .ordered(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- Sketch materialized view: persist -> reload -> rollup ----------
    // The end-to-end shape the rollup-merge family (q148/q149/q150)
    // exists for: per-(source, lang) histogram sketches are WRITTEN TO
    // PARQUET once (the materialized view — kilobytes per group), then
    // a later "query time" reads the sketch table back and answers
    // BOTH coarser groupings (per source and global) by array merge —
    // the raw corpus is never rescanned. The persistence hop is the
    // new contract under test: sketch arrays must survive the parquet
    // round trip bit-for-bit. Oracle replays all levels' binning from
    // the raw rows (q148 discipline).
    "q164_sketch_mv" -> ((s, dir) => {
      val bins = 512
      val out = scratchDir("sketchmv", dir)
      Tables(s, dir, "documents")
        .filter(col("n_chars").isNotNull && col("source").isNotNull)
        .groupBy(col("source"), col("lang"))
        .agg(Sketches.histogram(col("n_chars"), 0.0, 16384.0, bins).as("sk"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out)
      val mv = s.read.parquet(out)
      val perSource = mv.groupBy(col("source"))
        .agg(Sketches.histMerge(col("sk"), bins).as("sk"),
          sum(col("n")).as("n"))
      val global = mv
        .agg(Sketches.histMerge(col("sk"), bins).as("sk"),
          sum(col("n")).as("n"))
        .select(lit("__all__").as("source"), col("sk"), col("n"))
      perSource.unionByName(global)
        .select(col("source"),
          Sketches.histQuantile(col("sk"), 0.0, 16384.0, bins, 0.5)
            .as("approx_p50"),
          Sketches.histQuantile(col("sk"), 0.0, 16384.0, bins, 0.9)
            .as("approx_p90"),
          col("n"))
        .ordered(col("source"))
    }),

    // ---- Statistics battery: exact-moment covariance/correlation --------
    // Spark's corr/covar_pop aggregate in FLOAT order (partition-
    // dependent bits); here the five moment sums ride exact decimals
    // (quantized inputs, decimal products — the q01/q124 discipline) so
    // the aggregation is order-insensitive, and only the FINAL formula
    // — covar = (sxy - sx*sy/n)/n, corr = covar/(sdx*sdy) — runs in
    // IEEE doubles, one fixed expression tree the oracle replays
    // exactly. This is how a distributed engine should do statistics:
    // mergeable integer/decimal partials, float only at the end.
    "q163_corr_moments" -> ((s, dir) => {
      // integer micro-units: values quantized to 1e-6 as LONGs, linear
      // sums as longs, second moments as decimal(38,0) products of
      // decimal(19,0) casts — all exact and order-insensitive; the
      // micro scales divide back out inside the double finale
      def u6(c: Column) = floor(c * 1e6 + 0.5).cast("long")
      val li = Tables(s, dir, "lineitem").filter(col("l_returnflag").isNotNull)
      val x = u6(col("l_quantity")); val y = u6(col("l_extendedprice"))
      def wide(c: Column) = c.cast("decimal(19,0)")
      val m = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(wide(x) * wide(y)).as("sxy"),
        sum(wide(x) * wide(x)).as("sxx"),
        sum(wide(y) * wide(y)).as("syy"))
      def dbl(c: String, scale: Double) = col(c).cast("double") / scale
      val nD = col("n").cast("double")
      val sxd = dbl("sx", 1e6); val syd = dbl("sy", 1e6)
      val sxyd = dbl("sxy", 1e12)
      val sxxd = dbl("sxx", 1e12); val syyd = dbl("syy", 1e12)
      val cov = (sxyd - sxd * syd / nD) / nD
      val vx = (sxxd - sxd * sxd / nD) / nD
      val vy = (syyd - syd * syd / nD) / nD
      def r6(c: Column) = floor(c * 1e6 + 0.5) / 1e6
      m.select(col("l_returnflag"), col("n"),
          r6(sxd / nD).as("mean_x"), r6(syd / nD).as("mean_y"),
          r6(cov).as("covar"),
          r6(cov / (sqrt(vx) * sqrt(vy))).as("corr"))
        .ordered(col("l_returnflag"))
    }),

    // ---- LLM ops: blocked fuzzy-match join (entity resolution) ----------
    // Dirty mentions (per doc: a canonical 8-hex-char entity name with
    // a deterministic typo — identity / delete / duplicate / replace at
    // position 2..7, never the head) matched against the 300-entry
    // canonical dictionary at edit distance <= 2 WITHOUT an all-pairs
    // cross: the mention side explodes its +-2 plausible lengths and
    // equi-joins (length, first char); exact levenshtein filters the
    // block's candidates. The oracle replays the same mutations and
    // the same distance predicate declaratively.
    "q162_fuzzy_join" -> ((s, dir) => {
      import graft.llm.Fuzzy
      val canon = s.range(300).select(col("id").as("entity"),
        substring(md5(col("id").cast("string")), 1, 8).as("name"))
      val mentions = Tables(s, dir, "documents").select(col("doc_id"))
        .withColumn("__e", col("doc_id") % 300)
        .withColumn("__b", substring(md5(col("__e").cast("string")), 1, 8))
        .withColumn("__p", (lit(2) + col("doc_id") % 6).cast("int"))
        .withColumn("mention",
          when(col("doc_id") % 4 === 0, col("__b"))
            .when(col("doc_id") % 4 === 1,
              concat(col("__b").substr(lit(1), col("__p") - 1),
                col("__b").substr(col("__p") + 1, lit(99))))
            .when(col("doc_id") % 4 === 2,
              concat(col("__b").substr(lit(1), col("__p")),
                col("__b").substr(col("__p"), lit(99))))
            .otherwise(
              concat(col("__b").substr(lit(1), col("__p") - 1), lit("z"),
                col("__b").substr(col("__p") + 1, lit(99)))))
        .select(col("doc_id"), col("mention"))
      Fuzzy.blockedJoin(mentions, canon, "mention", "name", maxDist = 2)
        .select(col("doc_id"), col("mention"), col("entity"), col("name"),
          col("lev").cast("long").as("lev"))
        .ordered(col("doc_id"), col("entity"))
    }),

    // ---- LLM ops: PPS systematic weighted sample ------------------------
    // q66's uniform thinning answers "sample 10% of DOCS"; a mixture
    // builder needs "sample ~k docs proportional to TOKEN mass" so the
    // sampled token budget is near-uniform. Deterministic systematic
    // PPS: hash-ordered rows, integer cumulative weights, a row selected
    // iff its [cum-w, cum) interval contains a stride boundary — pure
    // long arithmetic (div floors), zero floats, replayed exactly by
    // the oracle. The cumsum rides the two-pass per-partition-offsets
    // shape, never a single-task global window.
    "q160_pps_sample" -> ((s, dir) => {
      import graft.llm.Mix
      Mix.ppsSample(Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "n_chars", 500)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: intra-document repetition ratio (quality signal) ------
    // The Gopher/RefinedWeb-style repetition rule: fraction of duplicate
    // token 3-grams within each document (1 - distinct/total). Reuses the
    // single-pass codegen'd shingle kernel for the distinct count and
    // tokenCount for the total (total 3-grams = n_tokens - 2) — a pure
    // projection, no shuffle, no second tokenization pass.
    "q68_repetition_ratio" -> ((s, dir) => {
      val nt = coalesce(TextStats.tokenCount(col("text")).cast("long"), lit(0L))
      val total = greatest(nt - 2, lit(0L))
      Tables(s, dir, "documents")
        .select(col("doc_id"), total.as("n_grams"),
          when(total > 0, size(Dedup.shingles(col("text"), 3)).cast("long"))
            .otherwise(lit(0L)).as("n_distinct"))
        .withColumn("rep_ratio",
          when(col("n_grams") > 0,
            floor((lit(1.0) - col("n_distinct").cast("double") /
              col("n_grams").cast("double")) * 1e6 + 0.5) / 1e6)
            .otherwise(lit(0.0)))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: stride-window chunking (context-window generator) -----
    // Split each doc's tokens into overlapping windows of 32 with stride
    // 16 — the chunking every RAG/embedding/training-context pipeline
    // runs before encoding. A generator (posexplode over the start
    // sequence) + per-row slice: no shuffle, output ~n_tokens/stride rows
    // per doc, chunk_id == start/stride by construction. The tail chunk
    // is short rather than dropped (every token lands in ≥1 chunk).
    "q69_chunk_windows" -> ((s, dir) => {
      val win = 32
      val stride = 16
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
      d.select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride)))
            .as(Seq("chunk_id", "start")))
        .withColumn("chunk", slice(col("toks"), col("start") + 1, lit(win)))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("start").cast("long").as("start"),
          size(col("chunk")).cast("long").as("n_tokens"),
          array_join(col("chunk"), " ").as("chunk_text"))
        .ordered(col("doc_id"), col("chunk_id"))
    }),

    // ---- Streaming ingest-time dedup gate (T4 + q12's spine on a stream).
    // The full Structured Streaming machinery (file source -> watermark ->
    // dropDuplicatesWithinWatermark state store -> append sink) gates
    // bag-of-words duplicate docs at ingest; batch-equivalence is the
    // oracle (DISTINCT fingerprints — the kept-row identity is arrival-
    // order-dependent, so only the deterministic fingerprint column is
    // emitted; StreamsSpec pins the row-level late/duplicate semantics).
    // Event time synthesized from doc_id: the fixture docs carry no
    // timestamp, and the watermark needs one. Offset +1s so doc_id 0
    // lands strictly after the initial epoch-0 watermark (a row AT the
    // watermark is late by the strict-inequality rule and silently
    // dropped — measured: doc 0 vanished without the offset).
    "q71_stream_dedup" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q71_mem_${System.nanoTime()}", "append") { sc =>
        val stream = Tables.stream(sc, dir, "documents")
          .withColumn("evt",
            timestamp_micros((col("doc_id") + 1) * 1000000L))
        Streams.dedupByFingerprint(stream, "text", "evt", "1 minute")
          .select("fingerprint")
      }.ordered(col("fingerprint"))
    }),

    // ---- Multimodal: REAL PNG pixel decode (inflate + unfilter) ---------
    // Per doc: synthesize a small PNG whose pixel bytes follow a closed
    // formula of doc_id (gray for even ids, RGB for odd; every scanline
    // filter type 0-4 exercised by Png.encode's y%5 choice), push it
    // through the REAL decoder (zlib inflate + None/Sub/Up/Average/Paeth
    // unfiltering), and emit per-image pixel stats. The oracle recomputes
    // the stats arithmetically from the formula — if any filter branch,
    // the inflate loop, or the raster indexing were wrong, the stats
    // hash-diverge. Generation + decode are one mapPartitions pass; only
    // fixed-width stats ever ride a shuffle (rasters stay inside the
    // partition), which is the 100 TB posture for any media decode.
    "q70_png_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 4 + (id % 5).toInt
            val h = 4 + (id % 3).toInt
            val c = if (id % 2 == 0) 1 else 3
            val px = Array.tabulate(w * h * c)(i =>
              ((id * 31 + i.toLong * 7) % 256).toByte)
            Binary.MediaRow(id, Png.encode(Png.Image(w, h, c, px)),
              "image", "png")
          }
        }
      Binary.decodeImage(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_px"), col("mean_px"), col("min_px"), col("max_px"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: perceptual image fingerprint (dHash) ---------------
    // Image near-dup detection over REAL decoded pixels: q70's PNG
    // pipeline continued past stats to a perceptual difference-hash —
    // horizontal luma gradient signs packed into a 64-bit fingerprint,
    // integer-exact end to end (integer luma, no float anywhere). Band
    // the hash with the SimHash machinery for corpus-wide image dedup.
    // The fixture's closed-form pixels let the oracle recompute every
    // DECODED byte and the full hash in SQL — the decode is verified a
    // second way, through a downstream consumer.
    "q91_image_dhash" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 4 + (id % 5).toInt
            val h = 4 + (id % 3).toInt
            val c = if (id % 2 == 0) 1 else 3
            val px = Array.tabulate(w * h * c)(i =>
              ((id * 31 + i.toLong * 7) % 256).toByte)
            Binary.MediaRow(id, Png.encode(Png.Image(w, h, c, px)),
              "image", "png")
          }
        }
      Binary.imageDhash(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("dhash"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL box-filter image resize (3x3 pooling) ---------
    // The resize step of an image preprocessing pipeline over q70's
    // closed-form fixture: real PNG decode, integer luma, average-pool
    // onto a 3x3 grid with standard integer box edges (ox*w/3 floor
    // division — uneven boxes absorb the remainder). Per cell: box luma
    // sum, pixel count, floor-average — all integer, so the oracle
    // replays the pooling bit-for-bit from the pixel formula.
    "q93_image_resize" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 4 + (id % 5).toInt
            val h = 4 + (id % 3).toInt
            val c = if (id % 2 == 0) 1 else 3
            val px = Array.tabulate(w * h * c)(i =>
              ((id * 31 + i.toLong * 7) % 256).toByte)
            Binary.MediaRow(id, Png.encode(Png.Image(w, h, c, px)),
              "image", "png")
          }
        }
      Binary.imageResize(media, outW = 3, outH = 3)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("oy").cast("long").as("oy"),
          col("ox").cast("long").as("ox"),
          col("px_sum"), col("px_n"), col("px_avg"))
        .ordered(col("doc_id"), col("oy"), col("ox"))
    }),

    // ---- Multimodal: windowed audio features (energy + ZCR) -------------
    // q72's WAV pipeline continued past stats: the decoded PCM framed
    // into 32-sample windows, each reduced to total absolute amplitude
    // and the zero-crossing count — the integer-exact front half of an
    // acoustic fingerprint (q91's story for audio). The oracle replays
    // the framing and both features from the fixture's closed-form
    // samples, re-verifying the RIFF/PCM decoder through a downstream
    // consumer.
    "q92_audio_frames" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = 64 + (id % 129).toInt
            val ch = if (id % 3 == 0) 1 else 2
            val samples = Array.tabulate(n)(i =>
              (((id * 131 + i.toLong * 17) % 65536) - 32768).toShort)
            Binary.MediaRow(id,
              Wav.encode(Wav.Clip(8000 + (id % 5).toInt * 4000, ch, samples)),
              "audio", "wav")
          }
        }
      Binary.audioFrames(media, frameSize = 32)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("frame"), col("sum_abs"), col("zero_crossings"))
        .ordered(col("doc_id"), col("frame"))
    }),

    // ---- Multimodal: REAL video frame sampling + decode (AVI/DIB) -------
    // The video analogue of q70: per doc, synthesize a closed-form
    // uncompressed-DIB AVI (2-4 frames whose pixel bytes follow a formula
    // of doc_id and frame index), demux + decode through the REAL RIFF
    // container walk (bottom-up BGR padded rows -> top-down RGB), sample
    // every 2nd frame, and reduce each sampled raster to integer luma
    // stats. The oracle replays the sampling and the luma arithmetic from
    // the formula — a wrong row flip, BGR swap, pad handling, or chunk
    // walk hash-diverges. Explode-before-shuffle: rasters never leave
    // the partition, only fixed-width stats do (the 100 TB posture).
    "q94_video_frames" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 4 + (id % 5).toInt
            val h = 4 + (id % 3).toInt
            val nf = 2 + (id % 3).toInt
            val frames = Array.tabulate(nf) { f =>
              Array.tabulate(w * h * 3)(j =>
                ((id * 31 + f.toLong * 97 + j.toLong * 7) % 256).toByte)
            }
            Binary.MediaRow(id, Avi.encode(Avi.Video(w, h, frames)),
              "video", "avi")
          }
        }
      Binary.videoFrames(media, stride = 2)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("luma_sum"), col("luma_min"), col("luma_max"))
        .ordered(col("doc_id"), col("frame_idx"))
    }),

    // ---- Multimodal: REAL compressed-audio decode #1 (G.711 mu-law) -----
    // q72 extended to genuinely COMPRESSED audio: the fixture samples are
    // companded 2:1 through the real mu-law encoder, decoded back by the
    // real expander, and reduced to per-clip stats. mu-law is stateless
    // per byte, so the oracle replays compress-then-expand per sample in
    // closed form (clip+bias, segment by threshold CASE, mantissa by
    // integer shifts) — bit-exact against the ITU segment arithmetic.
    "q95_ulaw_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = 64 + (id % 129).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * 131 + i.toLong * 17) % 65536) - 32768).toShort)
            Binary.MediaRow(id, Wav.encodeUlaw(Wav.Clip(8000, 1, samples)),
              "audio", "wav")
          }
        }
      Binary.decodeAudio(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("n_samples"), col("mean_amp"), col("rms"), col("peak"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL compressed-audio decode #2 (IMA ADPCM) --------
    // The adaptive codec: 4:1 compression where every decoded sample
    // depends on the full predictor/step-index state walk before it. The
    // Spark side runs the real encoder + decoder; the oracle replays the
    // combined encode-decode state machine as a recursive CTE over the
    // public step/index-adjust tables — if any nibble bit, clamp, table
    // entry, or the cross-sample state threading were wrong, every
    // downstream sample (and the stats hash) diverges. Fixture sized to
    // one ADPCM block; multi-block state carry is pinned by WavSpec.
    "q96_adpcm_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = 16 + (id % 17).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * 131 + i.toLong * 17) % 65536) - 32768).toShort)
            Binary.MediaRow(id, Wav.encodeAdpcm(Wav.Clip(8000, 1, samples)),
              "audio", "wav")
          }
        }
      Binary.decodeAudio(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("n_samples"), col("mean_amp"), col("rms"), col("peak"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: DSIR importance resampling (target vs raw LM ratio) ---
    // Data selection via importance resampling (Xie et al.): pick the
    // raw-corpus docs most "target-like" by the ratio of in-distribution
    // masses under a target-domain LM vs a raw-corpus LM. One corpus
    // pass scores both models (single explode, two broadcast vocab
    // joins — tokenizing 100 TB twice would double the dominant cost);
    // the log-free ratio keeps cross-engine exactness (see dsirWeights).
    // Selection is deterministic top-K on (weight desc, id asc) —
    // orderBy+limit compiles to TakeOrderedAndProject: per-partition
    // heads, no global sort, no RangePartitioner sampling pass.
    "q97_dsir_select" -> ((s, dir) => {
      import graft.llm.UnigramLm
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val target = docs.filter(col("source").isin("src0", "src1", "src2"))
      val tModel = UnigramLm.fit(target, "text", vocabSize = 20)
      val rModel = UnigramLm.fit(docs, "text", vocabSize = 20)
      UnigramLm.dsirWeights(docs, "doc_id", "text", tModel, rModel)
        .orderBy(col("dsir_w").desc, col("doc_id").asc)
        .limit(100)
    }),

    // ---- LLM ops: CCNet quality partitioning (head/middle/tail) ---------
    // Wenzek et al.'s perplexity-bucket step on q79's score: cut the
    // corpus at the EXACT score terciles — affordable at corpus scale
    // because mean_p is 1e-6-quantized, so the percentile aggregator's
    // value→count state is domain-bounded (~1e6 entries), not row-
    // bounded. The cuts re-enter as a one-row broadcast (documented
    // NLJ — PlanAuditSpec); ties on a cut land in the higher bucket.
    "q98_ccnet_buckets" -> ((s, dir) => {
      import graft.llm.UnigramLm
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val vocab = UnigramLm.fit(docs, "text", vocabSize = 20)
      val scored = UnigramLm.score(docs, "doc_id", "text", vocab)
      UnigramLm.qualityBuckets(scored, "mean_p")
        .select(col("doc_id"), col("mean_p"), col("bucket"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: BM25 keyword relevance (linear-idf, engine-exact) -----
    // Two passes, zero joins: corpus stats (N, avgdl, per-term df) land
    // in one driver-sized row and re-enter the scoring projection as
    // plan literals (the IVF centroid discipline). linearIdf keeps every
    // float op at +,*,/ — ln is not bit-identical across engines (q59's
    // documented dodge) — so the oracle reproduces scores exactly; the
    // log being monotone, per-term rankings are unchanged.
    "q74_bm25" -> ((s, dir) => {
      Rank.bm25(Tables(s, dir, "documents"), "doc_id", "text",
          terms = bm25Terms)
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: incremental dedup against a persisted index -----------
    // The production ingest shape: docs with doc_id % 3 != 0 stand in for
    // the already-deduped corpus whose identity (fingerprints + MinHash
    // sigs + LSH band keys) is persisted; the % 3 == 0 docs are the new
    // batch, admitted or rejected via equi-join probes of that index —
    // the corpus text is never re-read, re-shingled, or re-shuffled.
    // hashMode=md5 so the oracle recomputes fingerprints, signatures,
    // banding AND the admission rules in SQL (the q17 technique);
    // production keeps murmur3. Reasons are deterministic: priority
    // exact_index > exact_batch > near_index > near_batch, earlier
    // (smaller-id) sibling wins within the batch.
    "q75_incremental_dedup" -> ((s, dir) => {
      import graft.llm.DedupIndex
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val cfg = DedupIndex.Config(hashMode = "md5")
      val path = scratchDir("dedupidx", dir) + "/idx"
      DedupIndex.build(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", path, cfg)
      DedupIndex.admissions(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", path, cfg)
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: REAL BPE tokenization (fit + codegen'd apply) ---------
    // Classic byte-pair encoding: merge rules learned from the corpus's
    // word histogram (one groupBy shuffle; greedy loop on the
    // vocabulary-sized histogram, which is how BPE trains everywhere),
    // then applied as a SINGLE codegen'd projection — the bracketed
    // replace-fold encoding in Bpe.applyBpe, no UDF, no per-row
    // interpreter, no shuffle. The learned merges are recorded per dir
    // and inlined into the oracle (the q39 centroid technique), which
    // replays the identical replace fold as a recursive CTE — the
    // tokenization itself is hash-checked, not just row counts. BpeSpec
    // separately proves the encoding equals the textbook per-word
    // algorithm on this corpus.
    "q76_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val merges = bpeState.getOrFit(dir)(
        Bpe.fit(docs, "text", numMerges = Q76Merges))
      docs.select(col("doc_id"),
          Bpe.applyBpe(col("text"), merges).as("bpe_tokens"))
        .withColumn("n_bpe",
          when(length(col("bpe_tokens")) === 0, lit(0L))
            .otherwise(size(split(col("bpe_tokens"), " ")).cast("long")))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: keep-best dedup (cluster representative selection) ----
    // The production keep rule composed from three verified pieces:
    // MinHash-LSH near-dup pairs (q17's md5 mode), connected components
    // (q34/q67's machinery), and the quality score (q21) — each duplicate
    // cluster keeps its HIGHEST-QUALITY member (ties to min id; exact
    // copies tie on score by construction), not the arbitrary min id.
    // Emits the full (doc -> group, keeper) mapping for provenance.
    "q83_keep_best" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val scored = docs.select(col("doc_id"),
        TextStats.qualityScore(col("text")).as("quality"))
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text", shingleK = 3,
        bands = 8, rowsPerBand = 4, threshold = 0.6, hashMode = "md5")
      Dedup.keepBest(scored, "doc_id", "quality", pairs, "id_a", "id_b")
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: Gopher line-repetition quality rules ------------------
    // Rae et al. 2021 (Gopher, arXiv:2112.11446 Table A1) repetition
    // filters at LINE granularity, complementing q68's trigram ratio: the
    // fraction of non-empty lines that duplicate another line of the SAME
    // document, and the fraction of characters those duplicated lines
    // hold; keep = both under the published thresholds (0.30 / 0.20).
    // Shape: explode lines -> (doc, line) count -> per-doc agg — two
    // partial-agg shuffles whose keys stay inside the doc's hash space,
    // and after the first agg only (count, length) ride, not text.
    // Scan-bound at 100 TB.
    "q84_line_repetition" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val lines = docs.select(col("doc_id"),
        explode(filter(split(col("text"), "\n"),
          l => length(trim(l)) > 0)).as("line"))
      val perLine = lines
        .withColumn("ln", length(col("line")).cast("long"))
        .groupBy(col("doc_id"), col("line"), col("ln"))
        .agg(count(lit(1)).as("cnt"))
      val perDoc = perLine.groupBy("doc_id").agg(
        sum(col("cnt")).as("n_lines"),
        count(lit(1)).as("n_distinct_lines"),
        sum(when(col("cnt") > 1, col("ln") * col("cnt")).otherwise(lit(0L)))
          .as("dup_chars"),
        sum(col("ln") * col("cnt")).as("tot_chars"))
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_lines", coalesce(col("n_lines"), lit(0L)))
        .withColumn("n_distinct_lines",
          coalesce(col("n_distinct_lines"), lit(0L)))
        .withColumn("dup_line_frac", when(col("n_lines") > 0,
          r6((col("n_lines") - col("n_distinct_lines")).cast("double") /
            col("n_lines").cast("double"))).otherwise(lit(0.0)))
        .withColumn("dup_char_frac",
          when(coalesce(col("tot_chars"), lit(0L)) > 0,
            r6(col("dup_chars").cast("double") /
              col("tot_chars").cast("double"))).otherwise(lit(0.0)))
        .withColumn("keep", (col("dup_line_frac") <= 0.3 &&
          col("dup_char_frac") <= 0.2).cast("int"))
        .select(col("doc_id"), col("n_lines"), col("n_distinct_lines"),
          col("dup_line_frac"), col("dup_char_frac"), col("keep"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: corpus-wide paragraph dedup (CCNet granularity) -------
    // Wenzek et al. 2020 (CCNet) dedup at PARAGRAPH granularity: exact
    // duplicate paragraphs (non-whitespace lines) are removed CORPUS-wide
    // keeping the first occurrence (min doc_id, then min position), and
    // each doc is reassembled from its surviving paragraphs in original
    // order. Deliberately WINDOWLESS: a row_number over para content
    // sends every copy of a hot paragraph ("all rights reserved" x 10^8
    // at corpus scale) to ONE partition; min(struct(doc_id, pos)) is the
    // same first-occurrence rule as a partial-aggregable min — hot
    // paragraphs collapse map-side before the shuffle, and the agg's
    // output IS the keeper row set, no join back. Then one doc_id
    // shuffle reassembles. Docs whose every paragraph loses vanish from
    // the output (nothing left to emit).
    "q85_paragraph_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val paras = docs.select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("pos", "para")))
        .filter(length(trim(col("para"))) > 0)
      val keepers = paras
        .groupBy("para")
        .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
        .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"),
          col("para"))
      keepers.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x("para")), "\n").as("new_text"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: seeded deterministic shuffle + sharding ---------------
    // Reproducible global training order: each doc draws a 31-bit key from
    // the cross-engine md5 kernel under a literal salt, lands in
    // shard = key mod 8, and gets a dense 1-based position within its
    // shard by (key, doc_id) order. Position is NOT one window over 8
    // shard-sized partitions (that serializes the corpus through 8 tasks)
    // — it is q65's distributed prefix sum: 256 range buckets per shard
    // from the key's top bits, a driver-sized (shard, bucket) offset
    // table re-entering as a broadcast, bucket-local row_number + offset.
    // The oracle is the semantic definition (one ROW_NUMBER per shard) —
    // hash equality proves the distributed decomposition exact.
    "q86_seeded_shuffle" -> ((s, dir) => {
      val nShards = 8
      val u = shiftrightunsigned(call_function("md5_lower64",
        concat(lit("shuf42:"), col("doc_id").cast("string"))), 33)
      val keyed = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), u.as("u"))
        .withColumn("shard", (col("u") % nShards).cast("int"))
        .withColumn("bucket", shiftrightunsigned(col("u"), 23).cast("int"))
      val offsets = keyed.groupBy("shard", "bucket").count()
        .withColumn("offset",
          sum(col("count")).over(Window.partitionBy("shard")
            .orderBy("bucket")) - col("count"))
        .select("shard", "bucket", "offset")
      val wb = Window.partitionBy("shard", "bucket")
        .orderBy(asc("u"), asc("doc_id"))
      keyed.join(broadcast(offsets), Seq("shard", "bucket"))
        .withColumn("pos",
          (row_number().over(wb) + col("offset")).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: length-bucketed packing (padding efficiency) ----------
    // q65's packing keyed by LENGTH BUCKET instead of source: grouping
    // docs of similar token count before first-fit packing is the
    // standard padding-waste lever for fixed-budget training batches.
    // Bucket = floor(log2(n))+1 computed as the BINARY-STRING LENGTH
    // (length(bin(n)) here, length(format('{:b}',n)) in DuckDB) — integer-
    // exact in both engines, where a float log2 could straddle a power of
    // two differently. Same distributed prefix-sum scale path as q65.
    "q82_bucketed_pack" -> ((s, dir) => {
      val nTokens =
        coalesce(TextStats.tokenCount(col("text")).cast("long"), lit(0L))
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), nTokens.as("n_tokens"))
        .withColumn("len_bucket",
          length(bin(greatest(col("n_tokens"), lit(1L)))).cast("long"))
      Pack.packSequences(docs, "doc_id", "len_bucket", "n_tokens",
          budget = 2048)
        .select("doc_id", "len_bucket", "n_tokens", "pack_id")
        .ordered(col("len_bucket"), col("doc_id"))
    }),

    // ---- LLM ops: temperature source mixing (training-mix sampling) -----
    // The multilingual/multi-domain mixing rule: per-source representation
    // follows n^0.5 instead of raw counts (rare sources upweighted),
    // solved by driver-side waterfilling over the tiny source histogram
    // and applied as a deterministic hash-coin filter (q66's md5 uniform —
    // repeatable, externally recomputable, unlike rand()). Pure filter
    // projection: no shuffle at any scale. alpha=0.5, target = half the
    // corpus; the learned rates are recorded per dir and inlined into the
    // oracle (the q76-merges mechanism).
    "q80_temperature_mix" -> ((s, dir) => {
      import graft.llm.Mix
      val docs = Tables(s, dir, "documents")
      val counts = docs.groupBy("source").count().collect()
        .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      val total = counts.values.sum
      val rates = Mix.temperatureRates(counts, alpha = 0.5,
        targetRows = total / 2)
      mixRatesState.record(dir, rates)
      Mix.sample(docs, "doc_id", "source", rates)
        .select("doc_id", "source")
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: int8-quantized similarity (the 4x memory lever) -------
    // q19's brute-force top-k re-run in the QUANTIZED domain: symmetric
    // per-vector int8 (floor(x/max|x|*127 + 0.5)), cosine scored with
    // exact integer sums (the scales cancel), quarter the candidate
    // bytes at any scale. Deterministic end to end — integer dots are
    // order-free and the few float ops (sqrt, divide, floor-round) are
    // IEEE-identical — so the oracle recomputes quantization AND scoring
    // exactly. QuantSpec pins recall vs the float top-k (>= 0.9).
    "q81_quantized_topk" -> ((s, dir) => {
      import graft.llm.Quant
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb
        .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      Quant.quantizedTopK(queries, corpus, k = 5)
        .ordered(col("qid"), col("rank"))
    }),

    // ---- LLM ops: unigram LM scoring (perplexity-proxy quality) ---------
    // Fit an MLE unigram model on the corpus (top-20 vocab — smaller than
    // the fixture's ~31 types, so the OOV path does real work) and score
    // each doc's mean in-vocab probability. Fit AND apply are both
    // recomputed by the oracle in SQL — no run-state needed. Exactness
    // via per-token 1e-9 floor-round + DECIMAL sum (order-free), no logs
    // (ln is not bit-identical across engines — the q74 lesson).
    "q79_unigram_lm" -> ((s, dir) => {
      import graft.llm.UnigramLm
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val vocab = UnigramLm.fit(docs, "text", vocabSize = 20)
      UnigramLm.score(docs, "doc_id", "text", vocab)
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: bigram LM scoring (context-sensitive tier) ------------
    // q79's signal with context: mean conditional in-distribution mass
    // p(w2|w1) over the doc's adjacent pairs, against a corpus-fitted
    // top-20 bigram table. Same log-free decimal-sum parity discipline
    // (ln is not bit-identical across engines); the bigram construction
    // is one zip_with projection, never a positional self-join.
    "q87_bigram_lm" -> ((s, dir) => {
      import graft.llm.UnigramLm
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val model = UnigramLm.fitBigrams(docs, "text", vocabSize = 20)
      UnigramLm.scoreBigrams(docs, "doc_id", "text", model)
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: coverage-targeted vocab pruning + OOV rate ------------
    // Tokenizer-training vocabulary selection: the smallest
    // high-frequency vocabulary covering >= 90% of corpus token mass
    // (exact integer coverage test — see coverageVocab), then each doc's
    // OOV rate against it — the signal that decides whether a tokenizer
    // retrain is due and which docs a frozen vocab serves badly. The
    // vocab is broadcast (vocab-sized, not corpus-sized).
    "q88_vocab_coverage" -> ((s, dir) => {
      import graft.llm.UnigramLm
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val vocab = UnigramLm.coverageVocab(docs, "text", num = 9, den = 10)
      val toks = docs.select(col("doc_id").as("__doc"),
        explode_outer(TextStats.tokens(lower(col("text")))).as("tok"))
      toks.join(broadcast(vocab.withColumn("__in", lit(1))),
          Seq("tok"), "left")
        .groupBy("__doc")
        .agg(count(col("tok")).as("n_tokens"),
          count(when(col("tok").isNotNull && col("__in").isNull, 1))
            .as("n_oov"))
        .select(col("__doc").as("doc_id"), col("n_tokens"), col("n_oov"),
          when(col("n_tokens") === 0, lit(0.0))
            .otherwise(floor(col("n_oov").cast("double") /
              col("n_tokens") * 1e6 + 0.5) / 1e6).as("oov_rate"))
        .ordered(col("doc_id"))
    }),

    // ---- Streaming point-in-time as-of enrichment (q08 live) ------------
    // The feature store's training-serving-skew guarantee on a live
    // stream: each even-id event is enriched with the NEWEST odd-id
    // "feature update" of the same user as of the event's time, within a
    // 6-hour lookback — two chained watermark-bounded stateful
    // operators (interval join, then windowed max_by as-of selection),
    // resolved by event time with a deterministic tie-break. The oracle
    // is the equivalent batch as-of join in SQL. Sentinel rows (unused
    // keys, +1 day) are unioned onto BOTH inputs so the bounded source's
    // final watermark clears every real window — a production stream
    // advances it naturally (see streamAsofEnrich scaladoc).
    "q77_stream_asof" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q77_mem_${System.nanoTime()}", "append") { sc =>
      val schema = Tables(sc, dir, "events").schema
      def raw = Tables.stream(sc, dir, "events")
        .withColumn("ts_us", Tables.tsUsOf(schema))
      // sentinel shift must clear the WHOLE span plus the lookback: the
      // agg's effective watermark trails the join inputs' by the join's
      // event-time range, and sentinels derive from rows spread across
      // the ~30-day fixture span — a +1 day shift would leave most of
      // them inside the span and strand the final lookback's windows
      val dayUs = 32L * 86400000000L
      // Sentinel keys that can never equal a data key OR each other — the
      // two sides' sentinels must not join, and adversarial fixtures may
      // contain small negative ids. NO post-aggregation sentinel filter:
      // a predicate like event_id >= 0 is pushed by Catalyst through the
      // agg and join into the union's sentinel branch, removing the
      // sentinel rows BEFORE the watermark node — which silently strands
      // the final lookback's windows (found the hard way; the inner join
      // on unmatched keys already keeps sentinels out of the output).
      val evKey = Long.MinValue + 1L
      val ftKey = Long.MinValue + 2L
      // data + sentinel branches ride ONE scan per side via branchRows
      // (was a 2-branch union = 2 file-source reads per side per
      // micro-batch); row multiset and watermark behavior identical
      val events = branchRows(raw, Seq(
        (col("event_id") % 2 === 0, struct(
          col("event_id"), col("user_id"), col("ts_us"),
          timestamp_micros(col("ts_us")).as("e_t"))),
        (col("event_id") % 1000 === 0, struct(
          lit(evKey).as("event_id"), lit(evKey).as("user_id"),
          (col("ts_us") + dayUs).as("ts_us"),
          timestamp_micros(col("ts_us") + dayUs).as("e_t")))))
      val feats = branchRows(raw, Seq(
        (col("event_id") % 2 === 1, struct(
          col("event_id").as("feat_id"), col("user_id"),
          col("value").as("feat_value"),
          timestamp_micros(col("ts_us")).as("f_t"))),
        (col("event_id") % 1000 === 1, struct(
          lit(ftKey).as("feat_id"), lit(ftKey).as("user_id"),
          lit(0.0).as("feat_value"),
          timestamp_micros(col("ts_us") + dayUs).as("f_t")))))
      Streams.streamAsofEnrich(events, feats, "user_id",
        "e_t", "f_t", delay = "10 seconds", lookback = "6 hours",
        eventCols = Seq("event_id", "user_id", "ts_us"),
        featureCols = Seq("feat_id", "feat_value"), tieBreak = "feat_id")
      }.ordered(col("event_id"), col("user_id"), col("ts_us"))
    }),

    // ---- LLM ops: PII redaction (emails/URLs/IPs/phones) ----------------
    // Corpus hygiene before training: typed placeholder substitution with
    // per-category counts, RE2-compatible patterns, fixed application
    // order (URL consumes embedded email/IP shapes). The fixture docs
    // carry no PII, so each doc gets deterministic synthesized PII from a
    // doc_id formula — the q70/q72 pattern: the inputs are closed-form,
    // the REDACTION is the real operator, and the oracle re-runs the same
    // regexes in SQL. Stateless projection; zero shuffles at any scale.
    "q78_pii_redact" -> ((s, dir) => {
      import graft.llm.Redact
      val d = col("doc_id")
      val pii = concat(col("text"),
        lit(" contact user"), d, lit("@mail"), d % 7,
        lit(".example.org via http://site"), d % 13,
        lit(".example.com/p/"), d,
        lit(" from "), d % 223 + 1, lit("."), d % 256, lit("."),
        (d * 7) % 256, lit("."), d % 250 + 1,
        lit(" call +1-"), d % 900 + 100, lit("-"),
        lpad((d % 10000).cast("string"), 4, "0"))
      val base = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(d, pii.as("s"))
      val cnts = Redact.counts(col("s"))
      base.select(d +: Redact.scrub(col("s")).as("redacted") +:
          cnts.map { case (cat, c) => c.as(s"n_$cat") }: _*)
        .ordered(d)
    }),

    // ---- LLM ops: benchmark decontamination (n-gram overlap) ------------
    // Every-17th doc stands in for the eval/benchmark set; flag corpus
    // docs sharing >= 3 distinct token 3-grams with any benchmark doc
    // (short fixture docs, hence k=3/minShared=3 where production runs
    // k=13/minShared=1). Inverted-index equi-join on the shingle value —
    // never corpus x benchmark all-pairs. Self-pairs excluded in the
    // query: a real benchmark set is disjoint from the corpus; here the
    // benchmark IS a corpus subset.
    "q73_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      Dedup.contaminationPairs(docs, "doc_id", "text",
          bench, "bench_id", "bench_text", shingleK = 3, minShared = 3)
        .filter(col("doc") =!= col("bench_doc"))
        .ordered(col("doc"), col("bench_doc"))
    }),

    // ---- LLM ops: contamination span removal (the q73 surgery step) -----
    // Lee et al.'s decontamination REMOVAL: excise every token span a
    // benchmark k-gram covers instead of dropping the whole doc. Same
    // every-17th-doc benchmark stand-in and k=3 as q73 (production runs
    // k=13); the corpus side excludes the benchmark docs (a real eval
    // set is disjoint — and a bench doc would otherwise self-scrub to
    // empty). Strict k-grams both sides: sub-k docs pass untouched.
    "q99_decontam_scrub" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select(col("text").as("bench_text"))
      Dedup.removeContaminatedSpans(
          docs.filter(col("doc_id") % 17 =!= 0), "doc_id", "text",
          bench, "bench_text", k = 3)
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL WAV PCM sample decode -------------------------
    // q70's audio twin: per doc, synthesize a RIFF/WAVE 16-bit PCM clip
    // whose samples follow a closed formula of doc_id, decode it through
    // the REAL chunk-walk + PCM reader (an ancillary LIST chunk is
    // planted before `data` so the walk is exercised, not just offset
    // 44), and emit per-clip amplitude stats. Sample sums and sums of
    // squares are exact in Long, so the only float arithmetic is one
    // divide, one sqrt, and the shared floor-rounding — the oracle
    // recomputes all of it from the formula. Same scale posture as q70:
    // decode inside the partition, only fixed-width stats ride shuffles.
    "q72_wav_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = 64 + (id % 129).toInt
            val ch = if (id % 3 == 0) 1 else 2
            val samples = Array.tabulate(n)(i =>
              (((id * 131 + i.toLong * 17) % 65536) - 32768).toShort)
            val wav = Wav.encode(Wav.Clip(8000 + (id % 5).toInt * 4000,
              ch, samples))
            // splice an ancillary LIST chunk between fmt and data so the
            // decoder must actually walk chunks (RIFF size field patched
            // to stay spec-conformant)
            val junk = Array[Byte]('L', 'I', 'S', 'T', 4, 0, 0, 0, 1, 2, 3, 4)
            val spliced = wav.take(36) ++ junk ++ wav.drop(36)
            val riffLen = (spliced.length - 8).toLong
            (0 until 4).foreach(i =>
              spliced(4 + i) = ((riffLen >> (8 * i)) & 0xff).toByte)
            Binary.MediaRow(id, spliced, "audio", "wav")
          }
        }
      Binary.decodeAudio(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_samples"), col("mean_amp"), col("rms"), col("peak"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: corpus-wide semantic dedup (LSH + cosine + CC) --------
    // The embedding-space analogue of q34: no query batch, the whole
    // corpus against itself — the shape that at 100 TB can only be a
    // bucket self-join (both sides unbounded, broadcast impossible).
    // Candidates meet inside (table, bucket) equi-join buckets, exact
    // cosine verifies, connected components collapses pair cliques into
    // linear groups. Approximate recall by design (hyperplane collision
    // bound); the oracle recomputes the identical LSH, so correctness of
    // everything downstream of the planes is exact.
    "q67_semantic_dedup" -> ((s, dir) => {
      val corpus = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      val pairs = Similarity.semanticDupPairs(corpus, dim = 64,
        minCos = 0.4, planes = 8, tables = 4)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").as("vec_id"), col("label").as("group_id"))
        .ordered(col("vec_id"))
    }),

    // ---- LLM ops: classifier-based quality/domain routing ---------------
    // The curation pipeline's classifier stage (GPT-3's quality filter /
    // LLaMA's "reference-like" filter shape): per-source unigram models
    // fitted in one corpus pass (exact scale-safe top-K per class — the
    // q88 length-bin prefilter), every doc scored against EVERY class in
    // one explode + one broadcast join, argmax class out. Log-free
    // class-conditional mass with decimal sums keeps both engines
    // bit-identical; ties route to the lexicographically smallest class.
    // self_routed (pred == actual source) doubles as a separability
    // report of the corpus mixture.
    "q100_class_route" -> ((s, dir) => {
      import graft.llm.UnigramLm
      // PRIMARY = the single-pass merged router (promoted round 17, the
      // r16 brief's #4): one tokenize, one broadcast probe of the merged
      // token -> per-class-numerator map (no K-way join fan-out), argmax
      // as an array projection, `source` riding the aggregation so the
      // self_routed flag costs no join-back. Row-identical to the
      // grid+window sibling by construction — VariantEquivalenceSpec
      // keeps the demoted sibling as the equivalence oracle twin.
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val model = UnigramLm.fitClassVocab(docs, "source", "text",
        vocabSize = 20)
      UnigramLm.routeByClassMerged(docs, "doc_id", "text", model,
          carry = Seq("source"))
        .select(col("doc_id"), col("pred_cls"), col("n_tokens"),
          col("mass"),
          (col("pred_cls") === col("source")).cast("long").as("self_routed"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: deterministic training-shard manifest ------------------
    // Corpus -> trainer packaging: content-addressed shard assignment
    // (md5 hash-mod — stable across re-runs/engines/partitionings, never
    // crawl-order-correlated) + the per-shard manifest a loader validates
    // against: doc/token/byte counts, id range, and an order-free integer
    // checksum. Assignment is a zero-shuffle projection; the manifest is
    // one nShards-group map-side-combined aggregation.
    "q101_shard_manifest" -> ((s, dir) => {
      import graft.llm.Shards
      val docs = Tables(s, dir, "documents")
      Shards.manifest(Shards.assign(docs, "doc_id", nShards = 8),
          "doc_id", "text", "n_chars")
        .ordered(col("shard"))
    }),

    // ---- LLM ops: cross-source n-gram overlap (mixture diversity) --------
    // Pairwise Jaccard overlap of per-source distinct 3-shingle sets —
    // the audit a mixture designer reads before weighting sources (two
    // near-identical sources would be double-weighted). The shingle-keyed
    // self-join is structurally capped: after the per-source distinct, a
    // shingle joins at most C(#sources,2) pairs.
    "q102_source_overlap" -> ((s, dir) => {
      Dedup.crossGroupOverlap(
          Tables(s, dir, "documents").filter(col("text").isNotNull),
          "source", "text", k = 3)
        .ordered(col("g_a"), col("g_b"))
    }),

    // ---- Streaming SESSION windows through the real machinery (T7) ------
    // q32's sessionization run as a stream: watermarked session_window
    // state (merging session store), append mode, AvailableNow — the
    // batch oracle IS the contract, like q63/q71. A sentinel user at
    // +32 days advances the global watermark past every real session's
    // end so the bounded source flushes them (the q77 technique); the
    // sentinel's own sessions are excluded AFTER the memory sink
    // collects — a driver-local filter on the materialized result, NOT a
    // predicate in the streaming plan (Catalyst would push it through
    // the agg into the union's sentinel branch, removing the watermark
    // driver before it acts — the q77 lesson).
    "q103_stream_session" -> ((s, dir) => {
      val sentKey = Long.MinValue + 1L
      Streams.runToMemoryIsolated(s,
          s"q103_mem_${System.nanoTime()}", "append") { sc =>
      val schema = Tables(sc, dir, "events").schema
      def raw = Tables.stream(sc, dir, "events")
        .withColumn("ts_us", Tables.tsUsOf(schema))
      val dayUs = 32L * 86400000000L
      // data + sentinel branches on ONE scan (branchRows — was a
      // 2-branch union = 2 file-source reads per micro-batch)
      val withSent = branchRows(raw, Seq(
        (lit(true), struct(col("user_id"), col("ts_us"))),
        (col("event_id") % 1000 === 0, struct(
          lit(sentKey).as("user_id"),
          (col("ts_us") + dayUs).as("ts_us")))))
        .withColumn("e_t", timestamp_micros(col("ts_us")))
        .withWatermark("e_t", "10 seconds")
      val sess = withSent
        .groupBy(col("user_id"),
          session_window(col("e_t"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("w.start")).as("s_start"),
          unix_micros(col("w.end")).as("s_end"), col("n"))
      sess
      }
        // null-SAFE exclusion: a plain =!= would silently drop NULL-key
        // sessions (adversarial fixtures carry NULL user_ids; the oracle
        // sessionizes them as a group like any other)
        .filter(!(col("user_id") <=> lit(sentKey)))
        .ordered(col("user_id"), col("s_start"))
    }),

    // ---- Corpus ops: snapshot diff (CDC between corpus versions) --------
    // Yesterday's corpus vs today's, simulated deterministically from one
    // table: docs absent on one side (% 7 buckets) and a mutated-text
    // band (% 11) classify added/removed/changed/unchanged through the
    // null-safe content-hash full-outer join — the audit that sizes what
    // an incremental pipeline (q75's index, the ingest spine) re-runs.
    "q104_snapshot_diff" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text")))
      val nw = docs.filter(col("doc_id") % 7 =!= 5)
      Dedup.snapshotDiff(old, nw, "doc_id", "text")
        .ordered(col("doc_id"))
    }),

    // ---- Corpus ops: vocabulary drift between snapshots -----------------
    // The data-drift monitor between crawls: top-50 token distributions
    // of two snapshot halves, full-outer joined, per-token probability
    // gap. Log-free (no KL/JS — ln is not bit-identical across engines);
    // 0.5 * sum(delta) over the rows is the head-scoped total-variation
    // distance.
    "q105_vocab_drift" -> ((s, dir) => {
      import graft.llm.UnigramLm
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      UnigramLm.vocabDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "text", vocabSize = 50)
        .ordered(col("tok"))
    }),

    // ---- Corpus ops: HTML/markup text extraction ------------------------
    // The crawl->text stage (trafilatura-lite): the fixture text is
    // wrapped in three deterministic page templates (head/style + body,
    // div + trailing script whose STRING PAYLOAD contains a tag, plain
    // passthrough) plus an entity-bearing footer, then stripped back by
    // the regexp fold — an encode->extract round-trip (the q70/q72
    // codec discipline), so tag removal, script-payload discard, entity
    // decode order, and whitespace normalization are all hash-checked.
    "q106_html_strip" -> ((s, dir) => {
      val t = col("text")
      val page = when(col("doc_id") % 3 === 0,
          concat(lit("<html><head><style>p{color:red}</style></head>" +
            "<body><h1>Title</h1>\n<p>"), t,
            lit("</p><p>&amp;copy; 2024 &lt;graft&gt;</p></body></html>")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("<div class=\"a\">\t"), t,
            lit("</div><script>var x = \"<p>\";</script>")))
        .otherwise(t)
      Tables(s, dir, "documents")
        .select(col("doc_id"), page.as("page"))
        .select(col("doc_id"),
          TextStats.stripMarkup(col("page")).as("clean_text"),
          (length(col("page")) -
            length(TextStats.stripMarkup(col("page")))).as("n_stripped"))
        .ordered(col("doc_id"))
    }),

    // ---- Corpus ops: Unicode NFC canonicalization -----------------------
    // Dedup-prep normalization: composed (U+00E9) and decomposed
    // (e + U+0301) spellings are byte-different, so every fingerprint
    // operator treats them as distinct docs until NFC'd. The fixture
    // text is ASCII, so the round-trip synthesizes the interesting
    // cases: a decomposed-diacritic suffix (must compose), the composed
    // twin (already NFC — byte-identical passthrough), and decomposed
    // Hangul jamo (L+V must compose to the syllable). DuckDB's
    // nfc_normalize implements the same public Unicode algorithm, so
    // the normalized TEXT (not just flags) is hash-checked.
    "q107_nfc_normalize" -> ((s, dir) => {
      val t = col("text")
      val mixed = when(col("doc_id") % 4 === 0,
          concat(t, lit(" cafe\u0301")))   // decomposed e + combining acute
        .when(col("doc_id") % 4 === 1,
          concat(t, lit(" caf\u00e9")))     // composed e-acute (already NFC)
        .when(col("doc_id") % 4 === 2,
          concat(t, lit(" \u1100\u1161")))  // Hangul jamo L+V -> U+AC00
        .otherwise(t)                       // pure-ASCII fast path
      Tables(s, dir, "documents")
        .select(col("doc_id"), mixed.as("mixed"))
        .select(col("doc_id"),
          TextStats.nfc(col("mixed")).as("norm_text"),
          (!(TextStats.nfc(col("mixed")) <=> col("mixed")))
            .cast("long").as("changed"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL baseline JPEG pixel decode --------------------
    // The web-crawl staple (crawl image corpora are overwhelmingly JPEG):
    // per doc, synthesize a DC-only baseline JPEG COEFFICIENT-side (no
    // forward DCT — chosen quantized coefficients written directly, so
    // pixels follow Jpeg.dcOnlyPixel's closed-form integer contract),
    // alternating grayscale and YCbCr color across 4:2:0 / 4:2:2 / 4:4:4
    // subsampling, with restart intervals on every third doc. The REAL
    // decoder runs everything: marker walk, canonical Huffman decode, DC
    // prediction (+ restart reset), dequantization, the 13-bit integer
    // IDCT, replication chroma upsampling, fixed-point YCbCr->RGB. The
    // oracle replays the per-block pixel arithmetic in SQL — a wrong
    // Huffman table build, predictor reset, IDCT descale, upsample
    // index, or color constant hash-diverges. Same 100 TB posture as
    // q70: generation + decode in one mapPartitions pass, only
    // fixed-width stats ride a shuffle.
    "q108_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 10 + (id % 23).toInt
            val h = 9 + (id % 17).toInt
            val rst = if (id % 3 == 0) 2 else 0
            val lumaDc = (bR: Int, bC: Int) =>
              ((id + 3 * bR + 5 * bC) % 24).toInt
            val payload =
              if (id % 2 == 0)
                Jpeg.encodeDcOnly(w, h,
                  Seq(Jpeg.DcComp(1, 1, 0, 0, 0, lumaDc)),
                  Map(0 -> Array.fill(64)(16)), rst)
              else {
                val (ch, cv) = (id % 6) match {
                  case 1 => (2, 2) // 4:2:0
                  case 3 => (2, 1) // 4:2:2
                  case _ => (1, 1) // 4:4:4
                }
                Jpeg.encodeDcOnly(w, h,
                  Seq(Jpeg.DcComp(ch, cv, 0, 0, 0, lumaDc),
                    Jpeg.DcComp(1, 1, 1, 1, 1, (_, _) => (id % 5).toInt),
                    Jpeg.DcComp(1, 1, 1, 1, 1, (_, _) => (id % 7).toInt)),
                  Map(0 -> Array.fill(64)(16), 1 -> Array.fill(64)(17)), rst)
              }
            Binary.MediaRow(id, payload, "image", "jpeg")
          }
        }
      Binary.decodeImage(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_px"), col("mean_px"), col("min_px"), col("max_px"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL Motion-JPEG video frame decode ----------------
    // q94's pipeline over genuinely COMPRESSED video: an MJPG AVI whose
    // frame chunks are independent DC-only baseline JPEGs (intra-only —
    // the one compressed video codec that needs no codec library), each
    // demuxed by the RIFF walk and decoded by the real JPEG decoder,
    // every 2nd frame sampled and reduced to integer luma stats.
    // Grayscale frames expand to RGB, so luma = (299v+587v+114v)/1000 =
    // v exactly, and the oracle replays the per-block closed form.
    "q109_mjpeg_frames" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 16 + (id % 9).toInt
            val h = 8 + (id % 13).toInt
            val nf = 2 + (id % 3).toInt
            // widened fixture mix (r10 verdict item 6): even docs gray,
            // odd docs COLOR with 4:2:0 / 4:2:2 / 4:4:4 chroma (flat
            // chroma planes so replication upsampling stays closed-form),
            // and a restart interval on every 4th doc — the upsampling
            // and DRI reset paths are now oracle-checked INSIDE video,
            // not just in JpegSpec
            val rst = if (id % 4 == 0) 2 else 0
            val lumaDcAt = (f: Int) => (bR: Int, bC: Int) =>
              ((id + 7 * f + 3 * bR + 5 * bC) % 20).toInt
            val jpegs = Array.tabulate(nf) { f =>
              if (id % 2 == 0)
                Jpeg.encodeDcOnly(w, h,
                  Seq(Jpeg.DcComp(1, 1, 0, 0, 0, lumaDcAt(f))),
                  Map(0 -> Array.fill(64)(16)), rst)
              else {
                val (ch, cv) = (id % 6) match {
                  case 1 => (2, 2) // 4:2:0
                  case 3 => (2, 1) // 4:2:2
                  case _ => (1, 1) // 4:4:4
                }
                Jpeg.encodeDcOnly(w, h,
                  Seq(Jpeg.DcComp(ch, cv, 0, 0, 0, lumaDcAt(f)),
                    Jpeg.DcComp(1, 1, 1, 1, 1, (_, _) => (id % 5).toInt),
                    Jpeg.DcComp(1, 1, 1, 1, 1, (_, _) => (id % 7).toInt)),
                  Map(0 -> Array.fill(64)(16), 1 -> Array.fill(64)(17)), rst)
              }
            }
            Binary.MediaRow(id, Avi.encodeMjpeg(w, h, jpegs),
              "video", "mjpeg")
          }
        }
      Binary.videoFrames(media, stride = 2)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("luma_sum"), col("luma_min"), col("luma_max"))
        .ordered(col("doc_id"), col("frame_idx"))
    }),

    // ---- Multimodal: container-agnostic image fingerprint ---------------
    // A crawl image column is never one format: even docs carry q91's
    // closed-form PNGs (gray and RGB), odd docs carry q108's DC-only
    // JPEGs (restart intervals on every third doc) — ONE column, ONE
    // operator. imageDhash routes each payload through the container
    // dispatch (PNG signature -> inflate+unfilter, JPEG SOI -> Huffman+
    // IDCT) and reduces every raster to the same 64-bit perceptual
    // fingerprint. The oracle replays BOTH decoded-pixel formulas and
    // the LSB-first gradient-sign packing — including the 64-bit cap,
    // which the larger JPEG fixtures actually hit (q91's never did).
    "q110_image_dhash_mixed" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            if (id % 2 == 0) {
              val w = 4 + (id % 5).toInt
              val h = 4 + (id % 3).toInt
              val c = if (id % 4 == 0) 1 else 3
              val px = Array.tabulate(w * h * c)(i =>
                ((id * 31 + i.toLong * 7) % 256).toByte)
              Binary.MediaRow(id, Png.encode(Png.Image(w, h, c, px)),
                "image", "png")
            } else {
              val w = 10 + (id % 23).toInt
              val h = 9 + (id % 17).toInt
              val rst = if (id % 3 == 0) 2 else 0
              Binary.MediaRow(id, Jpeg.encodeDcOnly(w, h,
                Seq(Jpeg.DcComp(1, 1, 0, 0, 0, (bR, bC) =>
                  ((id + 3 * bR + 5 * bC) % 24).toInt)),
                Map(0 -> Array.fill(64)(16)), rst), "image", "jpeg")
            }
          }
        }
      Binary.imageDhash(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("dhash"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL GIF decode (LZW + palette + interlace) --------
    // Per doc: closed-form palette-indexed pixels, REAL LZW compression
    // (Gif.encode builds the palette and compresses for real; odd docs
    // interlaced), decoded back through the container dispatch and
    // reduced by the 3x3 box resize — deliberately a POSITION-SENSITIVE
    // consumer: per-image stats would pass even if the 4-pass interlace
    // de-weave scrambled rows, box sums do not. The oracle replays the
    // palette formula and the pooling arithmetic; GIF is lossless, so
    // there is no tolerance anywhere — a wrong LZW width switch,
    // dictionary reset, palette index, or de-weave hash-diverges.
    "q111_gif_resize" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 6 + (id % 11).toInt
            val h = 5 + (id % 7).toInt
            val n = 4 + (id % 13).toInt
            val px = new Array[Byte](w * h * 3)
            var i = 0
            while (i < w * h) {
              val j = (id + i.toLong * 3) % n
              px(i * 3) = ((id * 7 + j * 13) % 256).toByte
              px(i * 3 + 1) = ((id * 11 + j * 17) % 256).toByte
              px(i * 3 + 2) = ((id * 13 + j * 19) % 256).toByte
              i += 1
            }
            Binary.MediaRow(id,
              Gif.encode(Png.Image(w, h, 3, px), interlaced = id % 2 == 1),
              "image", "gif")
          }
        }
      Binary.imageResize(media, outW = 3, outH = 3)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("oy").cast("long").as("oy"),
          col("ox").cast("long").as("ox"),
          col("px_sum"), col("px_n"), col("px_avg"))
        .ordered(col("doc_id"), col("oy"), col("ox"))
    }),

    // ---- LLM ops: cross-corpus exact-substring dedup (ExactSubstr) ------
    // Lee et al. 2022's second dedup pass, the one MinHash doesn't
    // cover: verbatim k-token spans repeated ACROSS documents (mirrored
    // boilerplate, quoted passages, templated intros) are scrubbed from
    // every doc except the min-id holder of each window — one canonical
    // copy survives corpus-wide. Exhaustive at window granularity (no
    // sampling, unlike q46's winnowed fingerprints), join-shaped (no
    // suffix array): one tokenize, a window histogram, a window-keyed
    // join back. The planted near-dup documents in the fixture make the
    // hit set non-trivial; the oracle replays the whole pass in SQL.
    "q112_selfsub_scrub" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      Dedup.selfSubstringScrub(docs, "doc_id", "text", k = 5)
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL animated-GIF frame sampling -------------------
    // q109's pipeline for the OTHER animation container a crawl serves:
    // per doc, an animated GIF whose frames carry different closed-form
    // palettes (per-frame LOCAL color tables + graphic-control
    // extensions — the real animated layout), each frame REAL-LZW
    // compressed, demuxed + decompressed by decodeFrames, every 2nd
    // frame sampled to integer luma stats. The oracle replays the
    // palette formulas per sampled frame; GIF is lossless, so any LZW,
    // palette-select, or extension-walk error hash-diverges.
    "q113_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 6 + (id % 9).toInt
            val h = 5 + (id % 6).toInt
            val nf = 2 + (id % 3).toInt
            val n = 3 + (id % 7).toInt
            val frames = Array.tabulate(nf) { f =>
              val px = new Array[Byte](w * h * 3)
              var i = 0
              while (i < w * h) {
                val j = (id + f.toLong * 11 + i.toLong * 3) % n
                px(i * 3) = ((id * 7 + f * 29 + j * 13) % 256).toByte
                px(i * 3 + 1) = ((id * 11 + f * 31 + j * 17) % 256).toByte
                px(i * 3 + 2) = ((id * 13 + f * 37 + j * 19) % 256).toByte
                i += 1
              }
              Png.Image(w, h, 3, px)
            }
            Binary.MediaRow(id, Gif.encodeAnimated(frames), "image", "gif")
          }
        }
      Binary.gifFrames(media, stride = 2)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("luma_sum"), col("luma_min"), col("luma_max"))
        .ordered(col("doc_id"), col("frame_idx"))
    }),

    // ---- Multimodal: G.711 A-law audio decode (q95's European sibling) --
    // Same closed-form synthesized clips as q95, companded through A-law
    // (WAV format 6) instead of mu-law: 13-bit truncation, segment from
    // the top magnitude bit, even-bit wire inversion, NO bias term. The
    // decode is the real operator; the oracle replays compress∘expand
    // per sample in SQL (all-integer until the two stat divides).
    "q114_alaw_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = 64 + (id % 129).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * 131 + i.toLong * 17) % 65536) - 32768).toShort)
            Binary.MediaRow(id, Wav.encodeAlaw(Wav.Clip(8000, 1, samples)),
              "audio", "wav")
          }
        }
      Binary.decodeAudio(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("n_samples"), col("mean_amp"), col("rms"), col("peak"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: URL canonicalization (pre-content-dedup crawl stage) --
    // The fixture docs carry no URL column, so each doc gets a
    // deterministic synthesized URL from a doc_id formula (the q78/q95
    // pattern): mixed-case scheme/host, default and junk ports, trailing
    // host dot, userinfo, %-escapes (decodable, uppercasable, malformed),
    // tracking params, unsorted params, fragments, padding. The
    // CANONICALIZATION is the real operator (Urls.canonicalize — pure
    // codegen'd projection, zero shuffles); the oracle resolves each
    // closed-form input to its expected canonical form independently.
    "q115_url_canon" -> ((s, dir) => {
      // synthUrl materializes FIRST, then the staged canonicalizer runs
      // over the attribute — canonicalize(synthUrl(...)) as one Column
      // copies the synthesized CASE tree at every internal reference and
      // measured 137 s / 13 MiB task binaries (see Urls.staged)
      val withUrl = Tables(s, dir, "documents")
        .select(col("doc_id"), synthUrl(col("doc_id")).as("url"))
      Urls.withCanonical(withUrl, "url", "url_canon")
        .select(col("doc_id"), col("url_canon"))
        .ordered(col("doc_id"))
    }),

    // URL-level dedup over the same synthesized space folded to 97
    // collision classes (doc_id % 97): canonical twins collapse to the
    // min-id keeper with a duplicate count — one hash shuffle on the
    // canonical key, counting map-side combined.
    "q116_url_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), synthUrl(col("doc_id") % 97).as("url"))
      Urls.dedupByUrl(docs, "doc_id", "url")
        .ordered(col("url_canon"))
    }),

    // ---- LLM ops: per-host audit behind a blocklist ---------------------
    // Host extraction over the same synthesized URL space, three spam
    // hosts banned via the anti join, per-host doc counts map-side
    // combined — the host-budget/ban stage that runs before per-doc
    // quality work. The oracle states each host closed-form and replays
    // the NOT IN + group.
    "q117_host_stats" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), synthUrl(col("doc_id")).as("url"))
      val blocklist = Seq("www7.example.org", "www13.example.org",
        "www21.example.org").toDF("host")
      Urls.hostStats(docs, "doc_id", "url", blocklist)
        .ordered(col("host"))
    }),

    // ---- LLM ops: sparse TF-IDF cosine top-k (text-only similarity) -----
    // Doc-doc similarity WITHOUT embeddings: inverted-index join on
    // shared tokens (Σ posting² — never docs²), log-free idf, capped
    // posting lists (df <= 150 — the hot-bucket guard), decimal-summed
    // dot products and norms so every score is bit-identical in the
    // oracle. Each unordered pair's dot is computed once and mirrored.
    "q118_sparse_topk" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      Similarity.sparseCosineTopK(docs, "doc_id", "text", k = 5,
          maxDf = 150L)
        .ordered(col("doc_id"), col("rank"))
    }),

    // ---- Multimodal: gzip text decode (crawl-shard decompression) -------
    // The real fixture text is gzipped in-partition and decompressed by
    // the REAL operator (JDK zlib via Gzip.decode — multi-member,
    // zip-bomb-capped); digest/length of the round-tripped text must
    // equal the oracle's direct computation over the original column, so
    // the ENTIRE compress∘decompress path is the contract under test.
    "q119_gunzip_text" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, t) =>
            Binary.MediaRow(id,
              Gzip.encode(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
              "text", "gzip")
          }
        }
      Binary.gunzipText(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          md5(col("text").cast("binary")).as("digest"),
          length(col("text")).cast("long").as("n_chars"),
          octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: WARC crawl-shard extraction ------------------------
    // The real fixture docs are packed into spec-conformant .warc.gz
    // shards (one gzip member per record, a warcinfo header record per
    // shard, response records with Target-URI/Date/Content-Type headers
    // and the doc text as payload), then the REAL operator inflates and
    // walks them. The oracle restates every response record's metadata
    // and payload digest directly from the documents table — the whole
    // pack∘inflate∘parse path must be lossless for the hashes to agree.
    "q120_warc_extract" -> ((s, dir) => {
      import s.implicits._
      val shards = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .groupBy((col("doc_id") % 50).as("g"))
        .agg(collect_list(struct(col("doc_id"), col("text"))).as("docs"))
        .as[(Long, Seq[(Long, String)])]
        .mapPartitions { it =>
          it.map { case (g, docs) =>
            val info = Warc.Record("warcinfo", s"<urn:uuid:info-$g>", "",
              "2026-01-01T00:00:00Z", "application/warc-fields",
              "software: graft\r\n".getBytes("UTF-8"))
            val recs = docs.sortBy(_._1).map { case (id, text) =>
              Warc.Record("response", s"<urn:uuid:$id>",
                s"http://w${id % 50}.example.org/doc/$id",
                "2026-01-01T00:00:00Z", "text/plain",
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            Binary.MediaRow(g, Warc.encodeGz(info +: recs), "text", "warc")
          }
        }
      Binary.warcRecords(shards)
        .filter(col("ok") && col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(-?[0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("target_uri"), col("content_type"), col("n_payload"),
          col("digest"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: robots.txt (RFC 9309) policy evaluation ---------------
    // Synthesized (host, path) pairs against a fixed rule set covering
    // the semantics corners: longest-match wins (Allow /admin/public
    // beats Disallow /admin), tie -> Allow, wildcard + end anchor
    // (/*.pdf$), blanket Disallow / with a carve-out, empty pattern
    // ignored, rule-less host allowed. Both engines compile patterns to
    // regexes and rank matches INDEPENDENTLY — the oracle replays the
    // rules semantics, not the operator's output.
    "q121_robots_gate" -> ((s, dir) => {
      import s.implicits._
      val d = col("doc_id")
      val str = (c: Column) => c.cast("string")
      val urls = Tables(s, dir, "documents").select(d,
        concat(lit("h"), str(d % 5)).as("host"),
        when(d % 7 === 0, lit("/"))
          .when(d % 7 === 1, concat(lit("/admin/x"), str(d % 3)))
          .when(d % 7 === 2, lit("/admin/public/y"))
          .when(d % 7 === 3, concat(lit("/files/doc"), str(d % 4), lit(".pdf")))
          .when(d % 7 === 4, lit("/public/a"))
          .when(d % 7 === 5, concat(lit("/tmp/x"), str(d % 5)))
          .otherwise(lit("/a")).as("path"))
      val rules = Seq(
        ("h0", false, "/admin"), ("h0", true, "/admin/public"),
        ("h0", false, "/*.pdf$"),
        ("h1", false, "/"), ("h1", true, "/public"),
        ("h2", false, "/tmp/*"), ("h2", false, ""),
        ("h4", true, "/")).toDF("host", "allow", "pattern")
      Urls.robotsAllowed(urls, "doc_id", "host", "path", rules)
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: Count-Min sketch point estimates ----------------------
    // The UDAF sketch (d x w integer counters, merge = elementwise add —
    // order-insensitive, bit-identical under any partitioning) built
    // over the corpus token stream, then probed for a fixed term set;
    // exact counts ride alongside so the overestimate property is
    // visible in the output. The oracle rebuilds counters and estimates
    // from the same md5-31-bit + affine-bucket arithmetic.
    "q122_cms_counts" -> ((s, dir) =>
      cmsQuery(s, dir,
        c => shiftrightunsigned(call_function("md5_lower64", c), 33))),

    // ---- Streaming: stream-static dimension join ------------------------
    // The enrichment every live feature pipeline runs: a streaming fact
    // source inner-joined with a BROADCAST static dimension (stateless —
    // each micro-batch joins against the table, no state store), then a
    // complete-mode aggregation. The oracle is the equivalent batch
    // join+group; value sums ride the exact-decimal discipline so the
    // float result is order-insensitive.
    "q123_stream_static" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q123_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        val raw = Tables.stream(sc, dir, "events")
        val cust = Tables(sc, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        raw.join(broadcast(cust), col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"),
            sum((floor(col("value") * 1e6 + 0.5) / 1e6)
              .cast("decimal(38,6)")).cast("double").as("sum_value"))
      }.ordered(col("c_mktsegment"))
    }),

    // ---- Feature engineering: numeric scaler fit/transform --------------
    // The StringIndexer's numeric sibling: one aggregate pass fits
    // min/max/mean/std per column (exact-decimal sums; squares stay in
    // decimal so they never round before summing), the statistics enter
    // the transform as plan literals, and the projection is join-free.
    // The oracle recomputes the statistics inline through the identical
    // IEEE operation sequence and replays the projections.
    "q124_scaler" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val m = Scaler.fit(li,
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      li.filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          m.zscore("l_quantity").as("z_qty"),
          m.zscore("l_extendedprice").as("z_price"),
          m.minmax("l_discount").as("mm_disc"))
        .ordered(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- Scale machinery: Bloom-prefiltered semi join -------------------
    // The 100 TB join-pruning technique made explicit: a Bloom filter
    // aggregated over the SELECTIVE side's keys (one-row broadcast)
    // prefilters the big scan with might_contain BEFORE the exact semi
    // join's shuffle — false positives pass the prefilter but die in the
    // join, so the RESULT is exact and the oracle is the plain semi
    // join. (Spark's own runtime row-level bloom works the same way;
    // this is the explicit, always-on form.)
    "q125_bloom_semi" -> ((s, dir) => {
      val urgent = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      // the sketch collects to ONE binary literal (~10 KB — the bm25/
      // IvfIndex stats-literal discipline; BloomFilterMightContain
      // requires a foldable blob, exactly as the runtime filter's
      // scalar subquery provides it)
      val bf = urgent.agg(call_function("bloom_agg", col("o_orderkey"),
        lit(10000L), lit(80000L)).as("bf")).head().getAs[Array[Byte]]("bf")
      Tables(s, dir, "lineitem")
        .filter(call_function("bloom_might_contain", lit(bf),
          col("l_orderkey")))
        .select(col("l_orderkey"), col("l_quantity"))
        .join(urgent.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          sum((floor(col("l_quantity") * 1e6 + 0.5) / 1e6)
            .cast("decimal(38,6)")).cast("double").as("sum_qty"))
        .ordered(col("l_orderkey"))
    }),

    // ---- LLM ops: link-graph authority (PageRank) -----------------------
    // Crawl prioritization over a synthesized 97-node link graph (two
    // edge formulas; sources >= 90 emit nothing, so nodes 90..96 are
    // DANGLING and exercise the redistributed-mass term). Exactly
    // prIterations rounds; decimal-summed contributions make every rank
    // bit-identical to the oracle's unrolled replay.
    "q126_pagerank" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = Tables(s, dir, "documents")
      val e1 = docs.select((d % 97).as("src"), ((d * 7 + 13) % 97).as("dst"))
      val e2 = docs.filter(d % 3 === 0)
        .select((d % 97).as("src"), ((d * 31 + 5) % 97).as("dst"))
      val edges = e1.unionByName(e2).filter(col("src") < 90)
      LinkGraph.pageRank(edges, "src", "dst", iterations = prIterations)
        .ordered(col("node"))
    }),

    // ---- LLM ops: link-graph hub/authority (HITS) -----------------------
    // The other classic link signal on q126's 97-node graph: Kleinberg
    // hub/authority after exactly hitsIterations rounds, L1-normalized
    // (same fixed point as the L2 form up to the per-round scalar the
    // normalization cancels; no sqrt keeps every step in the decimal-
    // sum determinism contract). auth from hubs, then hub from NEW
    // auths; the oracle unrolls the identical half-steps.
    "q155_hits" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = Tables(s, dir, "documents")
      val e1 = docs.select((d % 97).as("src"), ((d * 7 + 13) % 97).as("dst"))
      val e2 = docs.filter(d % 3 === 0)
        .select((d % 97).as("src"), ((d * 31 + 5) % 97).as("dst"))
      val edges = e1.unionByName(e2).filter(col("src") < 90)
      LinkGraph.hits(edges, "src", "dst", iterations = hitsIterations)
        .ordered(col("node"))
    }),

    // ---- LLM ops: degree-oriented triangle count ------------------------
    // The clustering signal on q126's graph made undirected: triangles
    // counted at each one's minimum-(degree,id) vertex via degree
    // orientation — out-degrees bounded by O(sqrt(m)), so the wedge
    // self-join never explodes on hubs (the "last reducer" fix). The
    // oracle counts the same simple graph's a<b<c triples directly;
    // orientation must not change the count, only the join geometry.
    "q159_triangles" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = Tables(s, dir, "documents")
      val e1 = docs.select((d % 97).as("src"), ((d * 7 + 13) % 97).as("dst"))
      val e2 = docs.filter(d % 3 === 0)
        .select((d % 97).as("src"), ((d * 31 + 5) % 97).as("dst"))
      val edges = e1.unionByName(e2).filter(col("src") < 90)
      LinkGraph.triangles(edges, "src", "dst")
    }),

    // ---- Graph: k-core decomposition ------------------------------------
    // Iterative peeling to the degree>=3 fixpoint over a doc-derived
    // link graph (the link-farm / dense-cluster prefilter beside
    // q126's PageRank and q155's HITS): each round deletes ALL
    // current degree<3 nodes at once — one degree aggregation + two
    // anti-joins, localCheckpoint lineage truncation. The oracle
    // unrolls MORE peel rounds than the fixpoint needs as chained
    // CTEs — extra rounds are no-ops by idempotence, so the unrolled
    // depth only has to be an upper bound (the q155 discipline).
    "q174_kcore" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = Tables(s, dir, "documents")
      val e1 = docs.select((d % 311).as("src"), ((d * 11 + 7) % 311).as("dst"))
      val e2 = docs.filter(d % 2 === 0)
        .select((d % 311).as("src"), ((d * 23 + 3) % 311).as("dst"))
      LinkGraph.kCore(e1.unionByName(e2), "src", "dst", k = 3)
        .ordered(col("node"))
    }),

    // ---- Analytic window battery: the rank family in one pass -----------
    // rank/dense_rank/percent_rank/cume_dist/ntile/lag/lead over one
    // window spec — every function shares ONE sort within the
    // o_orderpriority partitions (one Exchange, one Window op), the
    // plan shape an analytics surface must produce (per-function sorts
    // would be N shuffles). The (price, key) order is a total order
    // (orderkey unique), so the rank family and the k/n ratio doubles
    // (exact small-int divides) are deterministic cross-engine. The
    // output filter applies AFTER the windows — ranks are computed over
    // the full partitions, then sampled.
    "q156_window_ranks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("prnk", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .withColumn("prev_price", lag("o_totalprice", 1).over(w))
        .withColumn("next_price", lead("o_totalprice", 1).over(w))
        .filter(col("o_orderkey") % 50 === 0)
        .ordered(col("o_orderkey"))
    }),

    // ---- Full-outer reconciliation join ---------------------------------
    // The audit query every warehouse runs: per-customer order rollup
    // FULL OUTER joined against a (deliberately thinned) customer dim —
    // left-only rows are orders whose customer record is missing,
    // right-only rows are customers with no orders; both survive with
    // presence flags. Decimal-quantized sums keep the value column
    // order-insensitive (q123 discipline).
    "q157_full_outer" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum((floor(col("o_totalprice") * 1e6 + 0.5) / 1e6)
            .cast("decimal(38,6)")).cast("double").as("sum_price"))
      agg.join(cust, col("o_custkey") === col("c_custkey"), "full_outer")
        .select(
          coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
          col("c_custkey").isNotNull.as("has_customer"),
          col("o_custkey").isNotNull.as("has_orders"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          col("sum_price"), col("c_mktsegment"))
        .ordered(col("custkey"))
    }),

    // ---- SCD2 dimension build from the event change log -----------------
    // The append-only event stream becomes a versioned type-2 dimension:
    // per user, consecutive same-type runs collapse (NULL-safe change
    // detection), each surviving change opens a [valid_from, valid_to)
    // interval with a version counter and an is_current open row — the
    // time-travelable shape PointInTime joins consume. One hash
    // partitioning carries the detection lag, the interval lead and the
    // version number (single Exchange, asserted in ScdSpec); epoch-
    // micros keep validity bounds integer cross-engine.
    "q158_scd2" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
      Scd.scd2(ev, "user_id", "ts_us", "event_id", Seq("event_type"))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .ordered(col("user_id"), col("version"))
    }),

    // ---- LLM ops: k-anonymity release gate ------------------------------
    // Full-domain generalization over (lang, source, length) with a
    // 4-level recoding ladder (raw length -> 100-bucket -> 1000-bucket
    // -> fully generalized '*'); the first level whose every group
    // reaches k=10 is chosen globally, residual small groups at the
    // coarsest level are marked suppressed. The oracle recomputes the
    // per-level minima and replays the same level selection
    // declaratively.
    "q127_k_anon" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      def lvl(len: Column) = Seq(col("lang").as("q_lang"),
        col("source").as("q_source"), len.as("q_len"))
      val ladder = Seq(
        lvl(col("n_chars").cast("string")),
        lvl((floor(col("n_chars") / 100).cast("long") * 100).cast("string")),
        lvl((floor(col("n_chars") / 1000).cast("long") * 1000).cast("string")),
        lvl(lit("*")))
      val (_, groups) = Privacy.kAnonymize(docs, ladder, k = 10)
      groups.select(col("level"), col("q_lang"), col("q_source"),
          col("q_len"), col("n"), col("suppressed"))
        .ordered(col("q_lang"), col("q_source"), col("q_len"))
    }),

    // ---- Scale machinery: Z-order (Morton) clustering key ---------------
    // The Delta/Iceberg ZORDER BY technique as a first-class expression:
    // bit-interleaved (orderkey, partkey) folded to 10 bits each. The
    // oracle replays the interleave bit-for-bit; LayoutSpec proves the
    // clustering guarantee (aligned power-of-two boxes are contiguous
    // z-ranges) and the write path.
    "q128_zorder_key" -> ((s, dir) => {
      val a = pmod(col("l_orderkey"), lit(1024L))
      val b = pmod(col("l_partkey"), lit(1024L))
      Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          Layout.zValue(a, b, 10).as("zval"))
        .ordered(col("zval"), col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- Scale machinery: hive-partitioned write + partition pruning ----
    // The R6 sink surface driven end to end: the corpus is written
    // partitionBy(lang), and the read-back filter prunes at the
    // DIRECTORY level — PLANS.md shows PartitionFilters on the scan, so
    // non-matching partitions are never opened (at 100 TB this is the
    // difference between listing 5 directories and scanning all of
    // them). The oracle filters the original table; the round-trip must
    // be lossless for the hashes to agree.
    "q129_partition_prune" -> ((s, dir) => {
      val tmp = scratchDir("part", dir) + "/docs"
      Tables(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .ordered(col("doc_id"))
    }),

    // ---- LLM ops: HyperLogLog cardinality registers ---------------------
    // The third sketch beside KMV and Count-Min: 256 max-rank registers
    // over md5-31-bit hashes, merge = elementwise max. The raw harmonic
    // estimate is fully deterministic (every 2^-rank term is dyadic, so
    // the float sum is exact in any order — see Sketches.Hll for why the
    // ln-based small-range correction is deliberately omitted); exact
    // distinct and the active-register count ride alongside.
    "q130_hll_distinct" -> ((s, dir) => {
      // distinct FIRST (the q150 lesson): HLL registers are duplicate-
      // insensitive, so sketching the distinct keys is bit-identical —
      // and it keeps the distinct rewrite away from the object-typed
      // aggregator (mixed, they force the sort-based fallback with
      // per-row encoder overhead over expanded rows). The exact count
      // becomes a plain count(*) over the same distinct frame, and the
      // md5 runs once per KEY, not once per lineitem row.
      val keys = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull)
        .select(col("l_orderkey")).distinct()
      val h31 = shiftrightunsigned(
        call_function("md5_lower64", col("l_orderkey").cast("string")), 33)
      keys.agg(Sketches.hllRegisters(h31, 8).as("sk"),
          count(lit(1)).as("exact_n"))
        .select(
          (floor(Sketches.hllEstimate(col("sk"), 8) * 1e6 + 0.5) / 1e6)
            .as("hll_est"),
          size(filter(col("sk"), r => r > 0)).cast("long").as("n_active"),
          col("exact_n"))
    }),

    // ---- LLM ops: fixed-grid histogram quantile sketch ------------------
    // The fourth sketch beside KMV/CMS/HLL and the scale-safe sibling of
    // q57/q48's EXACT percentile/median (whose buffers hold every group
    // value): bounded bin-count buffer, elementwise-add merge, rank-based
    // selection — approx p50/p90 land within one bin width of the exact
    // values riding alongside. Grids: l_quantity [0,51)x102 (width 0.5),
    // l_extendedprice [900,105000)x512 (width 203.3203125, dyadic — the
    // midpoint affine map is float-exact in both engines).
    "q131_hist_quantile" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          Sketches.histogram(col("l_quantity"), 0.0, 51.0, 102).as("__sq"),
          Sketches.histogram(col("l_extendedprice"), 900.0, 105000.0, 512)
            .as("__sp"),
          expr("percentile(l_quantity, 0.5)").as("exact_qty_p50"),
          expr("percentile(l_extendedprice, 0.9)").as("exact_price_p90"))
        .select(col("l_returnflag"),
          Sketches.histQuantile(col("__sq"), 0.0, 51.0, 102, 0.5)
            .as("approx_qty_p50"),
          Sketches.histQuantile(col("__sp"), 900.0, 105000.0, 512, 0.9)
            .as("approx_price_p90"),
          col("exact_qty_p50"), col("exact_price_p90"))
        .ordered(col("l_returnflag"))
    }),

    // ---- Multimodal: PROGRESSIVE JPEG (SOF2) decode ---------------------
    // q108's fixtures re-encoded progressive: the same DC values now ride
    // a real multi-scan T.81 §G stream — successive-approximation DC
    // (first Al=2, refine 2→1→0 for gray; interleaved Al=1 chain for
    // color), spectral AC band scans that are pure EOB runs over the
    // zero AC field, restart intervals inside progressive scans on every
    // third doc — decoded by the same operator. The pixel oracle is
    // q108's closed form VERBATIM: progressive decoding of the same
    // coefficients must land on identical pixels, and a regression in
    // any scan-accumulation path (band geometry, SA shift/OR
    // reconstruction, EOB-run bookkeeping, per-scan predictor reset)
    // hash-fails against arithmetic DuckDB replays.
    "q132_progressive_decode" -> ((s, dir) => {
      import s.implicits._
      val grayScript = Seq(
        Jpeg.ProgScan(Seq(0), 0, 0, 0, 2),
        Jpeg.ProgScan(Seq(0), 1, 5, 0, 1),
        Jpeg.ProgScan(Seq(0), 6, 63, 0, 1),
        Jpeg.ProgScan(Seq(0), 0, 0, 2, 1),
        Jpeg.ProgScan(Seq(0), 0, 0, 1, 0),
        Jpeg.ProgScan(Seq(0), 1, 63, 1, 0))
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 10 + (id % 23).toInt
            val h = 9 + (id % 17).toInt
            val rst = if (id % 3 == 0) 2 else 0
            def dcBlock(dc: (Int, Int) => Int): (Int, Int) => Array[Int] =
              (bR, bC) => { val b = new Array[Int](64); b(0) = dc(bR, bC); b }
            val lumaDc = (bR: Int, bC: Int) =>
              ((id + 3 * bR + 5 * bC) % 24).toInt
            val payload =
              if (id % 2 == 0)
                Jpeg.encodeProgressive(w, h,
                  Seq(Jpeg.CoefComp(1, 1, 0, 0, 0, dcBlock(lumaDc))),
                  Map(0 -> Array.fill(64)(16)), grayScript, rst)
              else {
                val (ch, cv) = (id % 6) match {
                  case 1 => (2, 2) // 4:2:0
                  case 3 => (2, 1) // 4:2:2
                  case _ => (1, 1) // 4:4:4
                }
                Jpeg.encodeProgressive(w, h,
                  Seq(Jpeg.CoefComp(ch, cv, 0, 0, 0, dcBlock(lumaDc)),
                    Jpeg.CoefComp(1, 1, 1, 1, 1,
                      dcBlock((_, _) => (id % 5).toInt)),
                    Jpeg.CoefComp(1, 1, 1, 1, 1,
                      dcBlock((_, _) => (id % 7).toInt))),
                  Map(0 -> Array.fill(64)(16), 1 -> Array.fill(64)(17)),
                  Jpeg.standardScript(3), rst)
              }
            Binary.MediaRow(id, payload, "image", "jpeg")
          }
        }
      Binary.decodeImage(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_px"), col("mean_px"), col("min_px"), col("max_px"))
        .ordered(col("doc_id"))
    }),

    // ---- KEYLESS range join: bucketized point-in-interval ---------------
    // The join family Spark has no scale-safe strategy for: `pt BETWEEN
    // lo AND hi` with no equi key compiles to BroadcastNestedLoopJoin
    // (O(n·m), one side fully broadcast). RangeJoin.pointInInterval
    // rides a plain shuffled equi-join on fixed-width value buckets with
    // the exact predicate as a post-filter — candidate mass is
    // Σ per-bucket products, and PlanAuditSpec (which outlaws
    // undocumented NLJs in every query plan) passes WITHOUT an allowlist
    // entry, which is the point. Lineitems priced within ±25 of each
    // part's retail price; zero-match parts kept via the join-back.
    "q133_range_band" -> ((s, dir) => {
      val pts = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val ivs = Tables(s, dir, "part").select(col("p_partkey"),
        (col("p_retailprice") - 25).as("lo"),
        (col("p_retailprice") + 25).as("hi"))
      val matched = RangeJoin
        .pointInInterval(pts, "l_extendedprice", ivs, "lo", "hi",
          bucketWidth = 50.0)
        .groupBy("p_partkey").agg(count(lit(1)).as("n_in_band"))
      Tables(s, dir, "part").select("p_partkey")
        .join(matched, Seq("p_partkey"), "left")
        .select(col("p_partkey"),
          coalesce(col("n_in_band"), lit(0L)).as("n_in_band"))
        .ordered(col("p_partkey"))
    }),

    // ---- KEYLESS interval-overlap join, first-shared-bucket dedup -------
    // Same bucket discipline for interval×interval overlap; each
    // qualifying pair is pinned to the bucket of max(aLo, bLo) — inside
    // both intervals by construction — so pairs surface exactly once
    // with no distinct. Orders whose ±250 total-price band overlaps each
    // part's ±25 retail-price band (the adversarial orders row makes the
    // lo bound NEGATIVE, exercising floor bucketing below zero).
    "q134_interval_overlap" -> ((s, dir) => {
      val a = Tables(s, dir, "part").select(col("p_partkey"),
        (col("p_retailprice") - 25).as("alo"),
        (col("p_retailprice") + 25).as("ahi"))
      val b = Tables(s, dir, "orders").select(col("o_orderkey"),
        (col("o_totalprice") - 250).as("blo"),
        (col("o_totalprice") + 250).as("bhi"))
      val m = RangeJoin
        .intervalOverlap(a, "alo", "ahi", b, "blo", "bhi",
          bucketWidth = 500.0)
        .groupBy("p_partkey").agg(count(lit(1)).as("n_overlap"))
      Tables(s, dir, "part").select("p_partkey")
        .join(m, Seq("p_partkey"), "left")
        .select(col("p_partkey"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .ordered(col("p_partkey"))
    }),

    // ---- KMV as a SET-OPERATION sketch: corpus overlap from bottom-k ----
    // q102 computes cross-source overlap EXACTLY (a shuffle of the full
    // key sets); at 100 TB the first question is answered from sketches:
    // bottom-k(md5) per corpus, union sketch = bottom-k of the merged
    // mins, Jaccard ≈ fraction of the union sketch present in BOTH
    // inputs, intersection ≈ ρ·|union| (Bar-Yossef 2002 / Beyer 2007).
    // Corpora = even/odd doc halves over the token vocabulary; the exact
    // union/intersection ride alongside, and every step — bottom-k sets,
    // k-th minimum, ρ, the estimates — is deterministic integer/IEEE
    // arithmetic the oracle replays from the same md5 hashes.
    "q135_kmv_overlap" -> ((s, dir) => {
      val k = 256
      // persist: the tokenized frame feeds the sketch groupBy AND the
      // exact union/intersection aggregate, whose exchanges hash
      // different keys (grp vs tok) — AQE exchange reuse can't fire
      // across them, so without the pin the corpus tokenizes twice.
      // TokenizeOnceSpec asserts the single scan. (Bench clearCache()s
      // between queries; within a run the cache is dropped with the
      // frame.)
      val toks = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select((col("doc_id") % 2).as("grp"),
          explode(TextStats.tokens(lower(col("text")))).as("tok"))
        .persist()
      val sk = toks.groupBy("grp")
        .agg(Sketches.kmvMins(col("tok"), k, "md5").as("mins"))
      val a = sk.filter(col("grp") === 0).select(col("mins").as("ma"))
      val b = sk.filter(col("grp") === 1).select(col("mins").as("mb"))
      val ex = toks.distinct()
        .groupBy("tok").agg(min("grp").as("mn"), max("grp").as("mx"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("mn") === 0 && col("mx") === 1, 1L).otherwise(0L))
            .as("exact_inter"))
      val union = slice(array_sort(array_union(col("ma"), col("mb"))), 1, k)
      val r6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
      a.crossJoin(b).crossJoin(broadcast(ex))
        .withColumn("__x", union)
        .withColumn("__u",
          element_at(col("__x"), size(col("__x"))).cast("double") /
            1.8446744073709552e19 + 0.5)
        .withColumn("est_union",
          when(size(col("__x")) < k, size(col("__x")).cast("long"))
            .otherwise(floor(lit((k - 1).toDouble) / col("__u") + 0.5)
              .cast("long")))
        .withColumn("__ni", size(filter(col("__x"),
          x => array_contains(col("ma"), x) && array_contains(col("mb"), x))))
        .withColumn("rho",
          r6(col("__ni").cast("double") / size(col("__x"))))
        .select(col("est_union"),
          r6(col("rho") * col("est_union")).as("est_inter"),
          col("rho").as("est_jaccard"),
          col("exact_union"), col("exact_inter"))
    }),

    // ---- Streaming windowed quantile sketch (T7 × the sketch family) ----
    // q131's histogram inside a REAL streaming aggregation: per event-time
    // hour window, the bounded bin-count state merges incrementally in
    // the state store (elementwise add — the property that makes the
    // sketch a legal streaming aggregate), and p50/p90 read off the
    // final registers. The exact-percentile alternative would buffer
    // every window's full value multiset in state — unbounded per key;
    // this state is a constant 2 KB per window whatever the rate. Grid
    // [0,512)x256 — width 2.0, dyadic midpoints. Oracle replays the
    // batch-equivalent windows (streaming must equal batch semantics).
    "q136_stream_quantile" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q136_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .groupBy(window(timestamp_micros(col("ts_us")), "1 hour").as("w"))
          .agg(Sketches.histogram(col("value"), 0.0, 512.0, 256).as("sk"),
            count(lit(1)).as("n"))
          .select(unix_micros(col("w.start")).as("w_start"),
            Sketches.histQuantile(col("sk"), 0.0, 512.0, 256, 0.5)
              .as("approx_p50"),
            Sketches.histQuantile(col("sk"), 0.0, 512.0, 256, 0.9)
              .as("approx_p90"),
            col("n"))
      }.ordered(col("w_start"))
    }),

    // ---- Streaming windowed HLL distinct (T7 × the sketch family) -------
    // The cardinality member as a streaming aggregate, completing the
    // streaming-sketch trio (q136 quantile, q145 top-K): per event-time
    // hour window, 256 max-rank registers merge incrementally in the
    // state store (elementwise max — idempotent, so state is a constant
    // 2 KB per window and re-processing cannot inflate it). Streaming
    // COUNT(DISTINCT) is unsupported by Spark — and at scale would
    // buffer every key per window anyway; the sketch IS the production
    // answer. The oracle builds each window's registers directly from
    // the raw hashes (q130's SQL per window).
    "q165_stream_hll" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q165_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        val h31 = shiftrightunsigned(
          call_function("md5_lower64", col("user_id").cast("string")), 33)
        Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("user_id").isNotNull)
          .groupBy(window(timestamp_micros(col("ts_us")), "1 hour").as("w"))
          .agg(Sketches.hllRegisters(h31, 8).as("sk"),
            count(lit(1)).as("n_events"))
          .select(unix_micros(col("w.start")).as("w_start"),
            (floor(Sketches.hllEstimate(col("sk"), 8) * 1e6 + 0.5) / 1e6)
              .as("hll_est"),
            size(filter(col("sk"), r => r > 0)).cast("long").as("n_active"),
            col("n_events"))
      }.ordered(col("w_start"))
    }),

    // ---- Data-quality publish gate (Deequ-style constraint run) ---------
    // The check battery a pipeline runs before a table goes live: all
    // row-level constraints share ONE aggregate pass, uniqueness is one
    // groupBy, referential integrity one left join + aggregate — each a
    // one-row result, no driver loops. The reference publishes silver/
    // gold unchecked (batch_process_Bronze_to_Silver.py:317); at 100 TB
    // an unchecked malformed ingest IS training data. The adversarial
    // fixture's NULL-returnflag row moves the not_null rate (and the
    // oracle with it).
    "q137_dq_checks" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      Checks.run(li, Seq(
          Checks.NotNull("l_returnflag", maxNullRate = 0.001),
          Checks.NotNull("l_orderkey"),
          Checks.InRange("l_discount", 0.0, 0.1),
          Checks.Unique(Seq("l_orderkey", "l_linenumber")),
          Checks.RefIntegrity("l_orderkey", Tables(s, dir, "orders"),
            "o_orderkey")))
        .withColumnRenamed("check", "check_name") // CHECK is reserved SQL
        .ordered(col("check_name"))
    }),

    // ---- Funnel analysis: windowed ordered stage progression ------------
    // view -> click -> purchase per user, each stage the FIRST occurrence
    // STRICTLY after the previous stage and within 24 hours of it (the
    // standard conversion-window funnel — a click before any view, or a
    // week later, does not convert). The three dependent per-user minima
    // ride windows over ONE partitioning: a single shuffle on user_id
    // computes t1, then t2 over t1, then t3 over t2 (window-over-window
    // stays in the same Exchange — no per-stage join chain). Users then
    // collapse to their furthest stage.
    "q138_funnel" -> ((s, dir) => {
      val dayUs = 86400000000L
      val w = Window.partitionBy("user_id")
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
      val staged = e
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts_us"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" &&
          col("ts_us") > col("t1") &&
          col("ts_us") <= col("t1") + dayUs, col("ts_us"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" &&
          col("ts_us") > col("t2") &&
          col("ts_us") <= col("t2") + dayUs, col("ts_us"))).over(w))
        .select(col("user_id"),
          when(col("t3").isNotNull, 3L)
            .when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L)
            .otherwise(0L).as("stage"))
        .distinct() // stage is a per-user constant
      staged.groupBy("stage").agg(count(lit(1)).as("n_users"))
        .ordered(col("stage"))
    }),

    // ---- Retention cohorts: first-activity week × active-week matrix ----
    // The other classic product-analytics shape: cohort = the user's
    // first active epoch-week, one row per (cohort, week offset) with
    // the count of cohort users active that week. One user-keyed
    // aggregate for cohorts + one distinct on (user, week) — both
    // map-side combined. The distinct's exchange hashes (user_id, wk),
    // not user_id alone, so the join is NOT co-partitioned; the cohort
    // side (one narrow row per user) arrives by AQE-chosen broadcast at
    // this scale and degrades naturally to a shuffled hash join at 100×
    // (unhinted on purpose — see PLANS.md q139).
    "q139_retention" -> ((s, dir) => {
      val weekUs = 604800000000L
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"),
          (col("ts_us") / weekUs).cast("long").as("wk"))
      val cohorts = e.groupBy("user_id").agg(min("wk").as("cohort"))
      e.distinct()
        .join(cohorts, Seq("user_id"))
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
        .agg(count(lit(1)).as("n_users")) // input distinct per (user, wk)
        .ordered(col("cohort"), col("week_offset"))
    }),

    // ---- Multimodal: EXIF orientation (APP1/TIFF tag 274) ---------------
    // The rotate-before-training metadata every crawl image pipeline
    // needs: a real TIFF IFD0 walk in BOTH byte orders (odd docs II,
    // even docs MM), spliced into q108-style DC-only JPEGs; every third
    // doc carries no EXIF -> 0 (advisory metadata: absent == malformed
    // == unknown, never a failure). The decode runs on the SAME spliced
    // bytes, proving APP1 skipping leaves pixels/dims untouched.
    "q140_exif_orientation" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 10 + (id % 23).toInt
            val h = 9 + (id % 17).toInt
            val base = Jpeg.encodeDcOnly(w, h,
              Seq(Jpeg.DcComp(1, 1, 0, 0, 0,
                (bR, bC) => ((id + 3 * bR + 5 * bC) % 24).toInt)),
              Map(0 -> Array.fill(64)(16)))
            val bytes =
              if (id % 3 == 0) base
              else base.take(2) ++
                Jpeg.exifApp1((id % 8).toInt + 1, id % 2 == 1) ++ base.drop(2)
            val img = Jpeg.decode(bytes)
            (id, Jpeg.exifOrientation(bytes).toLong,
              img.width.toLong, img.height.toLong)
          }
        }.toDF("doc_id", "orientation", "width", "height")
        .ordered(col("doc_id"))
    }),

    // ---- KMV overlap MATRIX: all source pairs from per-source sketches --
    // q135's set-operation estimators over the full q102-style matrix:
    // one groupBy builds a bottom-k sketch per source, the G×G pair grid
    // (G = #sources — the q102 allowlisted G-row cross) runs the
    // union/ρ/intersection arithmetic per pair on kilobyte arrays, and
    // the exact sizes/intersections ride alongside from one token-keyed
    // join. At 100 TB the sketch matrix is the affordable first answer
    // (G·k longs total state); the exact side is the verification this
    // fixture can still afford.
    "q141_kmv_matrix" -> ((s, dir) => {
      val k = 128
      val r6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
      // persist: `d` feeds the sketch groupBy, the sizes groupBy, and
      // BOTH sides of the exact-intersection join — four consumers whose
      // exchanges hash different keys (source vs tok), so AQE reuse
      // can't cover them all; without the pin the corpus tokenizes ~4×.
      // TokenizeOnceSpec asserts the single scan.
      val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"),
          explode(TextStats.tokens(lower(col("text")))).as("tok"))
        .distinct()
        .persist()
      val sk = d.groupBy("source")
        .agg(Sketches.kmvMins(col("tok"), k, "md5").as("mins"))
      val a = sk.select(col("source").as("src_a"), col("mins").as("ma"))
      val b = sk.select(col("source").as("src_b"), col("mins").as("mb"))
      val est = a.join(b, col("src_a") < col("src_b"))
        .withColumn("__x",
          slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
        .withColumn("__u",
          element_at(col("__x"), size(col("__x"))).cast("double") /
            1.8446744073709552e19 + 0.5)
        .withColumn("est_union",
          when(size(col("__x")) < k, size(col("__x")).cast("long"))
            .otherwise(floor(lit((k - 1).toDouble) / col("__u") + 0.5)
              .cast("long")))
        .withColumn("__ni", size(filter(col("__x"), t =>
          array_contains(col("ma"), t) && array_contains(col("mb"), t))))
        .withColumn("rho", r6(col("__ni").cast("double") / size(col("__x"))))
      val sizes = d.groupBy("source").agg(count(lit(1)).as("nd"))
      val inter = d.select(col("source").as("ia"), col("tok"))
        .join(d.select(col("source").as("ib"), col("tok")), Seq("tok"))
        .filter(col("ia") < col("ib"))
        .groupBy("ia", "ib").agg(count(lit(1)).as("__xi"))
      est
        .join(sizes.select(col("source").as("src_a"), col("nd").as("__na")),
          Seq("src_a"))
        .join(sizes.select(col("source").as("src_b"), col("nd").as("__nb")),
          Seq("src_b"))
        .join(inter,
          col("src_a") === col("ia") && col("src_b") === col("ib"), "left")
        .select(col("src_a"), col("src_b"), col("est_union"),
          r6(col("rho") * col("est_union")).as("est_inter"),
          col("rho").as("est_jaccard"),
          (col("__na") + col("__nb") - coalesce(col("__xi"), lit(0L)))
            .as("exact_union"),
          coalesce(col("__xi"), lit(0L)).as("exact_inter"))
        .ordered(col("src_a"), col("src_b"))
    }),

    // ---- Heavy hitters: corpus-wide top-K from a bounded sketch --------
    // The sketch family's "WHAT are the top keys" member (KMV: how many
    // distinct; CMS: how often is THIS key, probes needed a priori; MG:
    // the keys themselves). One Misra-Gries pass — k-entry state, no
    // shuffle over the full vocabulary — surfaces the top tokens with
    // per-key bounds (count <= true <= count + off, off <= N/(k+1));
    // the exact counts of just those K tokens ride alongside from one
    // pushed-filter scan, and the oracle recomputes them independently
    // in DuckDB to verify every bracket. At 100 TB this replaces the
    // full token groupBy (a vocabulary-sized shuffle) for "what's
    // trending / which keys deserve salting" questions — Skew.hotKeys
    // is this sketch pointed at a join key. Deterministic via the
    // pid-ordered fold (heavyHittersOrdered): counter values are
    // replayable run-to-run, not just bound-correct.
    "q142_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(explode(TextStats.tokens(lower(col("text")))).as("tok"))
      val (entries, off, _) = Sketches.heavyHittersOrdered(toks, "tok", Q142K)
      val top = entries.take(Q142Top)
      hhState.record(dir, (top, off))
      val topDf = top.zipWithIndex
        .map { case (h, i) => (i + 1L, h.key, h.count) }
        .toDF("rank", "token", "est_low")
      val exact = toks.filter(col("tok").isin(top.map(_.key): _*))
        .groupBy(col("tok").as("token")).agg(count(lit(1)).as("exact_cnt"))
      topDf.join(exact, Seq("token"))
        .select(col("rank"), col("token"), col("est_low"), col("exact_cnt"),
          lit(off).as("err"),
          (col("est_low") <= col("exact_cnt") &&
            col("exact_cnt") <= col("est_low") + lit(off)).as("bound_ok"))
        .ordered(col("rank"))
    }),

    // ---- Multimodal: REAL baseline TIFF raster decode -------------------
    // The scanned-document/satellite staple the engine's EXIF IFD walk
    // (q140) could READ but not decode: per doc, synthesize a baseline
    // TIFF cycling pixel mode (gray8 / RGB888 / 1-bit bilevel), byte
    // order (odd docs MM big-endian), coding (PackBits / none / LZW,
    // with the horizontal-differencing predictor on 8-bit LZW docs) and
    // strip layout (RowsPerStrip 1..4 — ragged last strips included),
    // with WhiteIsZero on every 5th gray/bilevel doc (stored inverted,
    // decode normalizes back — the round-trip TiffSpec pins byte-level).
    // The REAL decoder runs everything: endian-tagged IFD walk, strip
    // assembly, PackBits expansion, bit unpacking, photometric
    // normalization. The oracle replays the closed-form pixels (q108
    // discipline); same 100 TB posture — generation + decode in one
    // mapPartitions pass, only fixed-width stats ride a shuffle.
    "q143_tiff_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 10 + (id % 23).toInt
            val h = 9 + (id % 17).toInt
            val wiz = id % 5 == 0
            val mode: Tiff.Mode = (id % 3) match {
              case 0 => Tiff.Gray8(wiz)
              case 1 => Tiff.Rgb888
              case _ => Tiff.Bilevel(wiz)
            }
            val pxl: (Int, Int, Int) => Int =
              if (id % 3 == 2) (r, c, _) =>
                if ((id + r + c) % 2 == 0) 255 else 0
              else (r, c, k) => ((id + 3 * r + 5 * c + 11 * k) % 256).toInt
            // coding mix: PackBits / uncompressed / LZW (§13 MSB-first
            // early-change streams; 8-bit modes additionally exercise
            // the §14 horizontal-differencing predictor) — the coded
            // bytes differ, the decoded pixels (and so the oracle's
            // closed form) do not
            val coding = (id % 4).toInt
            // every 7th doc uses the §15 TILED layout (16x8 grid with
            // ragged zero-padded edges) instead of strips — same pixels,
            // same oracle, different segment walk
            val payload = Tiff.encode(w, h, mode,
              bigEndian = id % 2 == 1, packBits = coding < 2,
              rowsPerStrip = 1 + (id % 4).toInt, pxl,
              lzw = coding == 3,
              predictor = if (coding == 3 && id % 3 != 2) 2 else 1,
              tile = if (id % 7 == 5) Some((16, 8)) else None)
            Binary.MediaRow(id, payload, "image", "tiff")
          }
        }
      Binary.decodeImage(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_px"), col("mean_px"), col("min_px"), col("max_px"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL BMP raster decode -----------------------------
    // The last header-simple raster crawl corpora carry (PNG/JPEG/GIF/
    // TIFF are q108/q109/q110/q143): per doc, synthesize a DIB-v3 BMP
    // cycling pixel form (24-bit BGR / 32-bit BGRX with a dropped pad
    // byte / 8-bit palette / 1-bit bilevel / 8-bit BI_RLE8 with mixed
    // run+absolute escapes and constant rows to pack), row order
    // (odd non-RLE docs are top-down via negative height), and the
    // 4-byte row alignment every width exercises. Palette images
    // expand through the synthetic (7j,5j,3j) color table to RGB —
    // palette order is arbitrary, so no "gray-looking" collapse. The
    // oracle replays the closed-form decoded pixels (q143 discipline);
    // same 100 TB posture — generation + decode in one mapPartitions
    // pass, only fixed-width stats ride a shuffle.
    "q152_bmp_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 10 + (id % 23).toInt
            val h = 9 + (id % 17).toInt
            val mode: Bmp.Mode = (id % 4) match {
              case 0 => if (id % 5 == 0) Bmp.Rgb32 else Bmp.Rgb24
              case 1 => Bmp.Indexed8(rle = false)
              case 2 => Bmp.Bilevel1
              case _ => Bmp.Indexed8(rle = true)
            }
            val pxl: (Int, Int) => Int = (id % 4) match {
              case 2 => (r, c) => if ((id + r + c) % 2 == 0) 1 else 0
              case 3 => (r, c) =>
                if (r % 3 == 0) (id % 256).toInt
                else ((id + 3 * r + 5 * c) % 256).toInt
              case _ => (r, c) => ((id + 3 * r + 5 * c) % 256).toInt
            }
            val payload = Bmp.encode(w, h, mode,
              topDown = id % 2 == 1 && id % 4 != 3, pxl)
            Binary.MediaRow(id, payload, "image", "bmp")
          }
        }
      Binary.decodeImage(media)
        .filter(col("ok"))
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_px"), col("mean_px"), col("min_px"), col("max_px"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: REAL ZIP archive walk ------------------------------
    // The multi-file sibling of q119/q120's WARC+gzip ingest: data
    // drops arrive as .zip bundles, and the engine explodes them into
    // member rows via its own central-directory parser (not the JDK
    // stream API, which trusts local headers and tolerates exactly the
    // truncations the directory exists to catch) + raw-deflate inflate
    // with CRC32/size verification per member. Per doc: 1-3 members
    // alternating stored/deflate (repeated-token text so deflate
    // actually compresses); every 7th doc corrupted four ways (EOCD
    // truncation, first-payload-byte flip -> CRC/deflate failure, EOCD
    // signature flip, comment-length flip) -> single ok=false row. The
    // oracle regenerates each member's closed-form text and digests it
    // with its own md5 — names, sizes and content hashes must all
    // survive the compress->archive->walk->inflate round trip.
    "q154_zip_walk" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val members = (0 until (1 + id % 3).toInt).map { j =>
              val content = ("w" + (id + j) + " ") * (5 + ((id + j) % 20)).toInt
              (s"doc$id/part$j.txt",
                content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                (id + j) % 2 == 0)
            }
            val base = Zip.encode(members)
            val payload =
              if (id % 7 != 3) base
              else (id % 4) match {
                case 0 => base.take(base.length - 5)
                case 1 => { val b = base.clone()
                  b(30 + s"doc$id/part0.txt".length) =
                    (b(30 + s"doc$id/part0.txt".length) ^ 0x55).toByte
                  b } // first payload byte -> CRC/deflate failure
                case 2 => { val b = base.clone()
                  b(b.length - 21) = 'X'.toByte; b } // EOCD signature
                case _ => { val b = base.clone()
                  b(b.length - 1) = 0x40.toByte; b } // comment-length lie
              }
            Binary.MediaRow(id, payload, "archive", "zip")
          }
        }
      Binary.zipEntries(media)
        .toDF()
        .select(col("media_id").as("doc_id"), col("ok"), col("name"),
          col("method").cast("long").as("method"), col("n_bytes"),
          col("digest"))
        .ordered(col("doc_id"), col("name"))
    }),

    // ---- Multimodal: tar / tar.gz archive walk --------------------------
    // THE dataset-drop format (WebDataset shards, research corpora ship
    // as tar/tar.gz): per doc, synthesize a ustar archive (optional
    // directory entry + 1-3 text members, closed-form contents), wrap
    // every even doc in a REAL gzip member (the .tar.gz composition:
    // gunzipBinary's CRC-verified decode feeds the tar walk — tar
    // itself has no payload CRC, the outer gzip is its integrity
    // layer), and walk it with Tar.decode's checksum-verified header
    // chain. Every 7th doc corrupted four ways (torn terminator,
    // checksum flip, magic flip, re-sealed size-field lie) -> one
    // ok=false row. The oracle regenerates members and digests
    // closed-form (q154 discipline).
    "q172_tar_walk" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val dirs: Seq[(String, Char, Array[Byte])] =
              if (id % 5 == 0) Seq((s"doc$id/", '5', Array.emptyByteArray))
              else Seq.empty
            val files = (0 until (1 + id % 3).toInt).map { j =>
              val content =
                ("t" + (id + j) + " ") * (5 + ((id + j) % 20)).toInt
              (s"doc$id/part$j.txt", '0',
                content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            val base = Tar.encode(dirs ++ files)
            val tarred =
              if (id % 7 != 3) base
              else (id % 4) match {
                case 0 => base.take(base.length - 100) // torn terminator
                case 1 => { val b = base.clone()
                  b(148) = (b(148) ^ 0x01).toByte; b } // checksum flip
                case 2 => { val b = base.clone(); b(257) = 'X'.toByte; b }
                case _ => { val b = base.clone()
                  var i = 0
                  while (i < 11) { b(124 + i) = '7'.toByte; i += 1 }
                  b(135) = 0
                  // re-seal the checksum so the SIZE guard, not the
                  // checksum, is what trips
                  var sum = 0L; i = 0
                  while (i < 512) {
                    sum += (if (i >= 148 && i < 156) 0x20 else b(i) & 0xff)
                    i += 1
                  }
                  val cs = "%06o".format(sum)
                    .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
                  System.arraycopy(cs, 0, b, 148, 6)
                  b(154) = 0; b(155) = ' '.toByte
                  b }
              }
            val payload = if (id % 2 == 0) Gzip.encode(tarred) else tarred
            Binary.MediaRow(id, payload, "archive",
              if (id % 2 == 0) "tar.gz" else "tar")
          }
        }
      Binary.tarEntries(Binary.gunzipBinary(media))
        .toDF()
        .select(col("media_id").as("doc_id"), col("ok"), col("name"),
          col("typeflag"), col("n_bytes"), col("digest"))
        .ordered(col("doc_id"), col("name"))
    }),

    // ---- Multimodal: MP4 container metadata probe -----------------------
    // THE crawl video container, probed by a real ISO BMFF box walk
    // (ftyp brand, mvhd timescale/duration in both versions, per-trak
    // tkhd 16.16 dims + mdia/hdlr handler types, 64-bit box sizes on
    // every 11th doc's mdat) — sample payloads stay behind the stub
    // boundary. Fixtures cycle track mixes (video+audio / video-only /
    // audio-only / none), v0/v1 headers and dims; every 7th doc is
    // corrupted four ways (truncation, magic flip, lying box size,
    // zero timescale). The oracle recomputes every field closed-form;
    // duration is the all-integer duration*1000//timescale.
    "q167_mp4_probe" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val tracks = (id % 4) match {
              case 0 => Seq(Mp4.Track(video = true,
                (320 + id % 1600).toInt, (240 + id % 900).toInt),
                Mp4.Track(video = false, 0, 0))
              case 1 => Seq(Mp4.Track(video = true,
                (320 + id % 1600).toInt, (240 + id % 900).toInt))
              case 2 => Seq(Mp4.Track(video = false, 0, 0))
              case _ => Seq.empty
            }
            val base = Mp4.encode(
              brand = if (id % 2 == 0) "isom" else "mp42",
              timescale = 1000 + (id % 9) * 100,
              duration = (id * 731 + 17) % 10000000,
              tracks = tracks, v1 = id % 5 == 0,
              largeMdat = id % 11 == 0)
            val payload =
              if (id % 7 != 3) base
              else (id % 4) match {
                case 0 => base.take(base.length - 5)
                case 1 => { val b = base.clone(); b(4) = 'X'.toByte; b }
                case 2 => { val b = base.clone(); b(3) = 3; b } // ftyp size lie
                case _ => { val b = base.clone()
                  // zero the mvhd timescale: ftyp box is 20 bytes,
                  // moov header 8, mvhd header 8, then the version-
                  // correct payload offset (v0: +12, v1: +20)
                  val off = 20 + 8 + 8 + (if (id % 5 == 0) 20 else 12)
                  var j = 0
                  while (j < 4) { b(off + j) = 0; j += 1 }
                  b }
              }
            (id, payload)
          }
        }.toDF("doc_id", "payload")
      media
        .select(col("doc_id"),
          call_function("mp4_meta", col("payload")).as("m"))
        .select(col("doc_id"), col("m.ok").as("ok"),
          col("m.brand").as("brand"),
          col("m.duration_ms").as("duration_ms"),
          col("m.n_tracks").cast("long").as("n_tracks"),
          col("m.has_video").as("has_video"),
          col("m.has_audio").as("has_audio"),
          col("m.width").cast("long").as("width"),
          col("m.height").cast("long").as("height"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: Ogg container metadata probe -----------------------
    // The page-level sibling of q161/q167: per doc, synthesize a
    // single-stream Ogg file (real page headers with correct forward
    // CRC-32s, proper 255-run lacing, BOS/EOS flags; body payloads are
    // junk — codec bitstreams stay behind the stub boundary) carrying
    // a Vorbis ident (even docs) or OpusHead (odd docs), every 9th doc
    // an unrecognized codec (ok=true, codec='unknown' — count, don't
    // misparse), every 7th corrupted four ways (torn page, CRC-breaking
    // payload flip, magic flip, bad version). duration is all-integer
    // from the EOS granule (Opus at its fixed 48 kHz clock less
    // pre-skip). The oracle recomputes every field closed-form.
    "q173_ogg_probe" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val rates = Array(8000, 16000, 22050, 44100, 48000)
            val ch = (1 + id % 4).toInt
            val preSkip = (312 + id % 500).toInt
            val granule = id * 977 + 48000
            val ident =
              if (id % 9 == 4)
                ("Xcodec00" + "ident junk").getBytes("US-ASCII")
              else if (id % 2 == 1)
                Ogg.opusHead(ch, preSkip,
                  if (id % 3 == 0) 44100 else 48000)
              else Ogg.vorbisIdent(ch, rates((id % 5).toInt))
            val nBody = if (id % 4 == 0) -1 else (id % 4).toInt - 1
            val base = Ogg.encode(ident, nBody, granule,
              serial = (id % 100000).toInt, seed = id)
            val payload =
              if (id % 7 != 3) base
              else (id % 4) match {
                case 0 => base.take(base.length - 30) // torn final page
                case 1 => { val b = base.clone()      // CRC now lies
                  b(b.length - 1) = (b(b.length - 1) ^ 0x55).toByte; b }
                case 2 => { val b = base.clone(); b(0) = 'X'.toByte; b }
                case _ => { val b = base.clone(); b(4) = 1; b } // version
              }
            (id, payload)
          }
        }.toDF("doc_id", "payload")
      media
        .select(col("doc_id"),
          call_function("ogg_meta", col("payload")).as("m"))
        .select(col("doc_id"), col("m.ok").as("ok"),
          col("m.codec").as("codec"),
          col("m.channels").cast("long").as("channels"),
          col("m.sample_rate").cast("long").as("sample_rate"),
          col("m.n_pages").cast("long").as("n_pages"),
          col("m.duration_ms").as("duration_ms"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: FLAC container metadata probe ----------------------
    // The lossless-audio sibling of q153: per doc, synthesize a FLAC
    // container (spec-exact STREAMINFO bit packing — 20-bit rate,
    // packed channels/bits, 36-bit total samples — plus optional
    // VORBIS_COMMENT/SEEKTABLE/PADDING blocks and junk audio the probe
    // never reads) and walk it with the codegen'd `flac_meta` kernel;
    // every 7th doc corrupted four ways (truncation, magic flip,
    // non-STREAMINFO first block, lying block length). The oracle
    // recomputes every field closed-form (q144/q153 discipline).
    "q161_flac_probe" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val srs = Array(8000, 16000, 22050, 44100, 48000, 96000)
            val bits = Array(8, 12, 16, 24, 32)
            val base = Flac.encode(
              srs((id % 6).toInt), 1 + (id % 4).toInt, bits((id % 5).toInt),
              (id * 977 + 11) % (1L << 20),
              tags = id % 3 == 0, seektable = id % 4 == 0,
              padding = if (id % 5 == 0) 10 + (id % 50).toInt else 0)
            val payload =
              if (id % 7 != 3) base
              else (id % 4) match {
                case 0 => base.take(20)
                case 1 => { val b = base.clone(); b(0) = 'X'.toByte; b }
                case 2 => { val b = base.clone()
                  b(4) = ((b(4) & 0x80) | 4).toByte; b } // tags lead: illegal
                case _ => { val b = base.clone()
                  b(5) = 0x7f.toByte; b } // block length past payload end
              }
            (id, payload)
          }
        }.toDF("doc_id", "payload")
      media
        .select(col("doc_id"),
          call_function("flac_meta", col("payload")).as("m"))
        .select(col("doc_id"), col("m.ok").as("ok"),
          col("m.sample_rate").cast("long").as("sample_rate"),
          col("m.channels").cast("long").as("channels"),
          col("m.bits_per_sample").cast("long").as("bits_per_sample"),
          col("m.total_samples").as("total_samples"),
          col("m.duration_ms").as("duration_ms"),
          col("m.n_blocks").cast("long").as("n_blocks"),
          col("m.has_tags").as("has_tags"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: MPEG-audio frame-header probe ----------------------
    // The audio sibling of q144's WebP probe: per doc, synthesize an
    // MP3-family stream (real ISO frame headers at spec-exact lengths;
    // junk payloads — audio synthesis is the stub boundary) cycling
    // MPEG version (1/2/2.5), layer (I/II/III), bitrate index, sample
    // rate, mono/stereo, CBR vs VBR (per-frame bitrate walk), leading
    // ID3v2 (syncsafe size, every-9th footer) and trailing ID3v1 tags,
    // alternating padding bits; every 7th doc corrupted (truncation /
    // sync flip / free bitrate / lying or missing tag). The codegen'd
    // `mpeg_audio_meta` kernel walks headers wall-to-wall; the oracle
    // recomputes every field closed-form from the public bitrate/
    // samplerate tables (q144 discipline, ok=false -> null fields).
    "q153_mpeg_probe" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val verId = (id % 3) match {
              case 0 => 3; case 1 => 2; case _ => 0
            }
            val layer = 1 + ((id % 7) % 3).toInt
            val srIdx = ((id % 5) % 3).toInt
            val nf = 3 + (id % 6).toInt
            val brIdxs =
              if (id % 4 == 1) (0 until nf).map(f => 1 + ((id + 3 * f) % 14).toInt)
              else Seq.fill(nf)(1 + (id % 14).toInt)
            val base = Mp3.encode(verId, layer, brIdxs, srIdx,
              mono = id % 2 == 0, pad = f => ((id + f) % 2).toInt,
              id3v2 = if (id % 3 == 0) Some(40 + (id % 100).toInt) else None,
              id3v2Footer = id % 9 == 0, id3v1 = id % 5 == 0)
            val payload =
              if (id % 7 != 3) base
              else (id % 4) match {
                case 0 => base.take(base.length - 3)
                case 1 => { val b = base.clone()
                  // flip the first frame's sync byte (frames start after
                  // the optional ID3v2 region)
                  val off = if (id % 3 == 0)
                    10 + 40 + (id % 100).toInt +
                      (if (id % 9 == 0) 10 else 0)
                  else 0
                  b(off) = 0x7f.toByte; b }
                case 2 => { val b = base.clone()
                  val off = if (id % 3 == 0)
                    10 + 40 + (id % 100).toInt +
                      (if (id % 9 == 0) 10 else 0)
                  else 0
                  b(off + 2) = (b(off + 2) & 0x0f).toByte; b } // free bitrate
                case _ =>
                  // lying ID3v2 size (bit-6 flip, ±64) shifts the walk
                  // into tag junk or mid-payload — both non-sync by the
                  // junk byte patterns, never a re-aligned frame
                  if (id % 3 == 0) { val b = base.clone()
                    b(9) = ((b(9) & 0x7f) ^ 0x40).toByte
                    b }
                  else base.take(2) // no tag to lie about: truncate
              }
            (id, payload)
          }
        }.toDF("doc_id", "payload")
      media
        .select(col("doc_id"),
          call_function("mpeg_audio_meta", col("payload")).as("m"))
        .select(col("doc_id"), col("m.ok").as("ok"),
          col("m.version").as("version"),
          col("m.layer").cast("long").as("layer"),
          col("m.sample_rate").cast("long").as("sample_rate"),
          col("m.channels").cast("long").as("channels"),
          col("m.n_frames").cast("long").as("n_frames"),
          col("m.duration_ms").as("duration_ms"),
          col("m.bitrate_kbps").cast("long").as("bitrate_kbps"),
          col("m.vbr").as("vbr"),
          col("m.has_id3v2").as("has_id3v2"),
          col("m.has_id3v1").as("has_id3v1"))
        .ordered(col("doc_id"))
    }),

    // ---- Multimodal: WebP container metadata probe ----------------------
    // The crawl-staple format the engine deliberately does NOT pixel-
    // decode (VP8 bitstreams are codec-library territory — the stub
    // boundary), probed for the fields routing/filtering actually need:
    // format variant, dims, alpha, animation — all public-spec header
    // layout, read by the codegen'd `webp_meta` kernel (a native
    // Expression, q140's advisory-metadata posture: malformed == ok=false
    // rows, never failures). Fixtures cycle the three container forms
    // (simple lossy VP8, simple lossless VP8L, extended VP8X — animated
    // extended docs carry real ANMF frame chains whose counts and
    // summed 24-bit durations the probe walks) and every 7th doc is
    // corrupted four different ways (truncation, magic flip, RIFF size
    // mismatch, unknown leading chunk).
    "q144_webp_probe" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val base = (id % 3) match {
              case 0 => Webp.encodeLossy(
                (16 + id % 300).toInt, (9 + id % 200).toInt)
              case 1 => Webp.encodeLossless(
                (1 + id % 1000).toInt, (1 + id % 800).toInt, id % 2 == 1)
              case _ =>
                val anim = id % 8 >= 4
                Webp.encodeExtended(
                  (10 + id % 4000).toInt, (20 + id % 2000).toInt,
                  id % 4 >= 2, anim,
                  frames = if (anim)
                    Seq.fill((1 + id % 3).toInt)((40 + id % 25).toInt)
                  else Nil)
            }
            val payload =
              if (id % 7 != 3) base
              else (id % 4) match {
                case 0 => base.take(15)
                case 1 => { val b = base.clone(); b(8) = 'X'.toByte; b }
                case 2 => { val b = base.clone(); b(4) = (b(4) + 1).toByte; b }
                case _ => { val b = base.clone()
                  b(12) = 'J'; b(13) = 'U'; b(14) = 'N'; b(15) = 'K'; b }
              }
            (id, payload)
          }
        }.toDF("doc_id", "payload")
      media
        .select(col("doc_id"), call_function("webp_meta", col("payload")).as("m"))
        .select(col("doc_id"), col("m.ok").as("ok"),
          col("m.format").as("format"),
          col("m.width").cast("long").as("width"),
          col("m.height").cast("long").as("height"),
          col("m.has_alpha").as("has_alpha"),
          col("m.has_anim").as("has_anim"),
          col("m.n_frames").cast("long").as("n_frames"),
          col("m.duration_ms").as("duration_ms"))
        .ordered(col("doc_id"))
    }),

    // ---- ORC columnar round-trip (S1/S3 × the format-agnostic scan) -----
    // The engine's scan/sink surface is format-agnostic by design (the
    // Delta closure's argument); prove it end-to-end on the OTHER
    // columnar format Spark ships natively: lineitem -> ORC sink ->
    // ORC scan (with a pushed filter) -> aggregate. The oracle computes
    // the same aggregate from the original parquet — any loss or
    // corruption in the ORC hop (types, nulls, decimals) hash-diverges.
    "q146_orc_roundtrip" -> ((s, dir) => {
      val out = scratchDir("orc", dir)
      Sources.writeOrc(Tables(s, dir, "lineitem"), out)
      Sources.orc(s, out)
        .filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag"))
        // decimal sum: exact and order-independent (the q01 discipline)
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("sum_qty"), count(lit(1)).as("n_rows"))
        .ordered(col("l_returnflag"))
    }),

    // ---- Sources: native XML scan/sink round trip -----------------------
    // Spark 4's built-in XML data source (q146's ORC sibling; no
    // external jar): a typed orders slice — longs, strings, a NESTED
    // element — is WRITTEN as XML files, read back with an explicit
    // schema + rowTag, and must surface value-identical (the q147 JSONL
    // byte-fidelity discipline: the oracle states the identity result
    // over parquet; any serializer text-mangling — entity escaping,
    // whitespace, numeric formatting — breaks the hash). Price rides
    // micro-unit longs: float-as-text has no place in an exchange
    // format when an integer encoding exists.
    "q175_xml_roundtrip" -> ((s, dir) => {
      val out = scratchDir("xml", dir)
      Tables(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 1e6 + 0.5).cast("long").as("price6"),
          struct(col("o_orderpriority").as("prio")).as("ship"))
        .write.format("xml").option("rowTag", "order").mode("overwrite")
        .save(out)
      s.read.format("xml").option("rowTag", "order")
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, status STRING, price6 BIGINT, ship STRUCT<prio: STRING>"))
        .load(out)
        .select(col("k"), col("status"), col("price6"),
          col("ship.prio").as("prio"))
        .ordered(col("k"))
    }),

    // ---- Product analytics: ordered funnel conversion --------------------
    // The classic event funnel (view -> click within 48h -> purchase
    // within 72h, each step strictly AFTER the previous one for the
    // same user) computed the distributed way: three chained
    // min-over-user-partition windows — t1 = first view, t2 = first
    // qualifying click after t1, t3 = first qualifying purchase after
    // t2 — share ONE user-keyed Exchange (no orderBy frames, so no
    // sort either), then one tiny global aggregate melts to a
    // step/users/conversion table. Step deadlines are integer
    // epoch-micros (exact). No per-user collect, no driver loop: at
    // 100 TB the funnel is one shuffle wide. The oracle replays the
    // identical window cascade in DuckDB.
    "q176_funnel" -> ((s, dir) => {
      val clickWinUs = 48L * 3600 * 1000000L
      val buyWinUs = 72L * 3600 * 1000000L
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
      val w = Window.partitionBy(col("user_id"))
      val staged = e
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts_us"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" &&
            col("ts_us") > col("t1") &&
            col("ts_us") <= col("t1") + clickWinUs, col("ts_us"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" &&
            col("ts_us") > col("t2") &&
            col("ts_us") <= col("t2") + buyWinUs, col("ts_us"))).over(w))
      val perUser = staged.groupBy(col("user_id"))
        .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"),
          min(col("t3")).as("t3"))
      val tot = perUser.agg(
        count(col("t1")).as("u1"), count(col("t2")).as("u2"),
        count(col("t3")).as("u3"))
      def rate(n: Column, d: Column) = when(d > 0,
        floor(n.cast("double") / d.cast("double") * 1e6 + 0.5) / 1e6)
      tot.select(explode(array(
          struct(lit(1).as("step"), lit("view").as("event_type"),
            col("u1").as("users"), lit(1.0).as("conv_from_prev"),
            lit(1.0).as("conv_from_first")),
          struct(lit(2).as("step"), lit("click").as("event_type"),
            col("u2").as("users"),
            rate(col("u2"), col("u1")).as("conv_from_prev"),
            rate(col("u2"), col("u1")).as("conv_from_first")),
          struct(lit(3).as("step"), lit("purchase").as("event_type"),
            col("u3").as("users"),
            rate(col("u3"), col("u2")).as("conv_from_prev"),
            rate(col("u3"), col("u1")).as("conv_from_first")))).as("r"))
        .select(col("r.step").as("step"), col("r.event_type"),
          col("r.users"), col("r.conv_from_prev"),
          col("r.conv_from_first"))
        .ordered(col("step"))
    }),

    // ---- Product analytics: cohort retention matrix ----------------------
    // Users cohorted by the epoch-day of their FIRST event; cell (c, k)
    // counts distinct cohort-c users active on day c+k. first_ts is a
    // min-over-user window (no orderBy — one Exchange, no sort), cohort
    // sizes come from the k=0 diagonal of the same aggregate (no second
    // scan), and the percentage is a fixed rounded tree. This is the
    // warehouse query that motivates day-grain partition layout at
    // 100 TB: both the window and the groupBy key off user_id, so AQE
    // coalesces one user-hashed Exchange end to end.
    "q177_retention" -> ((s, dir) => {
      // floor-division in exact-double range (ts_us/1e6 < 2^53): matches
      // DuckDB's BIGINT // chain for positive epochs
      val day = (c: Column) =>
        floor(floor(c / 1e6) / 86400.0).cast("long")
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
        .select(col("user_id"), day(col("ts_us")).as("day"))
      val w = Window.partitionBy(col("user_id"))
      val cells = e.withColumn("cohort_day", min(col("day")).over(w))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day"))
          .as("day_k"))
        .agg(countDistinct(col("user_id")).as("active_users"))
      val sizes = cells.filter(col("day_k") === 0)
        .select(col("cohort_day"), col("active_users").as("cohort_size"))
      cells.join(broadcast(sizes), Seq("cohort_day"))
        .select(col("cohort_day"), col("day_k"), col("active_users"),
          col("cohort_size"),
          (floor(col("active_users").cast("double") /
            col("cohort_size").cast("double") * 1e4 + 0.5) / 1e2)
            .as("retention_pct"))
        .ordered(col("cohort_day"), col("day_k"))
    }),

    // ---- Sequence analytics: Markov transition matrix ---------------------
    // First-order event-type transition counts and probabilities: lag
    // over (user, ts, event_id) pairs consecutive events per user (one
    // sorted user-keyed Exchange), then a 25-cell aggregate. The
    // probability denominator is a window over the tiny grouped result
    // (zero extra shuffle at any scale — the matrix is |types|²). The
    // deterministic-order contract rides (ts_us, event_id), not
    // arrival order; NULL event types are dropped (the NULL posture —
    // a NULL state would otherwise absorb two transitions).
    "q178_markov" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val m = e.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev_type"))
      m.select(col("prev_type"), col("next_type"), col("n"),
          (floor(col("n").cast("double") /
            sum(col("n")).over(wp).cast("double") * 1e6 + 0.5) / 1e6)
            .as("p"))
        .ordered(col("prev_type"), col("next_type"))
    }),

    // ---- Sampling: deterministic stratified k-per-stratum -----------------
    // Exact-quota stratified sampling done scale-safe: rank rows inside
    // each (lang, source) stratum by the content-uniform md5 coin
    // (ties broken by doc_id) and keep rank <= k. One window Exchange
    // keyed by the strata, no per-stratum count pass, no driver-side
    // quota table — every stratum yields min(k, |stratum|) rows,
    // reproducibly, on any cluster size. Complements q66's global
    // hash-rate sampling and q160's PPS weights with the "equal
    // representation per cell" contract an eval-set builder needs.
    "q179_stratified" -> ((s, dir) => {
      val k = 20
      val u = shiftrightunsigned(call_function("md5_lower64",
        col("doc_id").cast("string")), 33)
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(u.asc, col("doc_id").asc)
      // doc_id/lang/source must be non-null: a NULL doc_id makes the
      // md5 coin NULL, and Spark ranks NULLS FIRST where DuckDB ranks
      // NULLS LAST — null rows are excluded, not ordered differently
      Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
          col("source").isNotNull)
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .ordered(col("lang"), col("source"), col("rn"))
    }),

    // ---- Data quality: Benford first-digit audit ---------------------------
    // The fraud/anomaly screen over a monetary column: first significant
    // digit via integer micro-units -> decimal string -> first char (NO
    // float log10 on the data path — the digit of 999999.9999 must not
    // ride an engine's log rounding), observed shares vs the Benford
    // expectation, chi-square contributions in one fixed double tree.
    // The nine expected shares are pinned 6-dp literals in BOTH engines
    // (log10 bit-parity across libm implementations is not a contract).
    // One scan, one 9-row aggregate, a broadcast-free finale.
    "q180_benford" -> ((s, dir) => {
      val benford = Map(1 -> 0.30103, 2 -> 0.176091, 3 -> 0.124939,
        4 -> 0.09691, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
        8 -> 0.051153, 9 -> 0.045757)
      val p6 = floor(col("o_totalprice") * 1e6 + 0.5).cast("long")
      val d = substring(p6.cast("string"), 1, 1).cast("int")
      val obs = Tables(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && (p6 > 0))
        .select(d.as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val wAll = Window.partitionBy()
      val expCol = benford.foldLeft(lit(null).cast("double")) {
        case (acc, (dig, e)) => when(col("digit") === dig, lit(e))
          .otherwise(acc)
      }
      obs.withColumn("total", sum(col("n")).over(wAll))
        .select(col("digit"), col("n"),
          (floor(col("n").cast("double") / col("total").cast("double")
            * 1e6 + 0.5) / 1e6).as("obs_pct"),
          expCol.as("exp_pct"),
          (floor((col("n").cast("double") / col("total").cast("double")
              - expCol) * (col("n").cast("double") /
              col("total").cast("double") - expCol) / expCol *
            col("total").cast("double") * 1e6 + 0.5) / 1e6)
            .as("chi2_part"))
        .ordered(col("digit"))
    }),

    // ---- Spatial: grid-bucketed epsilon-neighbor self-join -----------------
    // The spatial join shape without an all-pairs cross product: points
    // (deterministic 2-D-uniform coords from two independent md5 coins
    // per event_id — integer mod then one double divide, bit-identical
    // in both engines; a LINEAR id->coord map would put all points on
    // a wrapping 1-D lattice line with no close pairs) land in
    // eps-sized grid cells; the LEFT side replicates each point to its
    // 3x3 neighbor cells, the RIGHT keeps the home cell, and the
    // equi-join on cell + exact d² <= eps² + id < id yields each
    // qualifying pair EXACTLY once (one home cell per point — no
    // post-join distinct). Candidates scale with local density, not
    // n²: the 100 TB plan is a plain hash join on cell keys. The
    // oracle brute-forces with an |Δlat|,|Δlon| band prefilter (DuckDB
    // IEJoin) — an independent plan validating the grid algebra.
    "q181_grid_join" -> ((s, dir) => {
      val eps = 0.5
      val coin = (c: Column) => shiftrightunsigned(
        call_function("md5_lower64", c), 33)
      val pts = Tables(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select(col("event_id").as("id"),
          ((coin(col("event_id").cast("string")) % 180000L) / lit(1000.0)
            - 90.0).as("lat"),
          ((coin(concat(col("event_id").cast("string"), lit("#lon")))
            % 360000L) / lit(1000.0) - 180.0).as("lon"))
      Spatial.epsNeighborJoin(pts, "id", "lat", "lon", eps)
        .select(col("a_id"), col("b_id"),
          (floor(col("d2") * 1e6 + 0.5) / 1e6).as("d2"))
        .ordered(col("a_id"), col("b_id"))
    }),

    // ---- Sequence analytics: session path mining ---------------------------
    // Top navigation paths: events sessionize on a 2h inactivity gap
    // (integer epoch-micros lag — exact), the running flag-sum numbers
    // sessions inside the SAME sorted user window (one Exchange carries
    // lag + the numbering), then each session's ordered event-type
    // string groups to path frequencies. Path assembly is
    // sort_array(collect_list(struct)) — deterministic under the
    // (ts_us, event_id) total order, never arrival order. The oracle
    // replays sessionization and paths via string_agg(ORDER BY).
    "q182_session_paths" -> ((s, dir) => {
      val gapUs = 7200L * 1000000L
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val sess = e
        .withColumn("new_sess",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) <= gapUs,
            lit(0L)).otherwise(lit(1L)))
        .withColumn("sess_no", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      sess.groupBy(col("user_id"), col("sess_no"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts_us"), col("event_id"),
            col("event_type")))), x => x.getField("event_type")), ">")
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .filter(col("n_sessions") >= 3)
        .ordered(col("n_sessions").desc, col("path"))
    }),

    // ---- Interval analytics: peak concurrency sweep ------------------------
    // Max simultaneous open intervals (sessions/connections/jobs) per
    // (event_type, day): each interval [ts, ts + value minutes) melts
    // to +1/-1 endpoint deltas CLIPPED to each day it covers (clipping
    // makes days independent — no cross-partition carry, unlike a
    // global sweep), the running sum rides one (type, day)-keyed
    // sorted window, peak = max prefix. Half-open tie rule: at equal
    // t the -1 sorts first (an interval ending at t has released
    // before one starting at t), and ties WITHIN a delta class are
    // prefix-sum-invariant (equal deltas commute), so the peak is
    // deterministic under any row order. Day math is integer `div`
    // on epoch-micros — never a float division whose rounding could
    // disagree with the oracle's BIGINT `//`.
    "q183_peak_concurrency" -> ((s, dir) => {
      val dayUs = 86400000000L
      val iv = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && col("value") > 0)
        .select(col("event_type"), col("ts_us").as("s"),
          (col("ts_us") + floor(col("value") * 60 * 1e6 + 0.5)
            .cast("long")).as("e"))
      val days = iv.select(col("event_type"), col("s"), col("e"),
        explode(sequence(expr(s"s div $dayUs"), expr(s"(e-1) div $dayUs")))
          .as("day"))
      val pts = days.select(col("event_type"), col("day"),
          greatest(col("s"), col("day") * dayUs).as("t"),
          lit(1).as("d"))
        .unionByName(days.select(col("event_type"), col("day"),
          least(col("e"), (col("day") + 1) * dayUs).as("t"),
          lit(-1).as("d")))
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("conc", sum(col("d")).over(w))
        .groupBy(col("event_type"), col("day"))
        .agg(max(col("conc")).as("peak"))
        .ordered(col("event_type"), col("day"))
    }),

    // ---- Experimentation: two-proportion A/B z-test -------------------------
    // The experiment-analysis finale: users split by the md5 coin
    // (assignment is content-addressed — stable across engines, runs,
    // partitionings, the q60 discipline), conversion = purchase within
    // 72h of the user's first event (min-over-user window, one
    // Exchange), then the pooled two-proportion z statistic in one
    // fixed double tree — sqrt is IEEE-correctly-rounded in every
    // engine, so z is bit-stable where erf/p-values would not be
    // (report z, judge against the 1.96 threshold downstream).
    "q184_ab_test" -> ((s, dir) => {
      val buyWinUs = 72L * 3600 * 1000000L
      val coin = shiftrightunsigned(call_function("md5_lower64",
        col("user_id").cast("string")), 33)
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
      val w = Window.partitionBy(col("user_id"))
      val perUser = e.withColumn("t0", min(col("ts_us")).over(w))
        .groupBy(col("user_id"),
          when(coin % 2 === 0, "A").otherwise("B").as("variant"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("ts_us") <= col("t0") + buyWinUs, 1).otherwise(0))
          .as("conv"))
      val byVar = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val one = byVar.agg(
        max(when(col("variant") === "A", col("n"))).as("n_a"),
        max(when(col("variant") === "A", col("c"))).as("c_a"),
        max(when(col("variant") === "B", col("n"))).as("n_b"),
        max(when(col("variant") === "B", col("c"))).as("c_b"))
      val pa = col("c_a").cast("double") / col("n_a").cast("double")
      val pb = col("c_b").cast("double") / col("n_b").cast("double")
      val pp = (col("c_a") + col("c_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      val z = (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a").cast("double") +
          lit(1.0) / col("n_b").cast("double")))
      one.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        (floor(pa * 1e6 + 0.5) / 1e6).as("rate_a"),
        (floor(pb * 1e6 + 0.5) / 1e6).as("rate_b"),
        (floor(z * 1e6 + 0.5) / 1e6).as("z"))
    }),

    // ---- Time series: lag-k autocorrelation ---------------------------------
    // ACF of the per-type daily event-count series at lags 1..3: daily
    // counts (one groupBy), pairs (x_t, x_{t+k}) via an equi-join on
    // (type, day+k) — no window over a global order, no gap
    // sensitivity (missing days simply contribute no pair), lags ride
    // one exploded literal array. Pearson r from exact LONG moment
    // sums (counts are integers — nothing rounds until the finale),
    // sqrt IEEE-exact, one fixed tree the oracle replays. The shape a
    // seasonality monitor runs over 100 TB of event history: two
    // shuffles (daily rollup, pair join) regardless of scale.
    "q185_autocorr" -> ((s, dir) => {
      val dayUs = 86400000000L
      val daily = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          expr(s"ts_us div $dayUs").as("day"))
        .agg(count(lit(1)).as("n"))
        .persist()
      val lags = daily.select(col("event_type"), col("day"),
        col("n").as("x"), explode(array(lit(1), lit(2), lit(3))).as("k"))
      val pairs = lags.join(daily
          .select(col("event_type").as("et2"), col("day").as("day2"),
            col("n").as("y")),
        col("et2") === col("event_type") &&
          col("day2") === col("day") + col("k"))
      val m = pairs.groupBy(col("event_type"), col("k")).agg(
        count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val mD = col("m").cast("double")
      def d(c: String) = col(c).cast("double")
      val num = mD * d("sxy") - d("sx") * d("sy")
      val den = sqrt(mD * d("sxx") - d("sx") * d("sx")) *
        sqrt(mD * d("syy") - d("sy") * d("sy"))
      m.select(col("event_type"), col("k"), col("m"),
          when(den > 0, floor(num / den * 1e6 + 0.5) / 1e6).as("r"))
        .ordered(col("event_type"), col("k"))
    }),

    // ---- Multimodal: PDF document-structure probe ---------------------------
    // The document sibling of the q144/q153/q161/q167/q173 container
    // probes: per doc, synthesize a classic ISO 32000 PDF (real file
    // structure — numbered objects, byte-offset-correct xref table,
    // trailer, startxref; content streams are the stub boundary)
    // cycling page counts, versions 1.2-1.7, and /Info presence;
    // every 7th doc corrupted four ways (truncation, header flip,
    // lying startxref pointer, lying page-tree /Count). The codegen'd
    // `pdf_meta` kernel validates STRUCTURALLY — every xref offset
    // must land on its own object, /Size must match the entry count,
    // declared /Count must equal the real page objects — and the
    // oracle recomputes every field closed-form from doc_id.
    "q186_pdf_probe" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val corrupt = id % 7 == 3
            val base = Pdf.encode(
              nPages = 1 + (id % 5).toInt, minor = 2 + (id % 6).toInt,
              withInfo = id % 3 == 0,
              countLie = if (corrupt && id % 4 == 3) 1 else 0)
            val payload =
              if (!corrupt) base
              else (id % 4) match {
                case 0 => base.take(40)
                case 1 => { val b = base.clone(); b(2) = 'X'.toByte; b }
                case 2 => { // lying startxref: bump its leading digit
                  val b = base.clone()
                  val sAscii = new String(b,
                    java.nio.charset.StandardCharsets.US_ASCII)
                  var i = sAscii.lastIndexOf("startxref") + 9
                  while (!Character.isDigit(sAscii.charAt(i))) i += 1
                  b(i) = ('0' + ((b(i) - '0' + 1) % 10)).toByte; b
                }
                case _ => base // countLie already applied
              }
            (id, payload)
          }
        }.toDF("doc_id", "payload")
      media
        .select(col("doc_id"),
          call_function("pdf_meta", col("payload")).as("m"))
        .select(col("doc_id"), col("m.ok").as("ok"),
          col("m.version").as("version"),
          col("m.n_objects").cast("long").as("n_objects"),
          col("m.n_pages").cast("long").as("n_pages"),
          col("m.has_info").as("has_info"))
        .ordered(col("doc_id"))
    }),

    // ---- Data profiling: functional-dependency audit -------------------------
    // Does det -> dep hold? The schema-discovery pass a 100 TB
    // profiler runs: per candidate FD, violations = Σ over det groups
    // of (distinct dep values - 1) — zero iff the dependency holds.
    // That sum telescopes to ONE aggregation — distinct (det, dep)
    // pairs minus distinct det — because Σ nd = |pairs| and the group
    // count = |distinct det| (over dep-non-null rows; NULL det or dep
    // is excluded as the documented posture, the q192 discipline). All
    // four candidates melt into ONE row stream per scanned table (a
    // literal struct-array explode — no per-candidate rescans); no
    // per-group intermediate ever materializes, and both distincts
    // ride map-side partial aggregation. Measured 3.2 s -> this shape
    // on the prior two-level (fd, det)-group plan at sf0.1.
    "q187_fd_audit" -> ((s, dir) => {
      // per table: ONE aggregate row carrying both FDs' pair/group
      // distincts on NATIVE types (no melt, no string casts — the
      // Expand a multi-distinct aggregate costs is cheaper than
      // doubling the rows and stringifying every key), then a literal
      // struct-array explode melts the one-row frames to the verdict
      // rows. countDistinct(a, b) skips null tuples; the group count
      // masks det through when(dep non-null) so both distincts range
      // over the same dep-non-null rows.
      def fdPair(df: DataFrame,
                 fd1: (String, String, String),
                 fd2: (String, String, String)) = {
        def g(det: String, dep: String) =
          countDistinct(when(col(dep).isNotNull, col(det)))
        df.agg(
            countDistinct(col(fd1._2), col(fd1._3)).as("p1"),
            g(fd1._2, fd1._3).as("g1"),
            countDistinct(col(fd2._2), col(fd2._3)).as("p2"),
            g(fd2._2, fd2._3).as("g2"))
          .select(explode(array(
            struct(lit(fd1._1).as("fd"), col("g1").as("n_groups"),
              (col("p1") - col("g1")).as("n_violations")),
            struct(lit(fd2._1).as("fd"), col("g2").as("n_groups"),
              (col("p2") - col("g2")).as("n_violations")))).as("r"))
          .select(col("r.fd").as("fd"), col("r.n_groups").as("n_groups"),
            col("r.n_violations").as("n_violations"))
      }
      fdPair(Tables(s, dir, "lineitem"),
          ("l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"),
          ("l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
        .unionByName(fdPair(Tables(s, dir, "orders"),
          ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
          ("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority")))
        .withColumn("holds", col("n_violations") === 0)
        .ordered(col("fd"))
    }),

    // ---- Query optimization: sketch-based join-size estimation ---------------
    // The CBO primitive: |A ⋈ B| on a non-FK key estimated WITHOUT
    // running the join, from the same Count-Min counters q122/q151
    // maintain — est = min over depth rows d of Σ_w A[d][w]·B[d][w]
    // (the AGMS/CMS inner-product bound; every cell over-counts by
    // hash collisions, so est >= truth always, and min-over-depths
    // tightens it). Two one-row sketch aggregates cross-joined, the
    // dot product a pure array fold in exact LONG arithmetic; the
    // EXACT join size rides alongside as the checked identity. At
    // 100 TB the sketches come from the metastore — the estimate
    // never touches the fact tables.
    "q188_cms_join_est" -> ((s, dir) => {
      val h31 = (c: Column) =>
        shiftrightunsigned(call_function("md5_lower64", c), 33)
      val a = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .agg(Sketches.cms(h31(col("user_id").cast("string")),
          cmsParams, cmsW).as("ska"))
      val b = Tables(s, dir, "orders").filter(col("o_custkey").isNotNull)
        .agg(Sketches.cms(h31(col("o_custkey").cast("string")),
          cmsParams, cmsW).as("skb"))
      val exact = Tables.events(s, dir)
        .select(col("user_id")).filter(col("user_id").isNotNull)
        .join(Tables(s, dir, "orders").select(col("o_custkey")),
          col("user_id") === col("o_custkey"))
        .agg(count(lit(1)).as("exact_n"))
      val prod = zip_with(col("ska"), col("skb"), (x, y) => x * y)
      val dots = cmsParams.indices.map(d =>
        aggregate(slice(prod, d * cmsW + 1, cmsW), lit(0L),
          (acc, x) => acc + x))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(exact))
        .select(least(dots: _*).as("est"), col("exact_n"),
          (floor(least(dots: _*).cast("double") /
            col("exact_n").cast("double") * 1e4 + 0.5) / 1e4)
            .as("over_ratio"))
    }),

    // ---- Feature engineering: exact dyadic EWMA -------------------------------
    // Exponentially-weighted trailing daily activity per type with
    // decay 1/2 per day over a 30-day horizon — and EXACT: weights are
    // 2^(29-k) LONG integers (shiftleft, no float pow), the weighted
    // sum is pure integer arithmetic until one final division, and the
    // horizon cut is part of the contract (beyond 30 days a halving
    // weight is < 1e-9 of the head — and a truncated window is what
    // makes the feature incrementally maintainable at scale). Anchors
    // explode 30 lag offsets and equi-join the daily series on
    // (type, day-k) — gap-tolerant: missing days contribute neither
    // numerator nor denominator mass.
    "q189_ewma" -> ((s, dir) => {
      val dayUs = 86400000000L
      val daily = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(count(lit(1)).as("n"))
        .persist()
      val anchors = daily.select(col("event_type"), col("day"),
        col("n"), explode(sequence(lit(0), lit(29))).as("k"))
      val joined = anchors.join(daily
          .select(col("event_type").as("et2"), col("day").as("day2"),
            col("n").as("x")),
        col("et2") === col("event_type") &&
          col("day2") === col("day") - col("k"))
      val wgt = expr("shiftleft(CAST(1 AS BIGINT), 29 - CAST(k AS INT))")
      joined.groupBy(col("event_type"), col("day"), col("n"))
        .agg(sum(col("x") * wgt).as("num"), sum(wgt).as("den"))
        .select(col("event_type"), col("day"), col("n"),
          (floor(col("num").cast("double") / col("den").cast("double")
            * 1e6 + 0.5) / 1e6).as("ewma"))
        .ordered(col("event_type"), col("day"))
    }),

    // ---- Market basket: association rules over co-ordered categories ----------
    // support/confidence/lift for category pairs co-occurring in one
    // order (parts bucketed to 100 categories — the catalog-hierarchy
    // rollup a basket analysis actually runs at): distinct
    // (order, category) first (a category twice in one basket counts
    // once), pairs via an orderkey self-join with a < b — candidate
    // mass is Σ per-order C(items,2), bounded by basket width, never
    // catalog². Per-item counts broadcast back onto the pair table;
    // every ratio is one fixed double tree over exact LONG counts.
    "q190_assoc_rules" -> ((s, dir) => {
      val items = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("oid"),
          (col("l_partkey") % 100L).as("item"))
        .distinct()
        .persist()
      val nOrders = items.agg(countDistinct(col("oid")).as("n_orders"))
      val nPer = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      val pairs = items.join(items.select(col("oid"),
            col("item").as("item_b")), Seq("oid"))
        .filter(col("item") < col("item_b"))
        .groupBy(col("item").as("a"), col("item_b").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      val out = pairs
        .join(broadcast(nPer.select(col("item").as("a"),
          col("n_item").as("n_a"))), Seq("a"))
        .join(broadcast(nPer.select(col("item").as("b"),
          col("n_item").as("n_b"))), Seq("b"))
        .crossJoin(broadcast(nOrders))
      def d(c: String) = col(c).cast("double")
      out.select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          (floor(d("n_ab") / d("n_orders") * 1e6 + 0.5) / 1e6)
            .as("support"),
          (floor(d("n_ab") / d("n_a") * 1e6 + 0.5) / 1e6)
            .as("confidence"),
          (floor(d("n_ab") * d("n_orders") / (d("n_a") * d("n_b"))
            * 1e6 + 0.5) / 1e6).as("lift"))
        .ordered(col("a"), col("b"))
    }),

    // ---- Marketing analytics: last-touch attribution ---------------------------
    // Each purchase attributes its value to the LAST preceding
    // non-purchase event of the same user (the last-touch model): one
    // ignore-nulls last_value window over the (ts_us, event_id) total
    // order — the same user-keyed Exchange the funnel rides — then a
    // |channels|-row rollup of attributed purchases and micro-unit
    // revenue. Purchases with no preceding touch attribute to the NULL
    // channel (kept — unattributed revenue is a number marketing asks
    // for, not a row to drop).
    "q191_attribution" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("channel",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(floor(col("value") * 1e6 + 0.5).cast("long")).as("rev6"))
        .select(col("channel"), col("n_purchases"),
          (floor(col("rev6").cast("double") / 1e6 * 1e2 + 0.5) / 1e2)
            .as("revenue"))
        .ordered(col("channel"))
    }),

    // ---- Data profiling: Gini impurity battery ----------------------------------
    // The log-free diversity measure (Shannon entropy needs ln — not
    // bit-identical across engines; Gini 1 − Σ pᵢ² is pure squares):
    // per categorical column, impurity from exact LONG value counts via
    // (N² − Σ nᵢ²)/N² in decimal, one small aggregate per scanned
    // table, NULL values excluded as a documented posture. The q168
    // ANALYZE battery's categorical sibling.
    "q192_gini" -> ((s, dir) => {
      def gini(df: DataFrame, table: String, c: String) = {
        val counts = df.filter(col(c).isNotNull)
          .groupBy(col(c)).agg(count(lit(1)).as("n"))
        counts.agg(sum(col("n")).as("nn"),
            sum(col("n").cast("decimal(19,0)") * col("n")).as("s2"),
            count(lit(1)).as("k"))
          .select(lit(s"$table.$c").as("column"), col("k").as("n_values"),
            col("nn").cast("long").as("n_rows"),
            (floor((lit(1.0) -
              col("s2").cast("double") /
                (col("nn").cast("decimal(19,0)") * col("nn"))
                  .cast("double")) * 1e6 + 0.5) / 1e6).as("gini"))
      }
      gini(Tables(s, dir, "lineitem"), "lineitem", "l_returnflag")
        .unionByName(gini(Tables(s, dir, "orders"), "orders",
          "o_orderpriority"))
        .unionByName(gini(Tables.events(s, dir), "events", "event_type"))
        .unionByName(gini(Tables(s, dir, "documents"), "documents",
          "lang"))
        .ordered(col("column"))
    }),

    // ---- Multi-objective: Pareto skyline (min price, max recency) -------------
    // The skyline operator, distributed: a naive skyline is an
    // all-pairs domination test (the BNLJ PlanAudit outlaws), and the
    // declarative cure — `max(y) OVER (ORDER BY x RANGE ... 1
    // PRECEDING)` — single-tasks the whole table through one sort. A
    // point survives iff y beats the running max over STRICTLY smaller
    // x AND it is the best y among its exact-x ties; the running max
    // rides PrefixSum.runningMaxStrictAsc (quantile boundary buckets →
    // bucket-local strict RANGE windows → broadcast prefix-max ledger),
    // so parallelism follows the live value distribution — the fixed-
    // width band prune this replaces collapsed to ONE task whenever the
    // price range fit a single band (the r13 latent-skew finding). The
    // oracle is an INDEPENDENT plan: a declarative NOT EXISTS
    // domination test.
    "q193_skyline" -> ((s, dir) => {
      val q = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 5 === 0 &&
          col("o_totalprice").isNotNull && col("o_orderdate").isNotNull)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 1e6 + 0.5).cast("long").as("x"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("y"))
      val wEq = Window.partitionBy(col("x"))
      graft.ops.PrefixSum.runningMaxStrictAsc(q, "x", "y", "max_y_smaller")
        .withColumn("max_y_eq", max(col("y")).over(wEq))
        .filter((col("max_y_smaller").isNull ||
          col("y") > col("max_y_smaller")) && col("y") === col("max_y_eq"))
        .select(col("o_orderkey"),
          (floor(col("x").cast("double") / 1e6 * 1e2 + 0.5) / 1e2)
            .as("price"),
          col("y").as("day"))
        .ordered(col("o_orderkey"))
    }),

    // ---- Metrics diagnostics: dimension contribution analysis ------------------
    // "Why did the metric move?": revenue delta between two fixed
    // periods decomposed per (dimension, value) — the Adtributor shape.
    // Both periods' micro-unit sums ride ONE scan (conditional
    // aggregation — never two scans diffed), dimensions melt through
    // the q187 literal struct-array explode, and each slice's share of
    // the total delta is a fixed tree over exact LONGs. At 100 TB this
    // is one map-side-combined aggregate over (dimension, value) —
    // the diagnosis never re-reads the fact table per dimension.
    "q194_metric_diff" -> ((s, dir) => {
      val dayUs = 86400000000L
      val splitDay = 19738L // first 15 days vs the rest
      val e = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("value").isNotNull)
        .select(expr(s"ts_us div $dayUs").as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v6"),
          col("event_type"), (col("user_id") % 10L).as("user_mod"))
      val melted = e.select(col("day"), col("v6"),
          explode(array(
            struct(lit("event_type").as("dim"),
              col("event_type").cast("string").as("val")),
            struct(lit("user_mod").as("dim"),
              col("user_mod").cast("string").as("val")))).as("r"))
        .select(col("day"), col("v6"), col("r.dim").as("dim"),
          col("r.val").as("val"))
      val cells = melted.groupBy(col("dim"), col("val")).agg(
        sum(when(col("day") < splitDay, col("v6")).otherwise(0L))
          .as("a6"),
        sum(when(col("day") >= splitDay, col("v6")).otherwise(0L))
          .as("b6"))
      val wd = Window.partitionBy(col("dim"))
      cells
        .withColumn("delta6", col("b6") - col("a6"))
        .withColumn("tot_delta6", sum(col("delta6")).over(wd))
        .select(col("dim"), col("val"),
          (floor(col("a6").cast("double") / 1e6 * 1e2 + 0.5) / 1e2)
            .as("period_a"),
          (floor(col("b6").cast("double") / 1e6 * 1e2 + 0.5) / 1e2)
            .as("period_b"),
          (floor(col("delta6").cast("double") / 1e6 * 1e2 + 0.5) / 1e2)
            .as("delta"),
          when(col("tot_delta6") =!= 0,
            floor(col("delta6").cast("double") /
              col("tot_delta6").cast("double") * 1e6 + 0.5) / 1e6)
            .as("delta_share"))
        .ordered(col("dim"), col("val"))
    }),

    // ---- Incremental aggregate maintenance (delta merge) ------------------------
    // The materialized-aggregate refresh a daily pipeline runs: the
    // stored per-type aggregate (days < split, persisted to parquet —
    // a real storage hop, the q164 discipline) absorbs the new day's
    // delta by a full-outer merge with coalesced integer sums — no
    // rescan of history. merge(stored, delta) == direct full recompute
    // is the checked identity the oracle states directly. Counts and
    // micro-unit sums are the mergeable form; averages derive at read
    // time (never stored — they don't merge).
    "q195_incr_agg" -> ((s, dir) => {
      val dayUs = 86400000000L
      val splitDay = 19738L
      val out = scratchDir("incragg", dir)
      val e = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"),
          floor(coalesce(col("value"), lit(0.0)) * 1e6 + 0.5)
            .cast("long").as("v6"))
      def rollup(df: DataFrame) = df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v6")).as("sum6"))
      rollup(e.filter(col("day") < splitDay))
        .write.mode("overwrite").parquet(s"$out/agg_v1")
      val stored = s.read.parquet(s"$out/agg_v1")
        .select(col("event_type"), col("n").as("n_a"),
          col("sum6").as("sum6_a"))
      val delta = rollup(e.filter(col("day") >= splitDay))
        .select(col("event_type"), col("n").as("n_b"),
          col("sum6").as("sum6_b"))
      stored.join(delta, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L)))
            .as("n"),
          (floor((coalesce(col("sum6_a"), lit(0L)) +
            coalesce(col("sum6_b"), lit(0L))).cast("double") / 1e6 * 1e2
            + 0.5) / 1e2).as("value_sum"))
        .ordered(col("event_type"))
    }),

    // ---- Data quality: robust anomaly flags (median/MAD) -------------------------
    // Which days are anomalous per event type? Robust statistics — a
    // z-score's mean/stddev are dragged by the very outliers being
    // hunted; median and MAD are not. Exact percentile aggregates
    // (q57's quantile_cont parity) over the DOMAIN-BOUNDED daily
    // rollup: median per type, MAD = median(|x − med|) in a second
    // tiny aggregate, flag = |x − med| > 3·MAD in exact integer-
    // derived doubles (counts are LONGs; medians are at worst .5s —
    // exact in both engines). The full day table rides out with its
    // flags; no log, no stddev, no float accumulation anywhere.
    "q196_robust_anomaly" -> ((s, dir) => {
      val dayUs = 86400000000L
      val daily = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(count(lit(1)).as("n"))
        .persist()
      val med = daily.groupBy(col("event_type"))
        .agg(percentile(col("n"), lit(0.5)).as("med"))
      val withMed = daily.join(broadcast(med), Seq("event_type"))
      val mad = withMed.groupBy(col("event_type"))
        .agg(percentile(abs(col("n").cast("double") - col("med")),
          lit(0.5)).as("mad"))
      withMed.join(broadcast(mad), Seq("event_type"))
        .select(col("event_type"), col("day"), col("n"),
          (floor(col("med") * 1e2 + 0.5) / 1e2).as("med"),
          (floor(col("mad") * 1e2 + 0.5) / 1e2).as("mad"),
          (abs(col("n").cast("double") - col("med")) >
            col("mad") * 3.0).as("is_anomaly"))
        .ordered(col("event_type"), col("day"))
    }),

    // ---- Data profiling: referential-integrity audit ------------------------------
    // Orphan counts per declared FK edge: child keys with no parent
    // (LEFT ANTI join — the single-shuffle plan; NULL keys are NOT
    // orphans, they're a separate posture and ride their own count).
    // The audit a 100 TB warehouse runs before trusting a join graph;
    // each edge is one anti join + one aggregate, unioned into the
    // verdict table.
    "q197_ref_integrity" -> ((s, dir) => {
      def audit(name: String, child: DataFrame, key: String,
                parent: DataFrame, pkey: String) = {
        val total = child.agg(count(lit(1)).as("n_child"),
          sum(when(col(key).isNull, 1L).otherwise(0L)).as("n_null"))
        val orphans = child.filter(col(key).isNotNull)
          .join(parent.select(col(pkey).as(key)).distinct(),
            Seq(key), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        total.crossJoin(broadcast(orphans))
          .select(lit(name).as("fk"), col("n_child"), col("n_null"),
            col("n_orphans"),
            (floor(col("n_orphans").cast("double") /
              col("n_child").cast("double") * 1e6 + 0.5) / 1e6)
              .as("orphan_rate"))
      }
      audit("lineitem.l_orderkey->orders",
          Tables(s, dir, "lineitem"), "l_orderkey",
          Tables(s, dir, "orders"), "o_orderkey")
        .unionByName(audit("orders.o_custkey->customer",
          Tables(s, dir, "orders"), "o_custkey",
          Tables(s, dir, "customer"), "c_custkey"))
        .unionByName(audit("events.user_id->customer",
          Tables(s, dir, "events"), "user_id",
          Tables(s, dir, "customer"), "c_custkey"))
        .ordered(col("fk"))
    }),

    // ---- Graph: label-propagation communities ----------------------------------
    // LinkGraph.lpa on the q174 synthetic link graph: 4 fixed
    // synchronous rounds, most-frequent-neighbor label with min-label
    // ties — a pure function of the edge set (asynchronous LPA is
    // run-dependent by construction; fixed K + deterministic ties is
    // what makes a community assignment auditable). The oracle unrolls
    // the same 4 layers as MATERIALIZED CTEs (the q155 HITS pattern —
    // DuckDB's per-reference CTE inlining would otherwise re-evaluate
    // exponentially many layer copies).
    "q198_lpa" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = Tables(s, dir, "documents")
      val e1 = docs.select((d % 311).as("src"), ((d * 11 + 7) % 311).as("dst"))
      val e2 = docs.filter(d % 2 === 0)
        .select((d % 311).as("src"), ((d * 23 + 3) % 311).as("dst"))
      LinkGraph.lpa(e1.unionByName(e2), "src", "dst", iters = 4)
        .ordered(col("node"))
    }),

    // ---- Time series: time-weighted average (TWAP) -------------------------------
    // The mean of a STEP function, not of its samples: each observation
    // holds until the user's next valued event (lead over the
    // (ts_us, event_id) total order — one user-keyed Exchange), the
    // last observation contributes no duration (the open interval has
    // no defined width — documented, not silently extended), and the
    // weighted sum rides decimal(value-micros × duration-micros)
    // products — a LONG would overflow at value·duration ≈ 4e19.
    // Sparse-sampled users (< 2 valued events) yield no row.
    "q199_twap" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("value").isNotNull && col("event_id").isNotNull)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val stepped = e
        .select(col("user_id"), col("ts_us"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v6"),
          col("event_id"))
        .withColumn("next_ts", lead(col("ts_us"), 1).over(w))
        .filter(col("next_ts").isNotNull)
        .withColumn("dur", col("next_ts") - col("ts_us"))
      stepped.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_steps"),
          sum(col("v6").cast("decimal(19,0)") * col("dur")).as("num"),
          sum(col("dur")).as("den"))
        .select(col("user_id"), col("n_steps"),
          (floor(col("num").cast("double") /
            col("den").cast("double") / 1e6 * 1e4 + 0.5) / 1e4)
            .as("twap"))
        .ordered(col("user_id"))
    }),

    // ---- Experimentation: CUPED variance reduction --------------------------------
    // The industry-standard experiment readout: the pre-period metric
    // absorbs between-user variance (θ = cov(pre, post)/var(pre),
    // adjusted mean = mean(post|v) − θ·(mean(pre|v) − mean(pre))).
    // Everything derives from ONE aggregate row — per-user integer
    // micro-unit sums roll into decimal moment products (the q163
    // discipline) AND per-variant conditional sums in the same pass —
    // then a fixed double tree melts to the two variant rows. No join,
    // no second scan, no float accumulation: θ and both adjusted means
    // are pure functions of exact integer sums.
    "q202_cuped" -> ((s, dir) => {
      val dayUs = 86400000000L
      val splitDay = 19738L
      val coin = shiftrightunsigned(call_function("md5_lower64",
        col("user_id").cast("string")), 33)
      val perUser = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("value").isNotNull)
        .groupBy(col("user_id"),
          when(coin % 2 === 0, "A").otherwise("B").as("variant"))
        .agg(
          sum(when(expr(s"ts_us div $dayUs") < splitDay,
            floor(col("value") * 1e6 + 0.5).cast("long")).otherwise(0L))
            .as("pre6"),
          sum(when(expr(s"ts_us div $dayUs") >= splitDay,
            floor(col("value") * 1e6 + 0.5).cast("long")).otherwise(0L))
            .as("post6"))
      def wide(c: Column) = c.cast("decimal(25,0)")
      val m = perUser.agg(
        count(lit(1)).as("n"),
        sum(col("pre6")).as("sx"), sum(col("post6")).as("sy"),
        sum(wide(col("pre6")) * wide(col("pre6"))).as("sxx"),
        sum(wide(col("pre6")) * wide(col("post6"))).as("sxy"),
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A", col("pre6")).otherwise(0L))
          .as("sx_a"),
        sum(when(col("variant") === "A", col("post6")).otherwise(0L))
          .as("sy_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B", col("pre6")).otherwise(0L))
          .as("sx_b"),
        sum(when(col("variant") === "B", col("post6")).otherwise(0L))
          .as("sy_b"))
      val nD = col("n").cast("double")
      def d6(c: String) = col(c).cast("double") / 1e6
      def d12(c: String) = col(c).cast("double") / 1e12
      val theta = (d12("sxy") - d6("sx") * d6("sy") / nD) /
        (d12("sxx") - d6("sx") * d6("sx") / nD)
      val gxm = d6("sx") / nD
      def adj(nv: String, sxv: String, syv: String) =
        d6(syv) / col(nv).cast("double") -
          theta * (d6(sxv) / col(nv).cast("double") - gxm)
      def r4(c: Column) = floor(c * 1e4 + 0.5) / 1e4
      m.select(explode(array(
          struct(lit("A").as("variant"), col("n_a").as("n_users"),
            r4(d6("sy_a") / col("n_a").cast("double")).as("mean_post"),
            r4(d6("sx_a") / col("n_a").cast("double")).as("mean_pre"),
            r4(theta).as("theta"),
            r4(adj("n_a", "sx_a", "sy_a")).as("adj_mean")),
          struct(lit("B").as("variant"), col("n_b").as("n_users"),
            r4(d6("sy_b") / col("n_b").cast("double")).as("mean_post"),
            r4(d6("sx_b") / col("n_b").cast("double")).as("mean_pre"),
            r4(theta).as("theta"),
            r4(adj("n_b", "sx_b", "sy_b")).as("adj_mean")))).as("r"))
        .select(col("r.variant").as("variant"), col("r.n_users")
          .as("n_users"), col("r.mean_post").as("mean_post"),
          col("r.mean_pre").as("mean_pre"), col("r.theta").as("theta"),
          col("r.adj_mean").as("adj_mean"))
        .ordered(col("variant"))
    }),

    // ---- Spatial clustering: eps-components (DBSCAN minPts=1) ---------------------
    // The composition the spatial join exists for: eps-neighbor pairs
    // (q181's grid join) feed connected components — clusters are the
    // transitive closure of "within eps", i.e. DBSCAN with minPts=1 on
    // the clustered subset (singleton points have no pair and no row,
    // the q34 contract). Output is the cluster size distribution;
    // labels are min-reachable-id (deterministic). The oracle
    // brute-forces pairs under the band prefilter and closes them with
    // a recursive CTE — both stages independently replayed.
    "q203_spatial_clusters" -> ((s, dir) => {
      val coin = (c: Column) => shiftrightunsigned(
        call_function("md5_lower64", c), 33)
      val pts = Tables(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select(col("event_id").as("id"),
          ((coin(col("event_id").cast("string")) % 180000L) / lit(1000.0)
            - 90.0).as("lat"),
          ((coin(concat(col("event_id").cast("string"), lit("#lon")))
            % 360000L) / lit(1000.0) - 180.0).as("lon"))
      val pairs = Spatial.epsNeighborJoin(pts, "id", "lat", "lon", 0.5)
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_points"))
        .ordered(col("cluster_id"))
    }),

    // ---- Warehouse: CDC batch merge (SCD1 upsert/delete) ---------------------------
    // MERGE INTO semantics without a Delta log: a CDC batch (key,
    // op, value, ts) collapses to the LAST op per key over the
    // (ts_us, event_id) total order (the latest-per-key shape), then
    // one full-outer join applies it to the base snapshot — upsert
    // overwrites or inserts, delete removes, untouched base rows
    // survive. Deletes of absent keys are no-ops (MERGE's contract).
    // The op mapping here: 'error' events are deletes, every other
    // type upserts its value.
    "q204_cdc_merge" -> ((s, dir) => {
      val w = Window.partitionBy(col("key"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val lastOp = cdcOps(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("key"), col("op"), col("v6"))
      cdcApply(cdcBase(s, dir), lastOp).ordered(col("key"))
    }),

    // ---- Streaming CDC: foreachBatch MERGE into the online store -------------------
    // q204's MERGE run through the REAL streaming machinery: the op
    // stream lands batch by batch in foreachBatch, each batch
    // compacts to last-op-per-key and upserts into a versioned
    // OnlineTable op log through publishBucketedBatch, which merges
    // only the buckets the batch touches (latest-per-key of a union —
    // idempotent under batch retries, correct under ANY batch split
    // because the stored row keeps its (ts, tie) order key), and the final
    // snapshot applies the SAME full-outer merge as q204. The oracle
    // IS q204's oracle — stream-batch consistency for the MERGE
    // contract, hash-checked end to end (the q71/q123 posture, with
    // deletes that latest-per-key alone cannot express).
    "q209_stream_cdc" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.ops.PointInTime
      import graft.store.OnlineTable
      val root = scratchDir("cdconline", dir)
      val opsPath = s"$root/ops"
      val schema = Tables(s, dir, "events").schema
      val raw = Tables.stream(s, dir, "events")
      val ops = raw
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
        .select(col("user_id").as("key"),
          Tables.tsUsOf(schema).as("ts_us"), col("event_id"),
          when(col("event_type") === "error", "delete")
            .otherwise("upsert").as("op"),
          floor(coalesce(col("value"), lit(0.0)) * 1e6 + 0.5)
            .cast("long").as("v6"))
      val q = ops.writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val latestBatch = PointInTime.latestPerKey(batch, Seq("key"),
            "ts_us", "event_id")
          OnlineTable.publishBucketedBatch(latestBatch, opsPath, Seq("key"),
            (prev, b) => PointInTime.latestPerKey(prev.unionByName(b),
              Seq("key"), "ts_us", "event_id"))
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // no op ever landed (every batch empty): an empty op log
      val lastOp = OnlineTable.read(s, opsPath)
        .getOrElse(s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), ops.schema))
        .select(col("key"), col("op"), col("v6"))
      cdcApply(cdcBase(s, dir), lastOp).ordered(col("key"))
    }),

    // ---- Growth metrics: trailing-7-day distinct actives (sliding HLL) ----------
    // THE retention dashboard number — rolling 7-day active users per
    // day — as the sketch family's sliding-window member: per-day HLL
    // registers (one scan), then each day's trailing window merges 7
    // register arrays by elementwise max inside a RANGE frame
    // (gap-safe: value-range, not row count). Register merge is
    // order-insensitive, so the unordered window collect is
    // deterministic. The EXACT trailing distinct rides alongside via
    // the bounded 7× day-explode (each (day, user) pair contributes to
    // ≤ 7 anchors — never a window-sized shuffle of raw events).
    "q205_sliding_hll" -> ((s, dir) => {
      val p = 8
      val m = 1 << p
      val dayUs = 86400000000L
      val h = shiftrightunsigned(call_function("md5_lower64",
        col("user_id").cast("string")), 33)
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
        .select(expr(s"ts_us div $dayUs").as("day"), col("user_id"), h.as("h"))
        .persist()
      val daily = e.groupBy(col("day"))
        .agg(Sketches.hllRegisters(col("h"), p).as("sk"))
      val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
      val slid = daily
        .withColumn("msk", aggregate(collect_list(col("sk")).over(w),
          array_repeat(lit(0L), m),
          (acc, x) => zip_with(acc, x, (a, b) => greatest(a, b))))
        .select(col("day"),
          (floor(Sketches.hllEstimate(col("msk"), p) * 1e6 + 0.5) / 1e6)
            .as("hll_est"))
      val exact = e.select(col("day"), col("user_id")).distinct()
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("user_id"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("exact_u"))
      slid.join(exact, Seq("day"))
        .select(col("day"), col("exact_u"), col("hll_est"))
        .ordered(col("day"))
    }),

    // ---- Warehouse: hierarchy flattening (ancestor closure) ----------------------
    // The category-tree explode every dimensional model needs: a
    // parent-child edge list (synthetic 7-ary tree over part ids,
    // root 1) flattened to (node, ancestor, depth) by a FIXED-K
    // driver loop — one equi-join per level, localCheckpoint per
    // round (the pageRank discipline), K = 6 covers the tree's depth
    // with room (deeper rows simply don't exist — the loop is a
    // closure, not a sample). The oracle replays the closure with a
    // depth-bounded recursive CTE.
    "q206_hierarchy" -> ((s, dir) => {
      val edges = Tables(s, dir, "part")
        .filter(col("p_partkey") >= 2)
        .select(col("p_partkey").as("child"),
          greatest(expr("p_partkey div 7"), lit(1L)).as("parent"))
        .localCheckpoint()
      var anc = edges.select(col("child"), col("parent").as("ancestor"),
        lit(1L).as("depth"))
      var frontier = anc
      (2 to 6).foreach { k =>
        frontier = frontier
          .join(edges.select(col("child").as("ancestor"),
            col("parent").as("up")), Seq("ancestor"))
          .select(col("child"), col("up").as("ancestor"),
            lit(k.toLong).as("depth"))
          .localCheckpoint()
        anc = anc.unionByName(frontier)
      }
      anc.filter(col("child") % 10 === 0)
        .ordered(col("child"), col("depth"))
    }),

    // ---- Inventory analytics: ABC / Pareto classification -------------------------
    // The 80/20 analysis: parts ranked by revenue, classes cut at the
    // 80% / 95% CUMULATIVE share boundaries. The cumulative sum runs
    // over the per-part AGGREGATE (catalog-sized), in integer
    // micro-units with a (revenue desc, key) total order so ties can't
    // reorder across engines; the class comparison is exact-integer
    // (share6 vs 80/95 of the total — no float thresholds). The running
    // total is the DISTRIBUTED prefix sum (PrefixSum.runningTotalDesc:
    // boundary-bucketed, bucket-local windows, broadcast offset
    // ledger) — a bare Window.orderBy would single-task the whole
    // catalog (billions of parts at 100 TB); the oracle recomputes the
    // same values with DuckDB's one-pass window, so the decomposition
    // is itself under test.
    "q207_abc_pareto" -> ((s, dir) => {
      val perPart = Tables(s, dir, "lineitem")
        .filter(col("l_partkey").isNotNull)
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 1e6 + 0.5).cast("long"))
          .as("rev6"))
      graft.ops.PrefixSum
        .runningTotalDesc(perPart, "rev6", "l_partkey", "cum6", "tot6")
        .select(col("l_partkey"),
          (floor(col("rev6").cast("double") / 1e6 * 1e2 + 0.5) / 1e2)
            .as("revenue"),
          (floor(col("cum6").cast("double") /
            col("tot6").cast("double") * 1e6 + 0.5) / 1e6)
            .as("cum_share"),
          // exact-integer class cuts in DECIMAL(38,0): a BIGINT×20
          // product overflows once total micro-revenue passes 2^63/20
          // (≈ 10× the sf0.1 fixture) — reduced fractions (4/5, 19/20)
          // plus 128-bit decimals keep the compare exact at any SF
          when(col("cum6").cast("decimal(38,0)") * 5 <=
            col("tot6").cast("decimal(38,0)") * 4, "A")
            .when(col("cum6").cast("decimal(38,0)") * 20 <=
              col("tot6").cast("decimal(38,0)") * 19, "B")
            .otherwise("C").as("abc_class"))
        .filter(col("l_partkey") % 10 === 0)
        .ordered(col("l_partkey"))
    }),

    // ---- Graph: BFS hop distance from a seed set -----------------------------------
    // Min-hop distance from seed nodes (crawl frontier depth, blast-
    // radius analysis): K fixed BFS rounds — each round ONE equi-join
    // of the frontier against the edge list + an anti join against
    // the visited set (never a full-graph relabel), localCheckpoint
    // per round. Unreached nodes have no row (absence IS the verdict
    // — a sentinel depth would be an invented value). The oracle
    // replays with a depth-bounded recursive CTE + min.
    "q208_bfs_hops" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = Tables(s, dir, "documents")
      val e1 = docs.select((d % 311).as("src"), ((d * 11 + 7) % 311).as("dst"))
      val e2 = docs.filter(d % 2 === 0)
        .select((d % 311).as("src"), ((d * 23 + 3) % 311).as("dst"))
      val und0 = e1.unionByName(e2)
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      val edges = und0.select(col("a").as("from"), col("b").as("to"))
        .unionByName(und0.select(col("b").as("from"), col("a").as("to")))
      val seeds = Tables(s, dir, "documents")
        .filter(d % 311 < 3).select((d % 311).as("node"))
      // LinkGraph.bfsHops carries the size-gated driver-local walk
      // (the pageRank/CC localMax discipline — round 17): below the
      // edge gate the 5 rounds of join+distinct+anti-join are pure
      // stage scheduling around integer set arithmetic
      graft.llm.LinkGraph.bfsHops(edges, "from", "to", seeds, "node",
          rounds = 5)
        .ordered(col("node"))
    }),

    // ---- Network enrichment: longest-prefix CIDR match ----------------------------
    // The geo-IP/allocation join: IPs (deterministic md5-synthesized
    // 32-bit ints) match a CIDR table on the LONGEST covering prefix.
    // A naive "ip BETWEEN net_lo AND net_hi" is a keyless range join;
    // the routing-table cure: group networks by prefix LENGTH, explode
    // each IP once per DISTINCT length present (≤ 17 here, ≤ 32 ever —
    // a constant), mask to that width in pure integer shifts, and ride
    // a plain equi-join on (len, masked); argmax over (len, net_id)
    // picks the most-specific match deterministically. Unmatched IPs
    // keep a NULL network (left join — absence is data).
    "q210_cidr_match" -> ((s, dir) => {
      val coin = (c: Column) => shiftrightunsigned(
        call_function("md5_lower64", c), 33)
      // 64 deterministic networks, prefix lengths 8..24 (all 17
      // lengths present by construction: i % 17 covers every residue)
      val nets = s.range(64)
        .select(col("id").as("net_id"),
          (lit(8L) + col("id") % 17L).as("plen"),
          coin(concat(lit("net#"), col("id").cast("string"))).as("h"))
        .select(col("net_id"), col("plen"),
          expr("shiftleft(shiftrightunsigned(h, CAST(32 - plen AS INT))," +
            " CAST(32 - plen AS INT))").as("network"))
      val ips = Tables(s, dir, "events")
        .filter(col("event_id").isNotNull && col("event_id") % 7 === 0)
        .select(col("event_id").as("id"),
          coin(col("event_id").cast("string")).as("ip"))
      val cand = ips
        .select(col("id"), col("ip"),
          explode(sequence(lit(8L), lit(24L))).as("plen"))
        .withColumn("masked",
          expr("shiftleft(shiftrightunsigned(ip, CAST(32 - plen AS INT))," +
            " CAST(32 - plen AS INT))"))
        .join(broadcast(nets.withColumnRenamed("network", "masked")),
          Seq("plen", "masked"))
      val best = cand.groupBy(col("id"))
        .agg(max(struct(col("plen"), col("net_id"))).as("m"))
        .select(col("id"), col("m.plen").as("plen"),
          col("m.net_id").as("net_id"))
      ips.join(best, Seq("id"), "left")
        .select(col("id"), col("ip"), col("plen"), col("net_id"))
        .ordered(col("id"))
    }),

    // ---- Privacy: right-to-be-forgotten scrub audit --------------------------------
    // The deletion-request sweep: a key set (users with >= 3 'error'
    // events — the deterministic stand-in for a request queue) is
    // scrubbed from every table that references it, and the audit
    // row each table must produce (before / deleted / after) comes
    // from ONE scan with a broadcast key-marker left join — never a
    // count-then-anti-join double pass. NULL keys are not deletable
    // and survive (the documented posture); the key set is
    // deduplicated before the join so markers can't fan out rows.
    "q211_forget_scrub" -> ((s, dir) => {
      val keys = Tables.events(s, dir)
        .filter(col("user_id").isNotNull &&
          col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
        .select(col("user_id").as("__k"), lit(1L).as("__del"))
      def audit(name: String, df: DataFrame, key: String) =
        df.join(broadcast(keys), col(key) === col("__k"), "left")
          .agg(count(lit(1)).as("rows_before"),
            sum(coalesce(col("__del"), lit(0L))).as("rows_deleted"))
          .select(lit(name).as("table_name"), col("rows_before"),
            col("rows_deleted"),
            (col("rows_before") - col("rows_deleted")).as("rows_after"))
      audit("customer", Tables(s, dir, "customer"), "c_custkey")
        .unionByName(audit("events", Tables(s, dir, "events"),
          "user_id"))
        .unionByName(audit("orders", Tables(s, dir, "orders"),
          "o_custkey"))
        .ordered(col("table_name"))
    }),

    // ---- Corpus comparison: chi-square keyness ------------------------------------
    // Which tokens distinguish the English slice from the rest? The
    // log-free keyness statistic (chi-square over each token's 2×2
    // contingency vs the corpus split — log-likelihood keyness needs
    // ln, the q74 lesson): one tokenize scan, per-token side counts,
    // totals ride a ONE-ROW broadcast (the q79 lazy-denominator
    // shape), χ² in a fixed quantized tree, enrichment direction by
    // exact integer cross-multiplication (a·N_b vs b·N_a — no float
    // ratios), deterministic top-50 via (χ², token) TakeOrdered.
    "q212_keyness" -> ((s, dir) => {
      // persist: counts and totals both consume the tokenize (the
      // q149 pin discipline — one scan, two aggregations)
      val toks = Tables(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(when(col("lang") === "en", lit("A")).otherwise(lit("B"))
          .as("side"),
          explode(TextStats.tokens(lower(col("text")))).as("tok"))
        .persist()
      val counts = toks.groupBy(col("tok")).agg(
        sum(when(col("side") === "A", 1L).otherwise(0L)).as("a"),
        sum(when(col("side") === "B", 1L).otherwise(0L)).as("b"))
        .filter(col("a") + col("b") >= 5)
      val totals = toks.agg(
        sum(when(col("side") === "A", 1L).otherwise(0L)).as("na"),
        sum(when(col("side") === "B", 1L).otherwise(0L)).as("nb"))
      def d(c: Column) = c.cast("double")
      val c0 = col("na") - col("a") // side-A non-occurrences
      val d0 = col("nb") - col("b")
      val nTot = col("na") + col("nb")
      val num = d(nTot) *
        (d(col("a")) * d(d0) - d(col("b")) * d(c0)) *
        (d(col("a")) * d(d0) - d(col("b")) * d(c0))
      val den = d(col("a") + col("b")) * d(c0 + d0) * d(col("na")) *
        d(col("nb"))
      counts.crossJoin(broadcast(totals))
        .select(col("tok"), col("a").as("n_en"), col("b").as("n_other"),
          (floor(num / den * 1e4 + 0.5) / 1e4).as("chi2"),
          when(col("a") * col("nb") > col("b") * col("na"), "en")
            .otherwise("other").as("enriched_in"))
        .orderBy(col("chi2").desc, col("tok"))
        .limit(50)
    }),

    // ---- Lakehouse design: layout clustering-depth advisor -------------------------
    // WHY range layout beats hash layout for pruning, measured: rows
    // land in 16 simulated files under (a) md5-hash layout and (b)
    // range layout (ntile over the deterministic (day, key) total
    // order); each file's [min_day, max_day] interval melts into the
    // q183 +1/-1 sweep, whose max prefix = CLUSTERING DEPTH — how many
    // files a point query on the sort column must read. Hash layout's
    // depth ≈ all files (every file spans the whole domain); range
    // layout's ≈ 1-2. The advisor row pair IS the Z-order/sort-key
    // recommendation evidence, computed without writing a single file.
    // Scale contract: the global-order NTILE is the SIMULATED file
    // assignment, not a production shuffle — the advisor runs on the
    // BOUNDED deterministic sample below (hash top-k: the
    // advisorSampleBudget rows with the smallest md5 coin, planned as
    // a distributed TakeOrderedAndProject), so the one-task sort is
    // bounded by the budget, never the table. The depth conclusion
    // (hash ≈ nFiles, range ≈ 1–2) is sample-invariant — that is the
    // advisor's design point; the oracle re-derives over the SAME
    // sampled set.
    "q213_layout_depth" -> ((s, dir) => {
      val nFiles = 16
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull && col("o_orderdate").isNotNull)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("day"),
          shiftrightunsigned(call_function("md5_lower64",
            col("o_orderkey").cast("string")), 33).as("__u"))
        .orderBy(col("__u"), col("o_orderkey"))
        .limit(advisorSampleBudget)
        .drop("__u")
      val hashFile = o.select(lit("hash").as("layout"),
        (shiftrightunsigned(call_function("md5_lower64",
          col("o_orderkey").cast("string")), 33) % nFiles).as("file"),
        col("day"))
      val w = Window.orderBy(col("day"), col("o_orderkey"))
      val rangeFile = o.select(lit("range").as("layout"),
        (ntile(nFiles).over(w).cast("long") - 1).as("file"), col("day"))
      val files = hashFile.unionByName(rangeFile)
        .groupBy(col("layout"), col("file"))
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      // closed intervals -> half-open [lo, hi+1) for the sweep
      val pts = files.select(col("layout"), col("lo").as("t"),
          lit(1).as("d"))
        .unionByName(files.select(col("layout"),
          (col("hi") + 1).as("t"), lit(-1).as("d")))
      val ws = Window.partitionBy(col("layout")).orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("depth", sum(col("d")).over(ws))
        .groupBy(col("layout"))
        .agg(max(col("depth")).as("max_depth"),
          count(lit(1)).as("n_endpoints"))
        .withColumn("n_files", lit(nFiles.toLong))
        .ordered(col("layout"))
    }),

    // ---- Source family: schema-evolution merged scan --------------------------------
    // The lakehouse reality: yesterday's files lack today's column.
    // Two parquet generations (v1: key+status; v2 adds a priority
    // column) land in one directory tree; `mergeSchema` unifies the
    // scan and v1 rows surface the new column as NULL — the documented
    // evolution posture, proven by the hash (a reader that dropped or
    // defaulted the column would diverge). The oracle replays the
    // union with explicit NULL padding.
    "q214_schema_merge" -> ((s, dir) => {
      val out = scratchDir("schemaevo", dir)
      val o = Tables(s, dir, "orders").filter(col("o_orderkey").isNotNull)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"))
        .write.mode("overwrite").parquet(s"$out/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("prio"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .filter(col("k") % 10 === 0)
        .select(col("k"), col("status"), col("prio"), col("gen"))
        .ordered(col("k"))
    }),

    // ---- Columnar nested types: deep struct/array/map round trip --------------------
    // The nested-type surface end to end: per user, an array of
    // per-type structs each carrying a map payload and an ordered
    // event-id array, written to parquet, read back, and FLATTENED
    // back to scalars — the hash proves parquet's nested encodings
    // (repetition/definition levels, map key-value groups) and
    // Spark's nested readers round-trip losslessly. Assembly uses
    // sort_array under the (type) total order; the map carries
    // min/max micro-values keyed by literal strings.
    "q215_nested_roundtrip" -> ((s, dir) => {
      val out = scratchDir("nested", dir)
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("event_id").isNotNull)
      val perType = e.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(floor(coalesce(col("value"), lit(0.0)) * 1e6 + 0.5)
            .cast("long")).as("vmin6"),
          max(floor(coalesce(col("value"), lit(0.0)) * 1e6 + 0.5)
            .cast("long")).as("vmax6"),
          sort_array(collect_list(col("event_id"))).as("ids"))
      // maps are not orderable: sort the scalar struct first, inject
      // the map AFTER via transform (order-preserving)
      val nested = perType.groupBy(col("user_id"))
        .agg(transform(
          sort_array(collect_list(struct(col("event_type"), col("n"),
            col("vmin6"), col("vmax6"),
            slice(col("ids"), 1, 5).as("head_ids")))),
          x => struct(x.getField("event_type").as("event_type"),
            x.getField("n").as("n"),
            map(lit("vmin"), x.getField("vmin6"),
              lit("vmax"), x.getField("vmax6")).as("stats"),
            x.getField("head_ids").as("head_ids"))).as("types"))
      nested.write.mode("overwrite").parquet(s"$out/t")
      s.read.parquet(s"$out/t")
        .select(col("user_id"), explode(col("types")).as("t"))
        .select(col("user_id"), col("t.event_type").as("event_type"),
          col("t.n").as("n"),
          element_at(col("t.stats"), "vmin").as("vmin6"),
          element_at(col("t.stats"), "vmax").as("vmax6"),
          array_join(transform(col("t.head_ids"),
            x => x.cast("string")), ",").as("head_ids"))
        .ordered(col("user_id"), col("event_type"))
    }),

    // ---- Lakehouse design: Z-order vs single-dim layouts, per-dim depth ----------
    // q213's advisor extended to TWO query dimensions (day, customer):
    // three simulated 16-file layouts — range-by-day, range-by-
    // customer, and Morton Z-ORDER over both (the shared 28-bit
    // interleave expression) — each measured by per-dimension
    // clustering depth (the q183 sweep over per-file [min, max] of
    // EACH dim). The table IS the Z-order argument: a single-dim sort
    // prunes its own dimension to depth ~1 and abandons the other to
    // depth ~nFiles; Z-order lands in the middle on BOTH — the
    // evidence a table-layout advisor shows before recommending a
    // sort key, computed without writing a file. Same scale contract
    // as q213: the NTILE is the simulated assignment over the
    // advisor's BOUNDED deterministic sample (hash top-k, shared
    // budget), not a production shuffle.
    "q216_zorder_depth" -> ((s, dir) => {
      val nFiles = 16
      val base = Tables(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull &&
          col("o_orderdate").isNotNull && col("o_custkey").isNotNull)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("day"),
          col("o_custkey").as("cust"),
          shiftrightunsigned(call_function("md5_lower64",
            col("o_orderkey").cast("string")), 33).as("__u"))
        .orderBy(col("__u"), col("o_orderkey"))
        .limit(advisorSampleBudget)
        .drop("__u")
        .persist()
      // 14-bit domains for the interleave: day is offset to the
      // SAMPLE's own min (shared with the oracle as the same scalar
      // subquery — no hard-coded epoch), and both dims are guarded
      // LOUDLY: morton interleave silently truncates outside
      // [0, 2^14), so a nonconforming fixture must fail, not degrade.
      val b = base.agg(min(col("day")), max(col("day")),
        min(col("cust")), max(col("cust"))).first()
      val minDay = if (b.isNullAt(0)) 0L else b.getLong(0)
      if (!b.isNullAt(0)) {
        require(b.getLong(1) - minDay < 16384L,
          s"q216: day span ${b.getLong(1) - minDay} exceeds the 14-bit " +
            "Morton domain — widen the interleave or shrink the sample")
        require(b.getLong(2) >= 0L && b.getLong(3) < 16384L,
          s"q216: cust range [${b.getLong(2)}, ${b.getLong(3)}] outside " +
            "[0, 2^14) — the Morton contract is non-negative 14-bit")
      }
      val o = base
        .withColumn("day14", col("day") - lit(minDay))
        .withColumn("z", expr(mortonSqlExpr("day14", "cust")))
      def layout(name: String, orderCol: Column) = {
        val w = Window.orderBy(orderCol, col("o_orderkey"))
        o.select(lit(name).as("layout"),
          (ntile(nFiles).over(w).cast("long") - 1).as("file"),
          col("day"), col("cust"))
      }
      val files = layout("range_day", col("day"))
        .unionByName(layout("range_cust", col("cust")))
        .unionByName(layout("zorder", col("z")))
        .groupBy(col("layout"), col("file"))
        .agg(min(col("day")).as("day_lo"), max(col("day")).as("day_hi"),
          min(col("cust")).as("cust_lo"), max(col("cust")).as("cust_hi"))
      def depth(dim: String, lo: String, hi: String) = {
        val pts = files.select(col("layout"), col(lo).as("t"),
            lit(1).as("d"))
          .unionByName(files.select(col("layout"),
            (col(hi) + 1).as("t"), lit(-1).as("d")))
        val ws = Window.partitionBy(col("layout"))
          .orderBy(col("t"), col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pts.withColumn("depth", sum(col("d")).over(ws))
          .groupBy(col("layout"))
          .agg(max(col("depth")).cast("long").as("max_depth"))
          .select(col("layout"), lit(dim).as("dim"), col("max_depth"))
      }
      depth("day", "day_lo", "day_hi")
        .unionByName(depth("cust", "cust_lo", "cust_hi"))
        .ordered(col("layout"), col("dim"))
    }),

    // ---- Temporal consistency: SCD2 interval lookup == as-of join ------------------
    // The identity every bitemporal warehouse depends on, stated as a
    // query: for sampled (user, t) probes, the SCD2 dimension's
    // half-open interval lookup (valid_from <= t < valid_to, NULL =
    // open) and the raw change log's as-of join (latest change <= t)
    // must produce the SAME attribute. Both paths run IN the engine —
    // the oracle states the ideal once (argmax change per probe) and
    // emits it for BOTH columns plus consistent=true, so a divergence
    // in EITHER path breaks the hash. Interval lookup rides the
    // user-keyed equi join with the range as a post-filter (the q52
    // shape); the as-of path is PointInTime.asofJoin with <= t.
    "q217_scd2_pit" -> ((s, dir) => {
      val ch = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("event_id").isNotNull)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
        .persist()
      val dim = Scd.scd2(ch, "user_id", "ts_us", "event_id",
        Seq("event_type"))
      val probes = ch.filter(col("event_id") % 17 === 0)
        .select(col("user_id"), col("event_id").as("probe_id"),
          col("ts_us").as("t"))
      val interval = probes.join(dim.select(col("user_id"),
            col("event_type").as("attr_interval"), col("valid_from"),
            col("valid_to")),
          Seq("user_id"))
        .filter(col("valid_from") <= col("t") &&
          (col("valid_to").isNull || col("t") < col("valid_to")))
        .select(col("user_id"), col("probe_id"), col("t"),
          col("attr_interval"))
      val asof = PointInTime.asofJoin(probes,
          ch.select(col("user_id"), col("ts_us"),
            col("event_id").as("tie"), col("event_type")
              .as("attr_asof")),
          Seq("user_id"), "t", "ts_us",
          ttlUs = 10L * 365 * 24 * 3600 * 1000000L, strict = false,
          rightTieBreak = "tie")
        .select(col("user_id"), col("probe_id"), col("t"),
          col("attr_asof"))
      interval.join(asof, Seq("user_id", "probe_id", "t"))
        .select(col("user_id"), col("probe_id"), col("t"),
          col("attr_interval"), col("attr_asof"),
          (col("attr_interval") <=> col("attr_asof")).as("consistent"))
        .ordered(col("user_id"), col("probe_id"))
    }),

    // ---- Master data: golden-record survivorship ------------------------------------
    // The MDM consolidation step after entity resolution: duplicate
    // groups (synthetic: custkey div 5) collapse to one golden record
    // under FIELD-LEVEL survivorship rules, each rule a pure
    // aggregate (no window, no per-group sort): segment from the
    // highest-(balance, id) member that HAS one (max over a
    // null-guarded struct — a group with no non-null segment yields
    // NULL, never a guess), name by longest-then-lexicographically-
    // last, nation from the lowest member id, balance as the max.
    // One group-keyed aggregation carries every rule at once.
    "q218_golden_record" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .filter(col("c_custkey").isNotNull)
        .select(col("c_custkey").as("id"),
          expr("c_custkey div 5").as("grp"),
          col("c_mktsegment").as("seg"), col("c_name").as("name"),
          col("c_nationkey").as("nation"),
          floor(col("c_acctbal") * 1e6 + 0.5).cast("long").as("bal6"))
      c.groupBy(col("grp")).agg(
          min(col("id")).as("golden_id"),
          count(lit(1)).as("n_members"),
          max(when(col("seg").isNotNull,
            struct(col("bal6"), col("id"), col("seg")))).as("segPick"),
          max(when(col("name").isNotNull,
            struct(length(col("name")).as("len"), col("name"))))
            .as("namePick"),
          min(struct(col("id"), col("nation"))).as("nationPick"),
          max(col("bal6")).as("maxBal6"))
        .select(col("grp"), col("golden_id"), col("n_members"),
          col("segPick.seg").as("segment"),
          col("namePick.name").as("name"),
          col("nationPick.nation").as("nation"),
          (floor(col("maxBal6").cast("double") / 1e6 * 1e2 + 0.5) / 1e2)
            .as("balance"))
        .ordered(col("grp"))
    }),

    // ---- Text: keyword-in-context (KWIC) extraction ----------------------------------
    // The concordance view an annotation pipeline serves: for docs
    // containing the term, the FIRST occurrence's ±20-char window,
    // clamped at the document edges — pure locate/substring projection
    // (codegen'd, zero shuffle; the scan IS the operator). 1-based
    // locate and length-clamped substring behave identically in both
    // engines; no regex, no locale-sensitive casing (the term is
    // matched as-is on the lowercased text).
    "q219_kwic" -> ((s, dir) => {
      val term = "data"
      val pos = locate(term, lower(col("text")))
      Tables(s, dir, "documents")
        .filter(col("text").isNotNull && pos > 0)
        .select(col("doc_id"), pos.cast("long").as("pos"),
          substring(col("text"), greatest(pos - 20, lit(1)),
            lit(40 + term.length)).as("snippet"))
        .ordered(col("doc_id"))
    }),

    // ---- Data mixing: largest-remainder quota apportionment ---------------------------
    // Allocating a fixed sample budget across sources proportionally
    // and EXACTLY (quotas must sum to the budget — naive rounding
    // doesn't): Hamilton's method in pure integers — floor shares
    // from BIGINT products, remainders ranked (remainder desc, source
    // asc — deterministic), the leftover units distributed one each
    // to the top remainders. The allocation table is |sources| rows;
    // both windows ride that tiny frame, never the corpus. The budget
    // invariant (Σ quota = K exactly) is part of the hash.
    "q220_apportionment" -> ((s, dir) => {
      val budget = 1000L
      val counts = Tables(s, dir, "documents")
        .filter(col("source").isNotNull)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val wAll = Window.partitionBy()
      val withTot = counts.withColumn("tot", sum(col("n")).over(wAll))
      val base = withTot
        .withColumn("floor_q", expr(s"(n * $budget) div tot"))
        .withColumn("rem", col("n") * budget - col("floor_q") * col("tot"))
      val wRank = Window.orderBy(col("rem").desc, col("source"))
      val wSum = Window.partitionBy()
      base
        .withColumn("leftover", lit(budget) - sum(col("floor_q")).over(wSum))
        .withColumn("rk", row_number().over(wRank))
        .select(col("source"), col("n"),
          (col("floor_q") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("quota"))
        .ordered(col("source"))
    }),

    // ---- Product analytics: within-session event baskets ------------------------------
    // q182's sessions as q190's baskets: which event types co-occur in
    // ONE session? Sessionize (2h gap, the q182 machinery), distinct
    // (session, type), pair via the session-keyed self-join with
    // a < b (candidate mass Σ per-session C(types,2) — bounded by the
    // type alphabet, never sessions²), support over the session count.
    // The composition a product team actually asks for — "do viewers
    // click in the same visit?" — and the pair-join discipline reused
    // at a different grain.
    "q221_session_basket" -> ((s, dir) => {
      val gapUs = 7200L * 1000000L
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val items = e
        .withColumn("new_sess",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) <= gapUs,
            lit(0L)).otherwise(lit(1L)))
        .withColumn("sess_no", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .select(col("user_id"), col("sess_no"), col("event_type"))
        .distinct()
        .persist()
      val nSess = items.select(col("user_id"), col("sess_no")).distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val pairs = items.join(items
            .select(col("user_id"), col("sess_no"),
              col("event_type").as("type_b")),
          Seq("user_id", "sess_no"))
        .filter(col("event_type") < col("type_b"))
        .groupBy(col("event_type").as("a"), col("type_b").as("b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs.crossJoin(broadcast(nSess))
        .select(col("a"), col("b"), col("n_ab"),
          (floor(col("n_ab").cast("double") /
            col("n_sessions").cast("double") * 1e6 + 0.5) / 1e6)
            .as("support"))
        .ordered(col("a"), col("b"))
    }),

    // ---- Data quality: cross-table value reconciliation -----------------------------
    // Does the order header's total agree with its lines? Per order,
    // the micro-unit line sum Σ price·(1−disc)·(1+tax) (per-row IEEE
    // product — a FIXED tree, quantized once at the end of each line,
    // so the integer sum is order-insensitive) compares against
    // o_totalprice in EXACT integers:
    // tolerance bands by cross-multiplication (|Δ|·10000 vs tot·k),
    // never a float ratio. Synthetic fixtures don't maintain the
    // invariant — which is the point: the audit CLASSIFIES the
    // discrepancy distribution instead of asserting zero.
    "q222_value_reconcile" -> ((s, dir) => {
      val line6 = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))
        * 1e6 + 0.5).cast("long")
      val lines = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(sum(line6).as("lines6"), count(lit(1)).as("n_lines"))
      val diff = abs(col("lines6") - col("tot6"))
      Tables(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull &&
          col("o_totalprice").isNotNull)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 1e6 + 0.5).cast("long").as("tot6"))
        .join(lines, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          when(col("lines6").isNull, "no_lines")
            .when(diff === 0, "exact")
            .when(diff * 100 <= col("tot6"), "within_1pct")
            .when(diff * 10 <= col("tot6"), "within_10pct")
            .otherwise("off").as("band"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_orders"))
        .ordered(col("band"))
    }),

    // ---- Growth metrics: new vs returning users per day --------------------------------
    // The daily acquisition split: a user is NEW on their first-ever
    // active day, RETURNING on every later one. First day is a
    // min-over-user window over the distinct (user, day) table (one
    // user-keyed Exchange over entity-×-day rows, never raw events),
    // then one day rollup with a fixed-tree returning share.
    "q223_new_returning" -> ((s, dir) => {
      val dayUs = 86400000000L
      val ud = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
        .select(col("user_id"), expr(s"ts_us div $dayUs").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id"))
      ud.withColumn("first_day", min(col("day")).over(w))
        .groupBy(col("day"))
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
            .as("n_returning"))
        .select(col("day"), col("n_new"), col("n_returning"),
          (floor(col("n_returning").cast("double") /
            (col("n_new") + col("n_returning")).cast("double")
            * 1e6 + 0.5) / 1e6).as("returning_share"))
        .ordered(col("day"))
    }),

    // ---- ML monitoring: exact two-sample KS drift statistic -----------------------------
    // Did the value distribution drift between two periods? The
    // Kolmogorov-Smirnov statistic EXACTLY: per distinct quantized
    // value, side counts; cumulative counts over the value order; the
    // sup gap as max |cumA·nB − cumB·nA| in pure LONG
    // cross-multiplication (a float CDF difference would tie-break
    // differently per engine), divided ONCE at the end; the argmax
    // value rides along (min value among maxima — deterministic).
    // The windows run over the DISTINCT-VALUE table — bounded by the
    // quantized domain, not the row count (the CCNet argument).
    "q224_ks_drift" -> ((s, dir) => {
      val dayUs = 86400000000L
      val splitDay = 19738L
      val grouped = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("value").isNotNull)
        .select(floor(col("value") * 1e6 + 0.5).cast("long").as("v6"),
          when(expr(s"ts_us div $dayUs") < splitDay, 1L).otherwise(0L)
            .as("ia"))
        .groupBy(col("v6"))
        .agg(sum(col("ia")).as("a"), sum(lit(1L) - col("ia")).as("b"))
      val wOrd = Window.orderBy(col("v6"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      val gapped = grouped
        .withColumn("ca", sum(col("a")).over(wOrd))
        .withColumn("cb", sum(col("b")).over(wOrd))
        .withColumn("na", sum(col("a")).over(wAll))
        .withColumn("nb", sum(col("b")).over(wAll))
        .withColumn("gap", abs(col("ca") * col("nb") -
          col("cb") * col("na")))
      gapped.withColumn("max_gap", max(col("gap")).over(wAll))
        .groupBy(col("na"), col("nb"), col("max_gap"))
        .agg(min(when(col("gap") === col("max_gap"), col("v6")))
          .as("at_v6"))
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          (floor(col("max_gap").cast("double") /
            (col("na") * col("nb")).cast("double") * 1e6 + 0.5) / 1e6)
            .as("ks"),
          (col("at_v6").cast("double") / 1e6).as("at_value"))
    }),

    // ---- Spatial enrichment: event × POI eps-join ---------------------------------------
    // The production form of q181's self-join — enrich events with
    // every point of interest within eps (Spatial.epsJoin: the bigger
    // side replicates to its 3×3 cells, the POI side keeps home cells,
    // no id< dedup because the relations are distinct). Coordinates
    // are the q181 md5 lattice; POIs get an independent '#poi' salt.
    "q225_poi_join" -> ((s, dir) => {
      val coin = (c: Column) => shiftrightunsigned(
        call_function("md5_lower64", c), 33)
      def latLon(idc: Column, salt: String) = Seq(
        ((coin(concat(idc.cast("string"), lit(salt))) % 180000L)
          / lit(1000.0) - 90.0).as("lat"),
        ((coin(concat(idc.cast("string"), lit(salt + "#lon")))
          % 360000L) / lit(1000.0) - 180.0).as("lon"))
      val ev = Tables(s, dir, "events")
        .filter(col("event_id").isNotNull && col("event_id") % 3 === 0)
        .select(col("event_id") +: latLon(col("event_id"), ""): _*)
      val pois = s.range(512)
        .select(col("id").as("poi_id") +: latLon(col("id"), "#poi"): _*)
      Spatial.epsJoin(ev, "event_id", pois, "poi_id", "lat", "lon",
          eps = 2.0)
        .select(col("event_id"), col("poi_id"),
          (floor(col("d2") * 1e6 + 0.5) / 1e6).as("d2"))
        .ordered(col("event_id"), col("poi_id"))
    }),

    // ---- FP&A: price-volume revenue bridge ------------------------------------------
    // WHY did category revenue move between periods? The controller's
    // decomposition: volume effect = Δqty · priceA, price effect =
    // qtyB · Δprice, residual = whatever quantization leaves (each
    // effect quantized to cents INDEPENDENTLY, so the bridge ties out
    // EXACTLY by construction — delta == volume + price + residual is
    // part of the hash, and the residual column keeps the rounding
    // honest instead of smearing it into an effect). Period sums ride
    // one conditional-aggregation scan (the q194 discipline); unit
    // prices are fixed double trees over exact integer sums. A
    // category missing from either period reports NULL effects and
    // carries its whole delta in the residual (no invented price).
    "q226_pv_bridge" -> ((s, dir) => {
      val split = "1998-01-01"
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_partkey").isNotNull && col("l_shipdate").isNotNull)
        .select((col("l_partkey") % 100L).as("cat"),
          (to_date(col("l_shipdate")) < lit(split)).as("ia"),
          floor(col("l_quantity") * 1e6 + 0.5).cast("long").as("q6"),
          floor(col("l_extendedprice") * 1e6 + 0.5).cast("long")
            .as("r6"))
      val agg = li.groupBy(col("cat")).agg(
        sum(when(col("ia"), col("q6")).otherwise(0L)).as("qa6"),
        sum(when(col("ia"), col("r6")).otherwise(0L)).as("ra6"),
        sum(when(!col("ia"), col("q6")).otherwise(0L)).as("qb6"),
        sum(when(!col("ia"), col("r6")).otherwise(0L)).as("rb6"))
      def d(c: String) = col(c).cast("double")
      val pa = d("ra6") / d("qa6")
      val pb = d("rb6") / d("qb6")
      def cents(c: Column) = floor(c * 1e2 + 0.5).cast("long")
      val volC = cents((d("qb6") - d("qa6")) / 1e6 * pa)
      val prcC = cents(d("qb6") / 1e6 * (pb - pa))
      val dltC = cents((d("rb6") - d("ra6")) / 1e6)
      val both = col("qa6") > 0 && col("qb6") > 0
      agg.select(col("cat"),
          (cents(d("ra6") / 1e6).cast("double") / 1e2).as("rev_a"),
          (cents(d("rb6") / 1e6).cast("double") / 1e2).as("rev_b"),
          (dltC.cast("double") / 1e2).as("delta"),
          when(both, volC.cast("double") / 1e2).as("volume_effect"),
          when(both, prcC.cast("double") / 1e2).as("price_effect"),
          ((dltC - when(both, volC).otherwise(lit(0L)) -
            when(both, prcC).otherwise(lit(0L))).cast("double") / 1e2)
            .as("residual"))
        .ordered(col("cat"))
    }),

    // ---- ML monitoring: histogram-sketch KS (unbounded value domains) --------------
    // q224's exact KS bounds its window state by the QUANTIZED DOMAIN —
    // fine for [0,1]-ish metrics, unbounded for heavy-tailed ones. This
    // is the CONSTANT-state form: per (side, day) FixedHistogram
    // sketches (the q148 merge-identity layer: daily sketches roll up
    // to the period by elementwise add, no rescan), one histKs pass
    // over the two 256-bin arrays — sup over bin-boundary CDF gaps in
    // exact cross-multiplied integers. The estimate's honest error
    // bound (max in-bin mass of either side) is emitted NEXT TO it, and
    // the exact q224 statistic rides along at fixture scale with
    // bound_ok proving |exact − sketch| within the bound — the sketch
    // is verified against the truth it replaces, q150's discipline.
    "q227_ks_hist" -> ((s, dir) => {
      val dayUs = 86400000000L
      val splitDay = 19738L
      val (lo, hi, bins) = (0.0, 512.0, 256)
      val e = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("value").isNotNull &&
          !isnan(col("value")))
        .select(col("value"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v6"),
          expr(s"ts_us div $dayUs").as("day"))
        .withColumn("ia", col("day") < splitDay)
      val perDay = e.groupBy(col("ia"), col("day"))
        .agg(Sketches.histogram(col("value"), lo, hi, bins).as("sk"))
      val perSide = perDay.groupBy(col("ia"))
        .agg(Sketches.histMerge(col("sk"), bins).as("sk"))
      val ks = perSide.filter(col("ia")).select(col("sk").as("ska"))
        .crossJoin(perSide.filter(!col("ia")).select(col("sk").as("skb")))
        .select(Sketches.histKs(col("ska"), col("skb")).as("k"))
        .select(col("k.n_a").as("n_a"), col("k.n_b").as("n_b"),
          col("k.max_gap").as("gap_h"), col("k.max_mass").as("mass"),
          col("k.at_bin").as("at_bin"))
      // exact rider: q224's integer pipeline (window state bounded by
      // the quantized domain — the fixture-scale verification side)
      val wOrd = Window.orderBy(col("v6"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exact = e.groupBy(col("v6"))
        .agg(sum(when(col("ia"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("ia"), 1L).otherwise(0L)).as("b"))
        .withColumn("ca", sum(col("a")).over(wOrd))
        .withColumn("cb", sum(col("b")).over(wOrd))
        .withColumn("na", sum(col("a")).over(Window.partitionBy()))
        .withColumn("nb", sum(col("b")).over(Window.partitionBy()))
        .select(abs(col("ca") * col("nb") - col("cb") * col("na"))
          .as("gap"))
        .agg(max(col("gap")).as("gap_e"))
      ks.crossJoin(exact)
        .select(col("n_a"), col("n_b"),
          (floor(col("gap_h").cast("double") /
            (col("n_a") * col("n_b")).cast("double") * 1e6 + 0.5) / 1e6)
            .as("ks_hist"),
          (floor(col("gap_e").cast("double") /
            (col("n_a") * col("n_b")).cast("double") * 1e6 + 0.5) / 1e6)
            .as("ks_exact"),
          (lit(lo) + (col("at_bin") + 1).cast("double") *
            lit((hi - lo) / bins)).as("at_boundary"),
          (abs(col("gap_h") - col("gap_e")) <= col("mass"))
            .as("bound_ok"))
    }),

    // ---- Customer analytics: global balance deciles (distributed NTILE) ----------
    // The segmentation staple — rank EVERY customer into balance
    // deciles — is exactly the query that single-tasks at scale: a
    // bare NTILE(10) OVER (ORDER BY …) moves the whole entity table to
    // one sort. PrefixSum.ntileDesc computes the identical tile ids
    // (engine-standard remainder semantics, bit-for-bit — the ORACLE
    // runs DuckDB's own NTILE) through boundary buckets + local
    // windows + a broadcast rank ledger; balances ride exact integer
    // cents so ties can't reorder across engines.
    "q228_balance_deciles" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .filter(col("c_custkey").isNotNull && col("c_acctbal").isNotNull)
        .select(col("c_custkey"),
          floor(col("c_acctbal") * 1e2 + 0.5).cast("long").as("bal2"))
      graft.ops.PrefixSum.ntileDesc(c, "bal2", "c_custkey", "decile", 10)
        .groupBy(col("decile").cast("long").as("decile"))
        .agg(count(lit(1)).as("n_cust"),
          (max(col("bal2")).cast("double") / 1e2).as("hi_bal"),
          (min(col("bal2")).cast("double") / 1e2).as("lo_bal"),
          (sum(col("bal2")).cast("double") / 1e2).as("sum_bal"))
        .ordered(col("decile"))
    }),

    // ---- Marketing analytics: first/last-touch revenue attribution ---------------
    // WHO gets credit for a purchase? Each purchase's revenue is
    // attributed to the FIRST and the LAST non-purchase touch by the
    // same user inside a 48 h lookback — both models side by side, the
    // report every growth team reconciles. One user-keyed Exchange;
    // the touches come from RANGE frames over epoch-micros (bounded by
    // the lookback, never the user's whole history), min/max of a
    // (ts, event_id, type) struct so ties break identically in any
    // engine; no touch in window → 'direct'. The oracle takes an
    // INDEPENDENT route (correlated join + ROW_NUMBER pick) so the
    // range-frame algebra is validated, not replayed.
    "q229_attribution" -> ((s, dir) => {
      val lookbackUs = 48L * 3600 * 1000000
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("event_id").isNotNull && col("event_type").isNotNull)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"),
          floor(coalesce(col("value"), lit(0.0)) * 1e2 + 0.5)
            .cast("long").as("rev2"))
      val wRange = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-lookbackUs, -1L)
      val touch = when(col("event_type") =!= "purchase",
        struct(col("ts_us"), col("event_id"), col("event_type")))
      val attributed = e
        .withColumn("first_t", min(touch).over(wRange))
        .withColumn("last_t", max(touch).over(wRange))
        .filter(col("event_type") === "purchase")
        .select(col("rev2"),
          coalesce(col("first_t.event_type"), lit("direct"))
            .as("first_channel"),
          coalesce(col("last_t.event_type"), lit("direct"))
            .as("last_channel"))
      def model(name: String, channel: Column) = attributed
        .groupBy(channel.as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          (sum(col("rev2")).cast("double") / 1e2).as("revenue"))
        .withColumn("model", lit(name))
      model("first_touch", col("first_channel"))
        .unionByName(model("last_touch", col("last_channel")))
        .select(col("model"), col("channel"), col("n_purchases"),
          col("revenue"))
        .ordered(col("model"), col("channel"))
    }),

    // ---- Growth analytics: weekly cohort retention matrix -------------------------
    // The classic retention triangle: users grouped by FIRST-activity
    // week, each later week's active share measured against the
    // cohort's size. Everything runs on the distinct (user, week)
    // table (entity×weeks rows, never raw events — q223's discipline);
    // the first-week window partitions by user (frames bounded by
    // weeks-per-user) and the cohort-size lookup rides a cohort-keyed
    // window over the already-aggregated triangle (weeks² rows).
    // Share quantized 1e-6 via the engine-portable floor contract.
    "q230_cohort_retention" -> ((s, dir) => {
      val dayUs = 86400000000L
      val uw = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
        .select(col("user_id"),
          expr(s"(ts_us div $dayUs) div 7").as("week"))
        .distinct()
      val wU = Window.partitionBy(col("user_id"))
      val tri = uw
        .withColumn("cohort_week", min(col("week")).over(wU))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_index"))
        .agg(count(lit(1)).as("n_active"))
      val wC = Window.partitionBy(col("cohort_week"))
      tri
        .withColumn("cohort_size",
          max(when(col("week_index") === 0, col("n_active"))).over(wC))
        .select(col("cohort_week"), col("week_index"), col("n_active"),
          col("cohort_size"),
          (floor(col("n_active").cast("double") /
            col("cohort_size").cast("double") * 1e6 + 0.5) / 1e6)
            .as("retention"))
        .ordered(col("cohort_week"), col("week_index"))
    }),

    // ---- Customer analytics: RFM segmentation (three distributed NTILEs) ---------
    // The segmentation workhorse: every customer scored into quintiles
    // on Recency (days since last order, DESC — tile 5 = most recent),
    // Frequency (order count DESC — tile 1 = most orders) and Monetary
    // (lifetime cents DESC), then the 125-cell segment distribution.
    // All three quintiles ride PrefixSum.ntileDesc over the PERSISTED
    // per-customer aggregate — three global ranks with zero
    // single-task sorts, the q228 operator exercised as a battery; the
    // oracle runs DuckDB's own three NTILEs. The one-row anchor-date
    // frame broadcasts (the q79 lazy-denominator shape).
    "q231_rfm" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull &&
          col("o_totalprice").isNotNull)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          floor(col("o_totalprice") * 1e2 + 0.5).cast("long").as("p2"))
      val anchor = o.agg(max(col("d")).as("anchor"))
      val perCust = o.groupBy(col("o_custkey"))
        .agg(max(col("d")).as("last_d"), count(lit(1)).as("freq"),
          sum(col("p2")).as("money2"))
        .crossJoin(broadcast(anchor))
        .select(col("o_custkey"),
          datediff(col("anchor"), col("last_d")).cast("long")
            .as("recency_days"),
          col("freq"), col("money2"))
      // ONE fused call: all three boundary probes share one aggregate,
      // all three rank ledgers share one conditional-sum aggregate, and
      // the three tile windows chain in one linear job — the chained
      // ntileDesc form this replaces ran two driver actions PER STAGE
      // over its whole upstream (measured 7.0× wall at 10× customers
      // unpersisted, and needed three persist() stage caches to reach
      // 2.2×; the fused form needs none)
      val scored = graft.ops.PrefixSum.ntileDescMany(perCust, Seq(
        ("recency_days", "o_custkey", "r_tile", 5),
        ("freq", "o_custkey", "f_tile", 5),
        ("money2", "o_custkey", "m_tile", 5)))
      scored.groupBy(col("r_tile").cast("long").as("r_tile"),
          col("f_tile").cast("long").as("f_tile"),
          col("m_tile").cast("long").as("m_tile"))
        .agg(count(lit(1)).as("n_cust"),
          (sum(col("money2")).cast("double") / 1e2).as("revenue"))
        .ordered(col("r_tile"), col("f_tile"), col("m_tile"))
    }),

    // ---- Ops diagnostics: key-skew profile (Gini + hot-key shares) ----------------
    // The shuffle-health report a platform team reads before picking
    // partitioners: per-user event counts ranked globally
    // (PrefixSum.rankDesc — no single-task sort), then the Gini
    // coefficient in EXACT integer cross-multiplication — with desc
    // rank rd, G = ((n+1)·S − 2·Σ rd·x) / (n·S), one double division
    // at the end (Σ rd·x rides DECIMAL(38,0): it reaches n·S, past
    // BIGINT at cluster scale) — plus the top-10-key share and the
    // p99/p50 per-key load ratio read at exact desc ranks.
    "q232_key_skew" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val ranked = graft.ops.PrefixSum
        .rankDesc(perUser, "cnt", "user_id", "rd", "n")
      val d38 = "decimal(38,0)"
      ranked.agg(
          max(col("n")).as("n_users"),
          sum(col("cnt")).as("total_events"),
          sum(col("rd").cast(d38) * col("cnt").cast(d38)).as("t38"),
          sum(when(col("rd") <= 10, col("cnt")).otherwise(0L))
            .as("top10"),
          max(when(col("rd") === greatest(lit(1L),
            expr("n div 100")), col("cnt"))).as("v99"),
          max(when(col("rd") === greatest(lit(1L),
            expr("n div 2")), col("cnt"))).as("v50"))
        .select(col("n_users"), col("total_events"),
          (floor(((col("n_users") + 1).cast(d38) *
              col("total_events").cast(d38) -
              col("t38") * 2).cast("double") /
            (col("n_users").cast("double") *
              col("total_events").cast("double")) * 1e6 + 0.5) / 1e6)
            .as("gini"),
          (floor(col("top10").cast("double") /
            col("total_events").cast("double") * 1e6 + 0.5) / 1e6)
            .as("top10_share"),
          (floor(col("v99").cast("double") / col("v50").cast("double")
            * 1e4 + 0.5) / 1e4).as("p99_over_p50"))
    }),

    // ---- Forecasting ops: naive vs seasonal-naive backtest --------------------------
    // The capacity-planning sanity check: per event type, daily volumes
    // backtested against the two zero-parameter forecasters everyone
    // must beat — naive (yesterday) and seasonal-naive (same weekday
    // last week) — scored by MAE and bias over the evaluation window in
    // EXACT integer counts (one double division per metric at the end).
    // Lags ride (type)-keyed windows over the per-type-day table
    // (domain-bounded: types × days), never raw events; days with no
    // events are materialized as zeros via the type × day-span grid
    // (two tiny frames joined) so lag-7 never silently skips gaps.
    "q233_backtest" -> ((s, dir) => {
      val dayUs = 86400000000L
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull)
        .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
      val counts = e.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val span = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val days = span.select(explode(sequence(col("lo"), col("hi")))
        .as("day"))
      val grid = counts.select(col("event_type")).distinct()
        .crossJoin(broadcast(days))
        .join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val scored = grid
        .withColumn("f_naive", lag(col("n"), 1).over(w))
        .withColumn("f_seasonal", lag(col("n"), 7).over(w))
        .filter(col("f_seasonal").isNotNull) // eval window: both defined
      scored.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("n") - col("f_naive"))).as("ae1"),
          sum(abs(col("n") - col("f_seasonal"))).as("ae7"),
          sum(col("n") - col("f_naive")).as("b1"),
          sum(col("n") - col("f_seasonal")).as("b7"))
        .select(col("event_type"), col("n_days"),
          (floor(col("ae1").cast("double") / col("n_days").cast("double")
            * 1e4 + 0.5) / 1e4).as("mae_naive"),
          (floor(col("ae7").cast("double") / col("n_days").cast("double")
            * 1e4 + 0.5) / 1e4).as("mae_seasonal"),
          (floor(col("b1").cast("double") / col("n_days").cast("double")
            * 1e4 + 0.5) / 1e4).as("bias_naive"),
          (floor(col("b7").cast("double") / col("n_days").cast("double")
            * 1e4 + 0.5) / 1e4).as("bias_seasonal"),
          when(col("ae7") < col("ae1"), "seasonal")
            .when(col("ae1") < col("ae7"), "naive")
            .otherwise("tie").as("winner"))
        .ordered(col("event_type"))
    }),

    // ---- Fulfillment ops: ship-delay SLA report per priority ------------------------
    // How long from order to LAST line shipped, by order priority —
    // the SLA table an ops review reads. One orders⋈lineitem equi-join
    // on the natural key (co-partitioned fact join, AQE's SMJ), per-
    // order max delay, then DISCRETE rank percentiles in pure integer
    // arithmetic (smallest delay whose cumulative count reaches
    // ceil(q·n) — no interpolation, no float ranks) over the
    // (priority × distinct-delay) table, domain-bounded by the delay
    // calendar, never order count. Share-within-60-days rides the same
    // tiny frame.
    "q234_ship_sla" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull && col("o_orderdate").isNotNull
          && col("o_orderpriority").isNotNull)
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("od"))
      val l = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_shipdate").isNotNull)
        .select(col("l_orderkey").as("o_orderkey"),
          to_date(col("l_shipdate")).as("sd"))
      val perOrder = o.join(l, Seq("o_orderkey"))
        .groupBy(col("o_orderkey"), col("prio"), col("od"))
        .agg(max(col("sd")).as("last_sd"))
        .select(col("prio"),
          datediff(col("last_sd"), col("od")).cast("long").as("delay"))
      val byDelay = perOrder.groupBy(col("prio"), col("delay"))
        .agg(count(lit(1)).as("c"))
      val wOrd = Window.partitionBy(col("prio")).orderBy(col("delay"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("prio"))
      byDelay
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("prio"))
        .agg(max(col("n")).as("n_orders"),
          min(when(col("cum") * 2 >= col("n"), col("delay"))).as("p50"),
          min(when(col("cum") * 10 >= col("n") * 9, col("delay")))
            .as("p90"),
          max(col("delay")).as("max_delay"),
          sum(when(col("delay") <= 60, col("c")).otherwise(0L))
            .as("w60"))
        .select(col("prio"), col("n_orders"), col("p50"), col("p90"),
          col("max_delay"),
          (floor(col("w60").cast("double") /
            col("n_orders").cast("double") * 1e6 + 0.5) / 1e6)
            .as("share_within_60"))
        .ordered(col("prio"))
    }),

    // ---- Streaming drift gate (q227's histogram KS as a continuous monitor) ------
    // The production shape of distribution monitoring: per event-time
    // DAY window, a FixedHistogram sketch aggregates in the state store
    // (state per window = the 256-long grid, a constant — never the
    // data), scored by histKs against a REFERENCE histogram computed
    // once from the trusted baseline period and shipped as a plan
    // literal. One drift row per window with the KS statistic, the
    // exact integer drift verdict (cross-multiplied — no float CDF),
    // and the first bin boundary achieving the sup. Batch-replay
    // (AvailableNow) through the full streaming machinery, q136's
    // discipline; the oracle replays grid, cumulative gaps, and
    // verdict in SQL.
    "q235_stream_drift" -> ((s, dir) => {
      val dayUs = 86400000000L
      val splitDay = 19738L
      val (lo, hi, bins) = (0.0, 512.0, 256)
      val eBatch = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("value").isNotNull &&
          !isnan(col("value")))
      val ref: Seq[Long] = eBatch
        .filter(expr(s"ts_us div $dayUs") < splitDay)
        .agg(Sketches.histogram(col("value"), lo, hi, bins).as("sk"))
        .collect()(0).getSeq[Long](0)
      val d38 = "decimal(38,0)"
      Streams.runToMemoryIsolated(s,
          s"q235_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        val stream = Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("ts_us").isNotNull && col("value").isNotNull &&
            !isnan(col("value")))
          .withColumn("ev_time", timestamp_micros(col("ts_us")))
        Streams.driftGate(stream, "ev_time", "value",
          delay = "1 hour", windowLen = "1 day", ref, lo, hi, bins)
      }.select(col("w_start"), col("n_win"), col("n_ref"),
          (floor(col("max_gap").cast("double") /
            (col("n_win") * col("n_ref")).cast("double") * 1e6 + 0.5)
            / 1e6).as("ks"),
          (lit(lo) + (col("at_bin") + 1).cast("double") *
            lit((hi - lo) / bins)).as("at_boundary"),
          // exact integer verdict at ks > 0.15: gap·20 > n·m·3, on
          // DECIMAL(38,0) so the product never overflows at scale
          (col("max_gap").cast(d38) * 20 >
            col("n_win").cast(d38) * col("n_ref").cast(d38) * 3)
            .as("drifted"))
        .ordered(col("w_start"))
    }),

    // ---- Time-series analytics: record-breaking events -------------------------
    // "When did the metric set a new all-time high?" — the running-max
    // sweep over event time, the other classic query that single-tasks
    // as a bare `max(v) OVER (ORDER BY ts)`: it rides
    // PrefixSum.runningMaxStrictAsc (quantile buckets → bucket-local
    // strict RANGE windows → broadcast prefix-max ledger), so the scan
    // fans out at any volume. STRICT-preceding semantics: same-instant
    // events compare only against earlier instants, so simultaneous
    // record-breakers all count (engine-order-independent — a running
    // max INCLUDING current row would tie-break by arrival). Output is
    // the record set itself (~log n rows for exchangeable arrivals).
    "q236_record_highs" -> ((s, dir) => {
      val dayUs = 86400000000L
      val e = Tables.events(s, dir)
        .filter(col("event_id").isNotNull && col("ts_us").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select(col("event_id"), col("ts_us"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v6"))
      graft.ops.PrefixSum
        .runningMaxStrictAsc(e, "ts_us", "v6", "prev_max")
        .filter(col("prev_max").isNull || col("v6") > col("prev_max"))
        .select(col("event_id"), expr(s"ts_us div $dayUs").as("day"),
          (col("v6").cast("double") / 1e6).as("value"))
        .ordered(col("event_id"))
    }),

    // ---- Engagement analytics: consecutive-day activity streaks ----------------
    // Gaps-and-islands on the distinct (user, day) table (q223's
    // entity×day discipline — raw events never ride the windows): a
    // day-minus-row-number island key per user, per-island lengths,
    // then the distribution of each user's LONGEST streak — the
    // engagement report a retention team tracks. One user-keyed
    // Exchange; island arithmetic is pure integers.
    "q237_streaks" -> ((s, dir) => {
      val dayUs = 86400000000L
      val ud = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
        .select(col("user_id"), expr(s"ts_us div $dayUs").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val streaks = ud
        .withColumn("island",
          col("day") - row_number().over(w).cast("long"))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
      streaks.groupBy(col("user_id"))
        .agg(max(col("len")).as("max_streak"),
          count(lit(1)).as("n_streaks"))
        .groupBy(col("max_streak"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_streaks")).as("n_streaks"))
        .ordered(col("max_streak"))
    }),

    // ---- Robust statistics: median absolute deviation per event type -----------
    // The outlier-resistant spread metric monitoring teams prefer over
    // stddev: MAD = med(|x − med(x)|), both medians DISCRETE (smallest
    // value whose doubled cumulative count reaches n — q234's rank
    // arithmetic, no interpolation, no float ranks) over the
    // (type × distinct-value) counts table, domain-bounded by the
    // quantized value alphabet, never the event count. The deviation
    // table re-derives from the SAME counts frame joined to the tiny
    // per-type median — the fact table is scanned once.
    "q238_mad_robust" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          !isnan(col("value")))
        .select(col("event_type"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v6"))
      val counts = e.groupBy(col("event_type"), col("v6"))
        .agg(count(lit(1)).as("c"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("v6"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val med = counts
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") * 2 >= col("n"), col("v6"))).as("med6"))
      val dev = counts.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"), abs(col("v6") - col("med6")).as("d6"))
        .agg(sum(col("c")).as("c"), max(col("n")).as("n"),
          max(col("med6")).as("med6"))
      val wD = Window.partitionBy(col("event_type")).orderBy(col("d6"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dev.withColumn("cumd", sum(col("c")).over(wD))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_events"),
          (max(col("med6")).cast("double") / 1e6).as("median"),
          (min(when(col("cumd") * 2 >= col("n"), col("d6")))
            .cast("double") / 1e6).as("mad"))
        .ordered(col("event_type"))
    }),

    // ---- Similarity search: IVF + PQ (the faiss IVFPQ production shape) --------
    // The two ANN halves composed: the IVF cell structure (q39's SAME
    // persisted index and digest) prunes WHICH rows are scored — each
    // query meets only its nprobe cells' rows on a cell equi-join — and
    // PQ codes (q239's SAME codebooks) shrink WHAT each scored row
    // carries to m=8 4-bit codes. At 100 TB this is the only brute-
    // force-free shape: probe IO ~nprobe/nlist of the corpus, scored
    // bytes /32, no corpus-sized shuffle anywhere. Run-state oracle
    // inlines BOTH fitted models and replays cells, probes, codes, ADC,
    // and ranks.
    "q240_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val (index, _) = ivfAcquire(s, dir, corpus)
      val pq = pqState.getOrFit(dir)(
        Pq.fit(emb, "embedding", m = PqM, ksub = PqKsub))
      val encoded = Pq.encode(corpus, "nvec", pq)
        .withColumn("cell", Similarity.ivfCell(col("nvec"), index))
        .drop("nvec")
      // probe on the raw float vector (q39's exact expression); the
      // double copy feeds only the ADC dot
      val queryCells = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .withColumn("cell", explode(
          Similarity.ivfProbeCells(col("qvec"), index, Q39Nprobe)))
        .withColumn("qv", col("qvec").cast("array<double>"))
        .drop("qvec")
      val cands = queryCells.join(encoded, Seq("cell"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("adc",
          floor(Pq.adcScore(col("qv"), pq, j => col(s"code_$j"))
            * 1e6 + 0.5) / 1e6)
      val w = Window.partitionBy("qid").orderBy(desc("adc"), asc("nid"))
      cands.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("qid", "nid", "adc", "rank")
        .ordered(col("qid"), col("rank"))
    }),

    // ---- Trend analytics: per-type OLS fit of value against time ---------------
    // The "is this metric drifting" regression: per event type, ordinary
    // least squares of the micro-quantized value against the day index,
    // from the five EXACT sufficient sums (n, Σx, Σy, Σxy, Σy² — Σy·y
    // reaches ~2.6e23 at fixture scale alone, far past BIGINT, so the
    // y-moments ride DECIMAL(38,0)); slope/intercept/r² are then one
    // identical double-arithmetic tree over the exact sums in both
    // engines. One map-side-combined aggregate over the fact scan — the
    // sufficient-statistics pattern every distributed regression uses.
    "q241_trend_ols" -> ((s, dir) => {
      val dayUs = 86400000000L
      val x0 = 19700L // fixed epoch-day anchor keeps x magnitudes small
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"),
          (expr(s"ts_us div $dayUs") - x0).as("x"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("y"))
      val sums = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double")
      val sxx = col("sxx").cast("double")
      val sy = col("sy").cast("double")
      val sxy = col("sxy").cast("double")
      val syy = col("syy").cast("double")
      val num = n * sxy - sx * sy
      val denx = n * sxx - sx * sx
      val deny = n * syy - sy * sy
      val slope = num / denx
      // slope/intercept are in micro-value units; floor(x+0.5)/1e6 both
      // rounds to 1e-6 and converts to value units in one step
      sums.select(col("event_type"), col("n"),
          (floor(slope + 0.5) / 1e6).as("slope"),
          (floor((sy - slope * sx) / n + 0.5) / 1e6).as("intercept"),
          (floor(num * num / (denx * deny) * 1e6 + 0.5) / 1e6).as("r2"))
        .ordered(col("event_type"))
    }),

    // ---- Monitoring: MAD-robust anomaly days per event type --------------------
    // Which days were abnormal? Per (type, day) counts, the q238
    // discrete median + MAD over the domain-bounded type×day table,
    // then the classic robust flag |c − med| > 3·MAD in PURE integer
    // comparison (no float z-scores to diverge per engine). A type
    // whose MAD is 0 flags every deviating day — the honest degenerate
    // case, stated rather than fudged.
    "q242_anomaly_days" -> ((s, dir) => {
      val dayUs = 86400000000L
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull)
        .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
      val counts = e.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val med = counts
        .withColumn("cum", count(lit(1)).over(wOrd))
        .withColumn("nd", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("nd"), col("c"))).as("med"))
      val dev = counts.join(broadcast(med), Seq("event_type"))
        .withColumn("d", abs(col("c") - col("med")))
      val wD = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mad = dev
        .withColumn("cumd", count(lit(1)).over(wD))
        .withColumn("nd", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cumd") * 2 >= col("nd"), col("d"))).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .filter(col("d") > col("mad") * 3)
        .select(col("event_type"), col("day"), col("c").as("n_events"),
          col("med"), col("mad"))
        .ordered(col("event_type"), col("day"))
    }),

    // ---- Time series: CUSUM changepoint detection ------------------------------
    // q242 flags individual outlier days; CUSUM detects a sustained LEVEL
    // SHIFT that no single day makes anomalous (reference-adjacent: drift
    // monitoring over the event stream, the batch form of q235's gate).
    // The textbook recurrence S_t = max(0, S_{t-1} + x_t) is sequential —
    // useless on a cluster — but has a closed prefix form:
    //   S_t = C_t − min(0, min_{i≤t} C_i),   C_t = Σ_{i≤t} x_i
    // (the running max-drawup identity), so the whole detector is ONE
    // running sum plus ONE running min — both per-event-type partitioned
    // windows over the per-day series, never an unpartitioned sort (the
    // day axis grows with TIME, not data volume, so per-key state stays
    // bounded at 100 TB). All arithmetic is exact BIGINT: the deviation
    // is scaled by nd (x_t = nd·c_t − tot, i.e. nd·(c_t − mean)) instead
    // of subtracting a fractional mean, and the alarm threshold is the
    // q242 integer MAD: S_t > 5·max(mad,1)·nd — max(·,1) states the
    // degenerate flat-series case (mad = 0) instead of dividing by it.
    // One summary row per type: peak drawup, its (earliest) day, alarm
    // count, first alarm day (NULL when the series never shifts).
    "q243_cusum" -> ((s, dir) => {
      val dayUs = 86400000000L
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull)
        .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
      val c = e.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"))
      val wAll = Window.partitionBy(col("event_type"))
      // q242's exact lower-median / MAD (integer, engine-stable)
      val wOrdC = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = c
        .withColumn("cum", count(lit(1)).over(wOrdC))
        .withColumn("ndm", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("ndm"), col("c"))).as("med"))
      val dev = c.join(broadcast(med), Seq("event_type"))
        .withColumn("d", abs(col("c") - col("med")))
      val wOrdD = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mad = dev
        .withColumn("cumd", count(lit(1)).over(wOrdD))
        .withColumn("ndm", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cumd") * 2 >= col("ndm"), col("d"))).as("mad"))
      val stats = c.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("c")).as("tot"))
      val wT = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      c.join(broadcast(stats), Seq("event_type"))
        .join(broadcast(mad), Seq("event_type"))
        .withColumn("x", col("nd") * col("c") - col("tot"))
        .withColumn("cx", sum(col("x")).over(wT))
        .withColumn("s",
          col("cx") - least(lit(0L), min(col("cx")).over(wT)))
        .withColumn("h", lit(5L) * greatest(col("mad"), lit(1L)) * col("nd"))
        .withColumn("smax", max(col("s")).over(wAll))
        .groupBy(col("event_type"))
        .agg(max(col("nd")).as("nd"),
          max(col("s")).as("peak_cusum"),
          min(when(col("s") === col("smax"), col("day"))).as("peak_day"),
          count(when(col("s") > col("h"), lit(1))).as("n_alarms"),
          min(when(col("s") > col("h"), col("day"))).as("first_alarm"))
        .ordered(col("event_type"))
    }),

    // ---- Retrieval: reciprocal-rank-fusion hybrid search ------------------------
    // The standard hybrid-retrieval combiner (RRF, Cormack/Clarke/Buettcher
    // SIGIR'09): dense ranks (q19's cosine top-k over embeddings) and
    // lexical ranks (3-gram shingle Jaccard via the shared-shingle
    // inverted index — q33's tokenizer, q34's index join shape) fused as
    // Σ 1/(60+rank_i), missing list ⇒ no contribution. Rank fusion is
    // score-scale-free, so the two rankers never need calibration — the
    // reason RRF is the default in production hybrid search. Both stages
    // keep their audited scale postures: the lexical join is a token
    // equi-join (hot stop-tokens are the q142/q145 measured-salting
    // shape), and the dense stage is the q19 bounded-broadcast exact
    // baseline — at 100 TB swap in annTopK/IvfIndex ranks (q24/q39/q240);
    // the fusion is ranker-agnostic and unchanged. Floats are engine-
    // stable: Jaccard is one IEEE division of exact integers, RRF terms
    // are 1/(60+r) over integer ranks, both floored at 1e-6.
    "q244_rrf_hybrid" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val dense = Similarity.cosineTopK(
          emb.filter(col("vec_id") % 20 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          emb.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
          k = 20)
        .select(col("qid"), col("nid"), col("rank").as("rd"))
      rrfHybrid(s, dir, dense)
    }),

    // ---- Retrieval: positional-index phrase search ------------------------------
    // Exact phrase queries over a positional inverted index — the search-
    // engine primitive a shingle index can't answer (shingles are fixed-k;
    // phrases are ad hoc). Index = (doc, pos, token) via one posexplode;
    // a k-word phrase is k−1 self-equi-joins on (doc, pos+i) with the
    // phrase words as PLAN LITERALS, so every branch's scan is filtered
    // to one token before the join — at 100 TB each branch reads a
    // posting list, never the corpus, and the joins are equi-joins on
    // (doc, pos), the textbook intersect-postings plan. A zero-hit
    // phrase keeps its row (global aggregate over an empty frame), the
    // honest answer shape for a search API.
    "q245_phrase_search" -> ((s, dir) => {
      // materialize the (already word-filtered) posting lists ONCE: the
      // per-phrase branches below each reference the index 2-3 times,
      // and without the cache every reference re-derives it from the
      // full text scan (12 corpus scans for 5 phrases — the opposite of
      // what "inverted index" means); Bench's clearCache releases it
      val words = q245Phrases.flatMap(_.split(" ")).distinct
      val idx = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(TextStats.tokens(lower(col("text")))))
        .withColumnRenamed("col", "tok")
        .filter(col("tok").isin(words: _*))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val frames = q245Phrases.map { p =>
        val ws = p.split(" ")
        val base = idx.filter(col("tok") === ws.head)
          .select(col("doc_id"), col("pos"))
        val matched = ws.zipWithIndex.drop(1).foldLeft(base) {
          case (acc, (w, i)) =>
            acc.join(idx.filter(col("tok") === w)
              .select(col("doc_id"), (col("pos") - i).as("pos")),
              Seq("doc_id", "pos"))
        }
        matched.agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_matches"))
          .select(lit(p).as("phrase"), col("n_docs"), col("n_matches"))
      }
      frames.reduce(_ unionAll _).ordered(col("phrase"))
    }),

    // ---- Survival analysis: Nelson–Aalen churn hazard ---------------------------
    // The retention curve done right: per-user lifetime = first→last
    // event; a user is churned if silent for a full day before the
    // observation end (the inactivity SLA is a knob — 1 day fits this
    // fixture's dense per-user cadence; a 14-day cut churns nobody in a
    // 30-day window), else CENSORED — the distinction naive retention
    // queries ignore (q139/q177 count exposure; this estimates the
    // hazard). Nelson–Aalen instead of Kaplan–Meier deliberately: KM's
    // survival is a cumulative PRODUCT (exp(Σln) cross-engine is a
    // last-ulp knife edge; exact rational products overflow), while the
    // cumulative HAZARD is a plain SUM — each step's e(d)/n(d) is one
    // IEEE division floored to integer micro-units, then the cumsum is
    // exact BIGINT (q227's honesty posture; S(t) ≈ exp(−H) is the
    // consumer's step). Risk sets come from one reverse-cumulative count
    // over the per-duration frame — the duration domain is DAYS of
    // lifetime, bounded by the time axis, not data volume (the q234
    // domain-bounded window posture); everything upstream is per-user
    // groupBy, fully distributed.
    "q246_hazard" -> ((s, dir) => {
      val dayUs = 86400000000L
      val u = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
      val endRow = u.agg(max(col("last_us")).as("end_us"))
      val byDur = u.crossJoin(broadcast(endRow))
        .withColumn("dur", expr(s"(last_us - first_us) div $dayUs"))
        .withColumn("churned",
          (col("last_us") < col("end_us") - lit(dayUs)).cast("long"))
        .groupBy(col("dur"))
        .agg(count(lit(1)).as("n_enter"), sum(col("churned")).as("n_events"))
      val wAsc = Window.orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byDur
        .withColumn("cum_enter", sum(col("n_enter")).over(wAsc))
        .withColumn("total", sum(col("n_enter")).over(wAll))
        .withColumn("n_at_risk",
          col("total") - col("cum_enter") + col("n_enter"))
        .filter(col("n_events") > 0)
        .withColumn("hazard_u",
          floor(col("n_events").cast("double") / col("n_at_risk") * 1e6
            + 0.5).cast("long"))
        .withColumn("cum_hazard_u", sum(col("hazard_u")).over(wAsc))
        .select(col("dur"), col("n_at_risk"), col("n_events"),
          col("hazard_u"), col("cum_hazard_u"))
        .ordered(col("dur"))
    }),

    // ---- Statistics: Poisson-bootstrap confidence intervals ---------------------
    // THE distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    // for Massive Data Streams", the one production systems actually run):
    // classical resampling needs n draws WITH replacement per replicate —
    // a shuffle per replicate — while Poisson(1) weights approximate the
    // multinomial row-wise, so ALL R replicates ride ONE pass: each row
    // derives R deterministic hash-uniforms (md5, the q66 sampling coin),
    // inverts the Poisson(1) CDF by an 8-literal ladder, and R weighted
    // sums aggregate map-side. Everything that must match cross-engine is
    // exact: values floored to micro-units, weighted sums on
    // DECIMAL(38,0), ONE double division per replicate mean, nearest-rank
    // 2.5%/97.5% picked from the sorted 100-mean array. Per-type output:
    // point mean + the bootstrap CI. The u-columns materialize in their
    // own projection — each feeds a 9-branch ladder, and inlining would
    // re-hash per branch (the q231 plan-copy lesson).
    "q247_bootstrap_ci" -> ((s, dir) => {
      def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val R = q247Replicates
      val ts = q247PoissonCdf.map(_.toDouble)
      val d38 = "decimal(38,0)"
      val base = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v"))
      // replicates as ROWS, not columns: a first cut carried R u-columns,
      // R ladder columns and 2R aggregates through one 300-wide plan —
      // 6.4 s of codegen/agg overhead at sf0.1; exploded, the same work
      // is one narrow codegen stage over R×n rows plus a (type, r)
      // partial agg that map-side combines to |types|·R rows (measured
      // ~1 s). The withColumn chain stays staged: `u` is non-cheap and
      // referenced by all 9 ladder branches, so CollapseProject keeps it
      // materialized (the Urls.staged contract).
      // the heavy stage is R×n rows of hash+ladder DERIVED from n input
      // rows — fan the n rows out FIRST or the single-file scan partition
      // does all R× the work alone (a cluster reading 100 TB gets this
      // parallelism from the splits themselves; a one-file fixture needs
      // the explicit fan-out)
      val ex = base
        .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
        .withColumn("r", explode(sequence(lit(0), lit(R - 1))))
        .withColumn("u", shiftrightunsigned(call_function("md5_lower64",
          concat(col("event_id").cast("string"), lit("#"),
            col("r").cast("string"))), 11)
          .cast("double") / lit(9007199254740992.0))
        .withColumn("w", ts.zipWithIndex
          .foldRight(lit(8): Column) { case ((t, k), acc) =>
            when(col("u") < lit(t), lit(k)).otherwise(acc) })
      val perRep = ex.groupBy(col("event_type"), col("r"))
        .agg(sum((col("w").cast("long") * col("v")).cast(d38)).as("swv"),
          sum(col("w").cast("long")).as("sw"))
        .withColumn("m", round6(col("swv").cast("double") /
          (lit(1e6) * col("sw").cast("double"))))
      val point = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast(d38)).as("sv"))
      val loIdx = math.ceil(0.025 * R).toInt // nearest-rank 2.5%
      val hiIdx = math.ceil(0.975 * R).toInt // nearest-rank 97.5%
      perRep.groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("m"))).as("ms"))
        .join(point, Seq("event_type"))
        .select(col("event_type"), col("n"),
          round6(col("sv").cast("double") /
            (lit(1e6) * col("n").cast("double"))).as("mean"),
          element_at(col("ms"), loIdx).as("ci_lo"),
          element_at(col("ms"), hiIdx).as("ci_hi"))
        .ordered(col("event_type"))
    }),

    // ---- Retrieval: MMR diversity re-ranking ------------------------------------
    // Maximal Marginal Relevance (Carbonell/Goldstein SIGIR'98) — the
    // standard RAG re-ranker: from each query's top-10 cosine candidates,
    // greedily pick 3 maximizing λ·rel − (1−λ)·max-sim-to-already-picked
    // (λ=0.7), so near-duplicate hits can't crowd the context window.
    // The greedy recurrence is bounded by construction (k picks over ≤10
    // candidates per query), so since round 17 the whole selection FOLDS
    // inside one aggregation (see mmrRounds' scaladoc): each query's
    // candidate set collects into a single row and the picks come out of
    // an aggregate/array_sort/transform fold — per-query work is
    // candidate-set-local; only the candidate stage touches the corpus
    // (q19's audited posture, or annTopK/IVF at scale). Pairwise sims
    // are computed within the ≤10-candidate sets (≤90 pairs/query),
    // never corpus×corpus. Floats: rel and sim arrive 1e-6-floored, one
    // fused λ-combination re-floored before ranking; ties break on nid —
    // deterministic both engines. Bench: the fold replaced ~15 tiny
    // stage-scheduling shuffles with 2 (3.71 s → 1.06 s closing wall at
    // sf0.1; the __prod twin 9.91 s → 2.30 s, its remaining cost the
    // IVFPQ candidate stage — the scalable part).
    "q248_mmr_rerank" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val cands = Similarity.cosineTopK(
          emb.filter(col("vec_id") % 20 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          emb.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
          k = 10)
        .select(col("qid"), col("nid"), col("cos").as("rel"))
      mmrRounds(emb, cands).ordered(col("qid"), col("pick"))
    }),

    // ---- Sketches: deterministic sample quantiles with a DKW bound --------------
    // Quantiles over an UNBOUNDED value domain — the gap FixedHistogram
    // (q131, bounded domain) and the exact discrete percentiles (q234,
    // domain-bounded windows) leave open. The sketch is a bottom-k-BY-HASH
    // sample (k=1024 per group): a uniform sample that is a pure function
    // of the data SET — order-insensitive, mergeable (union → bottom-k),
    // and deterministic where KLL's compaction coin flips are not, which
    // is what lets DuckDB replay the ENTIRE sketch (md5 bottom-k, same
    // nearest-rank picks) instead of settling for a plausibility check.
    // Honesty rider (q227's posture): the exact discrete percentile and
    // the estimate's true rank error ride along, with bound_ok asserting
    // the DKW(k, δ=1e-6) envelope 1000·|den·cnt_le − num·n| ≤ 90·den·n
    // in PURE integers. At 100 TB the sample stage is one scan + a
    // per-group top-k (never a global sort); the exact rider is the
    // fixture-scale verification side, as in q227.
    "q249_sample_quantile" -> ((s, dir) => {
      val kS = 1024
      val pcts = Seq((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99"))
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v6"),
          // >> 11 keeps the coin NONNEGATIVE: the raw 64-bit hash is
          // signed here but unsigned in DuckDB — same bits, different
          // ORDER, and bottom-k is an order statistic
          shiftrightunsigned(call_function("md5_lower64",
            concat(col("event_id").cast("string"), lit("#q249"))), 11)
            .as("h"),
          col("event_id"))
      val wH = Window.partitionBy(col("event_type"))
        .orderBy(col("h"), col("event_id"))
      val sample = e.withColumn("rs", row_number().over(wH))
        .filter(col("rs") <= kS)
      val wSv = Window.partitionBy(col("event_type")).orderBy(col("v6"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wSa = Window.partitionBy(col("event_type"))
      val sEsts = pcts.map { case (num, den, nm) =>
        min(when(col("cum") * den >= col("ks") * num, col("v6")))
          .as(s"est_$nm")
      }
      val sQ = sample
        .withColumn("cum", count(lit(1)).over(wSv))
        .withColumn("ks", count(lit(1)).over(wSa))
        .groupBy(col("event_type"))
        .agg(sEsts.head, sEsts.tail: _*)
      // NOT persisted (measured, this round): full is referenced twice
      // (exact-quantile window pass + the true-rank join) but the A/B at
      // sf0.1 put the persist at 3.43 s vs 3.19 s uncached — the
      // (event_type × v6) grid is wide enough that the InMemoryRelation
      // write outweighs one re-aggregation of the events scan.
      val full = e.groupBy(col("event_type"), col("v6"))
        .agg(count(lit(1)).as("c"))
      val wFv = Window.partitionBy(col("event_type")).orderBy(col("v6"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fEsts = max(col("n")).as("n") +:
        pcts.map { case (num, den, nm) =>
          min(when(col("cum") * den >= col("n") * num, col("v6")))
            .as(s"exact_$nm")
        }
      val fQ = full
        .withColumn("cum", sum(col("c")).over(wFv))
        .withColumn("n", sum(col("c")).over(wSa))
        .groupBy(col("event_type"))
        .agg(fEsts.head, fEsts.tail: _*)
      // true rank of each estimate: cnt_le = #rows with v6 <= est
      val est = sQ.join(fQ, Seq("event_type"))
      val longRows = pcts.map { case (num, den, nm) =>
        est.select(col("event_type"), lit(nm).as("pct"),
          lit(num.toLong).as("num"), lit(den.toLong).as("den"),
          col("n"), col(s"est_$nm").as("est"),
          col(s"exact_$nm").as("exact"))
      }.reduce(_ unionAll _)
      val cnt = longRows.join(full, Seq("event_type"))
        .withColumn("le", when(col("v6") <= col("est"), col("c"))
          .otherwise(lit(0L)))
        .groupBy(col("event_type"), col("pct"), col("num"), col("den"),
          col("n"), col("est"), col("exact"))
        .agg(sum(col("le")).as("cnt_le"))
      cnt
        .withColumn("rank_err",
          abs(col("den") * col("cnt_le") - col("num") * col("n")))
        .withColumn("bound_ok",
          (col("rank_err") * 1000 <= col("den") * col("n") * 90)
            .cast("int"))
        .select(col("event_type"), col("pct"), col("n"),
          (col("est").cast("double") / 1e6).as("est"),
          (col("exact").cast("double") / 1e6).as("exact"),
          col("rank_err"), col("bound_ok"))
        .ordered(col("event_type"), col("pct"))
    }),

    // ---- Streaming: continuous CUSUM level-shift monitor ------------------------
    // q243's detector as production ops runs it: the med/MAD baseline is
    // batch-fit on the REFERENCE period (days < split) and handed to the
    // stream as a parameter (q235's broadcast-reference pattern — a
    // monitor that re-fits its baseline from the watched stream can't
    // tell drift from baseline creep), then Streams.cusumMonitor holds
    // per-type open-day counts + O(1) CUSUM accumulators in state,
    // finalizing each day when a newer one appears and emitting
    // (day, count, drawup, alarm) rows. The per-type max (still-open)
    // day is deliberately absent — a monitor can't score a day that
    // isn't over. AvailableNow batch-replay is the oracle's ground:
    // DuckDB re-derives the baseline and replays the recurrence through
    // the prefix identity over every finalized day.
    "q250_stream_cusum" -> ((s, dir) => {
      import s.implicits._
      val dayUs = 86400000000L
      val splitDay = 19738L
      val eB = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull)
        .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
      val ref = eB.filter(col("day") < splitDay)
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))
      val wAll = Window.partitionBy(col("event_type"))
      val wC = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = ref
        .withColumn("cum", count(lit(1)).over(wC))
        .withColumn("ndm", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("ndm"), col("c"))).as("med"))
      val dev = ref.join(broadcast(med), Seq("event_type"))
        .withColumn("d", abs(col("c") - col("med")))
      val wD = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mm = dev
        .withColumn("cumd", count(lit(1)).over(wD))
        .withColumn("ndm", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cumd") * 2 >= col("ndm"), col("d"))).as("mad"))
        .join(med, Seq("event_type"))
      // contract-small: one (med, mad) pair per event type
      val baseline: Map[String, (Long, Long)] = mm.collect()
        .map(r => r.getString(0) -> (r.getLong(2), r.getLong(1))).toMap
      Streams.runToMemoryIsolated(s,
          s"q250_mem_${System.nanoTime()}", "append") { sc =>
        val schema = Tables(sc, dir, "events").schema
        // Tables.stream carries the layout branch (single-file fixture vs
        // replica part-file directory — caught by the 10× scaling run
        // reading 0 rows; the branch now lives in the catalog)
        val stream = Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("event_type").isNotNull && col("ts_us").isNotNull)
          .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
          .as[(String, Long)]
        Streams.cusumMonitor(stream, baseline)
          .toDF("event_type", "day", "n_events", "cusum", "alarm")
      }.ordered(col("event_type"), col("day"))
    }),

    // ---- Text analysis: PMI-lift collocations ------------------------------------
    // Statistically-bound word pairs (collocations) by pointwise mutual
    // information — ranked by LIFT p(ab)/(p(a)p(b)) = c_ab·N²/(B·c_a·c_b)
    // rather than its log, so the score is one double division of EXACT
    // integer cross-products (DECIMAL(38,0), the q232 Gini discipline —
    // log() last-ulp behavior is engine-specific, ratios are not). Bigram
    // instances come from the q245 positional index self-joined on
    // (doc, pos+1); min support 5 and a row_number tie-break make the
    // top-20 a deterministic SET. The N/B totals are one-row aggregates
    // broadcast-crossed on (the q190 denominator shape).
    "q251_collocations" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      val idx = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(TextStats.tokens(lower(col("text")))))
        .withColumnRenamed("col", "tok")
      val uni = idx.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      val bi = idx.select(col("doc_id"), col("pos"), col("tok").as("w1"))
        .join(idx.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("tok").as("w2")), Seq("doc_id", "pos"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      val totals = uni.agg(sum(col("cu")).as("nn"))
        .crossJoin(bi.agg(sum(col("n_ab")).as("bb")))
      val scored = bi.filter(col("n_ab") >= 5)
        .join(uni.select(col("tok").as("w1"), col("cu").as("ca")), Seq("w1"))
        .join(uni.select(col("tok").as("w2"), col("cu").as("cb")), Seq("w2"))
        .crossJoin(broadcast(totals))
        .withColumn("lift", floor(
          (col("n_ab").cast(d38) * col("nn").cast(d38) *
            col("nn").cast(d38)).cast("double") /
          (col("bb").cast(d38) * col("ca").cast(d38) *
            col("cb").cast(d38)).cast("double") * 1e6 + 0.5) / 1e6)
      // orderBy + limit is TakeOrderedAndProject (per-partition heaps, no
      // global sort); (w1, w2) is unique per row so the top-20 SET is a
      // deterministic total order
      scored
        .orderBy(desc("lift"), col("w1"), col("w2"))
        .limit(20)
        .select(col("w1"), col("w2"), col("n_ab"), col("ca"), col("cb"),
          col("lift"))
        .ordered(desc("lift"), col("w1"), col("w2"))
    }),

    // ---- Time series: additive seasonal decomposition ---------------------------
    // STL-lite: per-type daily volume split into TREND (centered 7-day
    // moving average, carried ×7 as an exact BIGINT sum; NULL at the
    // edges where the window isn't full, stated rather than padded), then
    // SEASONAL as the per-day-of-week integer median of the DETRENDED
    // series (detrend first — a dow-median of raw counts folds the level
    // into the seasonal term and the residual double-subtracts it), then
    // RESIDUAL d7 − seas7 (exact integers throughout — the only doubles
    // are the display divisions).
    // Anomaly = |resid7| > 3·max(mad7, 7) with mad7 the integer lower-
    // median of |resid7| (q242's trick), i.e. residual outliers AFTER
    // seasonality and trend are explained away — q242 flags level
    // outliers, q243 level shifts, this flags seasonality-adjusted
    // shocks. Every window is per-type over the day axis (time-bounded
    // state, the q234 posture).
    "q252_seasonal" -> ((s, dir) => {
      val dayUs = 86400000000L
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull)
        .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
      val c = e.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("dow", col("day") % 7)
      // DETREND FIRST: the dow-median of raw counts would fold the level
      // into the seasonal term and the residual would double-subtract it
      val wMa = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-3, 3)
      val t = c
        .withColumn("trend7",
          when(count(lit(1)).over(wMa) === 7, sum(col("c")).over(wMa)))
        .withColumn("d7", col("c") * 7 - col("trend7"))
      val wSd = Window.partitionBy(col("event_type"), col("dow"))
        .orderBy(col("d7"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wSda = Window.partitionBy(col("event_type"), col("dow"))
      val seas = t.filter(col("d7").isNotNull)
        .withColumn("cum", count(lit(1)).over(wSd))
        .withColumn("nd", count(lit(1)).over(wSda))
        .groupBy(col("event_type"), col("dow"))
        .agg(min(when(col("cum") * 2 >= col("nd"), col("d7"))).as("seas7"))
      val r = t.join(broadcast(seas), Seq("event_type", "dow"), "left")
        .withColumn("resid7", col("d7") - col("seas7"))
      val wRd = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("resid7")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wRa = Window.partitionBy(col("event_type"))
      val mads = r.filter(col("resid7").isNotNull)
        .withColumn("cum", count(lit(1)).over(wRd))
        .withColumn("nd", count(lit(1)).over(wRa))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("nd"), abs(col("resid7"))))
          .as("mad7"))
      r.join(broadcast(mads), Seq("event_type"), "left")
        .select(col("event_type"), col("day"), col("dow"),
          col("c").as("n_events"),
          (floor(col("trend7").cast("double") / 7.0 * 1e6 + 0.5) / 1e6)
            .as("trend"),
          (floor(col("seas7").cast("double") / 7.0 * 1e6 + 0.5) / 1e6)
            .as("seasonal"),
          col("resid7"),
          when(col("resid7").isNotNull,
            abs(col("resid7")) > lit(3L) * greatest(col("mad7"), lit(7L)))
            .as("is_anom"))
        .ordered(col("event_type"), col("day"))
    }),

    // ---- LLM ops: the dedup CASCADE ledger ---------------------------------------
    // What curation pipelines actually run (RefinedWeb/FineWeb shape):
    // exact dedup FIRST (cheap, order-normalized fingerprint groupBy),
    // near-dup on the survivors (size-gated exact-Jaccard pairs →
    // connected components → min-id keep), with a per-stage LEDGER of
    // docs_in / removed / docs_out — the removal accounting reviewers
    // demand before a corpus ships. Composes the audited q12/q34
    // operators; both pair plans return the identical set (DedupSpec), so
    // the gate is a physical choice only. The ledger rows are one-row
    // aggregates crossed together (the q190 denominator shape).
    "q253_dedup_cascade" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      // persisted: groups is consumed by the survivors keep-join AND the
      // stage-1 ledger count, and its fingerprint (tokenize + sort + md5
      // per doc) is the most expensive per-row expression in the query —
      // uncached it runs once per branch (q231 own-your-input-caching
      // lesson). One row per distinct fingerprint, tiny by construction.
      val groups = Dedup.exact(docs, TextStats.fingerprint(col("text")),
        "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val survivors = docs.join(
        groups.select(col("keep_id").as("doc_id")), Seq("doc_id"))
      // 3-gram shingles, NOT unigrams: the 31-token vocabulary makes
      // most long docs IDENTICAL as distinct-token sets (one giant
      // clique — a closure the oracle can't replay and a "dedup" that
      // would delete the corpus); 3-grams recover the planted near-dup
      // structure (25 pairs at sf0.01 / 256 at sf0.1, = the MinHash row).
      // allPairsMax = 0 pins the PREFIX-INDEX plan: the auto gate would
      // pick all-pairs at 5k docs (12.5M jaccards, measured 25 s) — right
      // for a one-off, wrong for the pipeline this query demonstrates
      // docCount = MaxValue skips the gating count(): with cap 0 the
      // prefix path is predetermined, and the count would otherwise
      // execute the whole survivors lineage (scan + fingerprint groupBy
      // + keep-join) once more for an answer that cannot change the plan
      // (the q34__prefix discipline)
      val pairs = Dedup.jaccardPairsAuto(survivors, "doc_id", "text",
        shingleK = 3, threshold = 0.8, allPairsMax = 0,
        docCount = Long.MaxValue)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val n0 = docs.agg(count(lit(1)).as("n0"))
      val g1 = groups.agg(count(lit(1)).as("g1"))
      val r2 = cc.agg((count(lit(1)) -
        countDistinct(col("label"))).as("rem2"))
      val stage1 = n0.crossJoin(g1)
        .select(lit("1_exact").as("stage"), col("n0").as("docs_in"),
          (col("n0") - col("g1")).as("docs_removed"),
          col("g1").as("docs_out"))
      val stage2 = g1.crossJoin(r2)
        .select(lit("2_near").as("stage"), col("g1").as("docs_in"),
          col("rem2").as("docs_removed"),
          (col("g1") - col("rem2")).as("docs_out"))
      stage1.unionAll(stage2).ordered(col("stage"))
    }),

    // ---- Time series: lead–lag cross-correlation ---------------------------------
    // "Does signups lead purchases, and by how many days?" — Pearson r
    // between every ordered PAIR of event types' daily series at lags
    // −7..+7, best lag per pair by max r (ties to the smallest |lag|,
    // then the smaller lag). q185's exact-sufficient-sums discipline
    // (integer counts, one double formula tree both engines, 1e-6 floor
    // BEFORE ranking); the lag join is a (type, day+k) equi-join over
    // the bounded types×days×15 frame. Pairs with under 10 overlapping
    // days or a degenerate variance are dropped, stated not fudged.
    "q254_lag_xcorr" -> ((s, dir) => {
      val dayUs = 86400000000L
      val daily = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(count(lit(1)).as("n"))
      val lagged = daily
        .select(col("event_type").as("ta"), col("day"), col("n").as("x"))
        .withColumn("k", explode(sequence(lit(-7), lit(7))))
      val m = lagged.join(daily
          .select(col("event_type").as("tb"), col("day").as("day2"),
            col("n").as("y")),
          col("day2") === col("day") + col("k") && col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb"), col("k")).agg(
          count(lit(1)).as("m"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .filter(col("m") >= 10)
      val mD = col("m").cast("double")
      def d(c: String) = col(c).cast("double")
      val num = mD * d("sxy") - d("sx") * d("sy")
      val den = sqrt(mD * d("sxx") - d("sx") * d("sx")) *
        sqrt(mD * d("syy") - d("sy") * d("sy"))
      val scored = m
        .withColumn("r", when(den > 0, floor(num / den * 1e6 + 0.5) / 1e6))
        .filter(col("r").isNotNull)
      val w = Window.partitionBy(col("ta"), col("tb"))
        .orderBy(desc("r"), abs(col("k")), col("k"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("ta"), col("tb"), col("k").as("best_lag"),
          col("r"), col("m"))
        .ordered(col("ta"), col("tb"))
    }),

    // ---- Embeddings: intra-class diversity WITHOUT the pair join ----------------
    // Mean pairwise cosine per label class via the moment identity
    //   Σ_{i≠j} u_i·u_j = ‖Σ u‖² − Σ ‖u_i‖²
    // over L2-NORMALIZED vectors — the O(n) form of an O(n²) statistic,
    // and the reason a 100 TB corpus can have its redundancy/diversity
    // profiled per source with ONE scan and a 64-row-per-class shuffle
    // (per-dimension sums), no pair join anywhere. Exactness: components
    // are floored to the 1e-6 grid after one IEEE normalize division, so
    // every sum is integer (per-dim BIGINT, squares on DECIMAL(38,0));
    // the identity then holds EXACTLY on the grid, and the single final
    // division is the only double op. High mean cosine = a redundant
    // (near-duplicate-heavy) class; the dedup-pipeline triage metric.
    "q255_embed_diversity" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      val v = Tables(s, dir, "embeddings")
        .filter(col("label").isNotNull && col("embedding").isNotNull)
        .withColumn("nrm", Similarity.l2Norm(col("embedding")))
        .filter(col("nrm") > 0)
        .withColumn("u6", expr(
          "transform(embedding, x -> CAST(FLOOR(x / nrm * 1e6 + 0.5)" +
            " AS BIGINT))"))
        .withColumn("usq", expr(
          "aggregate(u6, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      val perClass = v.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("usq").cast(d38)).as("un"))
      val dims = v.select(col("label"), posexplode(col("u6")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as("s6"))
      val ssq = dims.groupBy(col("label"))
        .agg(sum(col("s6").cast(d38) * col("s6").cast(d38)).as("ssq"))
      perClass.join(ssq, Seq("label"))
        .filter(col("n") >= 2)
        .select(col("label"), col("n"),
          (floor((col("ssq") - col("un")).cast("double") /
            (col("n").cast("double") * (col("n") - 1).cast("double")) /
            1e12 * 1e6 + 0.5) / 1e6).as("mean_cos"),
          (floor(sqrt(col("ssq").cast("double")) /
            col("n").cast("double") / 1e6 * 1e6 + 0.5) / 1e6)
            .as("centroid_norm"))
        .ordered(col("label"))
    }),

    // ---- Embeddings: between-class centroid similarity ---------------------------
    // q255's inter-class companion: cosine between every pair of class
    // CENTROIDS, from the same per-dimension integer sums — the class-
    // separability report (high off-diagonal cosine = two labels the
    // classifier/router can't tell apart geometrically). Still no
    // vector-pair join: the only pairwise work is labels² × dims rows,
    // domain-bounded, after the one corpus scan. Exact integer dot on
    // DECIMAL(38,0); the sqrt-norm division is the one double step.
    "q256_centroid_matrix" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      val dims = Tables(s, dir, "embeddings")
        .filter(col("label").isNotNull && col("embedding").isNotNull)
        .withColumn("nrm", Similarity.l2Norm(col("embedding")))
        .filter(col("nrm") > 0)
        .withColumn("u6", expr(
          "transform(embedding, x -> CAST(FLOOR(x / nrm * 1e6 + 0.5)" +
            " AS BIGINT))"))
        .select(col("label"), posexplode(col("u6")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as("s6"))
      val a = dims.select(col("label").as("la"), col("pos"),
        col("s6").as("sa"))
      val b = dims.select(col("label").as("lb"), col("pos"),
        col("s6").as("sb"))
      a.join(b, Seq("pos")).filter(col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(sum(col("sa").cast(d38) * col("sb").cast(d38)).as("dot"),
          sum(col("sa").cast(d38) * col("sa").cast(d38)).as("na"),
          sum(col("sb").cast(d38) * col("sb").cast(d38)).as("nb"))
        .select(col("la"), col("lb"),
          (floor(col("dot").cast("double") /
            (sqrt(col("na").cast("double")) *
             sqrt(col("nb").cast("double"))) * 1e6 + 0.5) / 1e6)
            .as("cos"))
        .ordered(col("la"), col("lb"))
    }),

    // ---- Retrieval: quota-constrained (source-fair) top-k ------------------------
    // Production search's domain-diversity rule: per query, the top-5 by
    // relevance subject to AT MOST 2 results per source — one host must
    // not monopolize the page. Two chained partitioned windows (rank
    // within (query, source), then rank over the survivors) — contrast
    // q248's MMR, which diversifies by CONTENT similarity; this is the
    // cheap structural quota run first in practice. Relevance = q244's
    // shingle-Jaccard lexical ranks (the oracle-replayable ranker); the
    // windows are per-query frames, candidate-bounded at any scale.
    "q257_fair_topk" -> ((s, dir) => {
      def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val docs = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val idx = docs
        .filter(size(TextStats.tokens(lower(col("text")))) >= 3)
        .withColumn("gs", Dedup.shingles(col("text"), 3))
        .select(col("doc_id"), size(col("gs")).as("ntok"),
          explode(col("gs")).as("tok"))
      val jac = idx.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("qid"), col("ntok").as("nq"), col("tok"))
        .join(idx.select(col("doc_id").as("nid"), col("ntok").as("nn"),
          col("tok")), Seq("tok"))
        .filter(col("qid") =!= col("nid"))
        .groupBy(col("qid"), col("nid"), col("nq"), col("nn"))
        .agg(count(lit(1)).as("nab"))
        .withColumn("jac", round6(col("nab").cast("double") /
          (col("nq") + col("nn") - col("nab"))))
        .join(docs.select(col("doc_id").as("nid"),
          col("source").as("src")), Seq("nid"))
      val wSrc = Window.partitionBy(col("qid"), col("src"))
        .orderBy(desc("jac"), asc("nid"))
      val wAll = Window.partitionBy(col("qid"))
        .orderBy(desc("jac"), asc("nid"))
      jac.withColumn("source_rank", row_number().over(wSrc).cast("long"))
        .filter(col("source_rank") <= 2)
        .withColumn("rank", row_number().over(wAll).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("nid"), col("src"), col("jac"),
          col("source_rank"), col("rank"))
        .ordered(col("qid"), col("rank"))
    }),

    // ---- Model evaluation: distributed AUC / Gini / KS ---------------------------
    // The ranking-metric triple every scoring pipeline reports, per
    // serving segment. The textbook computation is a global sort of all
    // scored rows — a single-task window at 100 TB; Eval.rankingMetrics
    // instead collapses the facts map-side to the (segment × quantized
    // score) contingency grid and derives tie-aware Mann-Whitney U and
    // the class-CDF KS gap from grid windows — exact integers on
    // DECIMAL(38,0) until the final floor-rounded division (see the
    // Eval scaladoc; EvalSpec pins the pair-count definition and the
    // separable/reversed/constant closed forms). Label: click vs rest;
    // score: the 1e-2-quantized event value.
    "q258_auc_roc" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select((col("user_id") % 4).cast("long").as("segment"),
          floor(col("value") * 1e2 + 0.5).cast("long").as("score2"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("y"))
      Eval.rankingMetrics(e, "score2", "y", Seq("segment"))
        .select(col("segment"), col("n_pos"), col("n_neg"),
          col("auc"), col("gini"), col("ks"))
        .ordered(col("segment"))
    }),

    // ---- Model evaluation: calibration reliability + ECE + Brier -----------------
    // Is the score a PROBABILITY? Ten reliability bins (predicted
    // confidence vs observed rate), expected calibration error, and the
    // Brier score — the standard post-training calibration report. The
    // pseudo-probability is the 1e-2-quantized value mod 101 (0..100%,
    // deterministic in both engines); everything reduces to ONE
    // map-side-combined groupBy over 10 bins, and every ratio keeps an
    // exact integer numerator: |acc−conf| per bin is |100·Σy − Σpq| /
    // (100·n), so ECE and Brier are single integer sums until the final
    // floor-rounded division — no float accumulation anywhere. ECE and
    // Brier ride the 10-row grid as window totals (constant per row,
    // the q200 whole-grid window shape).
    "q259_calibration" -> ((s, dir) => {
      def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          !isnan(col("value")))
        .select((floor(col("value") * 1e2 + 0.5).cast("long") % 101)
            .as("pq"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("y"))
      val bins = e
        .withColumn("bin", least(expr("pq div 10"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pq")).as("spq"),
          sum(col("y")).as("sy"),
          sum(((col("pq") - col("y") * 100) *
            (col("pq") - col("y") * 100)).cast(d38)).as("ssq"))
      val wAll = Window.partitionBy()
      bins
        .withColumn("nn", sum(col("n")).over(wAll))
        .withColumn("sabs",
          sum(abs(col("sy") * 100 - col("spq"))).over(wAll))
        .withColumn("ssqt", sum(col("ssq")).over(wAll))
        .select(col("bin"), col("n"),
          round6(col("spq").cast("double") /
            (col("n").cast("double") * 100)).as("conf"),
          round6(col("sy").cast("double") / col("n").cast("double"))
            .as("acc"),
          round6(abs(col("sy") * 100 - col("spq")).cast("double") /
            (col("n").cast("double") * 100)).as("gap"),
          round6(col("sabs").cast("double") /
            (col("nn").cast("double") * 100)).as("ece"),
          round6(col("ssqt").cast("double") /
            (col("nn").cast("double") * 10000)).as("brier"))
        .ordered(col("bin"))
    }),

    // ---- Monitoring: binned distribution drift (TVD report) ----------------------
    // Which value bins moved between two serving periods? The per-bin
    // drift report behind every feature monitor. The headline number is
    // total-variation distance ½·Σ|p_a − p_e| — chosen over PSI because
    // PSI's ln() is engine-hostile (float log last-ulp behavior is
    // engine-specific, the q212 lesson) while TVD is an EXACT rational:
    // Σ|a_cnt·N_e − e_cnt·N_a| / (2·N_a·N_e) stays integral on
    // DECIMAL(38,0) until one floor-rounded division. Facts collapse
    // map-side to ≤20 fixed-width bins × 2 periods; the complement of
    // q224's KS (which says IF the distribution moved, not WHERE).
    "q260_bin_drift" -> ((s, dir) => {
      def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val splitUs = 1705363200000000L // 2024-01-16T00:00:00Z
      val e = Tables.events(s, dir)
        .filter(col("ts_us").isNotNull && col("value").isNotNull &&
          !isnan(col("value")))
        .select(least(floor(col("value") / 25).cast("long"), lit(19L))
            .as("bin"),
          when(col("ts_us") < splitUs, 1L).otherwise(0L).as("is_e"))
      val bins = e.groupBy(col("bin"))
        .agg(sum(col("is_e")).as("e_cnt"),
          sum(lit(1L) - col("is_e")).as("a_cnt"))
      val wAll = Window.partitionBy()
      bins
        .withColumn("ne", sum(col("e_cnt")).over(wAll))
        .withColumn("na", sum(col("a_cnt")).over(wAll))
        .withColumn("shift_num",
          abs(col("a_cnt").cast(d38) * col("ne").cast(d38) -
            col("e_cnt").cast(d38) * col("na").cast(d38)))
        .withColumn("tvd_num", sum(col("shift_num")).over(wAll))
        .select(col("bin"), col("e_cnt"), col("a_cnt"),
          round6(col("e_cnt").cast("double") / col("ne").cast("double"))
            .as("e_share"),
          round6(col("a_cnt").cast("double") / col("na").cast("double"))
            .as("a_share"),
          round6(col("shift_num").cast("double") /
            (col("na").cast("double") * col("ne").cast("double")))
            .as("shift"),
          round6(col("tvd_num").cast("double") /
            (col("na").cast("double") * col("ne").cast("double") * 2))
            .as("tvd"))
        .ordered(col("bin"))
    }),

    // ---- Model evaluation: decile gains / lift table -----------------------------
    // The campaign-targeting report: rank everything by score, cut into
    // global deciles, and read cumulative capture + lift per decile —
    // the WoE-table sibling that stays ln-free (lift is the exact
    // rational n_pos·N / (n·P)). The global NTILE is the single-task
    // window killer at 100 TB, so the cut rides PrefixSum.ntileDesc
    // (boundary-literal buckets + local windows + broadcast ledger,
    // q228's machinery); per-decile sums then collapse map-side to 10
    // rows and the cumulative windows ride that grid.
    "q261_gains" -> ((s, dir) => {
      def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select(col("event_id"),
          floor(col("value") * 1e2 + 0.5).cast("long").as("score2"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("y"))
      val tiles = graft.ops.PrefixSum
        .ntileDesc(e, "score2", "event_id", "decile", 10)
        .groupBy(col("decile").cast("long").as("decile"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      val ord = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy()
      tiles
        .withColumn("cum_pos", sum(col("n_pos")).over(ord))
        .withColumn("tot_pos", sum(col("n_pos")).over(wAll))
        .withColumn("tot_n", sum(col("n")).over(wAll))
        .select(col("decile"), col("n"), col("n_pos"),
          round6(col("n_pos").cast("double") / col("n").cast("double"))
            .as("pos_rate"),
          round6(col("cum_pos").cast("double") /
            col("tot_pos").cast("double")).as("capture"),
          round6((col("n_pos").cast(d38) * col("tot_n").cast(d38))
            .cast("double") /
            (col("n").cast(d38) * col("tot_pos").cast(d38))
              .cast("double")).as("lift"))
        .ordered(col("decile"))
    }),

    // ---- Feature selection: Gini-gain ranking ------------------------------------
    // Which feature splits the label best? CART's Gini impurity
    // reduction per candidate feature — chosen over mutual information
    // because MI's ln() is engine-hostile (q212/q260 policy) while Gini
    // gain is rational: for a binary label, Σ_y c²  per feature value is
    // p² + (n−p)², so the weighted child impurity is 1 − Σ_x t_x/N with
    // t_x = (p_x² + (n_x−p_x)²)/n_x — ONE correctly-rounded division
    // per feature value, floored to a 1e-6 integer grid before the sum,
    // so accumulation order can't move the result. Facts collapse
    // map-side to (feature × value) cells via one stack() pass; every
    // window rides the tiny cell grid.
    "q262_gini_gain" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      val dayUs = 86400000000L
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("ts_us").isNotNull && col("value").isNotNull &&
          !isnan(col("value")))
        .select(
          when(col("event_type") === "click", 1L).otherwise(0L).as("y"),
          (col("user_id") % 8).cast("string").as("segment"),
          ((expr(s"ts_us div $dayUs") + 4) % 7).cast("string").as("dow"),
          least(floor(col("value") / 50).cast("long"), lit(9L))
            .cast("string").as("value_band"))
      val cells = e.select(col("y"),
          expr("stack(3, 'segment', segment, 'dow', dow, " +
            "'value_band', value_band) as (feature, x)"))
        .groupBy(col("feature"), col("x"))
        .agg(count(lit(1)).as("nx"), sum(col("y")).as("px"))
        .withColumn("t6",
          floor((col("px").cast(d38) * col("px").cast(d38) +
            (col("nx") - col("px")).cast(d38) *
              (col("nx") - col("px")).cast(d38)).cast("double") /
            col("nx").cast("double") * 1e6 + 0.5).cast(d38))
      val perFeature = cells.groupBy(col("feature"))
        .agg(sum(col("nx")).as("n"), sum(col("px")).as("p"),
          sum(col("t6")).as("s6"))
        .withColumn("parent6",
          lit(1000000L) - floor((col("p").cast(d38) * col("p").cast(d38) +
            (col("n") - col("p")).cast(d38) *
              (col("n") - col("p")).cast(d38)).cast("double") /
            (col("n").cast(d38) * col("n").cast(d38)).cast("double") *
            1e6 + 0.5).cast("long"))
        .withColumn("child6", lit(1000000L) -
          floor(col("s6").cast("double") / col("n").cast("double") + 0.5)
            .cast("long"))
      perFeature
        // the rank window rides the 3-row feature set — bounded frame
        .withColumn("rank", row_number().over(Window.orderBy(
          (col("parent6") - col("child6")).desc, col("feature")))
          .cast("long"))
        .select(col("feature"), col("n"),
          (col("parent6").cast("double") / 1e6).as("gini_parent"),
          (col("child6").cast("double") / 1e6).as("gini_split"),
          ((col("parent6") - col("child6")).cast("double") / 1e6)
            .as("gain"),
          col("rank"))
        .ordered(col("rank"))
    }),

    // ---- Similarity search: product-quantization ADC top-k ---------------------
    // The compression half of ANN (faiss IndexPQ): per-subspace KMeans
    // codebooks (fit once per dir, driver-tiny, plan literals), corpus
    // encoded to m=8 4-bit codes — the scored side carries 8 ints
    // instead of 64 floats through the ranking join, the byte cut that
    // keeps brute-force rescoring viable at 100 TB — and queries score
    // asymmetrically against the RECONSTRUCTED vectors (adc = exact
    // dot with the decoded corpus vector; PqSpec pins the identity).
    // The exact cosine of each emitted pair rides along so the
    // quantization error is visible in the result, q227's honesty
    // posture. Run-state oracle: the fitted codebooks inline as SQL
    // literals and DuckDB re-derives codes, ADC, ranks, and the rider.
    "q239_pq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val model = pqState.getOrFit(dir)(
        Pq.fit(emb, "embedding", m = PqM, ksub = PqKsub))
      val encoded = Pq.encode(
        emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nv", model).drop("nv")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val vecs = emb.select(col("vec_id"), col("embedding"))
      Pq.adcTopK(queries, encoded, model, 5)
        .join(vecs.select(col("vec_id").as("nid"),
          col("embedding").as("nvv")), Seq("nid"))
        .join(broadcast(vecs.select(col("vec_id").as("qid"),
          col("embedding").as("qvv"))), Seq("qid"))
        .withColumn("cos_exact",
          Similarity.round6(Similarity.cosine(col("qvv"), col("nvv"))))
        .select(col("qid"), col("nid"), col("adc"), col("cos_exact"),
          col("rank"))
        .ordered(col("qid"), col("rank"))
    }),

    // ---- Data profiling: categorical association (Cramér's V) -------------------
    // Which categorical columns move together? χ² over the contingency
    // cells (expected = rowTot·colTot/N from exact LONG counts), each
    // cell's term QUANTIZED to 1e-6 before the sum (a raw float sum
    // over cells would be association-order-dependent — the q118
    // decimal-sum discipline), V = sqrt(χ²/(N·(min(r,c)−1))) with
    // IEEE-exact sqrt. The contingency table is r×c rows — the window
    // totals ride the tiny grouped set, never the fact table.
    "q200_cramers_v" -> ((s, dir) => {
      def assoc(df: DataFrame, pair: String, a: String, b: String) = {
        val cells = df.filter(col(a).isNotNull && col(b).isNotNull)
          .groupBy(col(a).cast("string").as("av"),
            col(b).cast("string").as("bv"))
          .agg(count(lit(1)).as("o"))
        val wa = Window.partitionBy(col("av"))
        val wb = Window.partitionBy(col("bv"))
        val wAll = Window.partitionBy()
        val e = col("row_t").cast("double") * col("col_t").cast("double") /
          col("n").cast("double")
        val term = (col("o").cast("double") - e) *
          (col("o").cast("double") - e) / e
        val terms = cells
          .withColumn("row_t", sum(col("o")).over(wa))
          .withColumn("col_t", sum(col("o")).over(wb))
          .withColumn("n", sum(col("o")).over(wAll))
          .withColumn("r", size(collect_set(col("av")).over(wAll)))
          .withColumn("c", size(collect_set(col("bv")).over(wAll)))
          .withColumn("term6", floor(term * 1e6 + 0.5).cast("long"))
        terms.groupBy(col("n"), col("r"), col("c"))
          .agg(sum(col("term6")).as("chi2_6"))
          .select(lit(pair).as("pair"), col("n"),
            col("r").cast("long").as("r"), col("c").cast("long").as("c"),
            (col("chi2_6").cast("double") / 1e6).as("chi2"),
            (floor(sqrt(col("chi2_6").cast("double") / 1e6 /
              (col("n").cast("double") *
                (least(col("r"), col("c")).cast("double") - 1.0)))
              * 1e6 + 0.5) / 1e6).as("v"))
      }
      assoc(Tables(s, dir, "lineitem"), "l_returnflag~l_linestatus",
          "l_returnflag", "l_linestatus")
        .unionByName(assoc(Tables(s, dir, "orders"),
          "o_orderpriority~o_orderstatus", "o_orderpriority",
          "o_orderstatus"))
        .unionByName(assoc(Tables.events(s, dir)
            .withColumn("user_mod", col("user_id") % 10L),
          "event_type~user_mod", "event_type", "user_mod"))
        .ordered(col("pair"))
    }),

    // ---- Warehouse: calendar dimension build + seasonality -----------------------
    // The date dimension every warehouse joins: one row per day across
    // the fact span (sequence — no driver loop), calendar fields from
    // the shared-Gregorian functions both engines implement identically
    // (year/month/dayofmonth), day-of-week in PURE INTEGER arithmetic
    // ((epoch_day+4) % 7, 1970-01-01 being a Thursday — locale- and
    // WEEK-DEFINITION-free where engines' week-number functions
    // disagree), and the per-day order rollup left-joined with zero
    // fill. Empty days survive — a calendar with holes isn't a
    // dimension.
    "q201_date_dim" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull)
        .select(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("day"),
          floor(col("o_totalprice") * 1e6 + 0.5).cast("long").as("p6"))
        .persist()
      val span = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val days = span.select(explode(sequence(col("d0"), col("d1")))
        .as("day"))
      val perDay = o.groupBy(col("day"))
        .agg(count(lit(1)).as("n_orders"), sum(col("p6")).as("rev6"))
      val dt = date_add(to_date(lit("1970-01-01")), col("day").cast("int"))
      days.join(perDay, Seq("day"), "left")
        .select(col("day"), dt.as("date"),
          year(dt).cast("long").as("yr"),
          month(dt).cast("long").as("mo"),
          dayofmonth(dt).cast("long").as("dom"),
          ((col("day") + 4) % 7).as("dow"),
          (((col("day") + 4) % 7 === 0) || ((col("day") + 4) % 7 === 6))
            .as("is_weekend"),
          (floor((month(dt).cast("double") - 1.0) / 3.0).cast("long")
            + 1L).as("quarter"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          (floor(coalesce(col("rev6"), lit(0L)).cast("double") / 1e6
            * 1e2 + 0.5) / 1e2).as("revenue"))
        .ordered(col("day"))
    }),

    // ---- Sketch merge as a materialized-view primitive ------------------
    // The property that makes the histogram family a rollup substrate:
    // per-event-type sketches are built ONCE from the data, then the
    // GLOBAL quantile is answered by MERGING the per-type arrays
    // (elementwise integer add — Sketches.histMerge) with no second
    // scan. At 100 TB this is the difference between "per-partition
    // sketches in the metastore answer any coarser grouping" and
    // rescanning the table per rollup level. The persist pins
    // sketch-once (two consumers: the per-type rows and the merge);
    // the oracle replays both levels' binning from the raw data.
    "q148_hist_merge" -> ((s, dir) => {
      val perType = Tables.events(s, dir)
        .filter(col("event_type").isNotNull)
        .groupBy(col("event_type"))
        .agg(Sketches.histogram(col("value"), 0.0, 512.0, 256).as("sk"),
          count(lit(1)).as("n"))
        .persist()
      val global = perType
        .agg(Sketches.histMerge(col("sk"), 256).as("sk"),
          sum(col("n")).as("n"))
        .select(lit("__all__").as("event_type"),
          Sketches.histQuantile(col("sk"), 0.0, 512.0, 256, 0.9)
            .as("approx_p90"), col("n"))
      perType
        .select(col("event_type"),
          Sketches.histQuantile(col("sk"), 0.0, 512.0, 256, 0.9)
            .as("approx_p90"), col("n"))
        .unionByName(global)
        .ordered(col("event_type"))
    }),

    // ---- KMV rollup merge: per-source sketches -> global distinct ------
    // q148's materialized-view argument for the DISTINCT-COUNT family:
    // bottom-k of the union of per-source bottom-k sets IS the union's
    // bottom-k, so per-source vocabulary sketches roll up to the global
    // distinct-token estimate with no rescan (Sketches.kmvMerge). The
    // exact global distinct rides alongside; the oracle recomputes the
    // global bottom-256 DIRECTLY from the md5 hashes — merge-equals-
    // direct is the checked identity, plus the estimate arithmetic.
    "q149_kmv_merge" -> ((s, dir) => {
      val k = 256
      // persist: sketch groupBy hashes source, the exact distinct
      // hashes tok — reuse can't cover both (the q141 pin discipline)
      val toks = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"),
          explode(TextStats.tokens(lower(col("text")))).as("tok"))
        .persist()
      val perSrc = toks.groupBy(col("source"))
        .agg(Sketches.kmvMins(col("tok"), k, "md5").as("mins"))
      val merged = perSrc.agg(Sketches.kmvMerge(col("mins"), k).as("mins"))
      val exact = toks.agg(countDistinct(col("tok")).as("exact_distinct"))
      merged.crossJoin(broadcast(exact))
        .withColumn("__u",
          element_at(col("mins"), size(col("mins"))).cast("double") /
            1.8446744073709552e19 + 0.5)
        .select(
          when(size(col("mins")) < k, size(col("mins")).cast("long"))
            .otherwise(floor(lit((k - 1).toDouble) / col("__u") + 0.5)
              .cast("long")).as("est_distinct"),
          col("exact_distinct"))
    }),

    // ---- HLL rollup merge: per-group registers -> global estimate -------
    // Completes the rollup-merge family for the CARDINALITY member
    // (q148 = histogram/add, q149 = KMV/bottom-k, here = HLL/max):
    // per-returnflag register sketches roll up to the global distinct-
    // order estimate by elementwise MAX with no rescan. Keys OVERLAP
    // across groups (an order's lines carry several returnflags), which
    // is exactly the case where summing per-group distincts is wrong
    // and register max is right. The oracle builds every level's
    // registers DIRECTLY from the raw hashes — merge-equals-direct is
    // the checked identity; exact distinct rides alongside per level.
    "q150_hll_merge" -> ((s, dir) => {
      val p = 8
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_returnflag").isNotNull)
      // DISTINCT FIRST, then sketch: HLL registers are duplicate-
      // insensitive (max over rho per bucket), so hashing the distinct
      // (flag, key) pairs yields bit-identical registers — and it keeps
      // countDistinct OUT of the sketch groupBy. Mixing a distinct
      // aggregate with a typed Aggregator in one groupBy forces the
      // expand + sort-based fallback over doubled rows with per-row
      // encoder overhead (measured: this query was 5.1 s in the r16
      // closing suite, 3x its sketch-family siblings; restructured it
      // tracks them). The md5 also now runs once per distinct pair,
      // not once per lineitem row.
      val base = li.select(col("l_returnflag"), col("l_orderkey"))
        .distinct()
        // two consumers (per-flag sketches and the global exact) — the
        // q148 pin discipline
        .persist()
      val h31 = shiftrightunsigned(
        call_function("md5_lower64", col("l_orderkey").cast("string")), 33)
      val perFlag = base.groupBy(col("l_returnflag"))
        .agg(Sketches.hllRegisters(h31, p).as("sk"),
          count(lit(1)).as("exact_n"))
        .persist()
      val globalExact = base
        .agg(countDistinct(col("l_orderkey")).as("exact_n"))
      val global = perFlag.agg(Sketches.hllMerge(col("sk"), p).as("sk"))
        .crossJoin(broadcast(globalExact))
        .select(lit("__all__").as("l_returnflag"), col("sk"), col("exact_n"))
      perFlag.select(col("l_returnflag"), col("sk"), col("exact_n"))
        .unionByName(global)
        .select(col("l_returnflag"),
          (floor(Sketches.hllEstimate(col("sk"), p) * 1e6 + 0.5) / 1e6)
            .as("hll_est"),
          size(filter(col("sk"), r => r > 0)).cast("long").as("n_active"),
          col("exact_n"))
        .ordered(col("l_returnflag"))
    }),

    // ---- CMS rollup merge: per-source counters -> global estimates ------
    // The FREQUENCY member needs no new merge operator at all — Count-Min
    // counters add elementwise, so the rollup IS Sketches.histMerge with
    // bins = d·w (the q148 aggregator on a different array length). Per-
    // source token sketches merge to the global counter array, probed
    // for q122's fixed terms; the oracle builds the global counters
    // directly from all tokens (add is associative — merging per-source
    // counts equals counting the union), so merge-equals-direct is the
    // checked identity here too. Exact counts ride alongside.
    "q151_cms_merge" -> ((s, dir) => {
      import s.implicits._
      val h31 = (c: Column) =>
        shiftrightunsigned(call_function("md5_lower64", c), 33)
      val toks = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"),
          explode(TextStats.tokens(lower(col("text")))).as("tok"))
        .persist()
      val perSrc = toks.groupBy(col("source"))
        .agg(Sketches.cms(h31(col("tok")), cmsParams, cmsW).as("sk"))
      val sk = perSrc.agg(
        Sketches.histMerge(col("sk"), cmsParams.size * cmsW).as("sk"))
      val probes = cmsProbes.toDF("term")
        .withColumn("__h", h31(col("term")))
      val est = probes.crossJoin(broadcast(sk)).select(col("term"),
        least(cmsParams.zipWithIndex.map { case ((a, b), i) =>
          element_at(col("sk"), (lit(i * cmsW) +
            (col("__h") * a + b) % 2147483647L % cmsW + 1).cast("int"))
        }: _*).as("est"))
      val exact = toks.filter(col("tok").isin(cmsProbes: _*))
        .groupBy(col("tok").as("term")).agg(count(lit(1)).as("exact_n"))
      est.join(exact, Seq("term"), "left")
        .select(col("term"), col("est"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"))
        .ordered(col("term"))
    }),

    // ---- JSON-lines round-trip (the crawl-interchange staple) -----------
    // Web-scale corpora arrive as .jsonl shards; prove the engine's text
    // hop is byte-faithful end-to-end: documents -> JSONL sink -> schema'd
    // JSONL scan (no inference pass) -> per-source stats INCLUDING a
    // 64-bit XOR of every round-tripped text's md5 — one flipped byte,
    // lost escape, or mangled codepoint anywhere in the corpus flips the
    // signature. The oracle computes the same signature from the ORIGINAL
    // parquet text, so the two sides agree only if the JSON encode/decode
    // hop preserved every document exactly (nulls included: both engines'
    // aggregates skip them).
    "q147_jsonl_roundtrip" -> ((s, dir) => {
      val out = scratchDir("jsonl", dir)
      val schema = Tables(s, dir, "documents").schema
      Tables(s, dir, "documents").write.mode("overwrite").json(out)
      s.read.schema(schema).json(out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          expr("bit_xor(md5_lower64(text))").as("text_sig"))
        .ordered(col("source"))
    }),

    // ---- Streaming per-window top-K (T7 × the heavy-hitters sketch) -----
    // q136's discipline applied to the MG summary: per event-time hour
    // window, the bounded (key, count) buffer merges incrementally in
    // the state store (Aggregator merge — counter union + trim), and
    // the window's key counts read off the final buffer. State is ≤ k
    // entries per window whatever the rate — the unbounded alternative
    // keeps every distinct key per window. HONEST exactness scope: the
    // event-type domain is far below k, so the summary IS the exact
    // frequency table (off = 0, Misra & Gries' below-capacity case) and
    // the oracle replays plain per-window counts; above k the engine
    // contract degrades to the q142 bracket, pinned by SketchesSpec,
    // not claimed by this oracle.
    "q145_stream_topk" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q145_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("event_type").isNotNull)
          .groupBy(window(timestamp_micros(col("ts_us")), "1 hour").as("w"))
          .agg(Sketches.heavyHitters(col("event_type"), 64).as("sk"))
          .select(unix_micros(col("w.start")).as("w_start"),
            col("sk._1").as("ks"), col("sk._2").as("cs"),
            col("sk._3").as("off"))
      }.select(col("w_start"), col("off"),
          posexplode(col("ks")).as(Seq("__i", "event_type")),
          col("cs"))
        .select(col("w_start"), col("event_type"),
          element_at(col("cs"), col("__i") + 1).as("cnt"), col("off"))
        .ordered(col("w_start"), col("event_type"))
    }),

    // ---- Model evaluation: retrieval quality (NDCG@10 / MRR / P@10) -----
    // The offline search-quality report over the labeled corpus: q19's
    // audited exact-cosine candidate stage yields each query's top-10,
    // a neighbor is relevant when it shares the query's class label,
    // and each query scores the three standard ranking metrics. log2
    // is engine-hostile (q212 float policy), but rank <= k means the
    // DCG discount is a FIXED curve — [[ndcgW]] holds
    // round(1e6/log2(r+1)) as shared integer literals, so DCG, ideal
    // DCG, and MRR stay exact integers until one floored division
    // each. Per-label corpus counts ride a broadcast |labels|-row
    // frame; everything downstream of the top-k is per-query
    // arithmetic over k rows. At 100 TB the candidate stage swaps for
    // annTopK/IVFPQ (q24/q39/q240) with this scoring tail unchanged.
    "q263_retrieval_eval" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
          col("label").isNotNull)
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val topk = Similarity.cosineTopK(queries, corpus, k = 10)
      val nLab = emb.select(col("vec_id").as("nid"),
        col("label").as("nlabel"))
      // qLab feeds a broadcast join keyed on qid: restrict it to the
      // 1/20 query batch BEFORE the hint, or the explicit broadcast
      // ships the FULL corpus label frame (20x the surviving rows)
      // past the 64MB gate — a driver/executor memory hazard at scale
      val qLab = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"))
      val labN = emb.groupBy(col("label").as("qlabel"))
        .agg(count(lit(1)).as("lab_n"))
      val wRank = ndcgW.zipWithIndex.foldLeft(lit(0L)) { case (e, (w, i)) =>
        when(col("rank") === (i + 1), lit(w)).otherwise(e) }
      val idcg6 = ndcgWCum.zipWithIndex.foldLeft(lit(0L)) { case (e, (w, i)) =>
        when(least(col("n_rel"), lit(10L)) === (i + 1), lit(w)).otherwise(e) }
      topk
        .join(nLab, "nid")
        .join(broadcast(qLab), "qid")
        .join(broadcast(labN), "qlabel")
        .withColumn("rel",
          when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .groupBy(col("qid"), col("qlabel").cast("long").as("qlabel"),
          (col("lab_n") - 1).as("n_rel"))
        .agg(sum(col("rel")).as("hits"),
          sum(col("rel") * wRank).as("dcg6"),
          min(when(col("rel") === 1, col("rank"))).as("first_rel"))
        .select(col("qid"), col("qlabel"), col("n_rel"), col("hits"),
          when(col("n_rel") > 0,
            floor(col("dcg6").cast("double") / idcg6.cast("double")
              * 1e6 + 0.5) / 1e6).as("ndcg"),
          coalesce(floor(lit(1e6) / col("first_rel") + 0.5) / 1e6,
            lit(0.0)).as("mrr"),
          (floor(col("hits") * lit(1e6) / 10 + 0.5) / 1e6).as("prec"))
        .ordered(col("qid"))
    }),

    // ---- Data quality: inter-rater agreement (Cohen's kappa) ------------
    // Two deterministic labeling heuristics (rater A: >= 150 chars;
    // rater B: >= 30 whitespace tokens) scored for chance-corrected
    // agreement per source — the annotation-QA report. kappa =
    // (po - pe)/(1 - pe) is an exact rational in the confusion counts:
    // numerator N*(n00+n11) - (a1*b1 + a0*b0), denominator N^2 -
    // (a1*b1 + a0*b0), both on DECIMAL(38,0) (the products pass 2^63
    // near ~10^10 docs — the q232 overflow lesson), one floored
    // division at the end. ONE map-side-combined groupBy over sources;
    // no windows, no joins — the cheapest possible plan shape.
    "q264_rater_kappa" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("source").isNotNull)
        .select(col("source"),
          when(length(col("text")) >= 150, 1L).otherwise(0L).as("a"),
          when(size(filter(split(col("text"), " "),
            t => length(t) > 0)) >= 30, 1L).otherwise(0L).as("b"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("a") * col("b")).as("n11"),
          sum(col("a") * (lit(1L) - col("b"))).as("n10"),
          sum((lit(1L) - col("a")) * col("b")).as("n01"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
        .withColumn("pe_num",
          (col("n11") + col("n10")).cast(d38) *
            (col("n11") + col("n01")).cast(d38) +
          (col("n00") + col("n01")).cast(d38) *
            (col("n00") + col("n10")).cast(d38))
        .select(col("source"), col("n"), col("n00"), col("n01"),
          col("n10"), col("n11"),
          r6((col("n11") + col("n00")).cast("double") /
            col("n").cast("double")).as("po"),
          r6(col("pe_num").cast("double") /
            (col("n").cast(d38) * col("n").cast(d38)).cast("double"))
            .as("pe"),
          when(col("n").cast(d38) * col("n").cast(d38) =!= col("pe_num"),
            r6((col("n").cast(d38) * (col("n11") + col("n00")).cast(d38) -
              col("pe_num")).cast("double") /
              (col("n").cast(d38) * col("n").cast(d38) - col("pe_num"))
                .cast("double"))).as("kappa"))
        .ordered(col("source"))
    }),

    // ---- Model evaluation: split-conformal prediction intervals ---------
    // Distribution-free intervals with a finite-sample coverage
    // guarantee: a deterministic even/odd event_id split yields
    // calibration and serving halves, the per-segment predictor is the
    // calibration nearest-rank median, nonconformity is the integer
    // |score - median|, and qhat is the ceil((n+1)(1-alpha))-th
    // smallest calibration nonconformity — the split-conformal
    // quantile, alpha = 0.1. BOTH order statistics ride the (segment x
    // quantized-score-domain) grid, never the facts (Eval's
    // contingency discipline — the value domain bounds every window
    // frame), and the serving half needs one broadcast join against
    // the 4-row (median, qhat) frame plus one aggregate. The report
    // shows the theorem: coverage >= 0.9 per segment.
    "q265_conformal" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val e = Tables.events(s, dir)
        .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select((col("user_id") % 4).cast("long").as("segment"),
          floor(col("value") * 1e2 + 0.5).cast("long").as("score2"),
          (col("event_id") % 2).as("half"))
      val cal = e.filter(col("half") === 0)
      val wSeg = Window.partitionBy(col("segment"))
      val wInclScore = wSeg.orderBy(col("score2"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val med = cal.groupBy(col("segment"), col("score2"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wInclScore))
        .withColumn("n_cal", sum(col("c")).over(wSeg))
        .groupBy(col("segment"))
        .agg(max(col("n_cal")).as("n_cal"),
          min(when(col("cum") >= expr("n_cal div 2") + 1, col("score2")))
            .as("med"))
      val wInclNc = wSeg.orderBy(col("nc"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val qhat = cal.join(broadcast(med.select("segment", "med")), "segment")
        .select(col("segment"), abs(col("score2") - col("med")).as("nc"))
        .groupBy(col("segment"), col("nc")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wInclNc))
        .withColumn("n_cal", sum(col("c")).over(wSeg))
        .groupBy(col("segment"))
        .agg(min(when(col("cum") >= expr("((n_cal + 1) * 9 + 9) div 10"),
          col("nc"))).as("qhat"))
      e.filter(col("half") === 1)
        .join(broadcast(med.join(qhat, "segment")), "segment")
        .groupBy(col("segment"), col("n_cal"), col("med"), col("qhat"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when(abs(col("score2") - col("med")) <= col("qhat"), 1L)
            .otherwise(0L)).as("covered"))
        .select(col("segment"), col("n_cal"), col("med"), col("qhat"),
          (col("qhat") * 2).as("width"), col("n_eval"), col("covered"),
          r6(col("covered").cast("double") / col("n_eval").cast("double"))
            .as("coverage"))
        .ordered(col("segment"))
    }),

    // ---- Lakehouse: selective MV refresh (non-invertible aggregates) ----
    // q195 maintains count/sum by coalesced MERGE — impossible for
    // min/max, which don't subtract. The production answer is
    // touched-group recompute: the delta names the groups it touches
    // (a broadcast-sized distinct), history is rescanned ONLY for
    // those groups (at scale a partition/bucket-pruned semi-join —
    // the group key is the natural bucketing key), and every
    // UNTOUCHED stored row passes through from the materialized view
    // unread-from-facts. The group key (priority × customer bucket)
    // deliberately does NOT align with the time cutoff, so pruning is
    // by CONTENT, never by the partition axis. The stored view is a
    // REAL storage hop (q164/q195 discipline). The oracle recomputes
    // the whole view from scratch: the hash match proves
    // passthrough ∪ recompute == full refresh, min/max included.
    "q266_mv_refresh" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      val cutoff = "2001-06-01"
      val out = scratchDir("mvrefresh", dir)
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull && col("o_orderdate").isNotNull &&
          col("o_totalprice").isNotNull &&
          col("o_orderpriority").isNotNull && col("o_custkey").isNotNull)
        .select(col("o_orderpriority").as("priority"),
          (col("o_custkey") % 1000).cast("long").as("cust_bucket"),
          floor(col("o_totalprice") * 1e2 + 0.5).cast("long").as("price2"),
          to_date(col("o_orderdate")).as("od"))
      def agg(df: DataFrame): DataFrame =
        df.groupBy(col("priority"), col("cust_bucket"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("price2").cast(d38)).as("sum2"),
            min(col("price2")).as("min2"), max(col("price2")).as("max2"))
      agg(o.filter(col("od") < lit(cutoff)))
        .write.mode("overwrite").parquet(s"$out/mv_v1")
      val stored = s.read.parquet(s"$out/mv_v1")
      val delta = o.filter(col("od") >= lit(cutoff))
      val touched = delta.select(col("priority"), col("cust_bucket"))
        .distinct()
      val hist = o.filter(col("od") < lit(cutoff))
        .join(broadcast(touched), Seq("priority", "cust_bucket"),
          "left_semi")
      val refreshed = agg(hist.unionByName(delta))
        .withColumn("changed", lit(1L))
      val passthrough = stored
        .join(broadcast(touched), Seq("priority", "cust_bucket"),
          "left_anti")
        .withColumn("changed", lit(0L))
      passthrough.unionByName(refreshed)
        .select(col("priority"), col("cust_bucket"), col("n_orders"),
          col("sum2").cast("long").as("total2"),
          (col("min2").cast("double") / 1e2).as("min_price"),
          (col("max2").cast("double") / 1e2).as("max_price"),
          col("changed"))
        .ordered(col("priority"), col("cust_bucket"))
    }),

    // ---- Model evaluation: kNN-classifier accuracy + confusion ----------
    // What accuracy does the embedding space actually support? The
    // k-nearest-neighbor majority vote IS the non-parametric ceiling
    // probe: per anchor, the top-10 neighbors (q263's audited
    // candidate stage) vote by label — argmax on (count DESC, label
    // ASC), deterministic in both engines — and the report is the
    // label-level confusion grid with per-true-label accuracy riding
    // it. Voting is two grid passes over anchors×k rows; the
    // confusion frame is |labels|² bounded.
    "q283_knn_eval" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
          col("label").isNotNull)
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val topk = Similarity.cosineTopK(queries, corpus, k = 10)
      val nLab = emb.select(col("vec_id").as("nid"),
        col("label").as("nlabel"))
      // qLab feeds a broadcast join keyed on qid: restrict it to the
      // 1/20 query batch BEFORE the hint, or the explicit broadcast
      // ships the FULL corpus label frame (20x the surviving rows)
      // past the 64MB gate — a driver/executor memory hazard at scale
      val qLab = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"))
      val votes = topk.join(nLab, "nid")
        .groupBy(col("qid"), col("nlabel"))
        .agg(count(lit(1)).as("v"))
      val pred = votes
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("v").desc, col("nlabel"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nlabel").as("pred"))
      val conf = pred.join(broadcast(qLab), "qid")
        .groupBy(col("qlabel").cast("long").as("qlabel"),
          col("pred").cast("long").as("pred"))
        .agg(count(lit(1)).as("n"))
      val wL = Window.partitionBy(col("qlabel"))
      conf
        .withColumn("n_true", sum(col("n")).over(wL))
        .withColumn("n_correct", sum(when(col("qlabel") === col("pred"),
          col("n")).otherwise(0L)).over(wL))
        .select(col("qlabel"), col("pred"), col("n"), col("n_true"),
          r6(col("n_correct").cast("double") /
            col("n_true").cast("double")).as("label_accuracy"))
        .ordered(col("qlabel"), col("pred"))
    }),

    // ---- Data profiling: Gini-Simpson source diversity ------------------
    // How concentrated is each source's language mix? The
    // Gini-Simpson index 1 − Σ p² — the ln-free diversity measure
    // (Shannon entropy is q212-hostile) — as the exact rational
    // (C² − Σc²)/C² on DECIMAL(38,0), one floored division per
    // source; facts collapse map-side to the (source × lang) grid.
    "q284_simpson_diversity" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val g = Tables(s, dir, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      g.groupBy(col("source"))
        .agg(count(lit(1)).as("n_langs"), sum(col("c")).as("n_docs"),
          sum(col("c").cast(d38) * col("c").cast(d38)).as("ssq"))
        .select(col("source"), col("n_langs"), col("n_docs"),
          r6((col("n_docs").cast(d38) * col("n_docs").cast(d38) -
            col("ssq")).cast("double") /
            (col("n_docs").cast(d38) * col("n_docs").cast(d38))
              .cast("double")).as("simpson"))
        .ordered(col("source"))
    }),

    // ---- Recommendation: ItemCF basket-cap accounting ledger ------------
    // The no-silent-caps companion to q268/q274: those queries exclude
    // baskets over ItemCf.MaxBasketSize from pair generation (one hot
    // basket = |b|² rows on ONE join key — the skewed-shuffle killer);
    // this ledger is the drop's visible accounting — basket census,
    // dropped count and rows, largest-seen vs largest-kept, and the
    // exact Σ|b|² pair work the kept universe admits (the self-join's
    // output bound, on DECIMAL(38,0)). One map-side-combined groupBy
    // plus a one-row rollup; the q253 per-stage-ledger shape.
    "q285_itemcf_cap_ledger" -> ((s, dir) => {
      ItemCf.droppedLedger(Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
        .distinct())
    }),

    // ---- Streaming drift gate with a ROLLING re-baseline ----------------
    // q235's monitor scores against a STATIC trusted-period reference —
    // which goes stale in production: a permanent level shift is
    // "drift" forever. This variant re-derives each day's reference
    // from the 3 PRECEDING observed days' sketches (elementwise sum of
    // the state-store histograms — Streams.rollingDriftScore), so a
    // level shift alarms for exactly lag windows and then becomes the
    // new normal (StreamsSpec proves the exact alarm pattern). Same
    // machinery: AvailableNow replay through the full streaming state
    // store; the rescoring rides the days×256 DOMAIN grid; all drift
    // arithmetic exact (cross-multiplied DECIMAL(38,0) gaps, q235's
    // integer-KS form); day 1 emits NULL (no reference — warmup
    // surfaced, never a fabricated verdict).
    "q286_rolling_drift" -> ((s, dir) => {
      val (lo, hi, bins) = (0.0, 512.0, 256)
      val d38 = "decimal(38,0)"
      // outputMode explicit at the call site: COMPLETE, because this
      // is a bounded AvailableNow replay and the final day's window
      // must be emitted (append would hold it forever — the watermark
      // never passes its end). See driftWindows' output-mode contract.
      val perWin = Streams.runToMemoryIsolated(s,
          s"q286_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        val stream = Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("ts_us").isNotNull && col("value").isNotNull &&
            !isnan(col("value")))
          .withColumn("ev_time", timestamp_micros(col("ts_us")))
        Streams.driftWindows(stream, "ev_time", "value",
          delay = "1 hour", windowLen = "1 day", lo, hi, bins)
      }
      Streams.rollingDriftScore(perWin, lag = 3)
        .select(col("w_start"), col("n_win"), col("n_ref"),
          // the exact decimal gap leaves as a double magnitude (the
          // verdict below consumes the decimal; a BIGINT output would
          // overflow past ~3e9-event windows — q232 lesson)
          col("max_gap").cast("double").as("max_gap"), col("ks"),
          when(col("at_bin").isNotNull, lit(lo) +
            (col("at_bin") + 1).cast("double") * lit((hi - lo) / bins))
            .as("at_boundary"),
          // exact integer verdict at ks > 0.15 (q235's bar), NULL on
          // the warmup window
          when(col("n_ref").isNotNull,
            col("max_gap").cast(d38) * 20 >
              col("n_win").cast(d38) * col("n_ref").cast(d38) * 3)
            .as("drifted"))
        .ordered(col("w_start"))
    }),

    // ---- RAG pipeline: overlapping token-window chunking ----------------
    // The retrieval-corpus builder every RAG pipeline runs before
    // embedding: each document splits into 64-token chunks with a
    // 16-token overlap (step 48), emitted with provenance (1-based
    // token offset, chunk census) and a content hash the downstream
    // embed/dedup stages key on. Chunk count is exact integer
    // arithmetic — ceil((ntok−overlap)/step) with a 1 floor, so an
    // empty/short doc yields exactly one (possibly empty) chunk rather
    // than vanishing (absence is not an acceptable failure mode for a
    // provenance table). One scan, one explode; per-row work is
    // slice+join over the already-tokenized array (the tokens_ws
    // kernel — single-pass, codegen'd). No windows, no joins, no
    // shuffle except the output sort — embarrassingly parallel at any
    // corpus size. slice() start is ci·step+1 ≥ 1 by construction (the
    // q244 sequence/slice landmine stays closed).
    "q287_rag_chunks" -> ((s, dir) => {
      val cs = 64
      val ov = 16
      val step = cs - ov
      Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
        .withColumn("ntok", size(col("toks")).cast("long"))
        .withColumn("n_chunks", greatest(lit(1L),
          expr(s"(ntok - $ov + ${step - 1}) div $step")))
        .withColumn("ci", explode(sequence(lit(0L), col("n_chunks") - 1)))
        .withColumn("ctoks",
          slice(col("toks"), (col("ci") * step + 1).cast("int"), lit(cs)))
        .select(col("doc_id"), col("ci").as("chunk_id"), col("n_chunks"),
          col("ntok"),
          (col("ci") * step + 1).as("tok_lo"),
          size(col("ctoks")).cast("long").as("n_tok_chunk"),
          md5(array_join(col("ctoks"), " ")).as("chunk_md5"))
        .ordered(col("doc_id"), col("chunk_id"))
    }),

    // ---- Training data: leakage-safe group split + audit ----------------
    // The split every eval pipeline needs and the one row-level splits
    // get WRONG: assignment is a pure function of the GROUP (user), so
    // no user's events can straddle train/val/test (row-hash splits
    // leak user behavior across the boundary and inflate eval). Hash =
    // the cross-engine md5 kernel (content-uniform, seed-tagged);
    // 8/1/1 by h%10. The leakage audit is COMPUTED, not assumed: the
    // distinct (user, split) count must equal the distinct user count,
    // and the difference rides every output row (0 or the query is
    // wrong — an assertion the data carries). One fact scan collapsing
    // to per-split aggregates + a one-row audit aggregate (the q190
    // lazy-denominator shape).
    "q288_group_split" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select(col("user_id"),
          floor(col("value") * 1e2 + 0.5).cast("long").as("v2"))
        .withColumn("h", shiftrightunsigned(call_function("md5_lower64",
          concat(col("user_id").cast("string"), lit("#q288"))), 11))
        .withColumn("split", when(col("h") % 10 < 8, "train")
          .when(col("h") % 10 === 8, "val").otherwise("test"))
      val audit = e.select(col("user_id"), col("split")).distinct()
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_user_splits"))
      e.groupBy(col("split"))
        .agg(countDistinct(col("user_id")).as("n_users_split"),
          count(lit(1)).as("n_events"),
          sum(col("v2").cast(d38)).as("sv2"))
        .crossJoin(audit)
        .select(col("split"), col("n_users_split"), col("n_events"),
          r6(col("sv2").cast("double") /
            (col("n_events").cast("double") * 100)).as("mean_value"),
          (col("n_user_splits") - col("n_users")).as("leaked_users"))
        .ordered(col("split"))
    }),

    // ---- Training data: deterministic negative sampling -----------------
    // The ranking-model staple: for every user with purchase history,
    // K=3 sampled non-interactions as training negatives — but
    // DETERMINISTIC (hash of user×slot, the cross-engine md5 kernel),
    // so the sample is a pure function of the data set: reproducible
    // across runs/engines, mergeable across shards, and auditable. The
    // item domain is [1, max item] via a one-row aggregate (TPC-H part
    // keys are dense); an accidental positive is FLAGGED, never
    // silently dropped or resampled (a resample loop hides collision
    // rate — downstream filters on the flag and knows exactly what it
    // lost). Work: one pair-distinct, users×K hash rows, one left join
    // back against positives — no windows, no catalog² anywhere.
    "q289_negative_sampling" -> ((s, dir) => {
      val kNeg = 3
      val pos = Tables(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
          Seq("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("item"))
        .distinct()
      val maxItem = pos.agg(max(col("item")).as("max_item"))
      pos.select(col("u")).distinct()
        .crossJoin(maxItem)
        .withColumn("k", explode(sequence(lit(1), lit(kNeg))))
        .withColumn("neg_item",
          shiftrightunsigned(call_function("md5_lower64",
            concat(col("u").cast("string"), lit("#q289#"),
              col("k").cast("string"))), 11) % col("max_item") + 1)
        .join(pos.select(col("u"), col("item").as("neg_item"))
          .withColumn("hit", lit(1)), Seq("u", "neg_item"), "left")
        .select(col("u"), col("k").cast("long").as("k"), col("neg_item"),
          col("hit").isNotNull.as("collided"))
        .ordered(col("u"), col("k"))
    }),

    // ---- Model evaluation: PR curve / average precision ------------------
    // The imbalanced-data companion to q258's ROC-AUC: average
    // precision over the (segment × score-bin) contingency GRID — the
    // Eval discipline, never a fact-table sort. Descending-threshold
    // cumulative TP and predicted-positive counts ride a partitioned
    // window over ≤ 4×512 grid rows; each bin's AP term
    // p_b·TP_b/(TP_b+FP_b) is quantized to the 1e-6 grid in EXACT
    // integer arithmetic (decimal product, one floored division) before
    // the sum, so accumulation order cannot diverge across engines —
    // the block-tie form of step-wise AP (every positive in a bin takes
    // the bin-end precision). A segment with zero positives emits NULL,
    // not a fabricated 0.
    "q290_pr_auc" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select((col("user_id") % 4).cast("long").as("segment"),
          least(greatest(floor(col("value")).cast("long"), lit(0L)),
            lit(511L)).as("sb"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("y"))
      val g = e.groupBy(col("segment"), col("sb"))
        .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
      val wDesc = Window.partitionBy(col("segment")).orderBy(desc("sb"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wSeg = Window.partitionBy(col("segment"))
      g.withColumn("tp", sum(col("p")).over(wDesc))
        .withColumn("cum", sum(col("p") + col("n")).over(wDesc))
        .withColumn("np", sum(col("p")).over(wSeg))
        .withColumn("nn", sum(col("n")).over(wSeg))
        // EXACT integer division, not floor(decimal / decimal): Spark
        // rounds a DECIMAL(38,0)/DECIMAL(38,0) quotient HALF_UP to
        // scale 6 BEFORE floor sees it, so a remainder fraction
        // >= 0.9999995 would floor one above the true quotient and
        // diverge from DuckDB's exact HUGEINT `//` truncation. `div`
        // (IntegralDivide) truncates the exact decimal quotient — and
        // every operand here is non-negative, so trunc IS floor.
        .withColumn("t6", expr(
          s"cast(p as $d38) * cast(tp as $d38) * cast(1000000 as $d38)" +
            s" div cast(cum as $d38)"))
        .groupBy(col("segment"), col("np"), col("nn"))
        .agg(sum(col("t6").cast(d38)).as("ap6"))
        .select(col("segment"), col("np").as("n_pos"),
          col("nn").as("n_neg"),
          when(col("np") > 0, r6(col("ap6").cast("double") /
            (col("np").cast("double") * 1e6))).as("avg_precision"))
        .ordered(col("segment"))
    }),

    // ---- Model evaluation: Brier score + expected calibration error -----
    // The probability-quality pair q259's reliability table points at:
    // a per-(segment × score-bin) empirical click-rate predictor is FIT
    // on the calibration half (even event ids, the q265/q276 split) and
    // scored on the serving half — Brier = mean (p − y)² and ECE =
    // Σ_b |acc_b − conf_b|·n_b/N, both EXACT until one final division:
    // the predictor is a floored micro-probability p6, each Brier term
    // is counts × (p6)²/(1e6−p6)² on DECIMAL(38,0), each ECE term is
    // the cross-multiplied |c_b·1e6 − p6·n_b|. Serving rows whose bin
    // never appeared in calibration can't be scored — they are COUNTED
    // (n_unscored), never silently dropped. Facts collapse map-side to
    // ≤ 4×512 grid cells per half; everything downstream rides grids.
    "q292_brier_ece" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("event_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select((col("user_id") % 4).cast("long").as("segment"),
          least(greatest(floor(col("value")).cast("long"), lit(0L)),
            lit(511L)).as("sb"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("y"),
          (col("event_id") % 2).as("half"))
      val cal = e.filter(col("half") === 0)
        .groupBy(col("segment"), col("sb"))
        .agg(count(lit(1)).as("n_cal"), sum(col("y")).as("c_cal"))
        // Same exact-integer-division discipline as q290's t6 / q276's
        // pred2: `div` truncates the EXACT decimal quotient, where
        // floor(decimal / decimal) would see a quotient already
        // HALF_UP-rounded to scale 6 and could exceed the true floor
        // by 1 on near-integer fractions. All operands non-negative,
        // so trunc == floor. n_cal = COUNT(*) > 0 always.
        .select(col("segment"), col("sb"),
          expr(s"cast(c_cal as $d38) * cast(1000000 as $d38)" +
            s" div cast(n_cal as $d38)").as("p6"))
      val srv = e.filter(col("half") === 1)
        .groupBy(col("segment"), col("sb"))
        .agg(count(lit(1)).as("n_srv"), sum(col("y")).as("c_srv"))
      val tot = srv.groupBy(col("segment"))
        .agg(sum(col("n_srv")).as("n_total"))
      val scored = srv.join(cal, Seq("segment", "sb"))
        .withColumn("bterm",
          (col("n_srv") - col("c_srv")).cast(d38) *
            col("p6").cast(d38) * col("p6").cast(d38) +
          col("c_srv").cast(d38) *
            (lit(1000000L) - col("p6")).cast(d38) *
            (lit(1000000L) - col("p6")).cast(d38))
        .withColumn("eterm",
          abs(col("c_srv").cast(d38) * lit(1000000L).cast(d38) -
            col("p6").cast(d38) * col("n_srv").cast(d38)))
        .groupBy(col("segment"))
        .agg(sum(col("n_srv")).as("n_eval"),
          sum(col("bterm")).as("bsum"), sum(col("eterm")).as("esum"))
      scored.join(tot, Seq("segment"))
        .select(col("segment"), col("n_eval"),
          (col("n_total") - col("n_eval")).as("n_unscored"),
          r6(col("bsum").cast("double") /
            (col("n_eval").cast("double") * 1e12)).as("brier"),
          r6(col("esum").cast("double") /
            (col("n_eval").cast("double") * 1e6)).as("ece"))
        .ordered(col("segment"))
    }),

    // ---- Feature store: multi-view point-in-time training set ------------
    // The production get_historical_features shape q53 only hints at:
    // ONE entity spine (purchases) enriched from SEVERAL feature views
    // at DIFFERENT TTLs in sequence — last click value within 3 days
    // and the signup event within 30 days — each through the same
    // leak-free as-of join (feature time ≤ entity time, TTL-bounded,
    // deterministic tie-break), with per-feature STALENESS columns
    // (entity time − feature time) riding along, the freshness audit a
    // serving team actually monitors. A TTL miss stays NULL across the
    // whole feature group — absence is the signal. Chaining works
    // because the as-of join preserves every left column: each view
    // adds O(|entities| × per-key-in-TTL) work, never a view×view
    // product.
    "q291_multi_view_features" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val entities = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("e_id"), col("user_id"),
          col("ts_us").as("e_ts"))
      // event_id rides the view only as the deterministic tie-break
      // (the as-of join resolves ties on (ts, tieBreak) and the break
      // column must be part of the view's projection)
      val vClickVal = FeatureStore.FeatureView("user_click", Seq("user_id"),
        "ts_us", ttlUs = 3L * 24 * 3600 * 1000000,
        features = Seq("event_id", "value"))
      val vSignup = FeatureStore.FeatureView("user_signup", Seq("user_id"),
        "ts_us", ttlUs = 30L * 24 * 3600 * 1000000,
        features = Seq("event_id"))
      val step1 = FeatureStore.getHistoricalFeatures(entities, vClickVal,
          e.filter(col("event_type") === "click"), "e_ts",
          tieBreak = "event_id")
        .select(col("e_id"), col("user_id"), col("e_ts"),
          col("value").as("recent_click_value"),
          (col("e_ts") - col("ts_us")).as("click_age_us"))
      FeatureStore.getHistoricalFeatures(step1, vSignup,
          e.filter(col("event_type") === "signup"), "e_ts",
          tieBreak = "event_id")
        .select(col("e_id"), col("user_id"), col("e_ts"),
          col("recent_click_value"), col("click_age_us"),
          col("event_id").as("signup_id"),
          (col("e_ts") - col("ts_us")).as("signup_age_us"))
        .ordered(col("e_id"))
    }),

    // ---- Streaming: stream-stream interval join (attribution) -----------
    // TWO live watermarked streams joined on key + time band — the one
    // Structured Streaming surface the rest of the suite only used as
    // q77's internal building block: every click attributes to every
    // impression of the same user within the 1-day band AFTER the
    // impression (view ≤ click ≤ view + 1d). Both sides carry
    // watermarks, so join state is BOUNDED — Spark evicts a buffered
    // impression once the click-side watermark passes its band, and
    // drops late arrivals with visible accounting
    // (Streams.watermarkLedger; StreamsSpec proves both the drop ledger
    // and the eviction). Inner-join matches emit in the micro-batch
    // they occur in (no watermark wait), so the bounded AvailableNow
    // replay needs no sentinels and the batch oracle is the exact
    // equivalent band join. State per side is one band of rows per key
    // — 100 TB posture: state scales with (keys × band density), never
    // the stream's history.
    "q293_stream_interval_join" -> ((s, dir) => {
      Streams.runToMemoryIsolated(s,
          s"q293_mem_${System.nanoTime()}", "append") { sc =>
        val schema = Tables(sc, dir, "events").schema
        def raw = Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("ts_us").isNotNull)
        val imps = raw.filter(col("event_type") === "view")
          .select(col("event_id").as("imp_id"), col("user_id"),
            col("ts_us").as("imp_us"),
            timestamp_micros(col("ts_us")).as("imp_t"))
        val clks = raw.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts_us").as("click_us"),
            timestamp_micros(col("ts_us")).as("click_t"))
        Streams.streamIntervalJoin(imps, clks, "user_id",
            "imp_t", "click_t", delay = "10 seconds", window = "1 day")
          .select(col("user_id"), col("imp_id"), col("click_id"),
            (col("click_us") - col("imp_us")).as("gap_us"))
      }.ordered(col("user_id"), col("imp_id"), col("click_id"))
    }),

    // ---- Streaming: unclicked impressions (left-outer interval join) ----
    // q293's attribution join answers "which clicks attribute"; training
    // a CTR model also needs the NEGATIVES — impressions with NO click
    // in the band. The left-OUTER stream-stream interval join emits an
    // unmatched impression with NULLs exactly once, and only once the
    // watermark has passed its whole band (emitting earlier would
    // mislabel slow clicks as negatives — the label-correctness
    // guarantee batch anti-joins get for free and streams must earn).
    // Bounded-replay mechanics: far-future sentinels on BOTH inputs
    // advance the watermark past the last real band (the q77 +32d
    // contract: clears the ~30d span plus the 1d band from any sentinel
    // source row); matched rows and sentinels are removed DRIVER-LOCALLY
    // after the memory sink — a streaming-plan predicate would be pushed
    // into the union's sentinel branch before the watermark node and
    // strand the final bands (q77/q103 lesson). Oracle: the batch
    // NOT EXISTS over the same band.
    "q295_unclicked_impressions" -> ((s, dir) => {
      val evKey = Long.MinValue + 1L
      val ftKey = Long.MinValue + 2L
      Streams.runToMemoryIsolated(s,
          s"q295_mem_${System.nanoTime()}", "append") { sc =>
        val schema = Tables(sc, dir, "events").schema
        def raw = Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("ts_us").isNotNull)
        val dayUs32 = 32L * 86400000000L
        // data + sentinel branches ride ONE scan per side (branchRows —
        // was a 2-branch union = 2 file-source reads per side per batch)
        val imps = branchRows(raw, Seq(
          (col("event_type") === "view", struct(
            col("event_id").as("imp_id"), col("user_id"),
            col("ts_us").as("imp_us"),
            timestamp_micros(col("ts_us")).as("imp_t"))),
          (col("event_id") % 1000 === 0, struct(
            lit(evKey).as("imp_id"), lit(evKey).as("user_id"),
            (col("ts_us") + dayUs32).as("imp_us"),
            timestamp_micros(col("ts_us") + dayUs32).as("imp_t")))))
        val clks = branchRows(raw, Seq(
          (col("event_type") === "click", struct(
            col("event_id").as("click_id"), col("user_id"),
            timestamp_micros(col("ts_us")).as("click_t"))),
          (col("event_id") % 1000 === 1, struct(
            lit(ftKey).as("click_id"), lit(ftKey).as("user_id"),
            timestamp_micros(col("ts_us") + dayUs32).as("click_t")))))
        Streams.streamIntervalJoinLeftOuter(imps, clks, "user_id",
            "imp_t", "click_t", delay = "10 seconds", window = "1 day")
          .select(col("user_id"), col("imp_id"), col("imp_us"),
            col("click_id"))
      } // materialized local relation from here — filters cannot reach
        // the streaming plan (see scaladoc caution)
        .filter(col("click_id").isNull && col("user_id") =!= evKey)
        .select(col("user_id"), col("imp_id"), col("imp_us"))
        .ordered(col("user_id"), col("imp_id"))
    }),

    // ---- Streaming: unified watermark-correct CTR labeler ----------------
    // q293 emits the positives and q295 the negatives from two separate
    // replays of the same join shape; a production labeler is ONE pass —
    // the left-outer interval join already carries both verdicts in its
    // output (matched row = positive with gap + click provenance, NULL
    // form = negative, emitted exactly once when the watermark clears the
    // band), so `label = click_id IS NOT NULL` falls out of a single
    // stream. Label correctness is the watermark's doing: a slow click
    // that lands INSIDE the band flips its impression to a positive
    // because the NULL form was held back until the band closed; one that
    // lands outside stays a negative (StreamsSpec pins both directions).
    // Multi-click impressions emit one positive row per attributing
    // click — the per-pair grain a CTR trainer weights or dedups
    // downstream; the negative grain is exactly one row per unclicked
    // impression. Same bounded-replay mechanics as q295 (+32d sentinels
    // on BOTH inputs, sentinel rows filtered DRIVER-LOCALLY post-sink).
    // 100 TB posture: state is (keys × band density) per side, evicted
    // by watermark — never the stream's history. Oracle: the batch LEFT
    // JOIN over the same band.
    // Reference streaming path: stream_silver_to_gold.py:71-145; the
    // click/label semantics: batch_process_Bronze_to_Silver.py:82-83.
    "q296_ctr_labels" -> ((s, dir) => {
      val evKey = Long.MinValue + 1L
      val ftKey = Long.MinValue + 2L
      Streams.runToMemoryIsolated(s,
          s"q296_mem_${System.nanoTime()}", "append") { sc =>
        val schema = Tables(sc, dir, "events").schema
        def raw = Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("ts_us").isNotNull)
        val dayUs32 = 32L * 86400000000L
        // data + sentinel branches ride ONE scan per side (branchRows —
        // was a 2-branch union = 2 file-source reads per side per batch)
        val imps = branchRows(raw, Seq(
          (col("event_type") === "view", struct(
            col("event_id").as("imp_id"), col("user_id"),
            col("ts_us").as("imp_us"),
            timestamp_micros(col("ts_us")).as("imp_t"))),
          (col("event_id") % 1000 === 0, struct(
            lit(evKey).as("imp_id"), lit(evKey).as("user_id"),
            (col("ts_us") + dayUs32).as("imp_us"),
            timestamp_micros(col("ts_us") + dayUs32).as("imp_t")))))
        val clks = branchRows(raw, Seq(
          (col("event_type") === "click", struct(
            col("event_id").as("click_id"), col("user_id"),
            col("ts_us").as("click_us"),
            timestamp_micros(col("ts_us")).as("click_t"))),
          (col("event_id") % 1000 === 1, struct(
            lit(ftKey).as("click_id"), lit(ftKey).as("user_id"),
            (col("ts_us") + dayUs32).as("click_us"),
            timestamp_micros(col("ts_us") + dayUs32).as("click_t")))))
        Streams.streamIntervalJoinLeftOuter(imps, clks, "user_id",
            "imp_t", "click_t", delay = "10 seconds", window = "1 day")
          .select(col("user_id"), col("imp_id"), col("imp_us"),
            col("click_id"),
            (col("click_us") - col("imp_us")).as("gap_us"))
      } // materialized local relation — sentinel removal stays driver-local
        .filter(col("user_id") =!= evKey)
        .withColumn("label", col("click_id").isNotNull.cast("long"))
        .ordered(col("user_id"), col("imp_id"), col("click_id"))
    }),

    // ---- ANN: budgeted probe with truncation ledger ----------------------
    // The online complement of q294's offline occupancy verdicts: a
    // production prober bounds its per-query work (latency SLA), so when
    // a cell goes hot the overflow MUST be truncated — and silent
    // truncation is how a stale index quietly loses recall (SCALING.md
    // round-17: 0.35 absolute recall by the second hot append at 30×).
    // Similarity.ivfTopKBudgeted reads at most `budget` candidate rows
    // per query from its probed cells (ascending nid = the deterministic
    // posting/append-order proxy, so overflow drops the newest rows
    // first) and ACCOUNTS the drop on every output row: n_cand (the
    // query's full candidate mass — the occupancy signal) and n_trunc
    // (what the budget cut). A monitor alarming on n_trunc rates is what
    // schedules refitIfStale. The fixture budget deliberately binds so
    // the ledger is non-trivially verified; scan order, truncation,
    // cosine, rank, and both ledger columns replay exactly in DuckDB
    // from the fitted centroid literals (the q39 oracle contract).
    // One hash partitioning on qid carries scan-rank, candidate count,
    // and top-k rank (the count is a window, not a join-back).
    "q297_ivf_budgeted_probe" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val (index, cells) = ivfAcquire(s, dir, corpus)
      Similarity.ivfTopKBudgeted(queries, cells, k = 5, index,
          nprobe = Q39Nprobe, budget = Q297Budget)
        .ordered(col("qid"), col("rank"))
    }),

    // ---- ANN: sampled recall tripwire ------------------------------------
    // The third leg of the index-health triad: q294 reads occupancy
    // (offline), q297 accounts budget truncation (online), and this
    // query MEASURES the quantity both proxy — recall of the budgeted
    // probe against the exact top-k, on a deterministic sparse query
    // sample (%100: recall estimation needs a sample, not the query
    // load; the exact side is a bounded-broadcast q19 baseline over
    // sample × corpus, the one place the brute force belongs). Per-query
    // grain: n_exact, n_hit, recall — a monitor alarms on the sample
    // mean sinking below its baseline band, which is precisely the
    // degradation SCALING.md's round-17 curve shows arriving with hot
    // cells (penalty 0 while skew < 4×, 0.35 absolute recall two hot
    // appends later). Everything is deterministic — both sides replay
    // exactly in DuckDB (exact = q19's pipeline on the sparser sample,
    // approx = q297's centroid-literal replay) — so the tripwire itself
    // is oracle-verified, not just spec-asserted.
    "q298_recall_tripwire" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val (index, cells) = ivfAcquire(s, dir, corpus)
      val exact = Similarity.cosineTopK(queries, corpus, k = 5)
        .select(col("qid"), col("nid"))
      val approx = Similarity.ivfTopKBudgeted(queries, cells, k = 5,
          index, nprobe = Q39Nprobe, budget = Q297Budget)
        .select(col("qid"), col("nid"))
      val ne = exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      val hits = approx.join(exact, Seq("qid", "nid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
      ne.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (floor(coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_exact").cast("double") * 1e6 + 0.5) / 1e6).as("recall"))
        .ordered(col("qid"))
    }),

    // ---- ANN index maintenance: append + occupancy-skew ledger -----------
    // IvfIndex.fit is fit-once-offline; a growing corpus appends between
    // refits and the index goes STALE — appended data from a shifted
    // distribution lands wherever the OLD centroids put it, and hot
    // cells break the cell-size discipline q39/q240 ride (per-probe
    // candidate mass is bounded by cell×nprobe only while cells stay
    // near fair share). This query exercises the REAL maintenance path:
    // build the inverted file for the base corpus, APPEND a
    // deterministic distribution-shifted batch (negated vectors, new
    // ids — closed-form, so the oracle replays it), then read the
    // occupancy ledger back FROM THE PERSISTED CELL PARTITIONS — the
    // oracle would catch an append that wrote to the wrong cell. Empty
    // cells are ledger rows too (a starving cell is drift evidence).
    // All verdicts are exact integer cross-multiplications: hot =
    // count×nlist > 4×n; needs_refit = any hot OR corpus grown past
    // 2×nlist×512 (the nlist = n/512 discipline's refit trigger).
    // The tree is query-private (the shared q39/q89 index is immutable
    // by contract); the ledger is nlist rows — collected and re-entered
    // as a local relation so the tmp tree can be deleted eagerly.
    "q294_ivf_append_ledger" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val (index, _) = ivfAcquire(s, dir, corpus)
      val k = index.centroids.size
      // appended ids must be DISJOINT from every base id at any scale:
      // a fixed offset silently collides on replicas whose synthesis
      // already offsets ids (the 10x replica starts at 10M — VERIFY_10X
      // caught exactly this: base rows misread as appended). Derive the
      // offset from the data's own id range; the oracle never sees ids
      // (it splits by construction), so this is read-back-only.
      val Array(idRow) = emb.agg(min("vec_id"), max("vec_id")).collect()
      val newBase = idRow.getLong(1) - idRow.getLong(0) + 1L
      val newFloor = idRow.getLong(1) + 1L
      val tmp = java.nio.file.Files.createTempDirectory("graft_q294_")
      val cells = tmp.resolve("cells").toString
      val out = try {
        IvfIndex.buildInverted(corpus, index, cells)
        val batch = emb.select((col("vec_id") + lit(newBase)).as("nid"),
          transform(col("embedding"), x => -x).as("nvec"))
        IvfIndex.appendInverted(batch, index, cells)
        import s.implicits._
        val counts = s.read.parquet(cells)
          .select(col("cell"), (col("nid") >= newFloor).as("isNew"))
          .groupBy("cell")
          .agg(sum(when(!col("isNew"), 1L).otherwise(0L)).as("n_base"),
            sum(when(col("isNew"), 1L).otherwise(0L)).as("n_new"))
        // per-cell counts collapse map-side to <= nlist rows; the verdict
        // over those nlist rows is driver-side policy math (the same
        // arithmetic IvfIndex.staleness runs) — never a corpus-side op
        val got = counts.collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
        val ledRows = index.centroids.map(_._1).sorted.map { c =>
          val (nb, nn) = got.getOrElse(c, (0L, 0L))
          (c, nb, nn, nb + nn)
        }
        val n = ledRows.map(_._4).sum
        val hotAny = ledRows.exists(t => t._4 * k > 4L * n)
        val needsRefit = hotAny || n > 2L * k * 512L
        ledRows.map { case (c, nb, nn, nt) =>
          org.apache.spark.sql.Row(c, nb, nn, nt,
            if (nt * k > 4L * n) 1L else 0L,
            if (needsRefit) 1L else 0L)
        }
      } finally {
        // eager cleanup: the result is materialized above, nothing lazy
        // still reads the tree
        IvfIndex.rmTree(tmp)
      }
      import scala.jdk.CollectionConverters._
      s.createDataFrame(out.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("n_base",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_new",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_total",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("hot",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("needs_refit",
            org.apache.spark.sql.types.LongType))))
        .ordered(col("cell"))
    }),

    // ---- Monitoring: anomaly root-cause contribution --------------------
    // q242 flags WHICH days are abnormal; ops needs WHO moved. For
    // every flagged (type, day), each user segment's day share is
    // compared against its whole-period baseline share, and the
    // surprise |c_seg·C_t − C_ts·c_day| / (c_day·C_t) — an exact
    // rational on DECIMAL(38,0), the Adtributor shape without its
    // engine-hostile JS divergence — ranks the contributors. Facts
    // collapse once to the (type × day × segment) grid; detection,
    // baselines, and ranking all ride grids, and the output is
    // anomalies × |segments| rows.
    "q281_anomaly_contrib" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val dayUs = 86400000000L
      val g3 = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull &&
          col("user_id").isNotNull)
        .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"),
          (col("user_id") % 4).cast("long").as("segment"))
        .groupBy(col("event_type"), col("day"), col("segment"))
        .agg(count(lit(1)).as("c_seg"))
      val g2 = g3.groupBy(col("event_type"), col("day"))
        .agg(sum(col("c_seg")).as("c_day"))
      // q242's med/MAD robust flag over the (type × day) grid
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("c_day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(col("event_type"))
      val med = g2
        .withColumn("cum", count(lit(1)).over(wOrd))
        .withColumn("nd", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("nd"), col("c_day")))
          .as("med"))
      val dev = g2.join(broadcast(med), Seq("event_type"))
        .withColumn("d", abs(col("c_day") - col("med")))
      val wD = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val mad = dev
        .withColumn("cumd", count(lit(1)).over(wD))
        .withColumn("nd", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cumd") * 2 >= col("nd"), col("d"))).as("mad"))
      val anomalies = dev.join(broadcast(mad), Seq("event_type"))
        .filter(col("d") > col("mad") * 3)
        .select(col("event_type"), col("day"), col("c_day"))
      val base = g3.groupBy(col("event_type"), col("segment"))
        .agg(sum(col("c_seg")).as("c_ts"))
        .withColumn("c_t", sum(col("c_ts")).over(wAll))
      anomalies
        .join(g3, Seq("event_type", "day"))
        .join(base, Seq("event_type", "segment"))
        .withColumn("surprise_num",
          abs(col("c_seg").cast(d38) * col("c_t").cast(d38) -
            col("c_ts").cast(d38) * col("c_day").cast(d38)))
        .select(col("event_type"), col("day"), col("segment"),
          col("c_seg"), col("c_day"),
          r6(col("c_seg").cast("double") / col("c_day").cast("double"))
            .as("share_day"),
          r6(col("c_ts").cast("double") / col("c_t").cast("double"))
            .as("share_base"),
          r6(col("surprise_num").cast("double") /
            (col("c_day").cast("double") * col("c_t").cast("double")))
            .as("surprise"),
          row_number().over(Window.partitionBy(col("event_type"),
            col("day")).orderBy(col("surprise_num").desc, col("segment")))
            .cast("long").as("rank"))
        .ordered(col("event_type"), col("day"), col("rank"))
    }),

    // ---- Capacity planning: trend-to-threshold forecast -----------------
    // "When does daily volume hit the ceiling?" — q241's OLS
    // sufficient-statistic discipline applied to daily COUNTS (all
    // sums exact integers on DECIMAL(38,0)), slope and intercept
    // FLOORED to 1e-6 integers first, then the forecast
    // days_to_cap = (cap6 − level_now6) / slope6 runs on those
    // integers with ONE float division — both engines walk the
    // identical integer path. The ceiling is 2× the observed daily
    // max (deterministic from data); a non-growing type emits NULL,
    // never a negative ETA.
    "q282_capacity_forecast" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      val dayUs = 86400000000L
      val x0 = 19700L
      val g = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull)
        .select(col("event_type"),
          (expr(s"ts_us div $dayUs") - x0).as("x"))
        .groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("y"))
      val sums = g.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        max(col("y")).as("max_c"),
        max(col("x")).as("x_max"))
      sums
        .withColumn("num", col("n").cast(d38) * col("sxy") -
          col("sx").cast(d38) * col("sy").cast(d38))
        .withColumn("denx", col("n").cast(d38) * col("sxx").cast(d38) -
          col("sx").cast(d38) * col("sx").cast(d38))
        .withColumn("slope6",
          when(col("denx") =!= 0, // single-day type: no slope, NULL out
            floor((col("num") * 1000000).cast("double") /
              col("denx").cast("double") + 0.5).cast("long")))
        .withColumn("intercept6",
          floor((col("sy").cast(d38) * 1000000 -
            col("slope6").cast(d38) * col("sx").cast(d38)).cast("double") /
            col("n").cast("double") + 0.5).cast("long"))
        .withColumn("level_now6",
          col("intercept6") + col("slope6") * col("x_max"))
        .withColumn("cap6", col("max_c") * 2000000L)
        .select(col("event_type"), col("n").as("n_days"),
          (col("slope6").cast("double") / 1e6).as("slope_per_day"),
          (col("level_now6").cast("double") / 1e6).as("level_now"),
          (col("max_c") * 2).as("cap_daily"),
          when(col("slope6") > 0 && col("cap6") > col("level_now6"),
            floor((col("cap6") - col("level_now6")).cast("double") * 1e2 /
              col("slope6").cast("double") + 0.5) / 1e2)
            .as("days_to_cap"))
        .ordered(col("event_type"))
    }),

    // ---- Causal evaluation: Qini / uplift-by-decile curve ---------------
    // Did targeting work BEYOND its own selection? The uplift
    // companion to q184's A/B z and q261's gains table: per-user
    // frame (md5-coin treatment — content-addressed, the q184/q60
    // discipline — conversion flag, activity score), global score
    // deciles via PrefixSum.ntileDesc (no single-task NTILE window),
    // then per-decile arm rates and the cumulative Qini value
    // q(d) = cumconv_t − cumconv_c·cumn_t/cumn_c — the expected extra
    // conversions from targeting the top d deciles — one floored
    // division per decile on the 10-row grid, everything else exact
    // integers (the cross-product on DECIMAL(38,0)).
    "q279_uplift_qini" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val coin = shiftrightunsigned(call_function("md5_lower64",
        col("user_id").cast("string")), 33)
      val perUser = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("user_id"), (coin % 2 === 0).as("treated"))
        .agg(sum(floor(col("value") * 1e2 + 0.5).cast("long"))
            .as("score2"),
          max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("conv"))
      val tiles = graft.ops.PrefixSum.ntileDesc(perUser, "score2",
          "user_id", "decile", 10)
        .groupBy(col("decile").cast("long").as("decile"))
        .agg(sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
          sum(when(col("treated"), col("conv")).otherwise(0L))
            .as("conv_t"),
          sum(when(!col("treated"), col("conv")).otherwise(0L))
            .as("conv_c"))
      val ord = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tiles
        .withColumn("cn_t", sum(col("n_t")).over(ord))
        .withColumn("cn_c", sum(col("n_c")).over(ord))
        .withColumn("cc_t", sum(col("conv_t")).over(ord))
        .withColumn("cc_c", sum(col("conv_c")).over(ord))
        .select(col("decile"), col("n_t"), col("n_c"), col("conv_t"),
          col("conv_c"),
          when(col("n_t") > 0, r6(col("conv_t").cast("double") /
            col("n_t").cast("double"))).as("rate_t"),
          when(col("n_c") > 0, r6(col("conv_c").cast("double") /
            col("n_c").cast("double"))).as("rate_c"),
          when(col("cn_c") > 0,
            r6(col("cc_t").cast("double") -
              (col("cc_c").cast(d38) * col("cn_t").cast(d38))
                .cast("double") / col("cn_c").cast("double")))
            .as("qini"))
        .ordered(col("decile"))
    }),

    // ---- Robust aggregation: exact trimmed mean from the value grid -----
    // The 5%-trimmed mean per event type WITHOUT sorting facts: facts
    // collapse to the (type × quantized-value) grid, each cell spans
    // ranks (cum−c, cum], and a cell's kept mass is the integer
    // overlap of that span with the keep window (lo, n−lo] — the
    // trimmed sum becomes an exact DECIMAL(38,0) dot product over the
    // grid, no row-level rank ever materializes. The robust-LOCATION
    // sibling of q238's MAD outlier detection.
    "q280_trimmed_mean" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val grid = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          !isnan(col("value")))
        .select(col("event_type"),
          floor(col("value") * 1e2 + 0.5).cast("long").as("v2"))
        .groupBy(col("event_type"), col("v2"))
        .agg(count(lit(1)).as("c"))
      val wT = Window.partitionBy(col("event_type"))
      val wCum = wT.orderBy(col("v2"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wT))
        .withColumn("lo", expr("n * 5 div 100"))
        .withColumn("kept_in_cell",
          greatest(lit(0L),
            least(col("cum"), col("n") - col("lo")) -
            greatest(col("cum") - col("c"), col("lo"))))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("lo")).as("trimmed_each"),
          sum(col("kept_in_cell")).as("kept"),
          sum((col("v2") * col("kept_in_cell")).cast(d38)).as("tsum2"),
          sum((col("v2") * col("c")).cast(d38)).as("rsum2"))
        .select(col("event_type"), col("n"), col("trimmed_each"),
          col("kept"),
          r6(col("tsum2").cast("double") /
            (col("kept").cast("double") * 100)).as("trimmed_mean"),
          r6(col("rsum2").cast("double") /
            (col("n").cast("double") * 100)).as("raw_mean"))
        .ordered(col("event_type"))
    }),

    // ---- Model evaluation: regression metrics (MAE / RMSE / R²) ---------
    // The classification eval family (q258-q262, q270) gets its
    // regression sibling: a deterministic even/odd split (q265's
    // design), the per-segment calibration-mean predictor (integer
    // floor division), and MAE / RMSE / R² on the serving half — all
    // exact rationals until one floored division each: SSres and the
    // moment-identity total n·Σy²−(Σy)² ride DECIMAL(38,0), so
    // R² = 1 − n·SSres/(n·Σy²−(Σy)²) never touches float
    // accumulation. Two map-side groupBys and a broadcast join; a
    // zero-variance serving half (SStot = 0) emits NULL R², not a
    // fabricated 0/0.
    "q276_regression_eval" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select((col("user_id") % 4).cast("long").as("segment"),
          floor(col("value") * 1e2 + 0.5).cast("long").as("y2"),
          (col("event_id") % 2).as("half"))
      val pred = e.filter(col("half") === 0)
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_cal"), sum(col("y2")).as("s_cal"))
        // FLOOR division, pinned on BOTH engines: Spark's `div` and
        // DuckDB's `//` both truncate toward zero, so the raw forms
        // agree — but only because y2 happens to be non-negative on
        // current fixtures does trunc == floor. The predictor is
        // defined as floor(mean), so spell it sign-safely: pmod keeps
        // the remainder in [0, n), making (s - pmod(s, n)) div n IS
        // floor(s/n) for any sign of s, in exact integer arithmetic
        // (n_cal = COUNT(*) > 0 always). The oracle uses the same
        // identity with ((s % n) + n) % n.
        .withColumn("pred2", expr("(s_cal - pmod(s_cal, n_cal)) div n_cal"))
        .select(col("segment"), col("n_cal"), col("pred2"))
      e.filter(col("half") === 1)
        .join(broadcast(pred), "segment")
        .groupBy(col("segment"), col("n_cal"), col("pred2"))
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("y2") - col("pred2"))).as("sabs"),
          sum(((col("y2") - col("pred2")) *
            (col("y2") - col("pred2"))).cast(d38)).as("ssres"),
          sum(col("y2")).as("sy"),
          sum((col("y2") * col("y2")).cast(d38)).as("sy2"))
        .withColumn("sstot_n", col("n_eval").cast(d38) * col("sy2") -
          col("sy").cast(d38) * col("sy").cast(d38))
        .select(col("segment"), col("n_cal"),
          (col("pred2").cast("double") / 1e2).as("pred"),
          col("n_eval"),
          r6(col("sabs").cast("double") /
            (col("n_eval").cast("double") * 100)).as("mae"),
          r6(sqrt(col("ssres").cast("double") /
            col("n_eval").cast("double")) / 100).as("rmse"),
          when(col("sstot_n") =!= 0,
            r6(lit(1.0) - (col("n_eval").cast(d38) * col("ssres"))
              .cast("double") / col("sstot_n").cast("double")))
            .as("r2"))
        .ordered(col("segment"))
    }),

    // ---- Graph: bounded-hop weighted shortest paths (Bellman-Ford) ------
    // q208's BFS gives hop counts; real routing needs WEIGHTED
    // distances. K rounds of distributed Bellman-Ford relaxation —
    // each round one equi-join frontier×edges plus a min-groupBy,
    // lineage truncated per round (localCheckpoint, the LinkGraph
    // discipline) — computes exact shortest distances over paths of
    // <= K edges; K bounds both the work and the oracle's recursive
    // unrolling, and is the standard iteration cap a 1000-executor
    // run would also set. Deterministic synthetic edge weights in
    // 1..97, all-integer distances.
    "q277_sssp" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = Tables(s, dir, "documents")
        .filter(col("doc_id").isNotNull)
      val e1 = docs.select((d % 311).as("from"),
        ((d * 11 + 7) % 311).as("to"))
      val e2 = docs.filter(d % 2 === 0)
        .select((d % 311).as("from"), ((d * 23 + 3) % 311).as("to"))
      val edges = e1.unionByName(e2)
        .filter(col("from") =!= col("to")).distinct()
        .withColumn("w", (col("from") * 7 + col("to") * 13) % 97 + 1)
      val seeds = docs.filter(d % 311 < 3).select((d % 311).as("node"))
      // LinkGraph.sssp carries the size-gated driver-local relaxation
      // (the pageRank/CC localMax discipline — round 17): integer
      // weights, so both paths are trivially bit-identical
      graft.llm.LinkGraph.sssp(edges, "from", "to", "w", seeds, "node",
          rounds = 5)
        .ordered(col("node"))
    }),

    // ---- Product analytics: recency-decayed popularity ------------------
    // Trending-now ranking with a one-week half-life — and an EXACT
    // one: the decay base is 2, so weight(w weeks old) = 2^(Wcap−w)
    // is an integer (Wcap = 40; anything older saturates at weight 1,
    // stated not hidden), the per-type score is a DECIMAL(38,0) sum
    // of integer products, and the share is one floored division.
    // pow()/exp() never appear (q212 float policy — engines disagree
    // in the last ulp; powers of two don't). Facts collapse map-side
    // to the (type × day) grid; the anchor day is a grid-window max,
    // so no one-row crossJoin either.
    "q278_decayed_popularity" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val dayUs = 86400000000L
      val grid = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts_us").isNotNull)
        .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"))
      val wAll = Window.partitionBy()
      val scored = grid
        .withColumn("anchor", max(col("day")).over(wAll))
        .withColumn("wk", expr("(anchor - day) div 7"))
        .withColumn("weight", expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(40 - least(wk, 40) AS INT))"))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("n"),
          // decimal BEFORE the product: weight reaches 2^40, so any
          // (type, day) cell past ~2^23 events overflows a BIGINT
          // c*weight; DuckDB multiplies on HUGEINT (round-13 lesson)
          sum(col("c").cast(d38) * col("weight").cast(d38)).as("score"))
      scored
        .withColumn("tot", sum(col("score")).over(wAll))
        .select(col("event_type"), col("n"),
          r6(col("score").cast("double") / col("tot").cast("double"))
            .as("decayed_share"),
          row_number().over(Window.orderBy(col("score").desc,
            col("event_type"))).cast("long").as("rank"))
        .ordered(col("rank"))
    }),

    // ---- Recommendation evaluation: coverage / popularity / ILD ---------
    // The three standard recommender health metrics over q268's
    // neighbor lists: CATALOG COVERAGE (share of items ever
    // recommended — collapse detection), POPULARITY BIAS (mean basket
    // count of recommended items vs the catalog mean, as the exact
    // rational lift on DECIMAL(38,0)), and INTRA-LIST DIVERSITY
    // (1 − mean pairwise co-occurrence cosine inside each top-5 list;
    // a missing pair IS cosine 0 — never-co-bought items are maximally
    // diverse). List-pair work is ≤ k²/2 per item against the pair
    // score table — bounded by k, never catalog². One summary row.
    "q274_rec_eval" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      // basket cap (ItemCf.MaxBasketSize): the pair self-join below
      // does |b|² work ON ONE JOIN KEY per basket — uncapped, a single
      // hot basket is the classic skewed-shuffle killer. The cap is in
      // the oracle too (declared semantics, not a silent truncation);
      // q285 is the accounting ledger, ItemCfSpec the hot-basket proof.
      // li is referenced THREE ways (cnt aggregation + both self-join
      // sides) and cnt FOUR ways (scoredHalf's two marginals, pop, cat);
      // only the self-join sides share an exchange the optimizer can
      // reuse, so uncached the scan + distinct + cap-window re-execute
      // per branch (the q231 own-your-input-caching lesson). Both frames
      // are small by construction (distinct basket-item pairs / one row
      // per item); the bench's per-query clearCache releases them.
      val li = ItemCf.cappedBaskets(Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
        .distinct())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cnt = li.groupBy(col("item")).agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val half = li.as("a")
        .join(li.as("b"), col("a.bk") === col("b.bk"))
        .filter(col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("ia"), col("b.item").as("ib"))
        .agg(count(lit(1)).as("cab"))
      // half carries each unordered pair once (ia < ib): ranking needs
      // the symmetric view, but the ILD lookup below keys on ordered
      // (b1 < b2) pairs — probing half instead of sym halves that
      // shuffle. The top-5 lists feed four metric branches and Spark
      // shares no common subplans across joins — persist them (the
      // bench releases per-query caches via clearCache).
      val scoredHalf = half
        .join(cnt.select(col("item").as("ia"), col("c").as("ca")), "ia")
        .join(cnt.select(col("item").as("ib"), col("c").as("cb")), "ib")
        // cast each count to double BEFORE the product: ca*cb on
        // BIGINT overflows past ~3e9-count hub items (ANSI throw);
        // only the double magnitude is needed, and double*double is
        // IEEE-identical in both engines
        .withColumn("cos", r6(col("cab").cast("double") /
          sqrt(col("ca").cast("double") * col("cb").cast("double"))))
        .select(col("ia"), col("ib"), col("cos"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val scored = scoredHalf.unionByName(scoredHalf
        .select(col("ib").as("ia"), col("ia").as("ib"), col("cos")))
      val recs = scored
        .withColumn("rank", row_number().over(Window.partitionBy(col("ia"))
          .orderBy(col("cos").desc, col("ib"))))
        .filter(col("rank") <= 5)
        .select(col("ia"), col("ib"), col("cos"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // intra-list pair dissimilarity: within-list pairs (b1 < b2)
      // looked up in the half table; absent pair = cos 0. The pairs come
      // from ONE groupBy(ia) + bounded array expansion (≤ C(5,2) = 10
      // per ia) instead of a recs×recs self-join — same pair multiset
      // (ib is distinct within a list, sort_array gives b1 < b2), one
      // less join and its exchange (guide §2.4); recs is already
      // hash-partitioned by ia from the rank window, so the groupBy
      // reuses that layout shuffle-free
      val lists = recs.groupBy(col("ia"))
        .agg(sort_array(collect_list(col("ib"))).as("bs"))
      val lp = lists
        .select(col("ia"), explode(flatten(transform(col("bs"),
          (x, i) => transform(slice(col("bs"), i + 2, size(col("bs"))),
            y => struct(x.as("b1"), y.as("b2")))))).as("p"))
        .select(col("ia"), col("p.b1").as("b1"), col("p.b2").as("b2"))
        .join(scoredHalf.select(col("ia").as("b1"), col("ib").as("b2"),
          col("cos").as("pc")), Seq("b1", "b2"), "left")
        .withColumn("pc6",
          coalesce(floor(col("pc") * 1e6 + 0.5).cast("long"), lit(0L)))
      val ild = lp.groupBy(col("ia"))
        .agg(count(lit(1)).as("np"), sum(col("pc6")).as("sp6"))
        .select((lit(1000000L) -
          floor(col("sp6").cast("double") / col("np").cast("double")
            + 0.5).cast("long")).as("ild6"))
        .agg(count(lit(1)).as("n_lists"), sum(col("ild6")).as("ild_sum"))
      val cov = recs.agg(
        countDistinct(col("ia")).as("n_items_with_recs"),
        countDistinct(col("ib")).as("n_recommended"))
      val pop = recs.join(cnt.select(col("item").as("ib"),
          col("c").as("pc_cnt")), "ib")
        .agg(count(lit(1)).as("n_recs"),
          sum(col("pc_cnt").cast(d38)).as("pop_sum"))
      val cat = cnt.agg(count(lit(1)).as("n_catalog"),
        sum(col("c").cast(d38)).as("cat_sum"))
      cov.crossJoin(broadcast(pop)).crossJoin(broadcast(cat))
        .crossJoin(broadcast(ild))
        .select(col("n_items_with_recs"), col("n_recommended"),
          col("n_catalog"),
          r6(col("n_recommended").cast("double") /
            col("n_catalog").cast("double")).as("coverage"),
          r6(col("pop_sum").cast("double") /
            col("n_recs").cast("double")).as("avg_pop_rec"),
          r6(col("cat_sum").cast("double") /
            col("n_catalog").cast("double")).as("avg_pop_catalog"),
          r6((col("pop_sum") * col("n_catalog").cast(d38)).cast("double") /
            (col("cat_sum") * col("n_recs").cast(d38)).cast("double"))
            .as("pop_lift"),
          r6(col("ild_sum").cast("double") /
            (col("n_lists").cast("double") * 1e6)).as("mean_ild"))
    }),

    // ---- Product analytics: transition dwell times ----------------------
    // How long do users sit between consecutive steps? Per ordered
    // type transition (a → b) within the 2h session horizon: count,
    // exact nearest-rank median and p90 of the integer gap seconds,
    // and the exact-rational mean. Both order statistics ride the
    // (pair × ≤7200-second gap domain) grid — the q265/q234 bounded-
    // domain discipline — and the lead() window is user-local (one
    // user_id shuffle). The duration complement to q178's transition
    // PROBABILITIES: q178 says where users go next, this says how
    // fast.
    "q275_dwell_times" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val trans = e
        .withColumn("b", lead(col("event_type"), 1).over(wu))
        .withColumn("gap_s",
          expr("(lead(ts_us, 1) OVER (PARTITION BY user_id " +
            "ORDER BY ts_us, event_id) - ts_us) div 1000000"))
        .filter(col("b").isNotNull && col("gap_s") <= 7200L)
        .select(col("event_type").as("a"), col("b"), col("gap_s"))
      val wPair = Window.partitionBy(col("a"), col("b"))
      val wCum = wPair.orderBy(col("gap_s"))
        .rowsBetween(Window.unboundedPreceding, 0)
      trans.groupBy(col("a"), col("b"), col("gap_s"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wPair))
        .withColumn("gsum", sum(col("gap_s") * col("c")).over(wPair))
        .groupBy(col("a"), col("b"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= expr("n div 2") + 1, col("gap_s")))
            .as("med_gap_s"),
          min(when(col("cum") * 10 >= col("n") * 9, col("gap_s")))
            .as("p90_gap_s"),
          max(col("gsum")).as("gsum"))
        .select(col("a"), col("b"), col("n"), col("med_gap_s"),
          col("p90_gap_s"),
          r6(col("gsum").cast("double") / col("n").cast("double"))
            .as("mean_gap_s"))
        .ordered(col("a"), col("b"))
    }),

    // ---- Streaming: windowed online AUC monitor -------------------------
    // q258's evaluation as a CONTINUOUS gate: the stream aggregates
    // the (hour-window × coarse score bucket) contingency grid — the
    // only state is observed (window, bucket) cells, bounded by the
    // 512-bucket domain per window, never the facts (the coarser
    // quantum is the state-size trade; the tie-midrank AUC at that
    // quantum is what the oracle replays, exactly) — and the per-
    // window AUC finalizes over the collected grid (windows × ≤512
    // rows, driver-sized by construction, the q136 sketch-finalize
    // shape). A production monitor alerts when a window's AUC drops;
    // this is that report, oracle-checked through batch replay.
    "q272_stream_auc" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val grid = Streams.runToMemoryIsolated(s,
          s"q272_mem_${System.nanoTime()}", "complete") { sc =>
        val schema = Tables(sc, dir, "events").schema
        Tables.stream(sc, dir, "events")
          .withColumn("ts_us", Tables.tsUsOf(schema))
          .filter(col("event_type").isNotNull && col("ts_us").isNotNull &&
            col("value").isNotNull && !isnan(col("value")))
          .select(col("ts_us"),
            least(greatest(floor(col("value")).cast("long"), lit(0L)),
              lit(511L)).as("sb"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("y"))
          .groupBy(window(timestamp_micros(col("ts_us")), "1 hour").as("w"),
            col("sb"))
          .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("q"))
          .select(unix_micros(col("w.start")).as("w_start"), col("sb"),
            col("p"), col("q"))
      }
      val below = Window.partitionBy(col("w_start")).orderBy(col("sb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val incl = Window.partitionBy(col("w_start")).orderBy(col("sb"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(col("w_start"))
      grid
        .withColumn("negBelow",
          coalesce(sum(col("q")).over(below), lit(0L)))
        .withColumn("cumP", sum(col("p")).over(incl))
        .withColumn("cumQ", sum(col("q")).over(incl))
        .withColumn("ptot", sum(col("p")).over(wAll))
        .withColumn("qtot", sum(col("q")).over(wAll))
        .groupBy(col("w_start"))
        .agg(max(col("ptot")).as("n_pos"), max(col("qtot")).as("n_neg"),
          sum(col("p").cast(d38) *
            (col("negBelow") * 2 + col("q")).cast(d38)).as("u2"),
          max(abs(col("cumP").cast(d38) * col("qtot").cast(d38) -
            col("cumQ").cast(d38) * col("ptot").cast(d38))).as("ksn"))
        .filter(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("w_start"), col("n_pos"), col("n_neg"),
          r6(col("u2").cast("double") / (col("n_pos").cast("double") *
            col("n_neg").cast("double") * 2)).as("auc"),
          r6(col("ksn").cast("double") / (col("n_pos").cast("double") *
            col("n_neg").cast("double"))).as("ks"))
        .ordered(col("w_start"))
    }),

    // ---- Clustering evaluation: simplified silhouette -------------------
    // How separable are the IVF cells q39/q89/q240 ride? The
    // simplified (centroid-based) silhouette: a(i) = distance to own
    // centroid, b(i) = distance to the nearest OTHER centroid, s(i) =
    // (b−a)/max(a,b) — O(n·nlist) against plan-literal centroids,
    // never point×point. Distances derive from the SAME score fold
    // the assignment uses (dist² = ‖v‖² − 2·score), so the geometry
    // cannot drift from the index; per-point s quantized to the 1e-6
    // grid before the per-cell integer mean (q262 discipline). The
    // oracle is generated from the run's fitted centroids (the q39/
    // q89 run-state contract) and replays everything.
    "q273_silhouette" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val (index, _) = ivfAcquire(s, dir, corpus)
      val scores = array(index.centroids.sortBy(_._1).map {
        case (_, cv, n2) =>
          Similarity.dot(col("embedding"), typedlit(cv)) - lit(n2 / 2)
      }: _*)
      val pts = emb
        .withColumn("ss", scores)
        .withColumn("smax", array_max(col("ss")))
        .withColumn("cell",
          (array_position(col("ss"), col("smax")) - 1).cast("int"))
        .withColumn("s2nd",
          array_max(filter(col("ss"), (_, i) => i =!= col("cell"))))
        .withColumn("nrm2",
          Similarity.dot(col("embedding"), col("embedding")))
        .withColumn("a",
          sqrt(greatest(col("nrm2") - col("smax") * 2, lit(0.0))))
        .withColumn("b",
          sqrt(greatest(col("nrm2") - col("s2nd") * 2, lit(0.0))))
        .withColumn("s6", when(greatest(col("a"), col("b")) > 0,
          floor((col("b") - col("a")) / greatest(col("a"), col("b"))
            * 1e6 + 0.5).cast("long")))
      pts.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), count(col("s6")).as("n_scored"),
          sum(col("s6")).as("ssum"),
          min(col("s6")).as("smin"), max(col("s6")).as("smax6"))
        .select(col("cell"), col("n"), col("n_scored"),
          when(col("n_scored") > 0,
            floor(col("ssum").cast("double") /
              col("n_scored").cast("double") + 0.5) / 1e6).as("mean_s"),
          (col("smin").cast("double") / 1e6).as("min_s"),
          (col("smax6").cast("double") / 1e6).as("max_s"))
        .ordered(col("cell"))
    }),

    // ---- Model evaluation: k-fold metric stability ----------------------
    // Is the AUC a property of the model or of the split? Five
    // deterministic folds (event_id % 5), Eval.rankingMetrics per fold
    // — the contingency-grid AUC machinery, no global sort at any
    // fold — then across-fold mean and variance computed on the
    // 1e-6-integer AUCs over the 5-row fold grid: var_num =
    // k·Σa² − (Σa)² stays an exact integer (q262's quantize-before-
    // sum discipline), one floored division at the edge. The spread IS
    // the report: a fold-sensitive metric means the evaluation, not
    // the model, is moving.
    "q270_cv_folds" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select((col("event_id") % 5).cast("long").as("fold"),
          floor(col("value") * 1e2 + 0.5).cast("long").as("score2"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("y"))
      val folds = Eval.rankingMetrics(e, "score2", "y", Seq("fold"))
        .select(col("fold"), col("n_pos"), col("n_neg"), col("auc"),
          col("ks"))
        .withColumn("auc6", floor(col("auc") * 1e6 + 0.5).cast("long"))
      val wAll = Window.partitionBy()
      folds
        .withColumn("k", count(lit(1)).over(wAll))
        .withColumn("sa", sum(col("auc6")).over(wAll))
        .withColumn("sa2",
          sum((col("auc6") * col("auc6")).cast(d38)).over(wAll))
        .select(col("fold"), col("n_pos"), col("n_neg"), col("auc"),
          col("ks"),
          r6(col("sa").cast("double") / (col("k").cast("double") * 1e6))
            .as("mean_auc"),
          r6((col("k").cast(d38) * col("sa2") -
            col("sa").cast(d38) * col("sa").cast(d38)).cast("double") /
            (col("k").cast("double") * col("k").cast("double") * 1e12))
            .as("var_auc"))
        .ordered(col("fold"))
    }),

    // ---- Training-data curation: hard-example mining --------------------
    // Contrastive training wants, per anchor, the most-confusable
    // wrong-class neighbor (hard negative: highest-cosine different-
    // label in the top-k) and the least-confident right-class neighbor
    // (hard positive: lowest-cosine same-label in the top-k). Rides
    // q263's audited candidate stage (annTopK/IVFPQ at scale, mining
    // tail unchanged); the mining itself is two rank windows over the
    // queries×k candidate rows. An anchor whose top-k is single-class
    // emits NULL on the missing side — absence is the signal (nothing
    // confusable nearby), never a fabricated pair.
    "q271_hard_mining" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
          col("label").isNotNull)
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"))
      val topk = Similarity.cosineTopK(queries, corpus, k = 10)
      val nLab = emb.select(col("vec_id").as("nid"),
        col("label").as("nlabel"))
      // qLab feeds a broadcast join keyed on qid: restrict it to the
      // 1/20 query batch BEFORE the hint, or the explicit broadcast
      // ships the FULL corpus label frame (20x the surviving rows)
      // past the 64MB gate — a driver/executor memory hazard at scale
      val qLab = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"))
      val t = topk.join(nLab, "nid").join(broadcast(qLab), "qid")
        .withColumn("rel", (col("nlabel") === col("qlabel")).cast("int"))
      val wq = Window.partitionBy(col("qid"))
      val neg = t.filter(col("rel") === 0)
        .withColumn("rn", row_number().over(
          wq.orderBy(col("cos").desc, col("nid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nid").as("hard_neg_id"),
          col("cos").as("hard_neg_cos"))
      val pos = t.filter(col("rel") === 1)
        .withColumn("rn", row_number().over(
          wq.orderBy(col("cos").asc, col("nid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nid").as("hard_pos_id"),
          col("cos").as("hard_pos_cos"))
      emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"))
        .join(neg, Seq("qid"), "left")
        .join(pos, Seq("qid"), "left")
        .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
          col("hard_neg_id"), col("hard_neg_cos"),
          col("hard_pos_id"), col("hard_pos_cos"))
        .ordered(col("qid"))
    }),

    // ---- Recommendation: item-item cosine co-occurrence (ItemCF) --------
    // The classic batch recommender: two items are similar when they
    // share baskets, cosine-normalized so hub items don't dominate —
    // cos(a,b) = c_ab / sqrt(c_a·c_b) over basket co-occurrence
    // counts. Distinct from q190's category-level association RULES
    // (support/confidence/lift over ~100 categories): this ranks
    // CATALOG-sized item neighbors. Scale shape: pair generation is a
    // basket self-join — work is Σ|basket|², bounded by the per-order
    // line cap, never catalog² — and the top-k window partitions per
    // item. Integer counts; one sqrt+division per pair, quantized to
    // the 1e-6 grid BEFORE ranking (the cosineTopK discipline).
    "q268_item_cf" -> ((s, dir) => {
      // basket cap (ItemCf.MaxBasketSize): the pair self-join inside
      // ItemCf.pairScores does |b|² work ON ONE JOIN KEY per basket —
      // uncapped, a single hot basket is the classic skewed-shuffle
      // killer. The cap is in the oracle too (declared semantics, not
      // a silent truncation); q285 is the accounting ledger, ItemCfSpec
      // the hot-basket proof, Scaling's item_cf_hot the measured row.
      // NOT persisted (measured, this round): li has three references
      // (marginal counts + both self-join sides) but the join sides
      // share a ReusedExchange and the cnt branch is one cheap
      // aggregation — A/B at sf0.1 put the persist at 5.06 s vs 4.78 s
      // uncached (the InMemoryRelation write costs more than the one
      // re-aggregation it saves; q274, with FOUR cnt references, is the
      // shape where the same persist wins).
      val li = ItemCf.cappedBaskets(Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
        .distinct())
      ItemCf.pairScores(li)
        .withColumn("rank", row_number().over(Window.partitionBy(col("ia"))
          .orderBy(col("cos").desc, col("ib"))).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("ia"), col("ib"), col("cab"), col("ca"), col("cb"),
          col("cos"), col("rank"))
        .ordered(col("ia"), col("rank"))
    }),

    // ---- Model evaluation: off-policy value estimate (IPS) --------------
    // Counterfactual policy evaluation from logged data — "what would
    // this targeting policy have earned?" — via inverse-propensity
    // scoring with empirical logging propensities p̂(a|ctx) =
    // n_cell/n_ctx. The estimate collapses to the (context × action)
    // CELL GRID: V̂ = (1/N)·Σ_ctx R_cell(ctx,π(ctx))·n_ctx/n_cell —
    // one floored division per context (q262's quantize-before-sum
    // discipline), everything else exact integers. Policies: the two
    // constant arms and the per-context empirical-argmax arm, whose
    // argmax compares 1e-6-quantized mean rewards (cross-engine-exact
    // tie order). A context where the policy's arm was never logged is
    // an overlap violation — contrib NULL, never 0 (standard IPS
    // failure mode, surfaced not hidden). Facts collapse map-side to
    // ≤ |ctx|·|actions| cells; every window rides that grid.
    "q269_ips_offpolicy" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select((col("user_id") % 4).cast("long").as("ctx"),
          col("event_type").as("action"),
          floor(col("value") * 1e2 + 0.5).cast("long").as("r2"))
      val wAll = Window.partitionBy()
      val wCtx = Window.partitionBy(col("ctx"))
      val grid = e.groupBy(col("ctx"), col("action"))
        .agg(count(lit(1)).as("n_cell"), sum(col("r2")).as("r2_cell"))
        .withColumn("n_ctx", sum(col("n_cell")).over(wCtx))
        .withColumn("n_tot", sum(col("n_cell")).over(wAll))
        .withColumn("mean6",
          floor(col("r2_cell").cast("double") * 1e4 /
            col("n_cell").cast("double") + 0.5).cast("long"))
      // the empirical-argmax arm per context (tie: action asc)
      val best = grid
        .withColumn("rk", row_number().over(wCtx.orderBy(
          col("mean6").desc, col("action"))))
        .filter(col("rk") === 1)
        .select(lit("argmax").as("policy"), col("ctx"),
          col("action").as("pi_action"))
      val constant = grid.select(col("ctx")).distinct()
        .select(col("ctx"), explode(typedLit(Seq(
          ("always_click", "click"), ("always_purchase", "purchase"))))
          .as("p"))
        .select(col("p._1").as("policy"), col("ctx"),
          col("p._2").as("pi_action"))
      val policies = best.unionByName(constant)
      val g2 = grid.select(col("ctx").as("g_ctx"),
        col("action").as("g_action"), col("n_cell"), col("r2_cell"),
        col("n_ctx"), col("n_tot"))
      val wPol = Window.partitionBy(col("policy"))
      policies
        .join(g2, col("ctx") === col("g_ctx") &&
          col("pi_action") === col("g_action"), "left")
        .withColumn("contrib6",
          when(col("n_cell") > 0,
            floor((col("r2_cell").cast(d38) * col("n_ctx").cast(d38))
              .cast("double") / (col("n_cell").cast("double") *
                col("n_tot").cast("double") * 100) * 1e6 + 0.5)
              .cast("long")))
        .withColumn("viol",
          sum(when(col("contrib6").isNull, 1L).otherwise(0L)).over(wPol))
        .select(col("policy"), col("ctx"), col("pi_action"),
          coalesce(col("n_cell"), lit(0L)).as("n_cell"),
          (col("contrib6").cast("double") / 1e6).as("contrib"),
          when(col("viol") === 0,
            sum(col("contrib6")).over(wPol).cast("double") / 1e6)
            .as("v_ips"))
        .ordered(col("policy"), col("ctx"))
    }),

    // ---- Product analytics: session path trigrams -----------------------
    // The bounded-grid complement to q182's full-path mining: q182's
    // whole-session path strings form an UNBOUNDED domain (a 40-event
    // session is its own path), so its histogram grows with behavioral
    // diversity; decomposing into consecutive type 3-grams bounds the
    // grid at |types|^3 regardless of session length — the n-gram
    // trade every sequence-mining pipeline makes. Same q221 2h-gap
    // sessionization; the lead() windows partition per user — facts
    // shuffle ONCE on user_id and every window is user-local — and the
    // share/rank windows ride the <= 125-row grid, never the facts.
    "q267_path_trigrams" -> ((s, dir) => {
      def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val ws = Window.partitionBy(col("user_id"), col("sess_no"))
        .orderBy(col("ts_us"), col("event_id"))
      val paths = e
        .withColumn("new_sess",
          when(col("ts_us") - lag(col("ts_us"), 1).over(wu) <= 7200000000L,
            0L).otherwise(1L))
        .withColumn("sess_no", sum(col("new_sess")).over(
          wu.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("p2", lead(col("event_type"), 1).over(ws))
        .withColumn("p3", lead(col("event_type"), 2).over(ws))
        .filter(col("p2").isNotNull && col("p3").isNotNull)
        .groupBy(col("event_type").as("p1"), col("p2"), col("p3"))
        .agg(count(lit(1)).as("n_paths"))
      val wAll = Window.partitionBy()
      paths
        .withColumn("total", sum(col("n_paths")).over(wAll))
        .select(col("p1"), col("p2"), col("p3"), col("n_paths"),
          r6(col("n_paths").cast("double") / col("total").cast("double"))
            .as("share"),
          row_number().over(Window.orderBy(col("n_paths").desc,
            col("p1"), col("p2"), col("p3"))).cast("long").as("rank"))
        .ordered(col("rank"))
    }),
  )

  /** q126's iteration count — shared with the generated oracle. */
  private val prIterations = 6

  /** q155's HITS round count — fewer than q126's (each round is two
    * join+agg half-steps and six oracle CTE layers). */
  private val hitsIterations = 4

  /** q122's body, parameterized by the 31-bit pre-hash: md5 for the
    * oracle-checked query, xxhash64 for the timed `__prod` twin (one MD5
    * digest per token is several times the production hash cost; same
    * plan shape, only the kernel differs — the q17/q18/q40 convention). */
  private def cmsQuery(s: SparkSession, dir: String,
                       h31: Column => Column): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir, "documents").filter(col("text").isNotNull)
      .select(explode(TextStats.tokens(lower(col("text")))).as("tok"))
    val sk = toks.agg(
      Sketches.cms(h31(col("tok")), cmsParams, cmsW).as("sk"))
    val probes = cmsProbes.toDF("term")
      .withColumn("__h", h31(col("term")))
    val est = probes.crossJoin(broadcast(sk)).select(col("term"),
      least(cmsParams.zipWithIndex.map { case ((a, b), i) =>
        element_at(col("sk"), (lit(i * cmsW) +
          (col("__h") * a + b) % 2147483647L % cmsW + 1).cast("int"))
      }: _*).as("est"))
    val exact = toks.filter(col("tok").isin(cmsProbes: _*))
      .groupBy(col("tok").as("term")).agg(count(lit(1)).as("exact_n"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"), col("est"),
        coalesce(col("exact_n"), lit(0L)).as("exact_n"))
      .ordered(col("term"))
  }

  /** 28-bit Morton (Z-order) interleave of two 14-bit values as ONE SQL
    * expression string — shared verbatim by q216's Spark side (via
    * `expr`) and its DuckDB oracle, so the bit algebra can never drift
    * (the q142/cmsParams discipline). Plain >>, &, | and + only —
    * identical semantics in both engines for non-negative BIGINTs. */
  private def mortonSqlExpr(a: String, b: String): String =
    (0 until 14).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})",
        s"((($b >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  /** The CDC MERGE oracle, shared verbatim by q204 (batch) and q209
    * (streaming) — the strongest stream-batch consistency statement the
    * gate can make: one SQL, two execution routes, one hash. */
  private val cdcOracleSql: String =
    """WITH base AS (SELECT c_custkey AS key, c_mktsegment AS segment,
      |    CAST(FLOOR(c_acctbal*1e6+0.5) AS BIGINT) AS bal6,
      |    true AS in_base
      |  FROM customer WHERE c_custkey IS NOT NULL),
      |ops AS (SELECT user_id AS key, epoch_us(ts) AS us, event_id,
      |    CASE WHEN event_type = 'error' THEN 'delete'
      |      ELSE 'upsert' END AS op,
      |    CAST(FLOOR(COALESCE(value, 0)*1e6+0.5) AS BIGINT) AS v6
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
      |lastop AS (SELECT key, op, v6 FROM (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY key
      |      ORDER BY us DESC, event_id DESC) AS rn FROM ops)
      |  WHERE rn = 1),
      |j AS (SELECT COALESCE(b.key, l.key) AS key, b.segment, b.bal6,
      |    b.in_base, l.op, l.v6
      |  FROM base b FULL OUTER JOIN lastop l ON l.key = b.key)
      |SELECT key, segment,
      |  FLOOR(CAST(CASE WHEN op = 'upsert' THEN v6 ELSE bal6 END
      |    AS DOUBLE)/1e6*1e2+0.5)/1e2 AS bal,
      |  CASE WHEN op IS NULL THEN 'base'
      |    WHEN in_base IS NULL THEN 'inserted'
      |    ELSE 'updated' END AS src
      |FROM j WHERE COALESCE(op, 'none') <> 'delete'
      |ORDER BY key""".stripMargin

  /** CDC MERGE building blocks shared by the batch (q204) and streaming
    * (q209) paths — one semantics, two execution routes, one oracle.
    * Explicit base marker: a NULL segment is legal base data
    * (adversarial fixture), so "row absent from base" must never be
    * inferred from a nullable payload column. */
  private def cdcBase(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .filter(col("c_custkey").isNotNull)
      .select(col("c_custkey").as("key"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") * 1e6 + 0.5).cast("long").as("bal6"),
        lit(true).as("in_base"))

  /** The op feed: 'error' events delete their key, every other type
    * upserts its value; order key = (ts_us, event_id). */
  private def cdcOps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
        col("event_type").isNotNull && col("event_id").isNotNull)
      .select(col("user_id").as("key"), col("ts_us"), col("event_id"),
        when(col("event_type") === "error", "delete")
          .otherwise("upsert").as("op"),
        floor(coalesce(col("value"), lit(0.0)) * 1e6 + 0.5)
          .cast("long").as("v6"))

  /** Apply the collapsed last-op set to the base snapshot: upsert
    * overwrites or inserts, delete removes, untouched rows survive,
    * absent-key deletes are no-ops. */
  private def cdcApply(base: DataFrame, lastOp: DataFrame): DataFrame =
    base.join(lastOp, Seq("key"), "full_outer")
      .filter(coalesce(col("op"), lit("none")) =!= "delete")
      .select(col("key"), col("segment"),
        (floor(when(col("op") === "upsert", col("v6"))
          .otherwise(col("bal6")).cast("double") / 1e6 * 1e2 + 0.5)
          / 1e2).as("bal"),
        when(col("op").isNull, "base")
          .when(col("in_base").isNull, "inserted")
          .otherwise("updated").as("src"))

  /** q122's Count-Min geometry + probe terms — shared between the query
    * and its generated oracle so they can never drift (the q17/bm25Terms
    * discipline). */
  private[graft] val cmsW = 512
  private val cmsParams: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(11L)
    Seq.fill(4)((1L + rnd.nextInt(Int.MaxValue - 1)).toLong ->
      rnd.nextInt(Int.MaxValue).toLong)
  }
  private val cmsProbes = Seq("the", "and", "of", "data", "table", "zzyzx")

  /** The expected canonical form of [[synthUrl]]`(k)` as a DuckDB SQL
    * expression — each branch's outcome stated directly (scheme
    * lowercased, default ports resolved against the scheme branch,
    * escapes pre-resolved, tracking dropped, survivors pre-sorted), so
    * the oracle never runs the operator's own generic rules. */
  private def urlCanonSqlExpr(k: String): String = {
    val d = s"($k)"
    s"""(CASE WHEN $d%3=0 THEN 'http' WHEN $d%3=1 THEN 'https'
       |  ELSE 'ftp' END || '://' ||
       |CASE WHEN $d%13=0 THEN 'u' || ($d%7) || '@' ELSE '' END ||
       |'www' || ($d%50) || '.example.org' ||
       |CASE WHEN $d%5=0 AND $d%3=0 THEN '' WHEN $d%5=0 THEN ':80'
       |  WHEN $d%5=1 AND $d%3=1 THEN '' WHEN $d%5=1 THEN ':443'
       |  WHEN $d%5=2 THEN ':8080' ELSE '' END ||
       |CASE WHEN $d%4=0 THEN '/' WHEN $d%4=1 THEN '/a' || ($d%9) || '/Ab'
       |  WHEN $d%4=2 THEN '/x~y' ELSE '/p%2Fq%zz%3A' END ||
       |CASE WHEN $d%6=1 THEN '?a=2&b=' || ($d%7)
       |  WHEN $d%6=3 THEN '?a=A&b=1'
       |  WHEN $d%6=4 THEN '?y=7&y=8&z=9' ELSE '' END)""".stripMargin
  }

  /** q115/q116's closed-form synthesized URL — every canonicalization
    * rule exercised from one doc_id formula; the oracle replays the same
    * concatenation and independently states the expected canonical
    * output per branch. */
  private def synthUrl(d0: Column): Column = {
    val d = d0.cast("long")
    val str = (c: Column) => c.cast("string")
    val scheme = when(d % 3 === 0, lit("http"))
      .when(d % 3 === 1, lit("HTTPS")).otherwise(lit("Ftp"))
    val user = when(d % 13 === 0, concat(lit("u"), str(d % 7), lit("@")))
      .otherwise(lit(""))
    val host = concat(lit("WWW"), str(d % 50), lit(".ExAmple.ORG"),
      when(d % 11 === 0, lit(".")).otherwise(lit("")))
    val port = when(d % 5 === 0, lit(":80")).when(d % 5 === 1, lit(":443"))
      .when(d % 5 === 2, lit(":8080")).when(d % 5 === 3, lit(":"))
      .otherwise(lit(""))
    val path = when(d % 4 === 0, lit(""))
      .when(d % 4 === 1, concat(lit("/a"), str(d % 9), lit("/%41b")))
      .when(d % 4 === 2, lit("/x%7Ey"))
      .otherwise(lit("/p%2fq%zz%3a"))
    val query = when(d % 6 === 0, lit(""))
      .when(d % 6 === 1, concat(lit("?utm_source=tw&b="), str(d % 7), lit("&a=2")))
      .when(d % 6 === 2, lit("?gclid=abc"))
      .when(d % 6 === 3, lit("?b=1&a=%41&utm_campaign=x"))
      .when(d % 6 === 4, lit("?z=9&y=8&y=7"))
      .otherwise(lit("?"))
    val frag = when(d % 2 === 0, concat(lit("#sec"), str(d % 5)))
      .otherwise(lit(""))
    val pad = when(d % 17 === 0, lit("  ")).otherwise(lit(""))
    concat(pad, scheme, lit("://"), user, host, port, path, query, frag, pad)
  }

  /** Per-source sampling rates for q66 (default rate for the rest) —
    * shared by the query and its generated oracle CASE expression. */
  private val stratifiedRates: Seq[(String, Double)] =
    Seq("src0" -> 0.05, "src1" -> 0.1, "src2" -> 0.25, "src3" -> 0.5)
  private val stratifiedDefaultRate = 0.75

  /** Layout-advisor sample budget (q213/q216): the simulated NTILE file
    * assignment runs over at most this many rows — the deterministic
    * hash top-k (smallest md5 coin, tie-broken by key) — so its
    * single-task sort is bounded by a CONSTANT, never the table. The
    * advisor's depth conclusion is sample-invariant; the oracle samples
    * identically, so the bound itself is oracle-checked. 20k rows keep
    * every layout's depth estimate stable (hash ≈ nFiles, range ≈ 1–2,
    * z-order between — 16 files × >1k rows/file of margin) while the
    * three simulated sorts stay trivially cheap at any SF. */
  private val advisorSampleBudget = 20000

  /** q74's fixed query-term set — shared between the query and its
    * generated oracle so the two can never drift. */
  private val bm25Terms = Seq("table", "hash", "scan")

  /** Production-path twins of headline queries, timed by the bench but
    * recorded in BENCH_DETAIL's `variants` map only — the headline total
    * keeps measuring exactly the correctness-verified queries while the
    * at-scale cost stays visible next to it. Two kinds:
    *
    *   - `__prod`: hashMode=murmur3/xxh64 twins of the md5-oracle-mode
    *     queries (one MD5 digest per token is several times the production
    *     hash cost; same plan shape, only the kernel differs).
    *   - `__prefix`: q34 with the size gate forced to the prefix-filtered
    *     inverted-index plan — the path a >10⁴-doc corpus executes. The
    *     benched q34 at sf0.1 (600 docs) sits below the gate, so without
    *     this twin the scale path would have no tracked timing. */
  /** q244's lexical leg + RRF fusion over a given dense ranking
    * (qid, nid, rd) — shared by the oracle-checked exact query and its
    * IVFPQ `__prod` twin so only the CANDIDATE stage can differ.
    *
    * Lexical unit = word 3-gram shingles, NOT unigrams: the corpus
    * vocabulary is tiny and dense (31 tokens, ~78% df each — every
    * unigram is a stopword), so a unigram inverted index degenerates to
    * near-all-pairs (measured 448M candidate mass vs 2.8M for 3-grams
    * at sf0.1, a 160× cut) — the exact df-blowup a 100 TB inverted
    * index must avoid; shingling is the standard fix. Shingles via the
    * codegen'd single-pass kernel, NOT the transform(sequence,
    * slice+array_join) HOF — the HOF evaluates interpreted per shingle
    * and re-tokenizes per reference after projection collapse (measured
    * 4.4 s for 240k shingles at sf0.1 vs ~0.1 s single-pass); the
    * ≥3-token gate keeps shingles_k's whole-doc fallback from firing,
    * so short docs simply don't participate in the lexical list (the
    * oracle filters the same). */
  /** Single-scan replacement for the streaming union idiom
    * `df.filter(c1).select(row1) unionByName df.filter(c2).select(row2)`
    * (guide §6 read amplification, §2.4 remove passes outright): per
    * input row, emit exactly the branch rows whose condition holds —
    * explode of a per-row array instead of N union branches. On a
    * STREAMING source every union branch is a separate file-source leaf
    * in the physical plan, so each micro-batch reads the same parquet
    * bytes once per branch; this form reads them ONCE. The output row
    * multiset is identical to the union's (each branch struct is built
    * under the same condition its filter expressed), so watermark
    * semantics and results are unchanged — the sentinel mechanism the
    * bounded replays rely on (q77 contract) is untouched. Branch structs
    * must share one schema (same field names and types, same order). */
  private def branchRows(df: DataFrame,
                         branches: Seq[(Column, Column)]): DataFrame = {
    val arr = branches.map { case (cond, row) =>
      // slice(array(row), 1, 0): a typed empty array without a DDL
      // type-string spelling; the otherwise branch of a non-matching
      // condition contributes zero rows
      when(cond, array(row)).otherwise(slice(array(row), 1, 0))
    }.reduce(concat(_, _))
    df.select(explode(arr).as("__r")).select(col("__r.*"))
  }

  private def rrfHybrid(s: SparkSession, dir: String,
                        dense: DataFrame): DataFrame = {
    def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    val idx = Tables(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .filter(size(TextStats.tokens(lower(col("text")))) >= 3)
      .withColumn("gs", Dedup.shingles(col("text"), 3))
      .select(col("doc_id"), size(col("gs")).as("ntok"),
        explode(col("gs")).as("tok"))
    val shared = idx.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("qid"), col("ntok").as("nq"), col("tok"))
      .join(idx.select(col("doc_id").as("nid"), col("ntok").as("nn"),
        col("tok")), Seq("tok"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"), col("nq"), col("nn"))
      .agg(count(lit(1)).as("nab"))
      .withColumn("jac", round6(col("nab").cast("double") /
        (col("nq") + col("nn") - col("nab"))))
    val wl = Window.partitionBy(col("qid"))
      .orderBy(desc("jac"), asc("nid"))
    val lex = shared
      .withColumn("rl", row_number().over(wl).cast("long"))
      .filter(col("rl") <= 20)
      .select(col("qid"), col("nid"), col("rl"))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(desc("rrf"), asc("nid"))
    dense.join(lex, Seq("qid", "nid"), "full_outer")
      .withColumn("rrf", round6(
        coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0))))
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid"), col("rrf"), col("rd"), col("rl"),
        col("rank"))
      .ordered(col("qid"), col("rank"))
  }

  /** q248's greedy MMR rounds over a given candidate frame
    * (qid, nid, rel) — shared by the oracle-checked exact query and its
    * IVFPQ `__prod` twin so only the CANDIDATE stage can differ.
    *
    * Round 17 rewrote the unrolled distributed rounds (per pick:
    * anti-join remaining → max-sim aggregate over picked → windowed
    * argmax — ~15 tiny shuffles moving queries×10 rows, pure
    * stage-scheduling cost, the suite's dominant tail at 2.3–5 s) as
    * ONE aggregation: the candidate set is per-query-local by
    * construction (≤10 rows), so each query's whole greedy selection
    * folds inside a single collect_list row — one shuffle on qid, no
    * joins, no windows, no persists. The fold state is
    * (remaining, picked); each step scores remaining (msim NULL ⟹
    * round-1 ⟹ score = rel, matching the old sel1), array_sorts by
    * (score desc, nid asc) — the window's exact tie-break — then
    * updates each survivor's max-sim incrementally against the new
    * pick (greatest skips the NULL initial msim). The pairwise-sim
    * arithmetic is the identical dot/norm/round6 sequence, so scores
    * are bit-for-bit the old plan's; `VariantEquivalenceSpec`'s
    * independent Scala replay and the DuckDB greedy oracle both gate
    * it. The single-element-transform wrapper is a let-binding: `best`
    * evaluates once per step instead of once per reference.
    * 100 TB posture: work is (queries × k²·d) spread across qid
    * partitions — candidate-set-local, corpus-size-independent. */
  private def mmrRounds(emb: DataFrame, cands0: DataFrame): DataFrame = {
    val cv = cands0.join(
      emb.select(col("vec_id").as("nid"), col("embedding").as("v")),
      Seq("nid"))
    val g = cv.groupBy(col("qid"))
      .agg(collect_list(struct(col("nid"), col("rel"), col("v"))).as("cs"))
    def fld(c: Column, f: String): Column = c.getField(f)
    def sim(a: Column, b: Column): Column =
      Similarity.round6(Similarity.dot(a, b) /
        (Similarity.l2Norm(a) * Similarity.l2Norm(b)))
    // (score desc, nid asc) — row_number's ordering as a comparator
    def cmp(l: Column, r: Column): Column =
      when(fld(l, "sc") > fld(r, "sc"), -1)
        .when(fld(l, "sc") < fld(r, "sc"), 1)
        .when(fld(l, "nid") < fld(r, "nid"), -1)
        .when(fld(l, "nid") > fld(r, "nid"), 1)
        .otherwise(0)
    val init = struct(
      transform(col("cs"), x => struct(
        fld(x, "nid").as("nid"), fld(x, "rel").as("rel"),
        lit(null).cast("double").as("msim"), fld(x, "v").as("v")))
        .as("rem"),
      array().cast("array<struct<pick:int,nid:bigint,score:double>>")
        .as("picked"))
    val folded = aggregate(sequence(lit(1), lit(3)), init, (st, _) => {
      val scored = array_sort(transform(fld(st, "rem"), x => struct(
        when(fld(x, "msim").isNull, fld(x, "rel"))
          .otherwise(Similarity.round6(
            lit(0.7) * fld(x, "rel") - lit(0.3) * fld(x, "msim")))
          .as("sc"),
        fld(x, "nid").as("nid"), fld(x, "rel").as("rel"),
        fld(x, "msim").as("msim"), fld(x, "v").as("v"))), cmp)
      get(transform(array(get(scored, lit(0))), best =>
        when(best.isNull, st).otherwise(struct(
          transform(
            filter(fld(st, "rem"), x =>
              fld(x, "nid") =!= fld(best, "nid")),
            x => struct(
              fld(x, "nid").as("nid"), fld(x, "rel").as("rel"),
              greatest(fld(x, "msim"),
                sim(fld(x, "v"), fld(best, "v"))).as("msim"),
              fld(x, "v").as("v"))).as("rem"),
          concat(fld(st, "picked"), array(struct(
            (size(fld(st, "picked")) + 1).cast("int").as("pick"),
            fld(best, "nid").as("nid"),
            fld(best, "sc").as("score")))).as("picked")))),
        lit(0))
    })
    g.select(col("qid"), explode(folded.getField("picked")).as("p"))
      .select(col("qid"), col("p.pick").as("pick"),
        col("p.nid").as("nid"), col("p.score").as("score"))
  }

  /** Shared IVFPQ candidate stage for the production retrieval twins
    * (q244/q248 `__prod`): IVF cell pruning (nprobe of nlist cells) ×
    * PQ ADC scoring over the ENCODED corpus — q240's machinery, the
    * codebooks ride the plan as literals and the corpus side carries m
    * 4-bit codes instead of vectors — takes each query's candidate set
    * down to `k` WITHOUT a corpus-wide vector join; the k survivors are
    * then re-scored with the EXACT cosine over queries×k vector pairs
    * (the standard two-stage retrieval: approximate recall, exact
    * precision — so downstream scoring is bit-identical to the exact
    * sibling's wherever the candidate sets agree). Output: qid, nid,
    * cos (round6-quantized, cosineTopK's exact discipline). */
  private[graft] def ivfpqCandidates(s: SparkSession, dir: String,
                                     k: Int): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
    val corpus = emb.select(col("vec_id").as("nid"),
      col("embedding").as("nvec"))
    // CONSTANT-CELL-SIZE nlist (the flat-candidate-stage discipline):
    // with nlist fixed, cells densify as the corpus grows and the
    // per-query candidate mass is n·nprobe/nlist — linear in n (the
    // fixed-planes LSH pathology, measured in the semantic_dup scaling
    // row). Holding cell size ~512 instead (nlist = n/512, nprobe
    // fixed) pins per-query scanned candidates at ~nprobe·512 rows at
    // ANY corpus size; recall then rides the IVF bet that true
    // neighbors concentrate in the nearest cells (nprobe is the
    // recall/cost knob production tunes). Fixture-sized corpora keep
    // the oracle-stable nlist=64 (the floor), so the spec'd recall
    // tripwires and every oracle query are untouched.
    val nlist = math.max(Q39Nlist, (corpus.count() / 512L).toInt)
    val (index, _) = ivfAcquire(s, dir, corpus, nlist)
    val pq = pqState.getOrFit(dir)(
      Pq.fit(emb, "embedding", m = PqM, ksub = PqKsub))
    val encoded = Pq.encode(corpus, "nvec", pq)
      .withColumn("cell", Similarity.ivfCell(col("nvec"), index))
      .drop("nvec")
    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val queryCells = queries
      .withColumn("cell", explode(
        Similarity.ivfProbeCells(col("qvec"), index, Q39Nprobe)))
      .withColumn("qv", col("qvec").cast("array<double>"))
      .drop("qvec")
    val w = Window.partitionBy("qid").orderBy(desc("adc"), asc("nid"))
    val topAdc = queryCells.join(encoded, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("adc",
        floor(Pq.adcScore(col("qv"), pq, j => col(s"code_$j"))
          * 1e6 + 0.5) / 1e6)
      .withColumn("__cr", row_number().over(w))
      .filter(col("__cr") <= k)
      .select(col("qid"), col("nid"))
    topAdc
      .join(queries, Seq("qid"))
      .join(corpus, Seq("nid"))
      .select(col("qid"), col("nid"),
        Similarity.round6(Similarity.dot(col("qvec"), col("nvec")) /
          (Similarity.l2Norm(col("qvec")) * Similarity.l2Norm(col("nvec"))))
          .as("cos"))
  }

  def prodVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q244's fusion with the DENSE leg sourced from IVFPQ instead of
    // the exact corpus-wide cosine — the production candidate path at
    // 100 TB (the exact stage is the oracle form; SCALING measures its
    // 30× cost vs this twin's). Dense ranks re-derive from the exact
    // re-scored candidates so the fusion tail is the sibling's.
    "q244_rrf_hybrid__prod" -> ((s, dir) => {
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cos"), asc("nid"))
      val dense = ivfpqCandidates(s, dir, k = 20)
        .withColumn("rd", row_number().over(w).cast("long"))
        .select(col("qid"), col("nid"), col("rd"))
      rrfHybrid(s, dir, dense)
    }),
    // q248's MMR with IVFPQ-sourced candidates; rel is the exact
    // re-scored cosine, so rounds are bit-identical to the sibling
    // wherever the candidate sets agree (VariantEquivalenceSpec gates
    // candidate recall + same-candidate pick identity)
    "q248_mmr_rerank__prod" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      mmrRounds(emb, ivfpqCandidates(s, dir, k = 10)
          .withColumnRenamed("cos", "rel"))
        .ordered(col("qid"), col("pick"))
    }),
    "q34_dedup_groups__prefix" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      // force the prefix path; docCount skips the gating count() so the
      // timed variant measures the prefix plan alone (the outcome is
      // predetermined with cap 0 — any claimed n > 0 tips it)
      val pairs = Dedup.jaccardPairsAuto(docs, "doc_id", "text",
        shingleK = 1, threshold = 0.8, allPairsMax = 0,
        docCount = Long.MaxValue)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("label").as("group_id"))
        .ordered(col("doc_id"))
    }),
    "q17_minhash_lsh__prod" -> ((s, dir) => {
      Dedup.minhashLsh(Tables(s, dir, "documents"), "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.6,
          hashMode = "murmur3")
        .ordered(col("id_a"), col("id_b"))
    }),
    "q18_simhash__prod" -> ((s, dir) => {
      Dedup.simhashBandedPairs(
          Tables(s, dir, "documents"), "doc_id", "text", radius = 6,
          hashMode = "xxh64")
        .ordered(col("id_a"), col("id_b"))
    }),
    "q40_vocab_sketch__prod" -> ((s, dir) => {
      Tables(s, dir, "lineitem").agg(
        Sketches.kmvDistinct(col("l_orderkey"), 256, "xxh64").as("n_orders_est"),
        Sketches.kmvDistinct(col("l_partkey"), 256, "xxh64").as("n_parts_est"),
        count(lit(1)).as("n_rows"))
    }),
    "q122_cms_counts__prod" -> ((s, dir) =>
      cmsQuery(s, dir, c => shiftrightunsigned(xxhash64(c), 33))),
    // q100's merged router was a __prod twin through round 16; round 17
    // promoted it to the PRIMARY q100 path (it is row-identical and
    // ~0.5x the wall), so the twin entry is gone — the demoted
    // grid+window sibling lives on as VariantEquivalenceSpec's
    // equivalence oracle, built inline there from routeByClass.
  )

  def oracleSql: Map[String, String] =
    staticOracleSql ++ q39OracleSql ++ q76OracleSql ++ q80OracleSql ++
      q89OracleSql ++ q142OracleSql ++ q239OracleSql ++ q240OracleSql ++
      q273OracleSql ++ q294OracleSql ++ q297OracleSql ++ q298OracleSql

  /** q273's run-state oracle ([[q89OracleSql]] contract): the same
    * fitted centroids replayed for assignment, the second-best cell via
    * an index-filtered list max, exact distances through the identity
    * dist² = ‖v‖² − 2·score, and the per-cell silhouette report —
    * everything recomputed from the inlined double literals. */
  private def q273OracleSql: Map[String, String] = {
    ivfState.sole.map { case (m, _) =>
      val scores = ivfScoresSql(m)
      "q273_silhouette" ->
        s"""WITH v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           |  FROM embeddings
           |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
           |cs AS (SELECT vec_id, ev, $scores AS ss FROM v),
           |d AS (SELECT vec_id, ev, ss,
           |    list_aggregate(ss, 'max') AS smax,
           |    list_position(ss, list_aggregate(ss, 'max')) - 1 AS cell
           |  FROM cs),
           |e AS (SELECT vec_id, cell, smax,
           |    list_aggregate(list_filter(ss, (x, i) -> i - 1 != cell),
           |      'max') AS s2nd,
           |    list_sum(list_apply(ev, x -> x * x)) AS nrm2
           |  FROM d),
           |f AS (SELECT vec_id, cell,
           |    sqrt(GREATEST(nrm2 - smax * 2, 0)) AS a,
           |    sqrt(GREATEST(nrm2 - s2nd * 2, 0)) AS b
           |  FROM e),
           |h AS (SELECT cell, CASE WHEN GREATEST(a, b) > 0 THEN
           |    CAST(FLOOR((b - a) / GREATEST(a, b) * 1e6 + 0.5) AS BIGINT)
           |    END AS s6 FROM f)
           |SELECT CAST(cell AS INT) AS cell,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(COUNT(s6) AS BIGINT) AS n_scored,
           |  CAST(CASE WHEN COUNT(s6) > 0 THEN
           |    FLOOR(CAST(SUM(s6) AS DOUBLE) / COUNT(s6) + 0.5) / 1e6
           |    END AS DOUBLE) AS mean_s,
           |  CAST(CAST(MIN(s6) AS DOUBLE) / 1e6 AS DOUBLE) AS min_s,
           |  CAST(CAST(MAX(s6) AS DOUBLE) / 1e6 AS DOUBLE) AS max_s
           |FROM h GROUP BY 1 ORDER BY cell""".stripMargin
    }.toMap
  }

  // ---- PQ oracle SQL builders, shared by q239 and q240 ---------------
  private def pqZipDot(a: String, b: String): String =
    s"list_sum(list_apply(list_zip($a, $b), x -> x[1] * x[2]))"
  private def pqSubSlice(m: Pq.Model, v: String, j: Int): String =
    s"$v[${j * m.dsub + 1}:${(j + 1) * m.dsub}]"
  /** Per-subspace squared-distance arrays `d0..d{m-1}` over `ev`. */
  private def pqDistCols(m: Pq.Model): String =
    (0 until m.m).map { j =>
      m.centroids(j).map { c =>
        val lit = c.mkString("[", ",", "]")
        s"list_sum(list_apply(list_zip(${pqSubSlice(m, "ev", j)}, $lit), " +
          "x -> (x[1]-x[2])*(x[1]-x[2])))"
      }.mkString("[\n    ", ",\n    ", s"] AS d$j")
    }.mkString(",\n  ")
  /** First-min argmin codes `c0..c{m-1}` from the distance arrays. */
  private def pqCodeCols(m: Pq.Model): String =
    (0 until m.m).map(j =>
      s"list_position(d$j, list_aggregate(d$j, 'min')) - 1 AS c$j")
      .mkString(",\n    ")
  /** ADC dot of `qv` against codes `c0..c{m-1}` via codebook literals. */
  private def pqAdcExpr(m: Pq.Model): String =
    (0 until m.m).map { j =>
      val table = m.centroids(j).map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      pqZipDot(pqSubSlice(m, "qv", j), s"($table)[c$j + 1]")
    }.mkString("(", " +\n      ", ")")

  /** q239's run-state oracle ([[q39OracleSql]] contract): inline the
    * fitted PQ codebooks as double literals and replay EVERYTHING in
    * DuckDB — per-subspace squared distances (same per-element fold
    * `list_sum` order as the Spark expressions), first-min argmin
    * codes, the ADC reconstruction dot, 1e-6 floor, rank, and the
    * exact-cosine rider. Same sole-dir rule. */
  private def q239OracleSql: Map[String, String] = {
    pqState.sole.map { m =>
      val dCols = pqDistCols(m)
      val cCols = pqCodeCols(m)
      val adc = pqAdcExpr(m)
      def zipDot(a: String, b: String): String = pqZipDot(a, b)
      "q239_pq_topk" ->
        s"""WITH v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           |  FROM embeddings
           |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
           |d AS (SELECT vec_id, ev,
           |  $dCols
           |  FROM v),
           |e AS (SELECT vec_id, ev,
           |    $cCols
           |  FROM d),
           |q AS (SELECT vec_id AS qid, ev AS qv FROM v
           |  WHERE vec_id % 20 = 0),
           |p AS (SELECT q.qid, e.vec_id AS nid, q.qv, e.ev AS nv,
           |    FLOOR($adc * 1e6 + 0.5) / 1e6 AS adc
           |  FROM q JOIN e ON q.qid <> e.vec_id),
           |r AS (SELECT qid, nid, adc, qv, nv,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY adc DESC, nid ASC) AS BIGINT) AS rank
           |  FROM p)
           |SELECT qid, nid, adc,
           |  FLOOR(${zipDot("qv", "nv")} /
           |    (sqrt(${zipDot("qv", "qv")}) * sqrt(${zipDot("nv", "nv")}))
           |    * 1e6 + 0.5) / 1e6 AS cos_exact,
           |  rank
           |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    }.toMap
  }

  /** q240's run-state oracle: BOTH fitted models inlined — q39's cell
    * scores for assignment + probe selection, q239's codebooks for
    * codes + ADC — and the whole IVFPQ pipeline replayed in DuckDB.
    * Emits only when both states have a sole dir (Verify's shape). */
  private def q240OracleSql: Map[String, String] = {
    val sql = for {
      (ivf, _) <- ivfState.sole
      m <- pqState.sole
    } yield {
      val scores = ivfScoresSql(ivf)
      val cellIds = ivfCellIdsSql(ivf)
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
         |  FROM embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
         |cs AS (SELECT vec_id, ev, $scores AS ss FROM v),
         |d AS (SELECT vec_id, ev,
         |    list_position(ss, list_aggregate(ss, 'max')) - 1 AS cell,
         |  ${pqDistCols(m)}
         |  FROM cs),
         |e AS (SELECT vec_id, cell,
         |    ${pqCodeCols(m)}
         |  FROM d),
         |qp AS (SELECT vec_id AS qid, ev AS qv,
         |    UNNEST(ss) AS s, UNNEST($cellIds) AS cell
         |  FROM cs WHERE vec_id % 20 = 0),
         |qsel AS (SELECT qid, qv, cell FROM (
         |    SELECT qid, qv, cell,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY s DESC, cell ASC) AS rn
         |    FROM qp) WHERE rn <= $Q39Nprobe),
         |p AS (SELECT qsel.qid, e.vec_id AS nid,
         |    FLOOR(${pqAdcExpr(m)} * 1e6 + 0.5) / 1e6 AS adc
         |  FROM qsel JOIN e USING (cell) WHERE qsel.qid <> e.vec_id),
         |r AS (SELECT qid, nid, adc,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY adc DESC, nid ASC) AS BIGINT) AS rank
         |  FROM p)
         |SELECT qid, nid, adc, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    }
    sql.map("q240_ivfpq_topk" -> _).toList.toMap
  }

  /** q142's run-state oracle ([[q76OracleSql]] contract): inline the
    * recorded top-K (rank, token, lower-bound, offset) — all integers,
    * no float round-trip — and let DuckDB recompute the exact counts
    * independently, re-deriving every bound_ok bracket itself. A
    * degenerate corpus (no tokens) or a multi-dir JVM omits → the
    * driver's rows-only check. */
  private def q142OracleSql: Map[String, String] = {
    hhState.sole.filter(_._1.nonEmpty).map { case (top, off) =>
      def esc(s: String) = s.replace("'", "''")
      val vals = top.zipWithIndex.map { case (h, i) =>
        s"(${i + 1}, '${esc(h.key)}', ${h.count})"
      }.mkString(",\n    ")
      "q142_heavy_hitters" ->
        s"""WITH top(rank, token, est_low) AS (VALUES
           |    $vals),
           |toks AS (SELECT
           |    unnest(list_filter(string_split(lower(text),' '),
           |      t -> len(t) > 0)) AS tok
           |  FROM documents WHERE text IS NOT NULL),
           |exact AS (SELECT tok AS token, CAST(COUNT(*) AS BIGINT)
           |    AS exact_cnt FROM toks GROUP BY 1)
           |SELECT CAST(rank AS BIGINT) AS rank, token,
           |  CAST(est_low AS BIGINT) AS est_low, exact_cnt,
           |  CAST($off AS BIGINT) AS err,
           |  (est_low <= exact_cnt AND exact_cnt <= est_low + $off)
           |    AS bound_ok
           |FROM top JOIN exact USING (token) ORDER BY rank""".stripMargin
    }.toMap
  }

  /** The hand-written oracle twins, split from [[oracleSql]] so the
    * checksum manifest (ORACLE_MANIFEST.json, `graft.OracleManifest`)
    * can pin exactly these strings: the three run-state-derived oracles
    * (q39/q76/q80) are appended at dump time and are self-guarding (they
    * inline the exact fitted literals of the run, or omit themselves).
    * `OracleManifestSpec` fails NAMING any query whose string drifts —
    * the defense VERDICT r8 asked for against cross-query edit clobbers
    * (the r8 q46 incident: one over-broad replace silently split an
    * unrelated query from its oracle, caught only by a full sweep). */
  private[graft] def staticOracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))*(1-CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))*(1-CAST(l_discount AS DECIMAL(4,2)))*(1+CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)/COUNT(*)*10000+0.5)/10000 AS avg_qty,
        |FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)/COUNT(*)*10000+0.5)/10000 AS avg_disc,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |l_extendedprice*(1-l_discount) AS revenue,
        |CAST(TRUNC(l_quantity) AS INTEGER) AS qty_int
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 25
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_nation" ->
      """SELECT n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_join_priority" ->
      """SELECT o_orderpriority,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))*(1-CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The codec query's oracle asserts parse(format(x)) == x row-by-row.
    "q05_kv_roundtrip" ->
      """SELECT event_id, user_id AS user_id_p, event_id AS item_p,
        |COALESCE(event_type, '') || 'X' AS et_p
        |FROM events ORDER BY event_id""".stripMargin,

    "q06_categorify" ->
      """WITH freq AS (
        |  SELECT c_mktsegment AS v, COUNT(*) AS c FROM customer
        |  WHERE c_mktsegment IS NOT NULL GROUP BY c_mktsegment),
        |idx AS (
        |  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, v ASC) - 1 AS BIGINT) AS seg_idx
        |  FROM freq)
        |SELECT c_custkey, seg_idx FROM customer LEFT JOIN idx ON c_mktsegment = v
        |ORDER BY c_custkey""".stripMargin,

    "q07_latest_per_key" ->
      """WITH r AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, ts_us, event_type, value FROM r
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q08_asof_join" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (
        |  SELECT event_id AS f_id, user_id, epoch_us(ts) AS f_ts,
        |         event_type AS f_type, value AS f_value FROM events),
        |j AS (
        |  SELECT p.p_id, f.f_id, f.f_ts, f.f_type, f.f_value,
        |  ROW_NUMBER() OVER (PARTITION BY p.p_id
        |    ORDER BY f.f_ts DESC, f.f_id DESC) AS rn
        |  FROM p JOIN f ON p.user_id = f.user_id
        |   AND f.f_ts < p.p_ts AND f.f_ts >= p.p_ts - 604800000000)
        |SELECT p.p_id, p.user_id, p.p_ts, j.f_id, j.f_ts, j.f_type, j.f_value
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON p.p_id = j.p_id
        |ORDER BY p.p_id""".stripMargin,

    "q09_semi_join" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin,

    "q10_topk_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "q11_vocab_stats" ->
      """SELECT CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brand,
        |CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_type,
        |CAST(COUNT(DISTINCT p_size) AS BIGINT) AS n_size,
        |COUNT(*) AS n_rows FROM part""".stripMargin,

    "q12_dedup_exact" ->
      """SELECT CASE WHEN text IS NULL THEN NULL ELSE md5(COALESCE(array_to_string(list_sort(list_filter(string_split(lower(text),' '), t -> len(t) > 0)),' '), '')) END AS dedup_key,
        |CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // toks mirrors tokens_ws exactly (empty tokens from repeated/leading/
    // trailing whitespace are dropped).
    "q13_text_stats" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split(text,' '), t -> len(t) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |CAST(len(toks) AS BIGINT) AS n_tokens,
        |CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |CAST(length(text) AS BIGINT) AS len_chars,
        |CASE WHEN text IS NULL OR len(toks) = 0 THEN 0.0
        |ELSE FLOOR(CAST(len(list_filter(toks, t -> t IN ('the','a'))) AS DOUBLE)
        |  / len(toks) * 10000 + 0.5) / 10000 END AS stop_ratio
        |FROM t ORDER BY doc_id""".stripMargin,

    // Oracle recomputes the expected silver table relationally from the
    // typed events columns — generated from BronzeSilver.syntheticSpec, the
    // same single source of truth that builds the blobs (full 23 fields).
    "q14_bronze_silver" -> {
      val fieldCols = BronzeSilver.syntheticSpec.map { case (_, name, mod, src) =>
        val base = if (src == "user") "user_id" else "event_id"
        val e = if (mod == 0L) base else s"$base % $mod"
        s"CAST($e AS INTEGER) AS $name"
      }.mkString(",\n")
      s"""WITH s AS (
         |  SELECT event_id, user_id,
         |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS click,
         |  CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS conversion
         |  FROM events)
         |SELECT event_id AS sample_id,
         |$fieldCols,
         |click, conversion
         |FROM s WHERE NOT (click = 0 AND conversion = 1)
         |ORDER BY sample_id""".stripMargin
    },

    "q15_gold_transform" ->
      """WITH base AS (
        |  SELECT c_custkey, c_mktsegment, n_name FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE c_mktsegment IS NOT NULL AND n_name IS NOT NULL),
        |f1 AS (SELECT c_mktsegment AS v, COUNT(*) AS c FROM base GROUP BY 1),
        |i1 AS (SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, v ASC) - 1 AS BIGINT) AS idx FROM f1),
        |f2 AS (SELECT n_name AS v, COUNT(*) AS c FROM base GROUP BY 1),
        |i2 AS (SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, v ASC) - 1 AS BIGINT) AS idx FROM f2)
        |SELECT c_custkey, i1.idx AS seg_idx, i2.idx AS nat_idx
        |FROM base JOIN i1 ON c_mktsegment = i1.v JOIN i2 ON n_name = i2.v
        |ORDER BY c_custkey""".stripMargin,

    // toks mirrors Dedup.shingles(k=1) INCLUDING its whole-doc fallback:
    // an empty/whitespace-only doc shingles to [''] (not []), so two empty
    // docs are jaccard-1.0 duplicates in both engines (DuckDB would give
    // 0/0 -> NULL on bare empty lists)
    "q16_ngram_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id, CASE WHEN len(list_filter(string_split(lower(text),' '), t -> len(t) > 0)) = 0
        |    THEN [''] ELSE list_distinct(list_filter(string_split(lower(text),' '), t -> len(t) > 0)) END AS toks
        |  FROM documents WHERE doc_id % 10 = 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        |  FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // q17/q18 run their kernels in hashMode=md5 (graft.parse.Md5Hash ==
    // DuckDB md5_number_lower), so the oracle recomputes the per-token
    // hashes — and everything downstream — independently in SQL.

    // MinHash signatures from the same (a_i, b_i) permutation stream the
    // kernel derives from seed 42 (inlined as literals below), base hash
    // md5_number_lower >> 33 (31 bits: a*h+b stays under 2^62, overflow-
    // free in both engines' BIGINTs). Candidacy = some raw signature band
    // agrees (the engine joins on the slice itself, not a hash of it),
    // then exact Jaccard >= 0.6.
    "q17_minhash_lsh" -> {
      val rnd = new scala.util.Random(42L)
      val params = Seq.fill(32)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong ->
        rnd.nextInt(Int.MaxValue).toLong)
      val sigExprs = params.map { case (a, b) =>
        s"list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647))"
      }.mkString("[\n        ", ",\n        ", "]")
      val bandEq = (0 until 8).map { bnd =>
        val lo = bnd * 4 + 1
        val hi = bnd * 4 + 4
        s"a.sig[$lo:$hi] = b.sig[$lo:$hi]"
      }.mkString(" OR ")
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (
         |  SELECT doc_id, CASE WHEN len(toks) >= 3
         |    THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
         |    ELSE [COALESCE(array_to_string(toks, ' '), '')] END AS sh
         |  FROM t),
         |mh AS (
         |  SELECT doc_id, sh, list_transform(sh, tok -> (md5_number_lower(tok) >> 33)::BIGINT) AS hs
         |  FROM s),
         |sig AS (SELECT doc_id, sh, $sigExprs AS sig FROM mh),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
         |  FROM sig a, sig b
         |  WHERE a.doc_id < b.doc_id AND ($bandEq)),
         |j AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
         |      (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
         |  FROM p)
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.6
         |ORDER BY id_a, id_b""".stripMargin
    },

    // SimHash fingerprints recomputed bit-for-bit (per-token
    // md5_number_lower, sign-vote per bit), then EXACT all-pairs hamming
    // at radius 6 — which the engine's banded pigeonhole join provably
    // equals (DedupSpec asserts set equality per mode).
    "q18_simhash" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, md5_number_lower(tok) AS h FROM t),
        |v AS (
        |  SELECT doc_id, r.j,
        |    SUM(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h, range(64) r(j)
        |  GROUP BY doc_id, r.j),
        |sh0 AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN vote > 0 THEN 1::UBIGINT << j ELSE 0::UBIGINT END) AS UBIGINT) AS sh
        |  FROM v GROUP BY doc_id),
        |sh AS (
        |  SELECT d.doc_id, COALESCE(s.sh, 0::UBIGINT) AS sh
        |  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
        |  LEFT JOIN sh0 s USING (doc_id)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    "q19_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |p AS (
        |  SELECT qid, nid,
        |  FLOOR(list_sum(list_apply(list_zip(qv, nv), x -> x[1] * x[2])) /
        |    (sqrt(list_sum(list_apply(qv, x -> x * x))) *
        |     sqrt(list_sum(list_apply(nv, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
        |  FROM q, c WHERE qid <> nid),
        |r AS (SELECT qid, nid, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS BIGINT) AS rank
        |  FROM p)
        |SELECT qid, nid, cos, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // Hyperplane-LSH ANN, fully recomputed: the 8 tables x 4 planes of
    // seeded gaussians are inlined as double literals (shortest-repr
    // round-trip, so both engines hold bit-identical planes), bucket bits
    // are sign tests on the same left-to-right dot fold q19 already
    // proves cross-engine, candidacy = some table's bucket agrees, then
    // the q19 cosine/rank pipeline. Deterministic end to end — no float
    // knife-edge beyond the sign test on identical doubles.
    "q24_ann_topk" -> {
      val rnd = new scala.util.Random(42L)
      // identical stream to Similarity.hyperplaneBuckets(dim=64, planes=4,
      // tables=16, seed=42): tables outer, planes inner, 64 gaussians each
      val tablesPlanes: Seq[Seq[Array[Double]]] = Seq.fill(16)(
        Seq.fill(4)(Array.fill(64)(rnd.nextGaussian())))
      def dotSql(v: String, plane: Array[Double]): String =
        s"list_sum(list_apply(list_zip($v, [${plane.mkString(",")}]), x -> x[1] * x[2]))"
      def bucketSql(v: String, t: Int): String =
        tablesPlanes(t).zipWithIndex.map { case (pl, i) =>
          s"(CASE WHEN ${dotSql(v, pl)} >= 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString("(", " + ", ")")
      val bucketCols = (0 until 16).map(t => s"${bucketSql("ev", t)} AS b$t")
        .mkString(",\n    ")
      val bandMatch = (0 until 16).map(t => s"q.b$t = c.b$t").mkString(" OR ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |b AS (
         |  SELECT vec_id, ev,
         |    $bucketCols
         |  FROM v),
         |q AS (SELECT * FROM b WHERE vec_id % 20 = 0),
         |c AS (SELECT * FROM b),
         |p AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    FLOOR(list_sum(list_apply(list_zip(q.ev, c.ev), x -> x[1] * x[2])) /
         |      (sqrt(list_sum(list_apply(q.ev, x -> x * x))) *
         |       sqrt(list_sum(list_apply(c.ev, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
         |  FROM q, c WHERE q.vec_id <> c.vec_id AND ($bandMatch)),
         |r AS (SELECT qid, nid, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS BIGINT) AS rank
         |  FROM p)
         |SELECT qid, nid, cos, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },

    // KMV sketch recomputed exactly: distinct values -> md5_number_lower
    // reinterpreted signed (the engine orders k-minimums over SIGNED
    // longs) -> k smallest -> (k-1)/u_k estimate with the identical double
    // constant and floor(x+0.5) rounding (Java Math.round).
    "q40_vocab_sketch" -> {
      def est(key: String): String =
        s"""(WITH h AS (
           |  SELECT DISTINCT (CASE WHEN h0 >= 9223372036854775808::UBIGINT
           |    THEN CAST(h0::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
           |    ELSE CAST(h0 AS BIGINT) END) AS sh
           |  FROM (SELECT md5_number_lower(CAST($key AS VARCHAR)) AS h0
           |        FROM (SELECT DISTINCT $key FROM lineitem))),
           |k AS (SELECT sh FROM h ORDER BY sh LIMIT 256),
           |a AS (SELECT COUNT(*) AS cnt, MAX(sh) AS kth FROM k)
           |SELECT CASE WHEN cnt < 256 THEN cnt
           |  ELSE CAST(FLOOR(255.0 / ((CAST(kth AS DOUBLE) / 1.8446744073709552e19) + 0.5) + 0.5) AS BIGINT) END
           |FROM a)""".stripMargin
      s"""SELECT
         |${est("l_orderkey")} AS n_orders_est,
         |${est("l_partkey")} AS n_parts_est,
         |(SELECT COUNT(*) FROM lineitem) AS n_rows""".stripMargin
    },

    // Same dot-fold as the Spark kernel (list_sum folds left-to-right like
    // aggregate(zip_with)), round6 for reproducible threshold comparison.
    "q56_cosine_neardup" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |p AS (
        |  SELECT qid, nid,
        |  FLOOR(list_sum(list_apply(list_zip(qv, nv), x -> x[1] * x[2])) /
        |    (sqrt(list_sum(list_apply(qv, x -> x * x))) *
        |     sqrt(list_sum(list_apply(nv, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
        |  FROM q, c WHERE qid <> nid)
        |SELECT qid, nid, cos FROM p WHERE cos >= 0.3
        |ORDER BY qid, nid""".stripMargin,

    // quantile_cont == Spark's exact percentile() (same linear
    // interpolation at p*(n-1) over the sorted values)
    "q57_percentiles" ->
      """SELECT l_returnflag,
        |quantile_cont(l_quantity, 0.25) AS p25,
        |quantile_cont(l_quantity, 0.5) AS p50,
        |quantile_cont(l_quantity, 0.75) AS p75,
        |quantile_cont(l_extendedprice, 0.9) AS price_p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // expected metadata recomputed arithmetically from the same doc_id
    // derivation the Spark side encodes into the PNG/JPEG/GIF bytes
    "q58_media_meta" ->
      """SELECT doc_id,
        |CASE doc_id % 4 WHEN 2 THEN 'jpeg' WHEN 3 THEN 'gif'
        |     ELSE 'png' END AS kind,
        |CAST(doc_id % 1000 + 1 AS INT) AS width,
        |CAST(doc_id % 777 + 1 AS INT) AS height,
        |CAST(CASE WHEN doc_id % 4 = 1 THEN 4 ELSE 3 END AS INT) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q59_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text),' '), t -> len(t) > 0)) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, tok, tf, df,
        |CAST(tf * n_docs AS DOUBLE) / df AS tfidf
        |FROM tf JOIN dfreq USING (tok) CROSS JOIN n
        |WHERE tf >= 3 ORDER BY doc_id, tok""".stripMargin,

    "q60_split" ->
      """SELECT doc_id,
        |substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hash_bucket,
        |CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |     ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // composition of the q20 (lang), q21 (quality), q13 (tokens), q12
    // (fingerprint) oracle formulas with the same thresholds
    "q61_corpus_clean" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |  list_filter(string_split(text,' '), x -> len(x) > 0) AS toks,
        |  list_filter(string_split(lower(text),' '), x -> len(x) > 0) AS ltoks
        |  FROM documents),
        |lang AS (SELECT doc_id, CASE
        |  WHEN COALESCE(greatest(s_de,s_en,s_es,s_fr,s_zh), 0) = 0 THEN 'und'
        |  WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
        |  WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
        |  WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
        |  WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
        |  ELSE 'zh' END AS lang
        |  FROM (SELECT doc_id,
        |    len(list_filter(ltoks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
        |    len(list_filter(ltoks, x -> x IN ('the','and','of','to','a','in','is','that'))) AS s_en,
        |    len(list_filter(ltoks, x -> x IN ('el','la','de','que','y','en','un','es'))) AS s_es,
        |    len(list_filter(ltoks, x -> x IN ('le','la','les','et','un','est','que','pour'))) AS s_fr,
        |    len(list_filter(ltoks, x -> x IN ('的','了','是','我','不'))) AS s_zh
        |    FROM t)),
        |q AS (SELECT doc_id,
        |  FLOOR((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
        |    + (CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END)
        |    + (1.0 - least((CASE WHEN length(text) > 0 THEN
        |        CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
        |        ELSE 0.0 END) * 5.0, 1.0))) / 3.0 * 1e6 + 0.5) / 1e6 AS quality,
        |  CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM t),
        |f AS (SELECT doc_id, md5(COALESCE(array_to_string(list_sort(ltoks),' '), '')) AS fp FROM t),
        |k AS (SELECT fp, MIN(doc_id) AS doc_id FROM f GROUP BY 1)
        |SELECT doc_id, lang, quality, n_tokens
        |FROM k JOIN lang USING (doc_id) JOIN q USING (doc_id)
        |WHERE lang = 'en' AND quality >= 0.55 AND n_tokens BETWEEN 5 AND 5000
        |ORDER BY doc_id""".stripMargin,

    // oracle = the UNSALTED join/aggregate: salting must be invisible
    "q62_salted_join" ->
      """WITH u AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1)
        |SELECT e.user_id, u.n_events, COUNT(*) AS n_joined,
        |CAST(SUM(CAST(FLOOR(e.value * 1e4 + 0.5) / 1e4 AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events e JOIN u USING (user_id)
        |GROUP BY 1, 2 ORDER BY e.user_id""".stripMargin,

    "q20_langid" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','es'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','un','est','que','pour'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('的','了','是','我','不'))) AS s_zh
        |  FROM t)
        |SELECT doc_id, CASE
        |  WHEN COALESCE(greatest(s_de,s_en,s_es,s_fr,s_zh), 0) = 0 THEN 'und'
        |  WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
        |  WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
        |  WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
        |  WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
        |  ELSE 'zh' END AS lang_guess
        |FROM s ORDER BY doc_id""".stripMargin,

    "q21_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |  len(list_filter(string_split(text,' '), x -> len(x) > 0)) AS n
        |  FROM documents),
        |s AS (SELECT doc_id, n,
        |  least(CAST(n AS DOUBLE) / 50.0, 1.0) AS len_score,
        |  CASE WHEN n > 0 THEN CAST(len(list_distinct(list_filter(string_split(text,' '), x -> len(x) > 0))) AS DOUBLE) / n ELSE 0.0 END AS div_score,
        |  1.0 - least((CASE WHEN length(text) > 0 THEN
        |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
        |    ELSE 0.0 END) * 5.0, 1.0) AS punct_score,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish
        |  FROM t)
        |SELECT doc_id,
        |FLOOR((len_score + div_score + punct_score) / 3.0 * 1e6 + 0.5) / 1e6 AS quality,
        |CAST(n_bpeish AS BIGINT) AS n_bpeish
        |FROM s ORDER BY doc_id""".stripMargin,

    "q22_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q23_stream_latest" ->
      """WITH r AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, ts_us, event_type, value FROM r
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,


    "q28_online_lookup" ->
      """WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts_us, event_id, event_type, value FROM r
        |WHERE rn = 1 AND user_id % 5 = 0 ORDER BY user_id""".stripMargin,

    "q25_window_analytics" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |LAG(event_type, 1) OVER w AS prev_type,
        |MIN(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_min
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, rn""".stripMargin,

    "q29_json_roundtrip" ->
      """SELECT user_id, event_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,

    "q30_tumbling_window" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS w_start,
        |event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // bucketing must be invisible: oracle is the plain join + aggregate
    "q64_bucketed_join" ->
      """SELECT c_custkey, c_mktsegment, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY c_custkey""".stripMargin,

    // the streaming result must equal the batch aggregation of the same
    // bounded input — exactly-once over AvailableNow
    "q63_stream_window" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS w_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(FLOOR(value * 1e4 + 0.5) / 1e4 AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "q26_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
        |  GROUPING(l_returnflag), GROUPING(l_linestatus)""".stripMargin,

    "q34_dedup_groups" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, CASE WHEN len(list_filter(string_split(lower(text),' '), t -> len(t) > 0)) = 0
        |    THEN [''] ELSE list_distinct(list_filter(string_split(lower(text),' '), t -> len(t) > 0)) END AS toks
        |  FROM documents WHERE doc_id % 10 = 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |edges AS (
        |  SELECT id_a AS s, id_b AS d FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |closure(n, m) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT c.n, e.d FROM closure c JOIN edges e ON c.m = e.s)
        |SELECT n AS doc_id, LEAST(n, MIN(m)) AS group_id
        |FROM closure GROUP BY n ORDER BY doc_id""".stripMargin,

    // Session semantics: consecutive events < 30 min apart merge; Spark's
    // session_window is half-open [ts, ts+gap), so an event exactly gap
    // later starts a NEW session — hence >= in the break condition. Session
    // end = last event + gap. Oracle rebuilds sessions with lag + running
    // sum of gap-breaks.
    "q32_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |o AS (SELECT user_id, tu,
        |  CASE WHEN LAG(tu) OVER w IS NULL
        |       OR tu - LAG(tu) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu)),
        |s AS (SELECT user_id, tu,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY tu
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(tu) AS s_start, MAX(tu) + 1800000000 AS s_end,
        |COUNT(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    "q33_doc_freq" ->
      """SELECT tok, COUNT(*) AS df FROM (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split(lower(text),' '), t -> len(t) > 0))) AS tok
        |  FROM documents) t
        |GROUP BY tok HAVING COUNT(*) >= 50
        |ORDER BY df DESC, tok ASC""".stripMargin,

    // l_quantity is integral-valued: double partial sums are exact, so the
    // salted two-phase result is order-independent and engine-exact.
    "q31_salted_agg" ->
      """SELECT l_returnflag,
        |CAST(CAST(SUM(l_quantity) AS DECIMAL(14,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q54_array_funcs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |  list_filter(string_split(lower(text),' '), x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |CAST(len(toks) AS BIGINT) AS n,
        |CASE WHEN toks IS NULL THEN NULL ELSE COALESCE(array_to_string(list_sort(list_distinct(toks))[1:3], ','), '') END AS first3,
        |toks[1] AS head_tok,
        |toks[-1] AS last_tok,
        |COALESCE(list_contains(toks, 'spark'), false) AS has_spark,
        |CAST(len(list_filter(toks, x -> x <> 'the')) AS BIGINT) AS n_no_the
        |FROM t ORDER BY doc_id""".stripMargin,

    "q55_map_funcs" ->
      """SELECT event_id,
        |CAST(2 AS BIGINT) AS n_keys,
        |'101,205' AS keys_sorted,
        |array_to_string(list_sort([COALESCE(CAST(user_id AS VARCHAR), ''),
        |  COALESCE(CAST(event_id % 100 AS VARCHAR), '')]), ',') AS vals_sorted,
        |COALESCE(CAST(user_id AS VARCHAR), '') AS v101
        |FROM events ORDER BY event_id""".stripMargin,

    // inclusive ts (strict=false), TTL 3 days, newest-first tie-break on id
    "q53_historical_features" ->
      """WITH en AS (
        |  SELECT event_id AS e_id, user_id, epoch_us(ts) AS e_ts
        |  FROM events WHERE event_type = 'signup'),
        |f AS (SELECT user_id, epoch_us(ts) AS f_ts, event_id AS f_id, value AS f_value
        |  FROM events),
        |j AS (
        |  SELECT en.e_id, f.f_id, f.f_value,
        |  ROW_NUMBER() OVER (PARTITION BY en.e_id
        |    ORDER BY f.f_ts DESC, f.f_id DESC) AS rn
        |  FROM en JOIN f ON en.user_id = f.user_id
        |   AND f.f_ts <= en.e_ts AND f.f_ts >= en.e_ts - 259200000000)
        |SELECT en.e_id, en.user_id, en.e_ts, j.f_id, j.f_value
        |FROM en LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON en.e_id = j.e_id
        |ORDER BY en.e_id""".stripMargin,

    "q52_interval_join" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |o AS (SELECT event_id AS o_id, user_id, epoch_us(ts) AS o_ts FROM events)
        |SELECT p.p_id, COUNT(o.o_id) AS n_nearby
        |FROM p LEFT JOIN o ON p.user_id = o.user_id
        |  AND o.o_ts >= p.p_ts - 3600000000 AND o.o_ts <= p.p_ts + 3600000000
        |  AND o.o_id <> p.p_id
        |GROUP BY p.p_id ORDER BY p.p_id""".stripMargin,

    "q49_null_semantics" ->
      """SELECT event_id,
        |COALESCE(props, '<none>') AS props_or_default,
        |NULLIF(event_type, 'error') AS type_or_null,
        |props IS NULL AS props_is_null
        |FROM events ORDER BY event_id""".stripMargin,

    "q50_string_funcs" ->
      """SELECT c_custkey,
        |UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
        |CAST(LENGTH(TRIM(c_name)) AS BIGINT) AS len_trim,
        |LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        |SUBSTRING(c_name, 1, 8) AS prefix,
        |CONCAT_WS('|', c_mktsegment, c_name) AS joined,
        |TRANSLATE(c_name, '#', '-') AS translated,
        |CAST(INSTR(c_name, '0') AS BIGINT) AS pos0
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // DuckDB dayofweek: Sunday=0; Spark: Sunday=1 — oracle adds 1.
    "q51_datetime_funcs" ->
      """SELECT o_orderkey,
        |CAST(YEAR(o_orderdate) AS BIGINT) AS y,
        |CAST(MONTH(o_orderdate) AS BIGINT) AS m,
        |CAST(DAYOFMONTH(o_orderdate) AS BIGINT) AS d,
        |CAST(DAYOFWEEK(o_orderdate) + 1 AS BIGINT) AS dow,
        |DATE_TRUNC('month', o_orderdate) AS month_start,
        |CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q47_grouping_flags" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, g_rf, g_ls""".stripMargin,

    "q48_median" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
        |  COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag, SUM(l_quantity) / COUNT(*) AS median_qty
        |FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q44_ship_priority" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))*(1-CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin,

    // Recomputes the winnowed Rabin-Karp fingerprint (RollingHashExpr: k=8,
    // w=4, base 1000003 mod 2^31-1, rightmost-tie window minimum) in pure
    // DuckDB list lambdas, then the same inverted-index pair count. The
    // sequential `lastPos` in the kernel's winnow equals the previous
    // window's argmin, so "record when minpos[i] != minpos[i-1]" reproduces
    // it exactly. Docs are ASCII, so ord() == Java charAt.
    "q46_rolling_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id % 10 = 0
        |),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN n < 8 THEN
        |      [list_reduce(list_prepend(0::BIGINT, list_transform(range(1, n+1), j -> ord(text[j])::BIGINT)),
        |         (h, c) -> (h * 1000003 + c) % 2147483647)]
        |    ELSE
        |      list_transform(range(1, n - 8 + 2), i ->
        |        list_reduce(list_prepend(0::BIGINT, list_transform(range(i, i + 8), j -> ord(text[j])::BIGINT)),
        |          (h, c) -> (h * 1000003 + c) % 2147483647))
        |    END AS grams
        |  FROM d
        |),
        |m AS (
        |  SELECT doc_id, grams, len(grams) AS ng,
        |    CASE WHEN len(grams) < 4 THEN [0]
        |    ELSE list_transform(range(0, len(grams) - 4 + 1), w0 ->
        |      w0 + list_max(list_transform(range(0, 4), t ->
        |        CASE WHEN grams[(w0 + t + 1)::INT] = list_min(grams[(w0+1)::INT : (w0+4)::INT]) THEN t ELSE -1 END)))
        |    END AS minpos
        |  FROM g
        |),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN ng < 4 THEN [grams[1]]
        |    ELSE list_filter(
        |      list_transform(minpos, (p, i) ->
        |        CASE WHEN i = 1 OR p != minpos[i-1] THEN grams[(p+1)::INT] ELSE NULL END),
        |      x -> x IS NOT NULL)
        |    END AS fps
        |  FROM m
        |),
        |e AS (SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM f)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        |FROM e a JOIN e b USING (fp) WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 8 ORDER BY id_a, id_b""".stripMargin,

    "q45_cond_agg" ->
      """SELECT l_linestatus,
        |CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    // NOT EXISTS, not NOT IN: a single NULL o_custkey would make NOT IN
    // return the empty set while left_anti ignores NULL right keys
    "q41_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q42_exists_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,

    "q43_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 2 * (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |         / COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q38_sql_surface" ->
      """SELECT user_id, COUNT(*) AS n_purchases,
        |MIN(epoch_us(ts)) AS first_ts, MAX(epoch_us(ts)) AS last_ts
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id HAVING COUNT(*) >= 2
        |ORDER BY user_id""".stripMargin,

    "q35_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q36_pivot" ->
      """SELECT user_id,
        |COUNT(*) FILTER (event_type = 'click') AS click,
        |COUNT(*) FILTER (event_type = 'view') AS view,
        |COUNT(*) FILTER (event_type = 'purchase') AS purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q37_regex" ->
      """SELECT doc_id,
        |CASE WHEN text IS NULL THEN NULL ELSE coalesce(regexp_extract(text, '[a-z]+[0-9]+'), '') END AS first_alnum,
        |CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q27_setops" ->
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') t
        |ORDER BY o_custkey""".stripMargin,

    // Same whitespace tokenizer as q13 (empty fragments dropped, NULL ->
    // 0 tokens via COALESCE on both sides); cum/2048 is float division in
    // both engines and FLOOR output is integral-exact, so the BIGINT cast
    // is safe (a direct double cast would truncate in Spark, round here).
    "q65_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |  COALESCE(CAST(len(list_filter(string_split(text,' '), t -> len(t) > 0)) AS BIGINT), 0) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (
        |    PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(FLOOR(cum_before / 2048) AS BIGINT) AS pack_id
        |FROM c ORDER BY source, doc_id""".stripMargin,

    // q17's pair construction + q67's closure + q21's quality, stitched:
    // verified pairs -> transitive closure -> min-label groups -> best
    // quality (desc, id asc) per group via FIRST_VALUE. Docs outside any
    // pair are singleton groups keeping themselves.
    "q83_keep_best" -> {
      val rnd = new scala.util.Random(42L)
      val params = Seq.fill(32)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong ->
        rnd.nextInt(Int.MaxValue).toLong)
      val sigExprs = params.map { case (a, b) =>
        s"list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647))"
      }.mkString("[\n        ", ",\n        ", "]")
      val bandEq = (0 until 8).map { bnd =>
        val lo = bnd * 4 + 1
        val hi = bnd * 4 + 4
        s"a.sig[$lo:$hi] = b.sig[$lo:$hi]"
      }.mkString(" OR ")
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, text, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (
         |  SELECT doc_id, CASE WHEN len(toks) >= 3
         |    THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
         |    ELSE [COALESCE(array_to_string(toks, ' '), '')] END AS sh
         |  FROM t),
         |mh AS (
         |  SELECT doc_id, sh, list_transform(sh, tok -> (md5_number_lower(tok) >> 33)::BIGINT) AS hs
         |  FROM s),
         |sig AS (SELECT doc_id, sh, $sigExprs AS sig FROM mh),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
         |  FROM sig a, sig b
         |  WHERE a.doc_id < b.doc_id AND ($bandEq)),
         |pj AS (
         |  SELECT id_a, id_b FROM p
         |  WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
         |    (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.6),
         |edges AS (
         |  SELECT id_a AS s0, id_b AS d0 FROM pj
         |  UNION ALL SELECT id_b, id_a FROM pj),
         |closure(n, m) AS (
         |  SELECT s0, d0 FROM edges
         |  UNION
         |  SELECT c2.n, e.d0 FROM closure c2 JOIN edges e ON c2.m = e.s0),
         |lbl AS (SELECT n, LEAST(n, MIN(m)) AS label FROM closure GROUP BY n),
         |qn AS (
         |  SELECT doc_id, text, len(list_filter(string_split(text,' '), x -> len(x) > 0)) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |qual AS (SELECT doc_id,
         |  FLOOR((least(CAST(n AS DOUBLE) / 50.0, 1.0) +
         |    (CASE WHEN n > 0 THEN CAST(len(list_distinct(list_filter(string_split(text,' '), x -> len(x) > 0))) AS DOUBLE) / n ELSE 0.0 END) +
         |    (1.0 - least((CASE WHEN length(text) > 0 THEN
         |      CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
         |      ELSE 0.0 END) * 5.0, 1.0))) / 3.0 * 1e6 + 0.5) / 1e6 AS quality
         |  FROM qn),
         |g AS (
         |  SELECT q.doc_id, COALESCE(l.label, q.doc_id) AS group_id, q.quality
         |  FROM qual q LEFT JOIN lbl l ON q.doc_id = l.n),
         |k AS (
         |  SELECT doc_id, group_id,
         |    FIRST_VALUE(doc_id) OVER (PARTITION BY group_id
         |      ORDER BY quality DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_id
         |  FROM g)
         |SELECT doc_id, group_id, keep_id FROM k ORDER BY doc_id""".stripMargin
    },

    // Corpus report rebuilt literally: q83's quality expression (shared
    // rounding), md5 content fingerprints for corpus-wide exact-dup
    // groups, decimal-summed quality, and the floor-1e6 means.
    "q90_corpus_report" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
        |qn AS (SELECT doc_id, source, text,
        |  len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n FROM d),
        |b AS (SELECT doc_id, source, CAST(n AS BIGINT) AS n_tok,
        |  CAST(FLOOR((least(CAST(n AS DOUBLE) / 50.0, 1.0) +
        |    (CASE WHEN n > 0 THEN CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> len(x) > 0))) AS DOUBLE) / n ELSE 0.0 END) +
        |    (1.0 - least((CASE WHEN length(text) > 0 THEN
        |      CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
        |      ELSE 0.0 END) * 5.0, 1.0))) / 3.0 * 1e6 + 0.5) / 1e6 AS DECIMAL(18,12)) AS q,
        |  md5(text) AS fp
        |  FROM qn),
        |f AS (SELECT fp, COUNT(*) AS fpc FROM b GROUP BY fp),
        |g AS (SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  SUM(q) AS sq,
        |  CAST(SUM(CASE WHEN fpc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
        |  FROM b JOIN f USING (fp) GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  FLOOR(CAST(n_tokens AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 AS avg_tokens,
        |  FLOOR(CAST(sq AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 AS mean_quality,
        |  n_dup_docs
        |FROM g ORDER BY source""".stripMargin,

    // Gopher line-repetition rules rebuilt literally: non-empty trimmed
    // split on chr(10), per-(doc, line) counts, per-doc fractions with the
    // shared floor-1e6 rounding; the keep thresholds compare the ROUNDED
    // doubles on both sides, so the decision boundary is exact.
    "q84_line_repetition" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |l AS (SELECT doc_id,
        |  unnest(list_filter(string_split(text, chr(10)), x -> len(trim(x)) > 0)) AS line
        |  FROM d),
        |g AS (SELECT doc_id, line, len(line) AS ln, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM l GROUP BY doc_id, line),
        |p AS (SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_lines,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN ln * cnt ELSE 0 END) AS BIGINT) AS dup_chars,
        |  CAST(SUM(ln * cnt) AS BIGINT) AS tot_chars
        |  FROM g GROUP BY doc_id),
        |j AS (SELECT d.doc_id,
        |  COALESCE(n_lines, 0) AS n_lines,
        |  COALESCE(n_distinct_lines, 0) AS n_distinct_lines,
        |  COALESCE(dup_chars, 0) AS dup_chars,
        |  COALESCE(tot_chars, 0) AS tot_chars
        |  FROM d LEFT JOIN p ON d.doc_id = p.doc_id),
        |r AS (SELECT doc_id, n_lines, n_distinct_lines,
        |  CASE WHEN n_lines > 0
        |    THEN FLOOR((CAST(n_lines - n_distinct_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN tot_chars > 0
        |    THEN FLOOR((CAST(dup_chars AS DOUBLE) / CAST(tot_chars AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS dup_char_frac
        |  FROM j)
        |SELECT doc_id, n_lines, n_distinct_lines, dup_line_frac, dup_char_frac,
        |  CAST(CASE WHEN dup_line_frac <= 0.3 AND dup_char_frac <= 0.2
        |    THEN 1 ELSE 0 END AS INT) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // Paragraph dedup rebuilt literally: unnest + generate_subscripts
    // expand in lockstep (0-based pos matching posexplode), first
    // occurrence by (doc_id, pos) per exact paragraph value, reassembly
    // via ORDER BY string_agg.
    "q85_paragraph_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |x AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |p AS (SELECT doc_id, unnest(ls) AS para,
        |  CAST(generate_subscripts(ls, 1) - 1 AS INT) AS pos FROM x),
        |f AS (SELECT doc_id, pos, para FROM p WHERE len(trim(para)) > 0),
        |k AS (SELECT doc_id, pos, para,
        |  ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
        |  FROM f)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  string_agg(para, chr(10) ORDER BY pos) AS new_text
        |FROM k WHERE rk = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The shuffle's SEMANTIC definition: one ROW_NUMBER per shard over the
    // 31-bit md5 key — the engine side must reproduce this exactly from
    // its range-bucketed distributed prefix sum (q65's decomposition);
    // hash equality proves the decomposition introduces no off-by-one at
    // any bucket boundary.
    "q86_seeded_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |  CAST(md5_number_lower(concat('shuf42:', CAST(doc_id AS VARCHAR))) >> 33 AS BIGINT) AS u
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, CAST(u % 8 AS INT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY u % 8 ORDER BY u, doc_id) AS BIGINT) AS pos
        |FROM k ORDER BY doc_id""".stripMargin,

    // q65's windowed ground truth partitioned by the length bucket; the
    // bucket is the binary-string length of max(n_tokens, 1) — exact
    // integer log2 in both engines.
    "q82_bucketed_pack" ->
      """WITH t AS (SELECT doc_id,
        |  COALESCE(CAST(len(list_filter(string_split(text,' '), t -> len(t) > 0)) AS BIGINT), 0) AS n_tokens
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |  CAST(length(format('{:b}', greatest(n_tokens, 1))) AS BIGINT) AS len_bucket
        |  FROM t),
        |c AS (SELECT doc_id, len_bucket, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (
        |    PARTITION BY len_bucket ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM b)
        |SELECT doc_id, len_bucket, n_tokens,
        |  CAST(FLOOR(cum_before / 2048) AS BIGINT) AS pack_id
        |FROM c ORDER BY len_bucket, doc_id""".stripMargin,

    // md5_number_lower >> 33 is the same 31-bit value as the engine's
    // md5_lower64 >>> 33 (unsigned in DuckDB, logical shift of the signed
    // long in Spark — top 33 bits discarded either way); /2^31 is exact.
    "q66_stratified_sample" -> {
      val cases = stratifiedRates
        .map { case (s0, r) => s"WHEN '$s0' THEN $r" }.mkString(" ")
      s"""WITH h AS (SELECT doc_id, source,
         |  CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) >> 33 AS DOUBLE)
         |    / 2147483648.0 AS u
         |  FROM documents)
         |SELECT doc_id, source, u FROM h
         |WHERE u < CASE source $cases ELSE $stratifiedDefaultRate END
         |ORDER BY doc_id""".stripMargin
    },

    // per column: the aggregate battery + q130's register SQL over the
    // micro-unit-string hashes, one CTE chain per column, unioned
    "q168_analyze" -> {
      def one(c: String) =
        s"""h_$c AS (SELECT (md5_number_lower(CAST(CAST(FLOOR($c*1e6+0.5)
           |    AS BIGINT) AS VARCHAR)) >> 33)::BIGINT AS h
           |  FROM lineitem WHERE $c IS NOT NULL),
           |r_$c AS (SELECT (h >> 23) AS idx,
           |  MAX(CASE WHEN (h & 8388607) = 0 THEN 24
           |      ELSE 23 - length(bin(h & 8388607)) + 1 END) AS rho
           |  FROM h_$c GROUP BY 1),
           |s_$c AS (SELECT
           |  SUM(CAST(1.0 AS DOUBLE)/(1 << rho)) + (256 - COUNT(*)) AS S
           |  FROM r_$c),
           |st_$c AS (SELECT '$c' AS col_name, COUNT(*) AS n,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(MIN($c) AS DOUBLE) AS min_v,
           |  CAST(MAX($c) AS DOUBLE) AS max_v,
           |  COUNT(DISTINCT $c) AS exact_distinct FROM lineitem)""".stripMargin
      val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_discount")
      val ctes = cols.map(one).mkString(",\n")
      val sels = cols.map { c =>
        s"""SELECT col_name AS "column", CAST(n AS BIGINT) AS n, n_null,
           |  min_v, max_v,
           |  FLOOR(0.7213/(1 + 1.079/256)*256*256/S * 1e6 + 0.5)/1e6
           |    AS hll_est,
           |  CAST(exact_distinct AS BIGINT) AS exact_distinct
           |FROM st_$c, s_$c""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH $ctes\n$sels\nORDER BY 1"
    },

    // the nine decile cuts re-derived from the same binning (rank =
    // CEIL(q*N), midpoint 900 + (b+0.5)*203.3203125 — the dyadic q131
    // grid), then bucket = #cuts <= value per sampled row
    "q166_quantile_bin" ->
      """WITH b AS (SELECT
        |  LEAST(511, GREATEST(0, CAST(FLOOR(
        |    (CAST(l_extendedprice AS DOUBLE) - 900.0) / 104100.0 * 512
        |  ) AS INT))) AS bin
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |h AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY 1),
        |cw AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum,
        |  SUM(c) OVER () AS n FROM h),
        |qs(q) AS (VALUES (0.1::DOUBLE),(0.2::DOUBLE),(0.3::DOUBLE),
        |  (0.4::DOUBLE),(0.5::DOUBLE),(0.6::DOUBLE),(0.7::DOUBLE),
        |  (0.8::DOUBLE),(0.9::DOUBLE)),
        |cuts AS (SELECT q, MIN(bin) AS cb FROM qs, cw
        |  WHERE cum >= CEIL(q * n) GROUP BY q),
        |cv AS (SELECT 900.0 + (cb + 0.5) * 203.3203125 AS cut FROM cuts),
        |sel AS (SELECT l_orderkey, l_linenumber, l_extendedprice
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_orderkey % 100 = 0)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cv
        |   WHERE sel.l_extendedprice >= cv.cut) AS bucket
        |FROM sel ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // all three grouping levels replayed from the RAW rows (q148's
    // binning CTE on n_chars, dyadic width 32): the engine's rows came
    // from a parquet-persisted sketch table merged at read time, so
    // agreement proves both the merge arithmetic AND the array
    // round trip through the sink
    "q164_sketch_mv" ->
      """WITH e AS (SELECT source, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |b AS (SELECT source,
        |  LEAST(511, GREATEST(0, CAST(FLOOR(v / 16384.0 * 512) AS INT)))
        |    AS bin FROM e),
        |h AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |u AS (SELECT source, bin, c FROM h
        |  UNION ALL SELECT '__all__', bin, SUM(c) FROM h GROUP BY 2),
        |cw AS (SELECT source, bin,
        |  SUM(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
        |  SUM(c) OVER (PARTITION BY source) AS n FROM u),
        |s50 AS (SELECT source, MIN(bin) AS b FROM cw
        |  WHERE cum >= CEIL(0.5 * n) GROUP BY 1),
        |s90 AS (SELECT source, MIN(bin) AS b FROM cw
        |  WHERE cum >= CEIL(0.9 * n) GROUP BY 1),
        |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
        |  FROM u GROUP BY 1)
        |SELECT n.source,
        |  CAST((s50.b + 0.5) * 32.0 AS DOUBLE) AS approx_p50,
        |  CAST((s90.b + 0.5) * 32.0 AS DOUBLE) AS approx_p90, n
        |FROM n JOIN s50 USING (source) JOIN s90 USING (source)
        |ORDER BY 1""".stripMargin,

    // the five integer-micro moment sums (HUGEINT products — exact)
    // and the identical IEEE finale — each CAST AS DOUBLE and
    // de-scaled first, then the one fixed expression tree
    // identity over parquet: the XML hop must be lossless
    "q175_xml_roundtrip" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CAST(FLOOR(o_totalprice*1e6+0.5) AS BIGINT) AS price6,
        |  o_orderpriority AS prio
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY k""".stripMargin,

    // identical chained window cascade: each step's first-hit is a
    // min-over-user window conditioned on the PREVIOUS step's column
    "q176_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type='view' THEN us END)
        |    OVER (PARTITION BY user_id) AS t1 FROM e),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type='click' AND us > t1
        |    AND us <= t1 + 172800000000 THEN us END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type='purchase' AND us > t2
        |    AND us <= t2 + 259200000000 THEN us END)
        |    OVER (PARTITION BY user_id) AS t3 FROM s2),
        |pu AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2,
        |    MIN(t3) AS t3 FROM s3 GROUP BY 1),
        |tot AS (SELECT COUNT(t1) AS u1, COUNT(t2) AS u2, COUNT(t3) AS u3
        |  FROM pu)
        |SELECT step, event_type, users, conv_from_prev, conv_from_first
        |FROM tot, LATERAL (VALUES
        |  (1, 'view', u1, 1.0, 1.0),
        |  (2, 'click', u2,
        |   CASE WHEN u1>0 THEN FLOOR(CAST(u2 AS DOUBLE)/CAST(u1 AS DOUBLE)
        |     *1e6+0.5)/1e6 END,
        |   CASE WHEN u1>0 THEN FLOOR(CAST(u2 AS DOUBLE)/CAST(u1 AS DOUBLE)
        |     *1e6+0.5)/1e6 END),
        |  (3, 'purchase', u3,
        |   CASE WHEN u2>0 THEN FLOOR(CAST(u3 AS DOUBLE)/CAST(u2 AS DOUBLE)
        |     *1e6+0.5)/1e6 END,
        |   CASE WHEN u1>0 THEN FLOOR(CAST(u3 AS DOUBLE)/CAST(u1 AS DOUBLE)
        |     *1e6+0.5)/1e6 END))
        |  v(step, event_type, users, conv_from_prev, conv_from_first)
        |ORDER BY step""".stripMargin,

    // same min-over-user first-day window; cohort sizes read off the
    // k=0 diagonal, never a second scan
    "q177_retention" ->
      """WITH e AS (SELECT user_id,
        |    (epoch_us(ts)//1000000)//86400 AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT *, MIN(day) OVER (PARTITION BY user_id)
        |    AS cohort_day FROM e),
        |cells AS (SELECT cohort_day, day - cohort_day AS day_k,
        |    COUNT(DISTINCT user_id) AS active_users
        |  FROM c GROUP BY 1, 2),
        |sizes AS (SELECT cohort_day, active_users AS cohort_size
        |  FROM cells WHERE day_k = 0)
        |SELECT cells.cohort_day, day_k, active_users, cohort_size,
        |  FLOOR(CAST(active_users AS DOUBLE)/CAST(cohort_size AS DOUBLE)
        |    *1e4+0.5)/1e2 AS retention_pct
        |FROM cells JOIN sizes ON cells.cohort_day = sizes.cohort_day
        |ORDER BY cells.cohort_day, day_k""".stripMargin,

    // lag over the identical (ts, event_id) total order; probability
    // denominator is a window over the grouped matrix
    "q178_markov" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |t AS (SELECT event_type AS next_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev_type FROM e),
        |m AS (SELECT prev_type, next_type, COUNT(*) AS n FROM t
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  FLOOR(CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)
        |    *1e6+0.5)/1e6 AS p
        |FROM m ORDER BY prev_type, next_type""".stripMargin,

    // md5_number_lower >> 33 IS the engine's md5_lower64 >>> 33 coin;
    // same (coin, doc_id) rank order inside each stratum
    "q179_stratified" ->
      """WITH r AS (SELECT doc_id, lang, source,
        |  ROW_NUMBER() OVER (PARTITION BY lang, source
        |    ORDER BY md5_number_lower(CAST(doc_id AS VARCHAR)) >> 33,
        |      doc_id) AS rn
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL
        |    AND source IS NOT NULL)
        |SELECT doc_id, lang, source, rn FROM r WHERE rn <= 20
        |ORDER BY lang, source, rn""".stripMargin,

    // digit from the micro-unit BIGINT's decimal string (no float
    // log10 on the data path); the nine Benford shares are the same
    // 6-dp literals pinned in the engine
    "q180_benford" ->
      """WITH q AS (SELECT CAST(FLOOR(o_totalprice*1e6+0.5) AS BIGINT)
        |    AS p6 FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND CAST(FLOOR(o_totalprice*1e6+0.5) AS BIGINT) > 0),
        |obs AS (SELECT CAST(substr(CAST(p6 AS VARCHAR), 1, 1) AS INT)
        |    AS digit, COUNT(*) AS n FROM q GROUP BY 1),
        |b(digit, exp_pct) AS (VALUES (1, 0.30103), (2, 0.176091),
        |  (3, 0.124939), (4, 0.09691), (5, 0.079181), (6, 0.066947),
        |  (7, 0.057992), (8, 0.051153), (9, 0.045757)),
        |t AS (SELECT obs.digit, n, SUM(n) OVER () AS total,
        |    CAST(exp_pct AS DOUBLE) AS exp_pct
        |  FROM obs JOIN b ON obs.digit = b.digit)
        |SELECT digit, n,
        |  FLOOR(CAST(n AS DOUBLE)/CAST(total AS DOUBLE)*1e6+0.5)/1e6
        |    AS obs_pct,
        |  exp_pct,
        |  FLOOR((CAST(n AS DOUBLE)/CAST(total AS DOUBLE) - exp_pct)
        |    * (CAST(n AS DOUBLE)/CAST(total AS DOUBLE) - exp_pct)
        |    / exp_pct * CAST(total AS DOUBLE) * 1e6 + 0.5)/1e6
        |    AS chi2_part
        |FROM t ORDER BY digit""".stripMargin,

    // INDEPENDENT plan: brute-force pairs under an |dlat|,|dlon|
    // band prefilter (DuckDB IEJoin) — validates the grid algebra,
    // not just replays it; identical lattice-coord expression tree
    "q181_grid_join" ->
      """WITH p AS (SELECT event_id AS id,
        |    ((md5_number_lower(CAST(event_id AS VARCHAR)) >> 33)
        |      % 180000) / 1000.0 - 90.0 AS lat,
        |    ((md5_number_lower(CAST(event_id AS VARCHAR) || '#lon')
        |      >> 33) % 360000) / 1000.0 - 180.0 AS lon
        |  FROM events WHERE event_id IS NOT NULL)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  FLOOR(((a.lat-b.lat)*(a.lat-b.lat)
        |    + (a.lon-b.lon)*(a.lon-b.lon))*1e6+0.5)/1e6 AS d2
        |FROM p a JOIN p b
        |  ON a.id < b.id
        |  AND a.lat - b.lat BETWEEN -0.5 AND 0.5
        |  AND a.lon - b.lon BETWEEN -0.5 AND 0.5
        |WHERE (a.lat-b.lat)*(a.lat-b.lat)
        |    + (a.lon-b.lon)*(a.lon-b.lon) <= 0.25
        |ORDER BY a_id, b_id""".stripMargin,

    // same integer-micros gap sessionization; paths assembled by
    // string_agg under the identical (us, event_id) ORDER BY
    "q182_session_paths" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |f AS (SELECT *, CASE WHEN us - LAG(us) OVER w <= 7200000000
        |    THEN 0 ELSE 1 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id)),
        |n AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS sess_no FROM f),
        |paths AS (SELECT user_id, sess_no,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
        |  FROM n GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1
        |HAVING COUNT(*) >= 3
        |ORDER BY n_sessions DESC, path""".stripMargin,

    // identical clip-to-day melt and (-1 before +1) tie rule; BIGINT
    // // replays Spark's integer `div` exactly
    "q183_peak_concurrency" ->
      """WITH iv AS (SELECT event_type, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(FLOOR(value*60*1e6+0.5) AS BIGINT) AS e
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL AND value > 0),
        |days AS (SELECT event_type, s, e,
        |    UNNEST(generate_series(s//86400000000,
        |      (e-1)//86400000000)) AS day FROM iv),
        |pts AS (
        |  SELECT event_type, day, GREATEST(s, day*86400000000) AS t,
        |    1 AS d FROM days
        |  UNION ALL
        |  SELECT event_type, day, LEAST(e, (day+1)*86400000000) AS t,
        |    -1 AS d FROM days),
        |sweep AS (SELECT event_type, day,
        |    SUM(d) OVER (PARTITION BY event_type, day ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM pts)
        |SELECT event_type, day, CAST(MAX(conc) AS BIGINT) AS peak
        |FROM sweep GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin,

    // same md5 coin assignment, 72h conversion window, and pooled-z
    // fixed tree (sqrt is correctly rounded in both engines)
    "q184_ab_test" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT *, MIN(us) OVER (PARTITION BY user_id) AS t0
        |  FROM e),
        |pu AS (SELECT user_id,
        |    CASE WHEN (md5_number_lower(CAST(user_id AS VARCHAR)) >> 33)
        |      % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    MAX(CASE WHEN event_type='purchase'
        |      AND us <= t0 + 259200000000 THEN 1 ELSE 0 END) AS conv
        |  FROM f GROUP BY 1, 2),
        |bv AS (SELECT variant, COUNT(*) AS n, SUM(conv) AS c FROM pu
        |  GROUP BY 1),
        |one AS (SELECT
        |    MAX(CASE WHEN variant='A' THEN n END) AS n_a,
        |    CAST(MAX(CASE WHEN variant='A' THEN c END) AS BIGINT) AS c_a,
        |    MAX(CASE WHEN variant='B' THEN n END) AS n_b,
        |    CAST(MAX(CASE WHEN variant='B' THEN c END) AS BIGINT) AS c_b
        |  FROM bv),
        |d AS (SELECT *,
        |    CAST(c_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS pa,
        |    CAST(c_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS pb,
        |    CAST(c_a + c_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE) AS pp
        |  FROM one)
        |SELECT n_a, c_a, n_b, c_b,
        |  FLOOR(pa*1e6+0.5)/1e6 AS rate_a,
        |  FLOOR(pb*1e6+0.5)/1e6 AS rate_b,
        |  FLOOR((pa - pb) / sqrt(pp * (1.0 - pp)
        |    * (1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE)))
        |    *1e6+0.5)/1e6 AS z
        |FROM d""".stripMargin,

    // daily rollup -> (type, day+k) equi-join pairs -> exact BIGINT
    // moment sums -> the identical Pearson finale
    "q185_autocorr" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts)//86400000000 AS day, COUNT(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a.event_type, k.k, a.n AS x, b.n AS y
        |  FROM daily a
        |  CROSS JOIN (VALUES (1), (2), (3)) k(k)
        |  JOIN daily b ON b.event_type = a.event_type
        |    AND b.day = a.day + k.k),
        |m AS (SELECT event_type, k, COUNT(*) AS m,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx,
        |    SUM(y*y) AS syy, SUM(x*y) AS sxy
        |  FROM pairs GROUP BY 1, 2),
        |d AS (SELECT event_type, k, m,
        |    CAST(m AS DOUBLE) AS md, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
        |  FROM m)
        |SELECT event_type, k, m,
        |  CASE WHEN sqrt(md*sxxd - sxd*sxd) * sqrt(md*syyd - syd*syd) > 0
        |    THEN FLOOR((md*sxyd - sxd*syd)
        |      / (sqrt(md*sxxd - sxd*sxd) * sqrt(md*syyd - syd*syd))
        |      *1e6+0.5)/1e6 END AS r
        |FROM d ORDER BY event_type, k""".stripMargin,

    // closed-form fields from the doc_id fixture arithmetic (the
    // q144/q153/q161 discipline): every 7th doc corrupted -> ok=false,
    // null fields; honest docs' object/page/version/info fields are
    // pure functions of doc_id
    "q186_pdf_probe" ->
      """SELECT doc_id,
        |  doc_id % 7 <> 3 AS ok,
        |  CASE WHEN doc_id % 7 <> 3
        |    THEN '1.' || CAST(2 + doc_id % 6 AS VARCHAR) END AS version,
        |  CASE WHEN doc_id % 7 <> 3
        |    THEN 2 + (1 + doc_id % 5)
        |      + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
        |    END AS n_objects,
        |  CASE WHEN doc_id % 7 <> 3 THEN 1 + doc_id % 5 END AS n_pages,
        |  CASE WHEN doc_id % 7 <> 3 THEN doc_id % 3 = 0 END AS has_info
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the same telescoped identity: distinct pairs − distinct det over
    // dep-non-null rows equals Σ clamped per-group (nd − 1)
    "q187_fd_audit" ->
      """WITH m AS (
        |  SELECT 'l_orderkey->l_returnflag' AS fd,
        |    CAST(l_orderkey AS VARCHAR) AS det,
        |    CAST(l_returnflag AS VARCHAR) AS dep FROM lineitem
        |  UNION ALL SELECT 'l_partkey->l_suppkey',
        |    CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL SELECT 'o_orderkey->o_custkey',
        |    CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR)
        |  FROM orders
        |  UNION ALL SELECT 'o_custkey->o_orderpriority',
        |    CAST(o_custkey AS VARCHAR), CAST(o_orderpriority AS VARCHAR)
        |  FROM orders),
        |f AS (SELECT * FROM m WHERE det IS NOT NULL AND dep IS NOT NULL)
        |SELECT fd, COUNT(DISTINCT det) AS n_groups,
        |  COUNT(DISTINCT (det, dep)) - COUNT(DISTINCT det)
        |    AS n_violations,
        |  COUNT(DISTINCT (det, dep)) - COUNT(DISTINCT det) = 0 AS holds
        |FROM f GROUP BY fd ORDER BY fd""".stripMargin,

    // same daily rollup, 30 exploded lag offsets, LONG shift weights,
    // one final double division
    "q189_ewma" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts)//86400000000 AS day, COUNT(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |a AS (SELECT d.event_type, d.day, d.n, k.k FROM daily d
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 29)) AS k) k),
        |j AS (SELECT a.event_type, a.day, a.n,
        |    b.n * (CAST(1 AS BIGINT) << (29 - a.k)) AS term,
        |    CAST(1 AS BIGINT) << (29 - a.k) AS w
        |  FROM a JOIN daily b ON b.event_type = a.event_type
        |    AND b.day = a.day - a.k)
        |SELECT event_type, day, n,
        |  FLOOR(CAST(SUM(term) AS DOUBLE)/CAST(SUM(w) AS DOUBLE)
        |    *1e6+0.5)/1e6 AS ewma
        |FROM j GROUP BY 1, 2, 3
        |ORDER BY event_type, day""".stripMargin,

    // identical distinct-(order, category) basket, a<b self-join,
    // HAVING support floor, and ratio trees over exact counts
    "q190_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS oid,
        |    l_partkey % 100 AS item
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_partkey IS NOT NULL),
        |no AS (SELECT COUNT(DISTINCT oid) AS n_orders FROM items),
        |np AS (SELECT item, COUNT(*) AS n_item FROM items GROUP BY 1),
        |p AS (SELECT a.item AS a, b.item AS b, COUNT(*) AS n_ab
        |  FROM items a JOIN items b ON a.oid = b.oid AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT a, b, n_ab, na.n_item AS n_a, nb.n_item AS n_b,
        |  FLOOR(CAST(n_ab AS DOUBLE)/CAST(n_orders AS DOUBLE)*1e6+0.5)/1e6
        |    AS support,
        |  FLOOR(CAST(n_ab AS DOUBLE)/CAST(na.n_item AS DOUBLE)*1e6+0.5)
        |    /1e6 AS confidence,
        |  FLOOR(CAST(n_ab AS DOUBLE)*CAST(n_orders AS DOUBLE)
        |    /(CAST(na.n_item AS DOUBLE)*CAST(nb.n_item AS DOUBLE))
        |    *1e6+0.5)/1e6 AS lift
        |FROM p JOIN np na ON na.item = p.a
        |  JOIN np nb ON nb.item = p.b, no
        |ORDER BY a, b""".stripMargin,

    // same ignore-nulls last_value over the (us, event_id) total order;
    // the NULL channel row survives GROUP BY in both engines
    "q191_attribution" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type, value
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |c AS (SELECT *, LAST_VALUE(CASE WHEN event_type <> 'purchase'
        |      THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS channel
        |  FROM e)
        |SELECT channel, COUNT(*) AS n_purchases,
        |  FLOOR(CAST(SUM(CAST(FLOOR(value*1e6+0.5) AS BIGINT)) AS DOUBLE)
        |    /1e6*1e2+0.5)/1e2 AS revenue
        |FROM c WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,

    // INDEPENDENT plan: declarative NOT EXISTS domination test — the
    // oracle never replays the band pruning, it states the skyline
    // definition directly
    "q193_skyline" ->
      """WITH q AS (SELECT o_orderkey,
        |  CAST(FLOOR(o_totalprice*1e6+0.5) AS BIGINT) AS x,
        |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS y
        |  FROM orders WHERE o_orderkey % 5 = 0
        |    AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL)
        |SELECT o_orderkey,
        |  FLOOR(CAST(x AS DOUBLE)/1e6*1e2+0.5)/1e2 AS price, y AS day
        |FROM q a
        |WHERE NOT EXISTS (SELECT 1 FROM q b
        |  WHERE b.x <= a.x AND b.y >= a.y AND (b.x < a.x OR b.y > a.y))
        |ORDER BY o_orderkey""".stripMargin,

    // one conditional-aggregation scan, the same melt, window share
    "q194_metric_diff" ->
      """WITH e AS (SELECT epoch_us(ts)//86400000000 AS day,
        |    CAST(FLOOR(value*1e6+0.5) AS BIGINT) AS v6,
        |    event_type, user_id % 10 AS user_mod
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT day, v6, 'event_type' AS dim,
        |    CAST(event_type AS VARCHAR) AS val FROM e
        |  UNION ALL SELECT day, v6, 'user_mod',
        |    CAST(user_mod AS VARCHAR) FROM e),
        |c AS (SELECT dim, val,
        |    SUM(CASE WHEN day < 19738 THEN v6 ELSE 0 END) AS a6,
        |    SUM(CASE WHEN day >= 19738 THEN v6 ELSE 0 END) AS b6
        |  FROM m GROUP BY 1, 2),
        |d AS (SELECT *, b6 - a6 AS delta6,
        |    SUM(b6 - a6) OVER (PARTITION BY dim) AS tot FROM c)
        |SELECT dim, val,
        |  FLOOR(CAST(a6 AS DOUBLE)/1e6*1e2+0.5)/1e2 AS period_a,
        |  FLOOR(CAST(b6 AS DOUBLE)/1e6*1e2+0.5)/1e2 AS period_b,
        |  FLOOR(CAST(delta6 AS DOUBLE)/1e6*1e2+0.5)/1e2 AS delta,
        |  CASE WHEN tot <> 0 THEN
        |    FLOOR(CAST(delta6 AS DOUBLE)/CAST(tot AS DOUBLE)*1e6+0.5)/1e6
        |    END AS delta_share
        |FROM d ORDER BY dim, val""".stripMargin,

    // merge-equals-direct is the checked identity: the oracle computes
    // the full aggregate in one pass, never replaying the storage hop
    "q195_incr_agg" ->
      """WITH e AS (SELECT event_type,
        |  CAST(FLOOR(COALESCE(value, 0)*1e6+0.5) AS BIGINT) AS v6
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n,
        |  FLOOR(CAST(SUM(v6) AS DOUBLE)/1e6*1e2+0.5)/1e2 AS value_sum
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,

    // quantile_cont parity (q57) for both the median and the MAD pass;
    // the flag compares the same integer-derived doubles
    "q196_robust_anomaly" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts)//86400000000 AS day, COUNT(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
        |  FROM daily GROUP BY 1),
        |wm AS (SELECT d.*, m.med FROM daily d JOIN med m
        |  USING (event_type)),
        |mad AS (SELECT event_type,
        |    quantile_cont(abs(CAST(n AS DOUBLE) - med), 0.5) AS mad
        |  FROM wm GROUP BY 1)
        |SELECT wm.event_type, day, n,
        |  FLOOR(med*1e2+0.5)/1e2 AS med,
        |  FLOOR(mad*1e2+0.5)/1e2 AS mad,
        |  abs(CAST(n AS DOUBLE) - med) > mad*3.0 AS is_anomaly
        |FROM wm JOIN mad USING (event_type)
        |ORDER BY wm.event_type, day""".stripMargin,

    // NOT EXISTS replays each anti join; NULL keys ride their own
    // count, never the orphan count
    "q197_ref_integrity" -> {
      def one(name: String, child: String, key: String,
              parent: String, pkey: String) =
        s"""SELECT '$name' AS fk,
           |  (SELECT COUNT(*) FROM $child) AS n_child,
           |  (SELECT COUNT(*) FROM $child WHERE $key IS NULL) AS n_null,
           |  (SELECT COUNT(*) FROM $child c WHERE c.$key IS NOT NULL
           |    AND NOT EXISTS (SELECT 1 FROM $parent p
           |      WHERE p.$pkey = c.$key)) AS n_orphans,
           |  FLOOR(CAST((SELECT COUNT(*) FROM $child c
           |      WHERE c.$key IS NOT NULL
           |      AND NOT EXISTS (SELECT 1 FROM $parent p
           |        WHERE p.$pkey = c.$key)) AS DOUBLE)
           |    / CAST((SELECT COUNT(*) FROM $child) AS DOUBLE)
           |    *1e6+0.5)/1e6 AS orphan_rate""".stripMargin
      Seq(one("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        one("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        one("events.user_id->customer", "events", "user_id",
          "customer", "c_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
    },

    // 4 unrolled synchronous layers as MATERIALIZED CTEs (the q155
    // HITS pattern); per-layer argmax = min label among max-count
    "q198_lpa" -> {
      val edges =
        """SELECT doc_id % 311 AS src, (doc_id*11+7) % 311 AS dst
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id % 311, (doc_id*23+3) % 311 FROM documents
          |  WHERE doc_id % 2 = 0""".stripMargin
      val layers = (1 to 4).map { i =>
        s"""v$i AS (SELECT n.node, l.label, COUNT(*) AS cnt
           |  FROM nbrs n JOIN l${i - 1} l ON l.node = n.nbr
           |  GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT node, MIN(label) AS label FROM
           |  (SELECT node, label, cnt,
           |     MAX(cnt) OVER (PARTITION BY node) AS mx FROM v$i)
           |  WHERE cnt = mx GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH und AS MATERIALIZED (SELECT DISTINCT
         |    LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM ($edges)
         |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |nbrs AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und
         |  UNION ALL SELECT b, a FROM und),
         |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label
         |  FROM nbrs),
         |$layers
         |SELECT node, label FROM l4 ORDER BY node""".stripMargin
    },

    // same lead window and step durations; HUGEINT products replay the
    // decimal sums, one final double tree
    "q199_twap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(FLOOR(value*1e6+0.5) AS BIGINT) AS v6
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND event_id IS NOT NULL),
        |s AS (SELECT *, LEAD(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS next_ts FROM e),
        |d AS (SELECT user_id, v6, next_ts - us AS dur FROM s
        |  WHERE next_ts IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_steps,
        |  FLOOR(CAST(SUM(CAST(v6 AS HUGEINT)*dur) AS DOUBLE)
        |    /CAST(SUM(dur) AS DOUBLE)/1e6*1e4+0.5)/1e4 AS twap
        |FROM d GROUP BY 1 ORDER BY user_id""".stripMargin,

    // registers rebuilt from raw hashes per trailing window (merge of
    // per-day maxes == max over the union); q150's estimate SQL
    "q205_sliding_hll" ->
      """WITH pd AS (SELECT DISTINCT
        |    epoch_us(ts)//86400000000 AS day, user_id,
        |    (md5_number_lower(CAST(user_id AS VARCHAR)) >> 33)::BIGINT
        |      AS h
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |days AS (SELECT DISTINCT day FROM pd),
        |win AS (SELECT d.day AS anchor, p.user_id, p.h FROM days d
        |  JOIN pd p ON p.day BETWEEN d.day - 6 AND d.day),
        |r AS (SELECT anchor, (h >> 23) AS idx,
        |  MAX(CASE WHEN (h & 8388607) = 0 THEN 24
        |      ELSE 23 - length(bin(h & 8388607)) + 1 END) AS rho
        |  FROM win GROUP BY 1, 2),
        |s AS (SELECT anchor,
        |  SUM(CAST(1.0 AS DOUBLE)/(1 << rho)) + (256 - COUNT(*)) AS S
        |  FROM r GROUP BY 1),
        |ex AS (SELECT anchor, COUNT(DISTINCT user_id) AS exact_u
        |  FROM win GROUP BY 1)
        |SELECT s.anchor AS day, exact_u,
        |  FLOOR(0.7213/(1 + 1.079/256)*256*256/S * 1e6 + 0.5)/1e6
        |    AS hll_est
        |FROM s JOIN ex USING (anchor) ORDER BY day""".stripMargin,

    // depth-bounded recursive CTE replays the fixed-K closure
    "q206_hierarchy" ->
      """WITH RECURSIVE e AS (SELECT p_partkey AS child,
        |    GREATEST(p_partkey // 7, 1) AS parent FROM part
        |  WHERE p_partkey >= 2),
        |anc(child, ancestor, depth) AS (
        |  SELECT child, parent, CAST(1 AS BIGINT) FROM e
        |  UNION ALL
        |  SELECT a.child, e.parent, a.depth + 1 FROM anc a
        |  JOIN e ON e.child = a.ancestor
        |  WHERE a.depth < 6)
        |SELECT child, ancestor, depth FROM anc WHERE child % 10 = 0
        |ORDER BY child, depth""".stripMargin,

    // identical catalog-sized cumulative window under the same total
    // order; class cuts are exact-integer comparisons
    "q207_abc_pareto" ->
      """WITH pp AS (SELECT l_partkey,
        |    SUM(CAST(FLOOR(l_extendedprice*1e6+0.5) AS BIGINT)) AS rev6
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |c AS (SELECT *, SUM(rev6) OVER (ORDER BY rev6 DESC, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum6,
        |  SUM(rev6) OVER () AS tot6 FROM pp)
        |SELECT l_partkey,
        |  FLOOR(CAST(rev6 AS DOUBLE)/1e6*1e2+0.5)/1e2 AS revenue,
        |  FLOOR(CAST(cum6 AS DOUBLE)/CAST(tot6 AS DOUBLE)*1e6+0.5)/1e6
        |    AS cum_share,
        |  CASE WHEN CAST(cum6 AS HUGEINT)*5 <= CAST(tot6 AS HUGEINT)*4
        |         THEN 'A'
        |       WHEN CAST(cum6 AS HUGEINT)*20 <= CAST(tot6 AS HUGEINT)*19
        |         THEN 'B' ELSE 'C' END
        |    AS abc_class
        |FROM c WHERE l_partkey % 10 = 0
        |ORDER BY l_partkey""".stripMargin,

    // depth-bounded recursive walk with UNION dedupe (bounded by
    // nodes × depths), min over arrival depths
    "q208_bfs_hops" ->
      """WITH RECURSIVE und AS (SELECT DISTINCT LEAST(src, dst) AS a,
        |    GREATEST(src, dst) AS b FROM
        |  (SELECT doc_id % 311 AS src, (doc_id*11+7) % 311 AS dst
        |    FROM documents
        |   UNION ALL
        |   SELECT doc_id % 311, (doc_id*23+3) % 311 FROM documents
        |   WHERE doc_id % 2 = 0)
        |  WHERE src <> dst),
        |edges AS (SELECT a AS f, b AS t FROM und
        |  UNION ALL SELECT b, a FROM und),
        |seeds AS (SELECT DISTINCT doc_id % 311 AS node FROM documents
        |  WHERE doc_id % 311 < 3),
        |walk(node, hops) AS (
        |  SELECT node, CAST(0 AS BIGINT) FROM seeds
        |  UNION
        |  SELECT e.t, w.hops + 1 FROM walk w JOIN edges e ON e.f = w.node
        |  WHERE w.hops < 5)
        |SELECT node, MIN(hops) AS hops FROM walk GROUP BY node
        |ORDER BY node""".stripMargin,

    // the identical one-aggregate moment/conditional-sum row, HUGEINT
    // products, and the same θ / adjusted-mean expression trees
    "q202_cuped" ->
      """WITH pu AS (SELECT user_id,
        |    CASE WHEN (md5_number_lower(CAST(user_id AS VARCHAR)) >> 33)
        |      % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    SUM(CASE WHEN epoch_us(ts)//86400000000 < 19738
        |      THEN CAST(FLOOR(value*1e6+0.5) AS BIGINT) ELSE 0 END)
        |      AS pre6,
        |    SUM(CASE WHEN epoch_us(ts)//86400000000 >= 19738
        |      THEN CAST(FLOOR(value*1e6+0.5) AS BIGINT) ELSE 0 END)
        |      AS post6
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (SELECT COUNT(*) AS n, SUM(pre6) AS sx, SUM(post6) AS sy,
        |    SUM(CAST(pre6 AS HUGEINT)*pre6) AS sxx,
        |    SUM(CAST(pre6 AS HUGEINT)*post6) AS sxy,
        |    SUM(CASE WHEN variant='A' THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN variant='A' THEN pre6 ELSE 0 END) AS sx_a,
        |    SUM(CASE WHEN variant='A' THEN post6 ELSE 0 END) AS sy_a,
        |    SUM(CASE WHEN variant='B' THEN 1 ELSE 0 END) AS n_b,
        |    SUM(CASE WHEN variant='B' THEN pre6 ELSE 0 END) AS sx_b,
        |    SUM(CASE WHEN variant='B' THEN post6 ELSE 0 END) AS sy_b
        |  FROM pu),
        |d AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE)/1e6 AS sxd, CAST(sy AS DOUBLE)/1e6 AS syd,
        |    CAST(sxx AS DOUBLE)/1e12 AS sxxd,
        |    CAST(sxy AS DOUBLE)/1e12 AS sxyd
        |  FROM m),
        |t AS (SELECT *,
        |    (sxyd - sxd*syd/nd)/(sxxd - sxd*sxd/nd) AS theta,
        |    sxd/nd AS gxm FROM d)
        |SELECT v.variant, v.n_users, v.mean_post, v.mean_pre,
        |  v.theta, v.adj_mean
        |FROM t, LATERAL (VALUES
        |  ('A', CAST(n_a AS BIGINT),
        |   FLOOR(CAST(sy_a AS DOUBLE)/1e6/CAST(n_a AS DOUBLE)*1e4+0.5)
        |     /1e4,
        |   FLOOR(CAST(sx_a AS DOUBLE)/1e6/CAST(n_a AS DOUBLE)*1e4+0.5)
        |     /1e4,
        |   FLOOR(theta*1e4+0.5)/1e4,
        |   FLOOR((CAST(sy_a AS DOUBLE)/1e6/CAST(n_a AS DOUBLE)
        |     - theta*(CAST(sx_a AS DOUBLE)/1e6/CAST(n_a AS DOUBLE)
        |       - gxm))*1e4+0.5)/1e4),
        |  ('B', CAST(n_b AS BIGINT),
        |   FLOOR(CAST(sy_b AS DOUBLE)/1e6/CAST(n_b AS DOUBLE)*1e4+0.5)
        |     /1e4,
        |   FLOOR(CAST(sx_b AS DOUBLE)/1e6/CAST(n_b AS DOUBLE)*1e4+0.5)
        |     /1e4,
        |   FLOOR(theta*1e4+0.5)/1e4,
        |   FLOOR((CAST(sy_b AS DOUBLE)/1e6/CAST(n_b AS DOUBLE)
        |     - theta*(CAST(sx_b AS DOUBLE)/1e6/CAST(n_b AS DOUBLE)
        |       - gxm))*1e4+0.5)/1e4))
        |  v(variant, n_users, mean_post, mean_pre, theta, adj_mean)
        |ORDER BY variant""".stripMargin,

    // brute-force pairs under the band prefilter, then the q34
    // recursive-CTE closure — both stages independently replayed
    "q203_spatial_clusters" ->
      """WITH RECURSIVE p AS (SELECT event_id AS id,
        |    ((md5_number_lower(CAST(event_id AS VARCHAR)) >> 33)
        |      % 180000) / 1000.0 - 90.0 AS lat,
        |    ((md5_number_lower(CAST(event_id AS VARCHAR) || '#lon')
        |      >> 33) % 360000) / 1000.0 - 180.0 AS lon
        |  FROM events WHERE event_id IS NOT NULL),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b
        |  FROM p a JOIN p b ON a.id < b.id
        |    AND a.lat - b.lat BETWEEN -0.5 AND 0.5
        |    AND a.lon - b.lon BETWEEN -0.5 AND 0.5
        |  WHERE (a.lat-b.lat)*(a.lat-b.lat)
        |      + (a.lon-b.lon)*(a.lon-b.lon) <= 0.25),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr),
        |closure(n, m) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT c.n, e.d FROM closure c JOIN edges e ON c.m = e.s),
        |labels AS (SELECT n AS node, LEAST(n, MIN(m)) AS label
        |  FROM closure GROUP BY n)
        |SELECT label AS cluster_id, COUNT(*) AS n_points
        |FROM labels GROUP BY 1 ORDER BY cluster_id""".stripMargin,

    // the same last-op-wins collapse and full-outer MERGE application;
    // q209 runs the IDENTICAL semantics through foreachBatch + the
    // versioned op log, so it shares this oracle verbatim
    "q204_cdc_merge" -> cdcOracleSql,
    "q209_stream_cdc" -> cdcOracleSql,

    // identical conditional sums, unit-price trees, and per-effect
    // cent quantization; the tie-out identity rides the hash
    "q226_pv_bridge" ->
      """WITH li AS (SELECT l_partkey % 100 AS cat,
        |    CAST(l_shipdate AS DATE) < DATE '1998-01-01' AS ia,
        |    CAST(FLOOR(l_quantity*1e6+0.5) AS BIGINT) AS q6,
        |    CAST(FLOOR(l_extendedprice*1e6+0.5) AS BIGINT) AS r6
        |  FROM lineitem WHERE l_partkey IS NOT NULL
        |    AND l_shipdate IS NOT NULL),
        |a AS (SELECT cat,
        |    SUM(CASE WHEN ia THEN q6 ELSE 0 END) AS qa6,
        |    SUM(CASE WHEN ia THEN r6 ELSE 0 END) AS ra6,
        |    SUM(CASE WHEN NOT ia THEN q6 ELSE 0 END) AS qb6,
        |    SUM(CASE WHEN NOT ia THEN r6 ELSE 0 END) AS rb6
        |  FROM li GROUP BY 1),
        |e AS (SELECT *, qa6 > 0 AND qb6 > 0 AS has_both,
        |    CAST(ra6 AS DOUBLE)/CAST(qa6 AS DOUBLE) AS pa,
        |    CAST(rb6 AS DOUBLE)/CAST(qb6 AS DOUBLE) AS pb
        |  FROM a),
        |q AS (SELECT cat, has_both,
        |    CAST(FLOOR(CAST(ra6 AS DOUBLE)/1e6*1e2+0.5) AS BIGINT)
        |      AS ra_c,
        |    CAST(FLOOR(CAST(rb6 AS DOUBLE)/1e6*1e2+0.5) AS BIGINT)
        |      AS rb_c,
        |    CAST(FLOOR((CAST(rb6 AS DOUBLE)-CAST(ra6 AS DOUBLE))
        |      /1e6*1e2+0.5) AS BIGINT) AS dlt_c,
        |    CAST(FLOOR((CAST(qb6 AS DOUBLE)-CAST(qa6 AS DOUBLE))
        |      /1e6*pa*1e2+0.5) AS BIGINT) AS vol_c,
        |    CAST(FLOOR(CAST(qb6 AS DOUBLE)/1e6*(pb-pa)*1e2+0.5)
        |      AS BIGINT) AS prc_c
        |  FROM e)
        |SELECT cat, CAST(ra_c AS DOUBLE)/1e2 AS rev_a,
        |  CAST(rb_c AS DOUBLE)/1e2 AS rev_b,
        |  CAST(dlt_c AS DOUBLE)/1e2 AS delta,
        |  CASE WHEN has_both THEN CAST(vol_c AS DOUBLE)/1e2 END
        |    AS volume_effect,
        |  CASE WHEN has_both THEN CAST(prc_c AS DOUBLE)/1e2 END
        |    AS price_effect,
        |  CAST(dlt_c - CASE WHEN has_both THEN vol_c ELSE 0 END
        |    - CASE WHEN has_both THEN prc_c ELSE 0 END AS DOUBLE)/1e2
        |    AS residual
        |FROM q ORDER BY cat""".stripMargin,

    // INDEPENDENT plan: brute-force event × POI pairs under the band
    // prefilter (no grid replay); identical salted-lattice coordinates
    "q225_poi_join" ->
      """WITH ev AS (SELECT event_id,
        |    ((md5_number_lower(CAST(event_id AS VARCHAR)) >> 33)
        |      % 180000) / 1000.0 - 90.0 AS lat,
        |    ((md5_number_lower(CAST(event_id AS VARCHAR) || '#lon')
        |      >> 33) % 360000) / 1000.0 - 180.0 AS lon
        |  FROM events WHERE event_id IS NOT NULL AND event_id % 3 = 0),
        |pois AS (SELECT i AS poi_id,
        |    ((md5_number_lower(CAST(i AS VARCHAR) || '#poi') >> 33)
        |      % 180000) / 1000.0 - 90.0 AS lat,
        |    ((md5_number_lower(CAST(i AS VARCHAR) || '#poi#lon') >> 33)
        |      % 360000) / 1000.0 - 180.0 AS lon
        |  FROM range(512) t(i))
        |SELECT e.event_id, p.poi_id,
        |  FLOOR(((e.lat-p.lat)*(e.lat-p.lat)
        |    + (e.lon-p.lon)*(e.lon-p.lon))*1e6+0.5)/1e6 AS d2
        |FROM ev e JOIN pois p
        |  ON e.lat - p.lat BETWEEN -2.0 AND 2.0
        |  AND e.lon - p.lon BETWEEN -2.0 AND 2.0
        |WHERE (e.lat-p.lat)*(e.lat-p.lat)
        |    + (e.lon-p.lon)*(e.lon-p.lon) <= 4.0
        |ORDER BY event_id, poi_id""".stripMargin,

    // same distinct (user, day) table, first-day window, day rollup
    "q223_new_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT *, MIN(day) OVER (PARTITION BY user_id)
        |    AS first_day FROM ud)
        |SELECT day,
        |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returning,
        |  FLOOR(CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5)/1e6
        |    AS returning_share
        |FROM f GROUP BY 1 ORDER BY day""".stripMargin,

    // same distinct-value cumulative counts and LONG cross-multiplied
    // sup gap; min value among maxima, one final division
    "q224_ks_drift" ->
      """WITH g AS (SELECT CAST(FLOOR(value*1e6+0.5) AS BIGINT) AS v6,
        |    SUM(CASE WHEN epoch_us(ts)//86400000000 < 19738
        |      THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN epoch_us(ts)//86400000000 >= 19738
        |      THEN 1 ELSE 0 END) AS b
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |c AS (SELECT v6,
        |    SUM(a) OVER (ORDER BY v6 ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ca,
        |    SUM(b) OVER (ORDER BY v6 ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cb,
        |    SUM(a) OVER () AS na, SUM(b) OVER () AS nb
        |  FROM g),
        |d AS (SELECT *, abs(ca*nb - cb*na) AS gap FROM c),
        |m AS (SELECT *, MAX(gap) OVER () AS max_gap FROM d)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  FLOOR(CAST(max_gap AS DOUBLE)/CAST(na*nb AS DOUBLE)
        |    *1e6+0.5)/1e6 AS ks,
        |  CAST(MIN(CASE WHEN gap = max_gap THEN v6 END) AS DOUBLE)/1e6
        |    AS at_value
        |FROM m GROUP BY na, nb, max_gap""".stripMargin,

    // identical 256-bin grid (floor(v/512*256), clamped), the same
    // cross-multiplied integer gaps at bin boundaries, the exact q224
    // rider, and the in-bin-mass error bound — all replayed in SQL
    "q227_ks_hist" ->
      """WITH e AS (SELECT value AS v,
        |    CAST(FLOOR(value*1e6+0.5) AS BIGINT) AS v6,
        |    epoch_us(ts)//86400000000 < 19738 AS ia
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND NOT isnan(value)),
        |bins AS (SELECT LEAST(GREATEST(
        |      CAST(FLOOR(v/512.0*256.0) AS INT), 0), 255) AS bin,
        |    SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN ia THEN 0 ELSE 1 END) AS b
        |  FROM e GROUP BY 1),
        |t AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
        |    CAST(SUM(b) AS BIGINT) AS nb FROM bins),
        |c AS (SELECT bin, a, b,
        |    SUM(a) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ca,
        |    SUM(b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cb FROM bins),
        |g AS (SELECT bin, ABS(ca*nb - cb*na) AS gap,
        |    a*nb + b*na AS mass FROM c, t),
        |h AS (SELECT MAX(gap) AS gap_h, MAX(mass) AS mass FROM g),
        |ab AS (SELECT CASE WHEN (SELECT gap_h FROM h) = 0 THEN -1
        |    ELSE (SELECT MIN(bin) FROM g
        |          WHERE gap = (SELECT gap_h FROM h)) END AS at_bin),
        |ex AS (SELECT v6,
        |    SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN ia THEN 0 ELSE 1 END) AS b
        |  FROM e GROUP BY 1),
        |cx AS (SELECT
        |    SUM(a) OVER (ORDER BY v6 ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ca,
        |    SUM(b) OVER (ORDER BY v6 ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cb FROM ex),
        |x AS (SELECT MAX(ABS(ca*nb - cb*na)) AS gap_e FROM cx, t)
        |SELECT na AS n_a, nb AS n_b,
        |  FLOOR(CAST(gap_h AS DOUBLE)/CAST(na*nb AS DOUBLE)*1e6+0.5)/1e6
        |    AS ks_hist,
        |  FLOOR(CAST(gap_e AS DOUBLE)/CAST(na*nb AS DOUBLE)*1e6+0.5)/1e6
        |    AS ks_exact,
        |  CAST((at_bin + 1) * 2.0 AS DOUBLE) AS at_boundary,
        |  ABS(gap_h - gap_e) <= mass AS bound_ok
        |FROM t, h, ab, x""".stripMargin,

    // DuckDB's own NTILE under the identical (bal2 DESC, custkey)
    // total order — the distributed rank decomposition must reproduce
    // the engine-standard tile assignment bit for bit
    "q228_balance_deciles" ->
      """WITH c AS (SELECT c_custkey,
        |    CAST(FLOOR(c_acctbal*1e2+0.5) AS BIGINT) AS bal2
        |  FROM customer WHERE c_custkey IS NOT NULL
        |    AND c_acctbal IS NOT NULL),
        |t AS (SELECT bal2,
        |    NTILE(10) OVER (ORDER BY bal2 DESC, c_custkey) AS decile
        |  FROM c)
        |SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_cust,
        |  CAST(MAX(bal2) AS DOUBLE)/1e2 AS hi_bal,
        |  CAST(MIN(bal2) AS DOUBLE)/1e2 AS lo_bal,
        |  CAST(SUM(bal2) AS DOUBLE)/1e2 AS sum_bal
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // INDEPENDENT plan: correlated join over the lookback interval +
    // ROW_NUMBER picks — validates the engine's range-frame algebra
    // rather than replaying it
    "q229_attribution" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type,
        |    CAST(FLOOR(COALESCE(value, 0)*1e2+0.5) AS BIGINT) AS rev2
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |p AS (SELECT user_id, us, event_id, rev2 FROM e
        |  WHERE event_type = 'purchase'),
        |cand AS (SELECT p.user_id, p.event_id AS pid, p.rev2,
        |    t.event_type, t.us, t.event_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY t.us ASC, t.event_id ASC) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY t.us DESC, t.event_id DESC) AS rl
        |  FROM p JOIN e t ON t.user_id = p.user_id
        |    AND t.event_type <> 'purchase'
        |    AND t.us >= p.us - 172800000000 AND t.us <= p.us - 1),
        |tagged AS (SELECT p.user_id, p.event_id, p.rev2,
        |    COALESCE(f.event_type, 'direct') AS first_channel,
        |    COALESCE(l.event_type, 'direct') AS last_channel
        |  FROM p
        |  LEFT JOIN cand f ON f.user_id = p.user_id
        |    AND f.pid = p.event_id AND f.rf = 1
        |  LEFT JOIN cand l ON l.user_id = p.user_id
        |    AND l.pid = p.event_id AND l.rl = 1),
        |m AS (
        |  SELECT 'first_touch' AS model, first_channel AS channel,
        |    COUNT(*) AS n_purchases,
        |    CAST(SUM(rev2) AS DOUBLE)/1e2 AS revenue
        |  FROM tagged GROUP BY 2
        |  UNION ALL
        |  SELECT 'last_touch', last_channel, COUNT(*),
        |    CAST(SUM(rev2) AS DOUBLE)/1e2
        |  FROM tagged GROUP BY 2)
        |SELECT model, channel, n_purchases, revenue FROM m
        |ORDER BY model, channel""".stripMargin,

    // the same distinct (user, week) table, first-week min, triangle
    // rollup, and cohort-size share
    "q230_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts)//86400000000)//7 AS week
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT user_id, week,
        |    MIN(week) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM uw),
        |tri AS (SELECT cohort_week, week - cohort_week AS week_index,
        |    COUNT(*) AS n_active
        |  FROM c GROUP BY 1, 2),
        |sz AS (SELECT *, MAX(CASE WHEN week_index = 0 THEN n_active END)
        |    OVER (PARTITION BY cohort_week) AS cohort_size FROM tri)
        |SELECT cohort_week, week_index, n_active, cohort_size,
        |  FLOOR(CAST(n_active AS DOUBLE)/CAST(cohort_size AS DOUBLE)
        |    *1e6+0.5)/1e6 AS retention
        |FROM sz ORDER BY cohort_week, week_index""".stripMargin,

    // DuckDB's own three NTILEs under the identical (value DESC, cust)
    // orders — the distributed quintiles must match engine-standard
    // assignment on every dimension at once
    "q231_rfm" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(FLOOR(o_totalprice*1e2+0.5) AS BIGINT) AS p2
        |  FROM orders WHERE o_custkey IS NOT NULL
        |    AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
        |pc AS (SELECT o_custkey,
        |    CAST((SELECT MAX(d) FROM o) - MAX(d) AS BIGINT)
        |      AS recency_days,
        |    COUNT(*) AS freq, SUM(p2) AS money2
        |  FROM o GROUP BY 1),
        |t AS (SELECT o_custkey, money2,
        |    NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey)
        |      AS r_tile,
        |    NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS f_tile,
        |    NTILE(5) OVER (ORDER BY money2 DESC, o_custkey) AS m_tile
        |  FROM pc)
        |SELECT CAST(r_tile AS BIGINT) AS r_tile,
        |  CAST(f_tile AS BIGINT) AS f_tile,
        |  CAST(m_tile AS BIGINT) AS m_tile,
        |  COUNT(*) AS n_cust,
        |  CAST(SUM(money2) AS DOUBLE)/1e2 AS revenue
        |FROM t GROUP BY 1, 2, 3
        |ORDER BY r_tile, f_tile, m_tile""".stripMargin,

    // the same desc rank, exact-integer Gini cross-multiplication
    // (HUGEINT), and the rank-indexed hot-key reads
    "q232_key_skew" ->
      """WITH pu AS (SELECT user_id, COUNT(*) AS cnt FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rd,
        |    COUNT(*) OVER () AS n FROM pu),
        |a AS (SELECT CAST(MAX(n) AS BIGINT) AS n_users,
        |    CAST(SUM(cnt) AS BIGINT) AS total_events,
        |    SUM(CAST(rd AS HUGEINT)*cnt) AS t,
        |    CAST(SUM(CASE WHEN rd <= 10 THEN cnt ELSE 0 END) AS BIGINT)
        |      AS top10,
        |    MAX(CASE WHEN rd = GREATEST(1, n//100) THEN cnt END) AS v99,
        |    MAX(CASE WHEN rd = GREATEST(1, n//2) THEN cnt END) AS v50
        |  FROM r)
        |SELECT n_users, total_events,
        |  FLOOR(CAST((CAST(n_users+1 AS HUGEINT)*total_events - 2*t)
        |      AS DOUBLE)
        |    /(CAST(n_users AS DOUBLE)*CAST(total_events AS DOUBLE))
        |    *1e6+0.5)/1e6 AS gini,
        |  FLOOR(CAST(top10 AS DOUBLE)/CAST(total_events AS DOUBLE)
        |    *1e6+0.5)/1e6 AS top10_share,
        |  FLOOR(CAST(v99 AS DOUBLE)/CAST(v50 AS DOUBLE)*1e4+0.5)/1e4
        |    AS p99_over_p50
        |FROM a""".stripMargin,

    // the same zero-filled type×day grid, LAG(1)/LAG(7) forecasters,
    // and exact-integer error sums
    "q233_backtest" ->
      """WITH e AS (SELECT event_type, epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT event_type, day, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |sp AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
        |d AS (SELECT UNNEST(generate_series(lo, hi)) AS day FROM sp),
        |g AS (SELECT t.event_type, d.day, COALESCE(c.n, 0) AS n
        |  FROM (SELECT DISTINCT event_type FROM c) t
        |  CROSS JOIN d
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.day = d.day),
        |s AS (SELECT *,
        |    LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day)
        |      AS f1,
        |    LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day)
        |      AS f7
        |  FROM g),
        |m AS (SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(ABS(n - f1)) AS BIGINT) AS ae1,
        |    CAST(SUM(ABS(n - f7)) AS BIGINT) AS ae7,
        |    CAST(SUM(n - f1) AS BIGINT) AS b1,
        |    CAST(SUM(n - f7) AS BIGINT) AS b7
        |  FROM s WHERE f7 IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_days,
        |  FLOOR(CAST(ae1 AS DOUBLE)/CAST(n_days AS DOUBLE)*1e4+0.5)/1e4
        |    AS mae_naive,
        |  FLOOR(CAST(ae7 AS DOUBLE)/CAST(n_days AS DOUBLE)*1e4+0.5)/1e4
        |    AS mae_seasonal,
        |  FLOOR(CAST(b1 AS DOUBLE)/CAST(n_days AS DOUBLE)*1e4+0.5)/1e4
        |    AS bias_naive,
        |  FLOOR(CAST(b7 AS DOUBLE)/CAST(n_days AS DOUBLE)*1e4+0.5)/1e4
        |    AS bias_seasonal,
        |  CASE WHEN ae7 < ae1 THEN 'seasonal'
        |       WHEN ae1 < ae7 THEN 'naive' ELSE 'tie' END AS winner
        |FROM m ORDER BY event_type""".stripMargin,

    // the same per-order max-ship delay and rank-discrete percentiles
    // by integer cross-multiplication (2·cum >= n, 10·cum >= 9·n)
    "q234_ship_sla" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
        |    CAST(o_orderdate AS DATE) AS od
        |  FROM orders WHERE o_orderkey IS NOT NULL
        |    AND o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL),
        |po AS (SELECT o.o_orderkey, prio,
        |    CAST(MAX(CAST(l_shipdate AS DATE)) - od AS BIGINT) AS delay
        |  FROM o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_shipdate IS NOT NULL
        |  GROUP BY 1, 2, od),
        |bd AS (SELECT prio, delay, COUNT(*) AS c FROM po GROUP BY 1, 2),
        |cw AS (SELECT *,
        |    SUM(c) OVER (PARTITION BY prio ORDER BY delay
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY prio) AS n FROM bd)
        |SELECT prio, CAST(MAX(n) AS BIGINT) AS n_orders,
        |  MIN(CASE WHEN cum*2 >= n THEN delay END) AS p50,
        |  MIN(CASE WHEN cum*10 >= n*9 THEN delay END) AS p90,
        |  MAX(delay) AS max_delay,
        |  FLOOR(CAST(SUM(CASE WHEN delay <= 60 THEN c ELSE 0 END)
        |      AS DOUBLE)
        |    /CAST(MAX(n) AS DOUBLE)*1e6+0.5)/1e6 AS share_within_60
        |FROM cw GROUP BY prio ORDER BY prio""".stripMargin,

    // replays the 256-bin grid, the reference (pre-split) histogram,
    // per-day cumulative cross-multiplied gaps over the union support
    // (gap only moves at bins where either side counts, so max and
    // first-max bin agree with the full-grid scan), and the exact
    // HUGEINT drift verdict
    "q235_stream_drift" ->
      """WITH e AS (SELECT value AS v, epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND NOT isnan(value)),
        |ref AS (SELECT LEAST(GREATEST(
        |      CAST(FLOOR(v/512.0*256.0) AS INT), 0), 255) AS bin,
        |    COUNT(*) AS r FROM e WHERE day < 19738 GROUP BY 1),
        |nr AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS n_ref
        |  FROM ref),
        |wb AS (SELECT day, LEAST(GREATEST(
        |      CAST(FLOOR(v/512.0*256.0) AS INT), 0), 255) AS bin,
        |    COUNT(*) AS a FROM e GROUP BY 1, 2),
        |db AS (SELECT day, bin FROM wb
        |  UNION SELECT d.day, ref.bin
        |  FROM (SELECT DISTINCT day FROM e) d, ref),
        |u AS (SELECT db.day, db.bin, COALESCE(wb.a, 0) AS a,
        |    COALESCE(ref.r, 0) AS r
        |  FROM db LEFT JOIN wb ON wb.day = db.day AND wb.bin = db.bin
        |  LEFT JOIN ref ON ref.bin = db.bin),
        |c AS (SELECT day, bin, a, r,
        |    SUM(a) OVER (PARTITION BY day ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    SUM(r) OVER (PARTITION BY day ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
        |    SUM(a) OVER (PARTITION BY day) AS nw FROM u),
        |g AS (SELECT day, bin, nw, ABS(ca*n_ref - cr*nw) AS gap
        |  FROM c, nr),
        |h AS (SELECT day, CAST(MAX(nw) AS BIGINT) AS n_win,
        |    CAST(MAX(gap) AS BIGINT) AS mgap FROM g GROUP BY 1),
        |ab AS (SELECT h.day, h.n_win, h.mgap,
        |    CASE WHEN h.mgap = 0 THEN -1 ELSE
        |      (SELECT MIN(bin) FROM g
        |       WHERE g.day = h.day AND g.gap = h.mgap) END AS at_bin
        |  FROM h)
        |SELECT CAST(day * 86400000000 AS BIGINT) AS w_start,
        |  n_win, n_ref,
        |  FLOOR(CAST(mgap AS DOUBLE)/CAST(n_win*n_ref AS DOUBLE)
        |    *1e6+0.5)/1e6 AS ks,
        |  CAST((at_bin + 1) * 2.0 AS DOUBLE) AS at_boundary,
        |  CAST(mgap AS HUGEINT)*20 >
        |    CAST(n_win AS HUGEINT)*n_ref*3 AS drifted
        |FROM ab, nr ORDER BY w_start""".stripMargin,

    // DuckDB's own strict-preceding RANGE running max — the
    // decomposition must reproduce the single-window record sweep
    // exactly, simultaneous records included
    "q236_record_highs" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us,
        |    CAST(FLOOR(value*1e6+0.5) AS BIGINT) AS v6
        |  FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |m AS (SELECT *, MAX(v6) OVER (ORDER BY us
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM e)
        |SELECT event_id, CAST(us//86400000000 AS BIGINT) AS day,
        |  CAST(v6 AS DOUBLE)/1e6 AS value
        |FROM m WHERE pm IS NULL OR v6 > pm
        |ORDER BY event_id""".stripMargin,

    // the same day-minus-row-number islands over the distinct
    // (user, day) table and the longest-streak distribution
    "q237_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |isl AS (SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |      AS island FROM ud),
        |st AS (SELECT user_id, island, COUNT(*) AS len
        |  FROM isl GROUP BY 1, 2),
        |pu AS (SELECT user_id, MAX(len) AS max_streak,
        |    COUNT(*) AS n_streaks FROM st GROUP BY 1)
        |SELECT CAST(max_streak AS BIGINT) AS max_streak,
        |  COUNT(*) AS n_users, CAST(SUM(n_streaks) AS BIGINT) AS n_streaks
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical discrete-rank medians (value, then deviation) over the
    // same quantized counts table
    "q238_mad_robust" ->
      """WITH e AS (SELECT event_type,
        |    CAST(FLOOR(value*1e6+0.5) AS BIGINT) AS v6
        |  FROM events WHERE event_type IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |c AS (SELECT event_type, v6, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cw AS (SELECT *,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v6
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM c),
        |med AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |    MIN(CASE WHEN cum*2 >= n THEN v6 END) AS med6
        |  FROM cw GROUP BY 1),
        |d AS (SELECT c.event_type, ABS(c.v6 - med.med6) AS d6,
        |    CAST(SUM(c.c) AS BIGINT) AS c
        |  FROM c JOIN med ON med.event_type = c.event_type
        |  GROUP BY 1, 2),
        |dw AS (SELECT d.event_type, d.d6, med.n, med.med6,
        |    SUM(d.c) OVER (PARTITION BY d.event_type ORDER BY d.d6
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd
        |  FROM d JOIN med ON med.event_type = d.event_type)
        |SELECT event_type, MAX(n) AS n_events,
        |  CAST(MAX(med6) AS DOUBLE)/1e6 AS median,
        |  CAST(MIN(CASE WHEN cumd*2 >= n THEN d6 END) AS DOUBLE)/1e6
        |    AS mad
        |FROM dw GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the identical exact sufficient sums (y-moments on HUGEINT — the
    // DECIMAL(38,0) twin) and the identical double formula tree
    "q241_trend_ols" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts)//86400000000 - 19700 AS x,
        |    CAST(FLOOR(value*1e6+0.5) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |s AS (SELECT event_type, COUNT(*) AS n,
        |    SUM(x) AS sx, SUM(x*x) AS sxx,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x*y AS HUGEINT)) AS sxy,
        |    SUM(CAST(y AS HUGEINT)*y) AS syy
        |  FROM e GROUP BY 1),
        |d AS (SELECT event_type, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
        |  FROM s)
        |SELECT event_type, n,
        |  FLOOR((nd*sxyd - sxd*syd)/(nd*sxxd - sxd*sxd) + 0.5)/1e6
        |    AS slope,
        |  FLOOR((syd - (nd*sxyd - sxd*syd)/(nd*sxxd - sxd*sxd)*sxd)/nd
        |    + 0.5)/1e6 AS intercept,
        |  FLOOR((nd*sxyd - sxd*syd)*(nd*sxyd - sxd*syd) /
        |    ((nd*sxxd - sxd*sxd)*(nd*syyd - syd*syd))*1e6 + 0.5)/1e6
        |    AS r2
        |FROM d ORDER BY event_type""".stripMargin,

    // same discrete median/MAD over the type×day counts and the pure
    // integer 3·MAD flag
    "q242_anomaly_days" ->
      """WITH e AS (SELECT event_type, epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT event_type, day, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cw AS (SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd FROM c),
        |med AS (SELECT event_type,
        |    MIN(CASE WHEN cum*2 >= nd THEN c END) AS med
        |  FROM cw GROUP BY 1),
        |dev AS (SELECT c.event_type, c.day, c.c, med.med,
        |    ABS(c.c - med.med) AS d
        |  FROM c JOIN med ON med.event_type = c.event_type),
        |dw AS (SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd FROM dev),
        |mad AS (SELECT event_type,
        |    MIN(CASE WHEN cumd*2 >= nd THEN d END) AS mad
        |  FROM dw GROUP BY 1)
        |SELECT dev.event_type, dev.day, dev.c AS n_events,
        |  dev.med, mad.mad
        |FROM dev JOIN mad ON mad.event_type = dev.event_type
        |WHERE dev.d > mad.mad * 3
        |ORDER BY dev.event_type, dev.day""".stripMargin,

    // the identical prefix-form CUSUM: running sum + running min per
    // type, q242's integer median/MAD, thresholds and peaks in exact
    // integer arithmetic (intermediate HUGEINTs cast back at the edge)
    "q243_cusum" ->
      """WITH e AS (SELECT event_type, epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT event_type, day, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cw AS (SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ndm FROM c),
        |med AS (SELECT event_type,
        |    MIN(CASE WHEN cum*2 >= ndm THEN c END) AS med
        |  FROM cw GROUP BY 1),
        |dev AS (SELECT c.event_type, c.day, c.c,
        |    ABS(c.c - med.med) AS d
        |  FROM c JOIN med ON med.event_type = c.event_type),
        |dw AS (SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ndm FROM dev),
        |mad AS (SELECT event_type,
        |    MIN(CASE WHEN cumd*2 >= ndm THEN d END) AS mad
        |  FROM dw GROUP BY 1),
        |st AS (SELECT event_type, COUNT(*) AS nd,
        |    CAST(SUM(c) AS BIGINT) AS tot FROM c GROUP BY 1),
        |cu AS (SELECT c.event_type, c.day, st.nd,
        |    CAST(SUM(st.nd*c.c - st.tot) OVER (PARTITION BY c.event_type
        |      ORDER BY c.day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cx
        |  FROM c JOIN st ON st.event_type = c.event_type),
        |s AS (SELECT *, cx - LEAST(0, MIN(cx) OVER (PARTITION BY
        |      event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)) AS s
        |  FROM cu),
        |sh AS (SELECT s.*, 5*GREATEST(mad.mad, 1)*s.nd AS h,
        |    MAX(s.s) OVER (PARTITION BY s.event_type) AS smax
        |  FROM s JOIN mad ON mad.event_type = s.event_type)
        |SELECT event_type, MAX(nd) AS nd,
        |  CAST(MAX(s) AS BIGINT) AS peak_cusum,
        |  MIN(CASE WHEN s = smax THEN day END) AS peak_day,
        |  COUNT(CASE WHEN s > h THEN 1 END) AS n_alarms,
        |  MIN(CASE WHEN s > h THEN day END) AS first_alarm
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,

    // dense ranks = q19's cosine pipeline at k=20; lexical ranks = 3-gram
    // shingle Jaccard over the inverted index; RRF fused over the full outer
    // join of the two lists — every float is a single IEEE op over exact
    // integers, floored at 1e-6 on both engines
    "q244_rrf_hybrid" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 20 = 0
        |    AND vec_id IS NOT NULL AND embedding IS NOT NULL),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
        |  FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |p AS (
        |  SELECT qid, nid,
        |  FLOOR(list_sum(list_apply(list_zip(qv, nv), x -> x[1] * x[2])) /
        |    (sqrt(list_sum(list_apply(qv, x -> x * x))) *
        |     sqrt(list_sum(list_apply(nv, x -> x * x)))) * 1e6 + 0.5) / 1e6
        |    AS cos
        |  FROM q, c WHERE qid <> nid),
        |dr AS (SELECT qid, nid, CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, nid ASC) AS BIGINT) AS rd FROM p),
        |d AS (SELECT qid, nid, rd FROM dr WHERE rd <= 20),
        |tk AS (SELECT doc_id, list_filter(
        |    string_split(lower(text), ' '), t -> len(t) > 0) AS toks
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |gs AS (SELECT doc_id, list_distinct(
        |    [list_aggregate(toks[i:i+2], 'string_agg', ' ')
        |     for i in range(1, len(toks)-1)]) AS g
        |  FROM tk WHERE len(toks) >= 3),
        |ix AS (SELECT doc_id, len(g) AS ntok, unnest(g) AS tok
        |  FROM gs),
        |sh AS (SELECT a.doc_id AS qid, b.doc_id AS nid,
        |    a.ntok AS nq, b.ntok AS nn, COUNT(*) AS nab
        |  FROM ix a JOIN ix b ON a.tok = b.tok
        |  WHERE a.doc_id % 20 = 0 AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |j AS (SELECT qid, nid,
        |    FLOOR(CAST(nab AS DOUBLE)/(nq+nn-nab)*1e6+0.5)/1e6 AS jac
        |  FROM sh),
        |lr AS (SELECT qid, nid, CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY jac DESC, nid ASC) AS BIGINT) AS rl FROM j),
        |l AS (SELECT qid, nid, rl FROM lr WHERE rl <= 20),
        |f AS (SELECT COALESCE(d.qid, l.qid) AS qid,
        |    COALESCE(d.nid, l.nid) AS nid, d.rd, l.rl,
        |    FLOOR((COALESCE(CAST(1 AS DOUBLE)/(60+d.rd), 0) +
        |           COALESCE(CAST(1 AS DOUBLE)/(60+l.rl), 0))*1e6+0.5)/1e6
        |      AS rrf
        |  FROM d FULL OUTER JOIN l ON d.qid = l.qid AND d.nid = l.nid),
        |r AS (SELECT qid, nid, rrf, rd, rl,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY rrf DESC, nid ASC) AS BIGINT) AS rank
        |  FROM f)
        |SELECT qid, nid, rrf, rd, rl, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // generated from the SAME q245Phrases literal the query uses: the
    // positional index is a zipped unnest (token, 0-based pos), each
    // phrase a chain of (doc, pos+i) self-joins — the identical
    // intersect-postings plan, re-derived independently in SQL
    "q245_phrase_search" -> {
      val ix =
        """WITH tk AS (SELECT doc_id, list_filter(
          |    string_split(lower(text), ' '), t -> len(t) > 0) AS toks
          |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          |ix AS (SELECT doc_id, unnest(toks) AS tok,
          |    unnest(range(0, len(toks))) AS pos FROM tk)
          |""".stripMargin
      val blocks = q245Phrases.map { p =>
        val ws = p.split(" ")
        val joins = ws.indices.drop(1).map(i =>
          s"  JOIN ix t$i ON t$i.doc_id = t0.doc_id" +
            s" AND t$i.pos = t0.pos + $i").mkString("\n")
        val preds = ws.zipWithIndex
          .map { case (w, i) => s"t$i.tok = '$w'" }.mkString(" AND ")
        s"""SELECT '$p' AS phrase,
           |  CAST(COUNT(DISTINCT t0.doc_id) AS BIGINT) AS n_docs,
           |  CAST(COUNT(*) AS BIGINT) AS n_matches
           |FROM ix t0
           |$joins
           |WHERE $preds""".stripMargin
      }
      ix + blocks.mkString("\nUNION ALL\n") + "\nORDER BY phrase"
    },

    // identical Nelson–Aalen pipeline: per-user lifetimes, 1-day churn
    // cut against the scalar observation end, reverse-cumulative risk
    // sets, hazard floored to integer micro-units, exact BIGINT cumsum
    "q246_hazard" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |u AS (SELECT user_id, MIN(us) AS first_us, MAX(us) AS last_us
        |  FROM e GROUP BY 1),
        |x AS (SELECT *, (SELECT MAX(last_us) FROM u) AS end_us FROM u),
        |d AS (SELECT (last_us - first_us)//86400000000 AS dur,
        |    CASE WHEN last_us < end_us - 86400000000 THEN 1 ELSE 0 END
        |      AS churned
        |  FROM x),
        |b AS (SELECT dur, COUNT(*) AS n_enter,
        |    CAST(SUM(churned) AS BIGINT) AS n_events FROM d GROUP BY 1),
        |w AS (SELECT *,
        |    CAST(SUM(n_enter) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_enter,
        |    CAST(SUM(n_enter) OVER () AS BIGINT) AS total FROM b),
        |h AS (SELECT dur, total - cum_enter + n_enter AS n_at_risk,
        |    n_events,
        |    CAST(FLOOR(CAST(n_events AS DOUBLE) /
        |      (total - cum_enter + n_enter) * 1e6 + 0.5) AS BIGINT)
        |      AS hazard_u
        |  FROM w WHERE n_events > 0)
        |SELECT dur, n_at_risk, n_events, hazard_u,
        |  CAST(SUM(hazard_u) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hazard_u
        |FROM h ORDER BY dur""".stripMargin,

    // generated from the SAME replicate count and CDF-threshold literals
    // the query uses: per-row hash-uniforms (md5_number_lower >> 11, the
    // md5_lower64 contract), the identical Poisson ladder, HUGEINT
    // weighted sums cast at the edge, the identical nearest-rank picks
    "q247_bootstrap_ci" -> {
      val R = q247Replicates
      val us = (0 until R).map(r =>
        s"    (md5_number_lower(eid || '#$r') >> 11)" +
          s" / 9007199254740992.0 AS u_$r").mkString(",\n")
      val ws = (0 until R).map { r =>
        val ladder = q247PoissonCdf.zipWithIndex
          .map { case (t, k) => s"WHEN u_$r < $t THEN $k" }.mkString(" ")
        s"    CASE $ladder ELSE 8 END AS w_$r"
      }.mkString(",\n")
      val sums = (0 until R).map(r =>
        s"    CAST(SUM(w_$r * v) AS DOUBLE) AS swv_$r," +
          s" CAST(SUM(w_$r) AS DOUBLE) AS sw_$r").mkString(",\n")
      val means = (0 until R).map(r =>
        s"FLOOR(swv_$r / (1e6 * sw_$r) * 1e6 + 0.5) / 1e6")
        .mkString(",\n      ")
      s"""WITH e AS (SELECT event_type, CAST(event_id AS VARCHAR) AS eid,
         |    CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS v
         |  FROM events WHERE event_type IS NOT NULL
         |    AND event_id IS NOT NULL AND value IS NOT NULL
         |    AND NOT isnan(value)),
         |us AS (SELECT event_type, v,
         |$us
         |  FROM e),
         |ws AS (SELECT event_type, v,
         |$ws
         |  FROM us),
         |g AS (SELECT event_type, COUNT(*) AS n,
         |    CAST(SUM(v) AS DOUBLE) AS sv,
         |$sums
         |  FROM ws GROUP BY 1),
         |m AS (SELECT event_type, n, sv,
         |    list_sort([
         |      $means]) AS ms
         |  FROM g)
         |SELECT event_type, n,
         |  FLOOR(sv / (1e6 * n) * 1e6 + 0.5) / 1e6 AS mean,
         |  ms[${math.ceil(0.025 * R).toInt}] AS ci_lo,
         |  ms[${math.ceil(0.975 * R).toInt}] AS ci_hi
         |FROM m ORDER BY event_type""".stripMargin
    },

    // q19's cosine pipeline at k=10 feeds the same statically-unrolled
    // greedy: candidate-local pairwise sims, then per round an
    // anti-join + max-sim + windowed argmax; λ-combination re-floored
    // before ranking, ties on nid — deterministic both engines
    "q248_mmr_rerank" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 20 = 0
        |    AND vec_id IS NOT NULL AND embedding IS NOT NULL),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
        |  FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |p AS (
        |  SELECT qid, nid,
        |  FLOOR(list_sum(list_apply(list_zip(qv, nv), x -> x[1] * x[2])) /
        |    (sqrt(list_sum(list_apply(qv, x -> x * x))) *
        |     sqrt(list_sum(list_apply(nv, x -> x * x)))) * 1e6 + 0.5) / 1e6
        |    AS cos
        |  FROM q, c WHERE qid <> nid),
        |rk AS (SELECT qid, nid, cos AS rel, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rn FROM p),
        |cand AS (SELECT qid, nid, rel FROM rk WHERE rn <= 10),
        |cv AS (SELECT cand.qid, cand.nid, cand.rel, c.nv AS v
        |  FROM cand JOIN c ON c.nid = cand.nid),
        |pr AS (SELECT a.qid, a.nid AS anid, b.nid AS bnid,
        |    FLOOR(list_sum(list_apply(list_zip(a.v, b.v),
        |      x -> x[1] * x[2])) /
        |      (sqrt(list_sum(list_apply(a.v, x -> x * x))) *
        |       sqrt(list_sum(list_apply(b.v, x -> x * x)))) * 1e6 + 0.5)
        |      / 1e6 AS sim
        |  FROM cv a JOIN cv b ON a.qid = b.qid AND a.nid <> b.nid),
        |sel1 AS (SELECT qid, nid, rel AS score FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY rel DESC, nid ASC) AS rn FROM cand) t
        |  WHERE rn = 1),
        |ms1 AS (SELECT pr.qid, pr.anid AS nid, MAX(pr.sim) AS msim
        |  FROM pr JOIN sel1 ON sel1.qid = pr.qid AND sel1.nid = pr.bnid
        |  GROUP BY 1, 2),
        |sc2 AS (SELECT cand.qid, cand.nid,
        |    FLOOR((CAST(0.7 AS DOUBLE) * cand.rel -
        |      CAST(0.3 AS DOUBLE) * ms1.msim) * 1e6 + 0.5) / 1e6 AS sc
        |  FROM cand JOIN ms1 ON ms1.qid = cand.qid AND ms1.nid = cand.nid
        |  WHERE NOT EXISTS (SELECT 1 FROM sel1
        |    WHERE sel1.qid = cand.qid AND sel1.nid = cand.nid)),
        |sel2 AS (SELECT qid, nid, sc AS score FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY sc DESC, nid ASC) AS rn FROM sc2) t
        |  WHERE rn = 1),
        |s12 AS (SELECT qid, nid FROM sel1
        |  UNION ALL SELECT qid, nid FROM sel2),
        |ms2 AS (SELECT pr.qid, pr.anid AS nid, MAX(pr.sim) AS msim
        |  FROM pr JOIN s12 ON s12.qid = pr.qid AND s12.nid = pr.bnid
        |  GROUP BY 1, 2),
        |sc3 AS (SELECT cand.qid, cand.nid,
        |    FLOOR((CAST(0.7 AS DOUBLE) * cand.rel -
        |      CAST(0.3 AS DOUBLE) * ms2.msim) * 1e6 + 0.5) / 1e6 AS sc
        |  FROM cand JOIN ms2 ON ms2.qid = cand.qid AND ms2.nid = cand.nid
        |  WHERE NOT EXISTS (SELECT 1 FROM s12
        |    WHERE s12.qid = cand.qid AND s12.nid = cand.nid)),
        |sel3 AS (SELECT qid, nid, sc AS score FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY sc DESC, nid ASC) AS rn FROM sc3) t
        |  WHERE rn = 1)
        |SELECT qid, CAST(1 AS INT) AS pick, nid, score FROM sel1
        |UNION ALL
        |SELECT qid, CAST(2 AS INT) AS pick, nid, score FROM sel2
        |UNION ALL
        |SELECT qid, CAST(3 AS INT) AS pick, nid, score FROM sel3
        |ORDER BY qid, pick""".stripMargin,

    // the ENTIRE sketch replayed: same md5 bottom-k coin (>> 11, both
    // engines nonnegative), same nearest-rank picks on sample and full
    // data, same integer DKW bound arithmetic
    "q249_sample_quantile" ->
      """WITH e AS (SELECT event_type,
        |    CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS v6,
        |    CAST(md5_number_lower(CAST(event_id AS VARCHAR) || '#q249')
        |      >> 11 AS BIGINT) AS h,
        |    event_id
        |  FROM events WHERE event_type IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL
        |    AND NOT isnan(value)),
        |smp AS (SELECT event_type, v6 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY h, event_id) AS rs FROM e) t
        |  WHERE rs <= 1024),
        |sw AS (SELECT event_type, v6,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY v6
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ks FROM smp),
        |sq AS (SELECT event_type,
        |    MIN(CASE WHEN cum*2 >= ks*1 THEN v6 END) AS est_p50,
        |    MIN(CASE WHEN cum*10 >= ks*9 THEN v6 END) AS est_p90,
        |    MIN(CASE WHEN cum*100 >= ks*99 THEN v6 END) AS est_p99
        |  FROM sw GROUP BY 1),
        |fl AS (SELECT event_type, v6, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |fw AS (SELECT event_type, v6, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v6
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM fl),
        |fq AS (SELECT event_type, MAX(n) AS n,
        |    MIN(CASE WHEN cum*2 >= n*1 THEN v6 END) AS exact_p50,
        |    MIN(CASE WHEN cum*10 >= n*9 THEN v6 END) AS exact_p90,
        |    MIN(CASE WHEN cum*100 >= n*99 THEN v6 END) AS exact_p99
        |  FROM fw GROUP BY 1),
        |lr AS (
        |  SELECT sq.event_type, 'p50' AS pct, 1 AS num, 2 AS den,
        |    fq.n, sq.est_p50 AS est, fq.exact_p50 AS exact
        |  FROM sq JOIN fq ON fq.event_type = sq.event_type
        |  UNION ALL
        |  SELECT sq.event_type, 'p90', 9, 10, fq.n, sq.est_p90,
        |    fq.exact_p90
        |  FROM sq JOIN fq ON fq.event_type = sq.event_type
        |  UNION ALL
        |  SELECT sq.event_type, 'p99', 99, 100, fq.n, sq.est_p99,
        |    fq.exact_p99
        |  FROM sq JOIN fq ON fq.event_type = sq.event_type),
        |ct AS (SELECT lr.event_type, lr.pct, lr.num, lr.den, lr.n,
        |    lr.est, lr.exact,
        |    CAST(SUM(CASE WHEN fl.v6 <= lr.est THEN fl.c ELSE 0 END)
        |      AS BIGINT) AS cnt_le
        |  FROM lr JOIN fl ON fl.event_type = lr.event_type
        |  GROUP BY 1, 2, 3, 4, 5, 6, 7)
        |SELECT event_type, pct, n,
        |  CAST(est AS DOUBLE) / 1e6 AS est,
        |  CAST(exact AS DOUBLE) / 1e6 AS exact,
        |  ABS(den*cnt_le - num*n) AS rank_err,
        |  CAST(ABS(den*cnt_le - num*n) * 1000 <= den*n*90 AS INT)
        |    AS bound_ok
        |FROM ct ORDER BY event_type, pct""".stripMargin,

    // batch replay of the monitor: same reference-period med/MAD fit,
    // recurrence via the prefix identity over every day except each
    // type's still-open max day; a type with no reference days gets
    // med 0 / mad 0 (the monitor's getOrElse), hence the LEFT JOINs
    "q250_stream_cusum" ->
      """WITH e AS (SELECT event_type, epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT event_type, day, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |r AS (SELECT * FROM c WHERE day < 19738),
        |rw AS (SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ndm FROM r),
        |med AS (SELECT event_type,
        |    MIN(CASE WHEN cum*2 >= ndm THEN c END) AS med
        |  FROM rw GROUP BY 1),
        |dev AS (SELECT r.event_type, r.c, ABS(r.c - med.med) AS d
        |  FROM r JOIN med ON med.event_type = r.event_type),
        |dw AS (SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ndm FROM dev),
        |mad AS (SELECT event_type,
        |    MIN(CASE WHEN cumd*2 >= ndm THEN d END) AS mad
        |  FROM dw GROUP BY 1),
        |mx AS (SELECT event_type, MAX(day) AS mxd FROM c GROUP BY 1),
        |inc AS (SELECT c.*, COALESCE(med.med, 0) AS med,
        |    COALESCE(mad.mad, 0) AS mad
        |  FROM c
        |  JOIN mx ON mx.event_type = c.event_type AND c.day < mx.mxd
        |  LEFT JOIN med ON med.event_type = c.event_type
        |  LEFT JOIN mad ON mad.event_type = c.event_type),
        |cu AS (SELECT event_type, day, c, mad,
        |    CAST(SUM(c - med) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cx
        |  FROM inc),
        |s AS (SELECT *, cx - LEAST(0, MIN(cx) OVER (PARTITION BY
        |      event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)) AS s
        |  FROM cu)
        |SELECT event_type, day, c AS n_events, CAST(s AS BIGINT) AS cusum,
        |  s > 5*GREATEST(mad, 1) AS alarm
        |FROM s ORDER BY event_type, day""".stripMargin,

    // identical positional bigrams (zipped unnest), HUGEINT cross-products
    // cast to DOUBLE for the one lift division, same support cut and
    // deterministic top-20 total order
    "q251_collocations" ->
      """WITH tk AS (SELECT doc_id, list_filter(
        |    string_split(lower(text), ' '), t -> len(t) > 0) AS toks
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |ix AS (SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(0, len(toks))) AS pos FROM tk),
        |uni AS (SELECT tok, COUNT(*) AS cu FROM ix GROUP BY 1),
        |bi AS (SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS n_ab
        |  FROM ix a JOIN ix b
        |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |tot AS (SELECT (SELECT CAST(SUM(cu) AS BIGINT) FROM uni) AS nn,
        |    (SELECT CAST(SUM(n_ab) AS BIGINT) FROM bi) AS bb),
        |sc AS (SELECT bi.w1, bi.w2, bi.n_ab, ua.cu AS ca, ub.cu AS cb,
        |    FLOOR(CAST(bi.n_ab * tot.nn * tot.nn AS DOUBLE) /
        |      CAST(tot.bb * ua.cu * ub.cu AS DOUBLE) * 1e6 + 0.5) / 1e6
        |      AS lift
        |  FROM bi
        |  JOIN uni ua ON ua.tok = bi.w1
        |  JOIN uni ub ON ub.tok = bi.w2
        |  CROSS JOIN tot
        |  WHERE bi.n_ab >= 5)
        |SELECT w1, w2, n_ab, ca, cb, lift FROM sc
        |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin,

    // identical decomposition: per-(type, dow) integer median seasonal,
    // 7-scaled centered-MA trend (NULL at edges), exact integer residual,
    // |resid7| > 3·max(mad7, 7) anomaly flag
    "q252_seasonal" ->
      """WITH e AS (SELECT event_type, epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT event_type, day, COUNT(*) AS c, day % 7 AS dow
        |  FROM e GROUP BY 1, 2),
        |t AS (SELECT *,
        |    CASE WHEN COUNT(*) OVER w7 = 7
        |      THEN CAST(SUM(c) OVER w7 AS BIGINT) END AS trend7
        |  FROM c
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |td AS (SELECT *, c*7 - trend7 AS d7 FROM t),
        |sw AS (SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type, dow ORDER BY d7
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER (PARTITION BY event_type, dow) AS nd
        |  FROM td WHERE d7 IS NOT NULL),
        |seas AS (SELECT event_type, dow,
        |    MIN(CASE WHEN cum*2 >= nd THEN d7 END) AS seas7
        |  FROM sw GROUP BY 1, 2),
        |tr AS (SELECT td.*, seas.seas7, td.d7 - seas.seas7 AS resid7
        |  FROM td LEFT JOIN seas ON seas.event_type = td.event_type
        |    AND seas.dow = td.dow),
        |rw AS (SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY ABS(resid7)
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM tr WHERE resid7 IS NOT NULL),
        |mads AS (SELECT event_type,
        |    MIN(CASE WHEN cum*2 >= nd THEN ABS(resid7) END) AS mad7
        |  FROM rw GROUP BY 1)
        |SELECT tr.event_type, tr.day, tr.dow, tr.c AS n_events,
        |  FLOOR(CAST(tr.trend7 AS DOUBLE) / 7.0 * 1e6 + 0.5) / 1e6
        |    AS trend,
        |  FLOOR(CAST(tr.seas7 AS DOUBLE) / 7.0 * 1e6 + 0.5) / 1e6
        |    AS seasonal,
        |  tr.resid7,
        |  CASE WHEN tr.resid7 IS NOT NULL
        |    THEN ABS(tr.resid7) > 3*GREATEST(mads.mad7, 7) END AS is_anom
        |FROM tr LEFT JOIN mads ON mads.event_type = tr.event_type
        |ORDER BY tr.event_type, tr.day""".stripMargin,

    // the same cascade: q12's order-normalized fingerprint groupBy, q34's
    // exact-Jaccard pairs + recursive-CTE closure over the SURVIVORS,
    // the identical min-id keep accounting
    "q253_dedup_cascade" ->
      """WITH RECURSIVE d AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |fp AS (SELECT md5(COALESCE(array_to_string(list_sort(
        |      list_filter(string_split(lower(text), ' '),
        |        t -> len(t) > 0)), ' '), '')) AS k,
        |    CAST(MIN(doc_id) AS BIGINT) AS keep
        |  FROM d GROUP BY 1),
        |n0 AS (SELECT COUNT(*) AS n0 FROM d),
        |g1 AS (SELECT COUNT(*) AS g1 FROM fp),
        |tk AS (SELECT d.doc_id, list_filter(
        |    string_split(lower(d.text), ' '), t -> len(t) > 0) AS t0
        |  FROM d JOIN fp ON fp.keep = d.doc_id),
        |s AS (SELECT doc_id,
        |    CASE WHEN len(t0) >= 3
        |      THEN list_distinct([list_aggregate(t0[i:i+2],
        |        'string_agg', ' ') for i in range(1, len(t0)-1)])
        |      ELSE [COALESCE(list_aggregate(t0, 'string_agg', ' '), '')]
        |      END AS toks
        |  FROM tk),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (len(a.toks) + len(b.toks) -
        |     len(list_intersect(a.toks, b.toks))) >= 0.8),
        |edges AS (SELECT id_a AS s, id_b AS d FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |closure(n, m) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT c.n, e.d FROM closure c JOIN edges e ON c.m = e.s),
        |cc AS (SELECT n AS node, LEAST(n, MIN(m)) AS label
        |  FROM closure GROUP BY n),
        |r2 AS (SELECT COUNT(*) - COUNT(DISTINCT label) AS rem2 FROM cc)
        |SELECT '1_exact' AS stage, n0.n0 AS docs_in,
        |  n0.n0 - g1.g1 AS docs_removed, g1.g1 AS docs_out
        |FROM n0, g1
        |UNION ALL
        |SELECT '2_near', g1.g1, r2.rem2, g1.g1 - r2.rem2
        |FROM g1, r2
        |ORDER BY stage""".stripMargin,

    // identical lag join over the day grid, the same exact-sums Pearson
    // formula tree, same min-overlap and variance guards, same
    // (r DESC, |lag|, lag) best pick
    "q254_lag_xcorr" ->
      """WITH e AS (SELECT event_type, epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |daily AS (SELECT event_type, day, COUNT(*) AS n
        |  FROM e GROUP BY 1, 2),
        |lg AS (SELECT event_type AS ta, day, n AS x,
        |    unnest(range(-7, 8)) AS k FROM daily),
        |j AS (SELECT lg.ta, b.event_type AS tb, lg.k, lg.x, b.n AS y
        |  FROM lg JOIN daily b ON b.day = lg.day + lg.k
        |    AND lg.ta < b.event_type),
        |m AS (SELECT ta, tb, k, COUNT(*) AS m,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy
        |  FROM j GROUP BY 1, 2, 3 HAVING COUNT(*) >= 10),
        |sc AS (SELECT ta, tb, k, m,
        |    CASE WHEN sqrt(m*CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
        |      sqrt(m*CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) > 0
        |    THEN FLOOR((m*CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |      (sqrt(m*CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
        |       sqrt(m*CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) * 1e6 + 0.5)/1e6
        |    END AS r
        |  FROM m),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ta, tb
        |    ORDER BY r DESC, ABS(k), k) AS rn
        |  FROM sc WHERE r IS NOT NULL)
        |SELECT ta, tb, k AS best_lag, r, m FROM rk WHERE rn = 1
        |ORDER BY ta, tb""".stripMargin,

    // identical grid normalization (one IEEE divide, 1e-6 floor per
    // component), per-dimension HUGEINT sums, the same exact moment
    // identity, one double division at the edge
    "q255_embed_diversity" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |nv AS (SELECT label,
        |    sqrt(list_sum(list_apply(v, x -> x * x))) AS nrm, v
        |  FROM e),
        |u AS (SELECT label,
        |    list_transform(v, x -> CAST(FLOOR(x / nrm * 1e6 + 0.5)
        |      AS BIGINT)) AS u6
        |  FROM nv WHERE nrm > 0),
        |pc AS (SELECT label, COUNT(*) AS n,
        |    CAST(SUM(list_sum(list_apply(u6, x -> x * x)))
        |      AS HUGEINT) AS un
        |  FROM u GROUP BY 1),
        |dm AS (SELECT label, pos, SUM(c) AS s6 FROM (
        |    SELECT label, unnest(u6) AS c,
        |      unnest(range(0, len(u6))) AS pos FROM u) t
        |  GROUP BY 1, 2),
        |sq AS (SELECT label, SUM(CAST(s6 AS HUGEINT) * s6) AS ssq
        |  FROM dm GROUP BY 1)
        |SELECT pc.label, pc.n,
        |  FLOOR(CAST(sq.ssq - pc.un AS DOUBLE) /
        |    (CAST(pc.n AS DOUBLE) * CAST(pc.n - 1 AS DOUBLE)) / 1e12
        |    * 1e6 + 0.5) / 1e6 AS mean_cos,
        |  FLOOR(sqrt(CAST(sq.ssq AS DOUBLE)) / CAST(pc.n AS DOUBLE)
        |    / 1e6 * 1e6 + 0.5) / 1e6 AS centroid_norm
        |FROM pc JOIN sq ON sq.label = pc.label
        |WHERE pc.n >= 2 ORDER BY pc.label""".stripMargin,

    // same per-dimension sums, exact HUGEINT dot, one double division
    "q256_centroid_matrix" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |nv AS (SELECT label,
        |    sqrt(list_sum(list_apply(v, x -> x * x))) AS nrm, v
        |  FROM e),
        |u AS (SELECT label,
        |    list_transform(v, x -> CAST(FLOOR(x / nrm * 1e6 + 0.5)
        |      AS BIGINT)) AS u6
        |  FROM nv WHERE nrm > 0),
        |dm AS (SELECT label, pos, SUM(c) AS s6 FROM (
        |    SELECT label, unnest(u6) AS c,
        |      unnest(range(0, len(u6))) AS pos FROM u) t
        |  GROUP BY 1, 2),
        |p AS (SELECT a.label AS la, b.label AS lb,
        |    SUM(CAST(a.s6 AS HUGEINT) * b.s6) AS dot,
        |    SUM(CAST(a.s6 AS HUGEINT) * a.s6) AS na,
        |    SUM(CAST(b.s6 AS HUGEINT) * b.s6) AS nb
        |  FROM dm a JOIN dm b ON b.pos = a.pos AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT la, lb,
        |  FLOOR(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |    * 1e6 + 0.5) / 1e6 AS cos
        |FROM p ORDER BY la, lb""".stripMargin,

    // q244's lexical ranks + the same two-window quota; identical tie
    // orders, ranks cast to BIGINT
    "q257_fair_topk" ->
      """WITH tk AS (SELECT doc_id, source, list_filter(
        |    string_split(lower(text), ' '), t -> len(t) > 0) AS toks
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |gs AS (SELECT doc_id, list_distinct(
        |    [list_aggregate(toks[i:i+2], 'string_agg', ' ')
        |     for i in range(1, len(toks)-1)]) AS g
        |  FROM tk WHERE len(toks) >= 3),
        |ix AS (SELECT doc_id, len(g) AS ntok, unnest(g) AS tok
        |  FROM gs),
        |sh AS (SELECT a.doc_id AS qid, b.doc_id AS nid,
        |    a.ntok AS nq, b.ntok AS nn, COUNT(*) AS nab
        |  FROM ix a JOIN ix b ON a.tok = b.tok
        |  WHERE a.doc_id % 20 = 0 AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |j AS (SELECT sh.qid, sh.nid, tk.source AS src,
        |    FLOOR(CAST(nab AS DOUBLE)/(nq+nn-nab)*1e6+0.5)/1e6 AS jac
        |  FROM sh JOIN tk ON tk.doc_id = sh.nid),
        |sr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid, src
        |    ORDER BY jac DESC, nid ASC) AS BIGINT) AS source_rank FROM j),
        |fr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY jac DESC, nid ASC) AS BIGINT) AS rank
        |  FROM sr WHERE source_rank <= 2)
        |SELECT qid, nid, src, jac, source_rank, rank FROM fr
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // same contingency-grid route: tie-aware U as Σ p·(2·negBelow+q)
    // and KS as max |cumP·Q − cumQ·P| on HUGEINT (Spark DECIMAL(38,0)),
    // one floor-rounded division at the end; gini re-floored from the
    // ROUNDED auc on both engines
    "q258_auc_roc" ->
      """WITH e AS (SELECT user_id % 4 AS segment,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS score2,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT segment, score2, SUM(y) AS p, SUM(1 - y) AS q
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT segment, p, q,
        |    COALESCE(SUM(q) OVER (PARTITION BY segment ORDER BY score2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS neg_below,
        |    SUM(p) OVER (PARTITION BY segment ORDER BY score2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
        |    SUM(q) OVER (PARTITION BY segment ORDER BY score2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_q,
        |    SUM(p) OVER (PARTITION BY segment) AS pp,
        |    SUM(q) OVER (PARTITION BY segment) AS qq
        |  FROM g),
        |a AS (SELECT segment, MAX(pp) AS n_pos, MAX(qq) AS n_neg,
        |    SUM(CAST(p AS HUGEINT) * (2 * neg_below + q)) AS u2,
        |    MAX(ABS(CAST(cum_p AS HUGEINT) * qq -
        |      CAST(cum_q AS HUGEINT) * pp)) AS ksn
        |  FROM c GROUP BY 1),
        |f AS (SELECT segment, n_pos, n_neg,
        |    FLOOR(CAST(u2 AS DOUBLE) / (CAST(n_pos AS DOUBLE) *
        |      CAST(n_neg AS DOUBLE) * 2) * 1e6 + 0.5) / 1e6 AS auc,
        |    FLOOR(CAST(ksn AS DOUBLE) / (CAST(n_pos AS DOUBLE) *
        |      CAST(n_neg AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ks
        |  FROM a WHERE n_pos > 0 AND n_neg > 0)
        |SELECT CAST(segment AS BIGINT) AS segment,
        |  CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(auc AS DOUBLE) AS auc,
        |  CAST(FLOOR((auc * 2 - 1) * 1e6 + 0.5) / 1e6 AS DOUBLE) AS gini,
        |  CAST(ks AS DOUBLE) AS ks
        |FROM f ORDER BY segment""".stripMargin,

    // same single groupBy: integer numerators for every ratio (|acc−conf|
    // per bin is |100·Σy − Σpq| / (100·n)); ECE/Brier as whole-grid
    // window totals of the same integer sums
    "q259_calibration" ->
      """WITH e AS (SELECT CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) % 101
        |    AS pq,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE event_type IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |b AS (SELECT LEAST(pq // 10, 9) AS bin, COUNT(*) AS n,
        |    SUM(pq) AS spq, SUM(y) AS sy,
        |    SUM((pq - 100 * y) * (pq - 100 * y)) AS ssq
        |  FROM e GROUP BY 1),
        |w AS (SELECT *, SUM(n) OVER () AS nn,
        |    SUM(ABS(sy * 100 - spq)) OVER () AS sabs,
        |    SUM(ssq) OVER () AS ssqt FROM b)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  CAST(FLOOR(CAST(spq AS DOUBLE) / (CAST(n AS DOUBLE) * 100)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS conf,
        |  CAST(FLOOR(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS acc,
        |  CAST(FLOOR(CAST(ABS(sy * 100 - spq) AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * 100) * 1e6 + 0.5) / 1e6 AS DOUBLE) AS gap,
        |  CAST(FLOOR(CAST(sabs AS DOUBLE) / (CAST(nn AS DOUBLE) * 100)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS ece,
        |  CAST(FLOOR(CAST(ssqt AS DOUBLE) / (CAST(nn AS DOUBLE) * 10000)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS brier
        |FROM w ORDER BY bin""".stripMargin,

    // same fixed-width bins and exact-rational shift numerators on
    // HUGEINT; TVD as the whole-grid window total
    "q260_bin_drift" ->
      """WITH e AS (SELECT LEAST(CAST(FLOOR(value / 25) AS BIGINT), 19)
        |    AS bin,
        |    CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END
        |      AS is_e
        |  FROM events WHERE ts IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |b AS (SELECT bin, SUM(is_e) AS e_cnt, SUM(1 - is_e) AS a_cnt
        |  FROM e GROUP BY 1),
        |w AS (SELECT *, SUM(e_cnt) OVER () AS ne,
        |    SUM(a_cnt) OVER () AS na FROM b),
        |t AS (SELECT *, ABS(CAST(a_cnt AS HUGEINT) * ne -
        |    CAST(e_cnt AS HUGEINT) * na) AS shift_num FROM w),
        |u AS (SELECT *, SUM(shift_num) OVER () AS tvd_num FROM t)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(e_cnt AS BIGINT) AS e_cnt,
        |  CAST(a_cnt AS BIGINT) AS a_cnt,
        |  CAST(FLOOR(CAST(e_cnt AS DOUBLE) / CAST(ne AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS e_share,
        |  CAST(FLOOR(CAST(a_cnt AS DOUBLE) / CAST(na AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS a_share,
        |  CAST(FLOOR(CAST(shift_num AS DOUBLE) /
        |    (CAST(na AS DOUBLE) * CAST(ne AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS shift,
        |  CAST(FLOOR(CAST(tvd_num AS DOUBLE) /
        |    (CAST(na AS DOUBLE) * CAST(ne AS DOUBLE) * 2) * 1e6 + 0.5)
        |    / 1e6 AS DOUBLE) AS tvd
        |FROM u ORDER BY bin""".stripMargin,

    // engine-native NTILE over (score DESC, event_id) — PrefixSum's
    // remainder semantics match the standard bit for bit; lift as the
    // exact rational n_pos·N/(n·P) on HUGEINT
    "q261_gains" ->
      """WITH e AS (SELECT event_id,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS score2,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE event_type IS NOT NULL
        |    AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |t AS (SELECT y, NTILE(10) OVER (ORDER BY score2 DESC, event_id)
        |    AS decile FROM e),
        |g AS (SELECT decile, COUNT(*) AS n, SUM(y) AS n_pos
        |  FROM t GROUP BY 1),
        |w AS (SELECT *, SUM(n_pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |    SUM(n_pos) OVER () AS tot_pos, SUM(n) OVER () AS tot_n
        |  FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n,
        |  CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(FLOOR(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS pos_rate,
        |  CAST(FLOOR(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS capture,
        |  CAST(FLOOR(CAST(CAST(n_pos AS HUGEINT) * tot_n AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * tot_pos AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS DOUBLE) AS lift
        |FROM w ORDER BY decile""".stripMargin,

    // UNION ALL unpivot (DuckDB has no stack); the same per-cell
    // floor-to-1e-6-grid child terms so accumulation order is moot
    "q262_gini_gain" ->
      """WITH e AS (SELECT
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y,
        |    CAST(user_id % 8 AS VARCHAR) AS segment,
        |    CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS VARCHAR) AS dow,
        |    CAST(LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS VARCHAR)
        |      AS value_band
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
        |u AS (SELECT y, 'segment' AS feature, segment AS x FROM e
        |  UNION ALL SELECT y, 'dow', dow FROM e
        |  UNION ALL SELECT y, 'value_band', value_band FROM e),
        |cells AS (SELECT feature, x, COUNT(*) AS nx, SUM(y) AS px
        |  FROM u GROUP BY 1, 2),
        |terms AS (SELECT feature, nx, px,
        |    CAST(FLOOR(CAST(CAST(px AS HUGEINT) * px +
        |      CAST(nx - px AS HUGEINT) * (nx - px) AS DOUBLE) /
        |      CAST(nx AS DOUBLE) * 1e6 + 0.5) AS HUGEINT) AS t6
        |  FROM cells),
        |pf AS (SELECT feature, SUM(nx) AS n, SUM(px) AS p, SUM(t6) AS s6
        |  FROM terms GROUP BY 1),
        |s AS (SELECT feature, n,
        |    1000000 - CAST(FLOOR(CAST(CAST(p AS HUGEINT) * p +
        |      CAST(n - p AS HUGEINT) * (n - p) AS DOUBLE) /
        |      CAST(CAST(n AS HUGEINT) * n AS DOUBLE) * 1e6 + 0.5)
        |      AS BIGINT) AS parent6,
        |    1000000 - CAST(FLOOR(CAST(s6 AS DOUBLE) / CAST(n AS DOUBLE)
        |      + 0.5) AS BIGINT) AS child6
        |  FROM pf)
        |SELECT feature, CAST(n AS BIGINT) AS n,
        |  CAST(parent6 AS DOUBLE) / 1e6 AS gini_parent,
        |  CAST(child6 AS DOUBLE) / 1e6 AS gini_split,
        |  CAST(parent6 - child6 AS DOUBLE) / 1e6 AS gain,
        |  CAST(ROW_NUMBER() OVER (ORDER BY parent6 - child6 DESC, feature)
        |    AS BIGINT) AS rank
        |FROM s ORDER BY rank""".stripMargin,

    // the same sessionization, distinct (session, type) baskets, and
    // a<b pair join; support over the distinct-session count
    "q221_session_basket" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |f AS (SELECT *, CASE WHEN us - LAG(us) OVER w <= 7200000000
        |    THEN 0 ELSE 1 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id)),
        |n AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS sess_no FROM f),
        |items AS (SELECT DISTINCT user_id, sess_no, event_type FROM n),
        |ns AS (SELECT COUNT(*) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, sess_no FROM items)),
        |p AS (SELECT a.event_type AS a, b.event_type AS b,
        |    COUNT(*) AS n_ab
        |  FROM items a JOIN items b ON a.user_id = b.user_id
        |    AND a.sess_no = b.sess_no AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT a, b, n_ab,
        |  FLOOR(CAST(n_ab AS DOUBLE)/CAST(n_sessions AS DOUBLE)
        |    *1e6+0.5)/1e6 AS support
        |FROM p, ns ORDER BY a, b""".stripMargin,

    // the identical per-line fixed product tree and integer bands
    "q222_value_reconcile" ->
      """WITH l AS (SELECT l_orderkey AS o_orderkey,
        |    SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
        |      * (1.0 + l_tax) * 1e6 + 0.5) AS BIGINT)) AS lines6,
        |    COUNT(*) AS n_lines
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |o AS (SELECT o_orderkey,
        |    CAST(FLOOR(o_totalprice*1e6+0.5) AS BIGINT) AS tot6
        |  FROM orders WHERE o_orderkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL),
        |j AS (SELECT o.o_orderkey, o.tot6, l.lines6 FROM o
        |  LEFT JOIN l USING (o_orderkey))
        |SELECT CASE WHEN lines6 IS NULL THEN 'no_lines'
        |  WHEN abs(lines6 - tot6) = 0 THEN 'exact'
        |  WHEN abs(lines6 - tot6) * 100 <= tot6 THEN 'within_1pct'
        |  WHEN abs(lines6 - tot6) * 10 <= tot6 THEN 'within_10pct'
        |  ELSE 'off' END AS band, COUNT(*) AS n_orders
        |FROM j GROUP BY 1 ORDER BY band""".stripMargin,

    // same 1-based locate and edge-clamped character substring
    "q219_kwic" ->
      """SELECT doc_id,
        |  CAST(strpos(lower(text), 'data') AS BIGINT) AS pos,
        |  substr(text,
        |    GREATEST(strpos(lower(text), 'data') - 20, 1), 44)
        |    AS snippet
        |FROM documents WHERE text IS NOT NULL
        |  AND strpos(lower(text), 'data') > 0
        |ORDER BY doc_id""".stripMargin,

    // identical Hamilton arithmetic in BIGINT; the budget invariant
    // rides the hash
    "q220_apportionment" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT *, SUM(n) OVER () AS tot FROM c),
        |b AS (SELECT *, (n * 1000) // tot AS floor_q,
        |    n*1000 - ((n*1000)//tot)*tot AS rem FROM t),
        |r AS (SELECT *,
        |    CAST(1000 - SUM(floor_q) OVER () AS BIGINT) AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM b)
        |SELECT source, n,
        |  CAST(floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM r ORDER BY source""".stripMargin,

    // each survivorship rule replayed as an ordered ignore-ahead
    // FIRST_VALUE window (non-null first, then the rule's order) —
    // equivalent row picks to the engine's null-guarded struct maxes
    "q218_golden_record" ->
      """WITH c AS (SELECT c_custkey AS id, c_custkey // 5 AS grp,
        |    c_mktsegment AS seg, c_name AS name, c_nationkey AS nation,
        |    CAST(FLOOR(c_acctbal*1e6+0.5) AS BIGINT) AS bal6
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |w AS (SELECT grp, id, bal6,
        |    FIRST_VALUE(seg) OVER (PARTITION BY grp
        |      ORDER BY CASE WHEN seg IS NULL THEN 0 ELSE 1 END DESC,
        |        bal6 DESC, id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS segment,
        |    FIRST_VALUE(name) OVER (PARTITION BY grp
        |      ORDER BY CASE WHEN name IS NULL THEN 0 ELSE 1 END DESC,
        |        LENGTH(name) DESC, name DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS name_pick,
        |    FIRST_VALUE(nation) OVER (PARTITION BY grp ORDER BY id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS nation_pick
        |  FROM c)
        |SELECT grp, MIN(id) AS golden_id, COUNT(*) AS n_members,
        |  MAX(segment) AS segment, MAX(name_pick) AS name,
        |  MAX(nation_pick) AS nation,
        |  FLOOR(CAST(MAX(bal6) AS DOUBLE)/1e6*1e2+0.5)/1e2 AS balance
        |FROM w GROUP BY grp ORDER BY grp""".stripMargin,

    // the ideal stated ONCE (argmax change per probe) and emitted for
    // both columns — a divergence in either engine path breaks the hash
    "q217_scd2_pit" ->
      """WITH ch AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL),
        |p AS (SELECT user_id, event_id AS probe_id, us AS t FROM ch
        |  WHERE event_id % 17 = 0),
        |sel AS (SELECT p.user_id, p.probe_id, p.t, e.event_type,
        |    ROW_NUMBER() OVER (PARTITION BY p.user_id, p.probe_id
        |      ORDER BY e.us DESC, e.event_id DESC) AS rn
        |  FROM p JOIN ch e ON e.user_id = p.user_id AND e.us <= p.t)
        |SELECT user_id, probe_id, t, event_type AS attr_interval,
        |  event_type AS attr_asof, true AS consistent
        |FROM sel WHERE rn = 1 ORDER BY user_id, probe_id""".stripMargin,

    // identical layouts (NTILE under the same total orders, the SHARED
    // Morton expression string) and the q183 sweep per dimension
    "q216_zorder_depth" -> {
      val morton = mortonSqlExpr("day14", "cust")
      s"""WITH o0 AS (SELECT o_orderkey,
         |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
         |      AS day,
         |    o_custkey AS cust,
         |    CAST(md5_number_lower(CAST(o_orderkey AS VARCHAR)) >> 33
         |      AS BIGINT) AS u
         |  FROM orders WHERE o_orderkey IS NOT NULL
         |    AND o_orderdate IS NOT NULL AND o_custkey IS NOT NULL),
         |o AS (SELECT o_orderkey, day, cust FROM o0
         |  ORDER BY u, o_orderkey LIMIT $advisorSampleBudget),
         |zz AS (SELECT *, $morton AS z
         |  FROM (SELECT *, day - (SELECT MIN(day) FROM o) AS day14
         |    FROM o)),
         |lay AS (
         |  SELECT 'range_day' AS layout,
         |    CAST(NTILE(16) OVER (ORDER BY day, o_orderkey) - 1 AS BIGINT)
         |      AS file, day, cust FROM zz
         |  UNION ALL SELECT 'range_cust',
         |    CAST(NTILE(16) OVER (ORDER BY cust, o_orderkey) - 1 AS BIGINT),
         |    day, cust FROM zz
         |  UNION ALL SELECT 'zorder',
         |    CAST(NTILE(16) OVER (ORDER BY z, o_orderkey) - 1 AS BIGINT),
         |    day, cust FROM zz),
         |files AS (SELECT layout, file, MIN(day) AS day_lo,
         |    MAX(day) AS day_hi, MIN(cust) AS cust_lo,
         |    MAX(cust) AS cust_hi
         |  FROM lay GROUP BY 1, 2),
         |ptsd AS (SELECT layout, day_lo AS t, 1 AS d FROM files
         |  UNION ALL SELECT layout, day_hi + 1, -1 FROM files),
         |ptsc AS (SELECT layout, cust_lo AS t, 1 AS d FROM files
         |  UNION ALL SELECT layout, cust_hi + 1, -1 FROM files),
         |dd AS (SELECT layout, 'day' AS dim,
         |    CAST(MAX(depth) AS BIGINT) AS max_depth FROM
         |  (SELECT layout, SUM(d) OVER (PARTITION BY layout
         |     ORDER BY t, d ROWS BETWEEN UNBOUNDED PRECEDING AND
         |     CURRENT ROW) AS depth FROM ptsd) GROUP BY 1),
         |dc AS (SELECT layout, 'cust' AS dim,
         |    CAST(MAX(depth) AS BIGINT) AS max_depth FROM
         |  (SELECT layout, SUM(d) OVER (PARTITION BY layout
         |     ORDER BY t, d ROWS BETWEEN UNBOUNDED PRECEDING AND
         |     CURRENT ROW) AS depth FROM ptsc) GROUP BY 1)
         |SELECT * FROM dd UNION ALL SELECT * FROM dc
         |ORDER BY layout, dim""".stripMargin
    },

    // the union with explicit NULL padding: v1 rows must surface the
    // evolved column as NULL, and the partition column by parity
    "q214_schema_merge" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS prio,
        |  CAST(1 + o_orderkey % 2 AS INT) AS gen
        |FROM orders WHERE o_orderkey IS NOT NULL AND o_orderkey % 10 = 0
        |ORDER BY k""".stripMargin,

    // the flattened scalars recomputed directly — the nested encode/
    // decode hop must be lossless for the hash to agree
    "q215_nested_roundtrip" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |    CAST(FLOOR(COALESCE(value, 0)*1e6+0.5) AS BIGINT) AS v6
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |pt AS (SELECT user_id, event_type, COUNT(*) AS n,
        |    MIN(v6) AS vmin6, MAX(v6) AS vmax6,
        |    list_sort(list(event_id)) AS ids
        |  FROM e GROUP BY 1, 2)
        |SELECT user_id, event_type, n, vmin6, vmax6,
        |  array_to_string(list_transform(ids[1:5],
        |    x -> CAST(x AS VARCHAR)), ',') AS head_ids
        |FROM pt ORDER BY user_id, event_type""".stripMargin,

    // same split counts + the identical left-associated χ² tree;
    // enrichment by exact integer cross-multiplication
    "q212_keyness" ->
      """WITH toks AS (SELECT
        |    CASE WHEN lang='en' THEN 'A' ELSE 'B' END AS side,
        |    unnest(list_filter(string_split(lower(text),' '),
        |      t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        |c AS (SELECT tok,
        |    SUM(CASE WHEN side='A' THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN side='B' THEN 1 ELSE 0 END) AS b
        |  FROM toks GROUP BY 1
        |  HAVING SUM(CASE WHEN side='A' THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN side='B' THEN 1 ELSE 0 END) >= 5),
        |t AS (SELECT SUM(CASE WHEN side='A' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN side='B' THEN 1 ELSE 0 END) AS nb FROM toks)
        |SELECT tok, CAST(a AS BIGINT) AS n_en,
        |  CAST(b AS BIGINT) AS n_other,
        |  FLOOR(CAST(na+nb AS DOUBLE)
        |    * (CAST(a AS DOUBLE)*CAST(nb-b AS DOUBLE)
        |       - CAST(b AS DOUBLE)*CAST(na-a AS DOUBLE))
        |    * (CAST(a AS DOUBLE)*CAST(nb-b AS DOUBLE)
        |       - CAST(b AS DOUBLE)*CAST(na-a AS DOUBLE))
        |    / (CAST(a+b AS DOUBLE)*CAST((na-a)+(nb-b) AS DOUBLE)
        |       *CAST(na AS DOUBLE)*CAST(nb AS DOUBLE))
        |    *1e4+0.5)/1e4 AS chi2,
        |  CASE WHEN a*nb > b*na THEN 'en' ELSE 'other' END
        |    AS enriched_in
        |FROM c, t
        |ORDER BY chi2 DESC, tok LIMIT 50""".stripMargin,

    // identical simulated layouts (md5 hash files; NTILE under the
    // same total order — both engines put remainder rows in the first
    // buckets) and the q183 sweep
    "q213_layout_depth" ->
      s"""WITH o0 AS (SELECT o_orderkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS day,
        |    CAST(md5_number_lower(CAST(o_orderkey AS VARCHAR)) >> 33
        |      AS BIGINT) AS u
        |  FROM orders WHERE o_orderkey IS NOT NULL
        |    AND o_orderdate IS NOT NULL),
        |o AS (SELECT o_orderkey, day FROM o0
        |  ORDER BY u, o_orderkey LIMIT $advisorSampleBudget),
        |hf AS (SELECT 'hash' AS layout,
        |    CAST((md5_number_lower(CAST(o_orderkey AS VARCHAR)) >> 33)
        |      % 16 AS BIGINT) AS file, day FROM o),
        |rf AS (SELECT 'range' AS layout,
        |    CAST(NTILE(16) OVER (ORDER BY day, o_orderkey) - 1 AS BIGINT)
        |      AS file, day FROM o),
        |files AS (SELECT layout, file, MIN(day) AS lo, MAX(day) AS hi
        |  FROM (SELECT * FROM hf UNION ALL SELECT * FROM rf)
        |  GROUP BY 1, 2),
        |pts AS (SELECT layout, lo AS t, 1 AS d FROM files
        |  UNION ALL SELECT layout, hi+1, -1 FROM files),
        |sweep AS (SELECT layout,
        |    SUM(d) OVER (PARTITION BY layout ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
        |  FROM pts)
        |SELECT layout, CAST(MAX(depth) AS BIGINT) AS max_depth,
        |  COUNT(*) AS n_endpoints, CAST(16 AS BIGINT) AS n_files
        |FROM sweep GROUP BY layout ORDER BY layout""".stripMargin,

    // INDEPENDENT plan: the oracle joins networks on the mask
    // EXPRESSION directly (no per-length explode) and picks the
    // longest match by window rank — validating the explode+equi-join
    // algebra, not replaying it
    "q210_cidr_match" ->
      """WITH nets AS (SELECT i AS net_id, 8 + i % 17 AS plen,
        |    ((md5_number_lower('net#' || CAST(i AS VARCHAR)) >> 33)
        |      >> (32 - (8 + i % 17))) << (32 - (8 + i % 17)) AS network
        |  FROM range(64) t(i)),
        |ips AS (SELECT event_id AS id,
        |    (md5_number_lower(CAST(event_id AS VARCHAR)) >> 33)::BIGINT
        |      AS ip
        |  FROM events WHERE event_id IS NOT NULL AND event_id % 7 = 0),
        |m AS (SELECT ips.id, n.plen, n.net_id,
        |    ROW_NUMBER() OVER (PARTITION BY ips.id
        |      ORDER BY n.plen DESC, n.net_id DESC) AS rn
        |  FROM ips JOIN nets n
        |    ON ((ips.ip >> (32 - n.plen)) << (32 - n.plen)) = n.network),
        |best AS (SELECT id, plen, net_id FROM m WHERE rn = 1)
        |SELECT ips.id, ips.ip, best.plen, best.net_id
        |FROM ips LEFT JOIN best ON best.id = ips.id
        |ORDER BY ips.id""".stripMargin,

    // same key set, one conditional-count pass per table
    "q211_forget_scrub" -> {
      val keys = """SELECT user_id FROM events
                   |    WHERE user_id IS NOT NULL AND event_type = 'error'
                   |    GROUP BY user_id HAVING COUNT(*) >= 3""".stripMargin
      def one(name: String, table: String, key: String) =
        s"""SELECT '$name' AS table_name, COUNT(*) AS rows_before,
           |  CAST(SUM(CASE WHEN $key IN ($keys) THEN 1 ELSE 0 END)
           |    AS BIGINT) AS rows_deleted,
           |  COUNT(*) - CAST(SUM(CASE WHEN $key IN ($keys)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_after
           |FROM $table""".stripMargin
      Seq(one("customer", "customer", "c_custkey"),
        one("events", "events", "user_id"),
        one("orders", "orders", "o_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },

    // identical contingency cells, per-cell 1e-6 quantization BEFORE
    // the sum (float order independence), IEEE-exact sqrt finale
    "q200_cramers_v" -> {
      def one(pair: String, table: String, a: String, b: String,
              where: String = "") =
        s"""SELECT '$pair' AS pair, n, r, c,
           |  CAST(chi2_6 AS DOUBLE)/1e6 AS chi2,
           |  FLOOR(sqrt(CAST(chi2_6 AS DOUBLE)/1e6
           |    /(CAST(n AS DOUBLE)
           |      *(CAST(LEAST(r, c) AS DOUBLE)-1.0)))*1e6+0.5)/1e6 AS v
           |FROM (SELECT CAST(MAX(n) AS BIGINT) AS n, MAX(r) AS r,
           |    MAX(c) AS c,
           |    CAST(SUM(term6) AS BIGINT) AS chi2_6
           |  FROM (SELECT o,
           |      SUM(o) OVER (PARTITION BY av) AS row_t,
           |      SUM(o) OVER (PARTITION BY bv) AS col_t,
           |      SUM(o) OVER () AS n,
           |      COUNT(DISTINCT av) OVER () AS r,
           |      COUNT(DISTINCT bv) OVER () AS c,
           |      CAST(FLOOR((CAST(o AS DOUBLE)
           |          - CAST(SUM(o) OVER (PARTITION BY av) AS DOUBLE)
           |            *CAST(SUM(o) OVER (PARTITION BY bv) AS DOUBLE)
           |            /CAST(SUM(o) OVER () AS DOUBLE))
           |        *(CAST(o AS DOUBLE)
           |          - CAST(SUM(o) OVER (PARTITION BY av) AS DOUBLE)
           |            *CAST(SUM(o) OVER (PARTITION BY bv) AS DOUBLE)
           |            /CAST(SUM(o) OVER () AS DOUBLE))
           |        /(CAST(SUM(o) OVER (PARTITION BY av) AS DOUBLE)
           |          *CAST(SUM(o) OVER (PARTITION BY bv) AS DOUBLE)
           |          /CAST(SUM(o) OVER () AS DOUBLE))*1e6+0.5) AS BIGINT)
           |        AS term6
           |    FROM (SELECT CAST($a AS VARCHAR) AS av,
           |        CAST($b AS VARCHAR) AS bv, COUNT(*) AS o
           |      FROM $table
           |      WHERE $a IS NOT NULL AND $b IS NOT NULL $where
           |      GROUP BY 1, 2)))""".stripMargin
      Seq(one("l_returnflag~l_linestatus", "lineitem", "l_returnflag",
          "l_linestatus"),
        one("o_orderpriority~o_orderstatus", "orders", "o_orderpriority",
          "o_orderstatus"),
        one("event_type~user_mod",
          "(SELECT event_type, user_id % 10 AS user_mod FROM events)",
          "event_type", "user_mod"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY pair")
    },

    // pure-integer dow ((day+4)%7), shared-Gregorian year/month/dom,
    // generate_series replays the gap-free span, zero-filled rollup
    "q201_date_dim" ->
      """WITH o AS (SELECT
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS day,
        |    CAST(FLOOR(o_totalprice*1e6+0.5) AS BIGINT) AS p6
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM o),
        |days AS (SELECT UNNEST(generate_series(d0, d1)) AS day FROM span),
        |pd AS (SELECT day, COUNT(*) AS n_orders, SUM(p6) AS rev6
        |  FROM o GROUP BY 1),
        |d AS (SELECT days.day,
        |    DATE '1970-01-01' + CAST(days.day AS INT) AS dt,
        |    COALESCE(pd.n_orders, 0) AS n_orders,
        |    COALESCE(pd.rev6, 0) AS rev6
        |  FROM days LEFT JOIN pd ON pd.day = days.day)
        |SELECT day, dt AS date,
        |  CAST(year(dt) AS BIGINT) AS yr,
        |  CAST(month(dt) AS BIGINT) AS mo,
        |  CAST(dayofmonth(dt) AS BIGINT) AS dom,
        |  (day + 4) % 7 AS dow,
        |  (day + 4) % 7 IN (0, 6) AS is_weekend,
        |  CAST(FLOOR((CAST(month(dt) AS DOUBLE)-1.0)/3.0) AS BIGINT) + 1
        |    AS quarter,
        |  n_orders,
        |  FLOOR(CAST(rev6 AS DOUBLE)/1e6*1e2+0.5)/1e2 AS revenue
        |FROM d ORDER BY day""".stripMargin,

    // per-column exact value counts -> (N² − Σ n²)/N² in HUGEINT,
    // one fixed tree; NULLs excluded as the documented posture
    "q192_gini" -> {
      def one(table: String, c: String) =
        s"""SELECT '$table.$c' AS "column", COUNT(*) AS n_values,
           |  CAST(SUM(n) AS BIGINT) AS n_rows,
           |  FLOOR((1.0 - CAST(SUM(CAST(n AS HUGEINT)*n) AS DOUBLE)
           |    /CAST(CAST(SUM(n) AS HUGEINT)*SUM(n) AS DOUBLE))*1e6+0.5)
           |    /1e6 AS gini
           |FROM (SELECT $c AS v, COUNT(*) AS n FROM $table
           |  WHERE $c IS NOT NULL GROUP BY 1)""".stripMargin
      Seq(one("lineitem", "l_returnflag"),
        one("orders", "o_orderpriority"),
        one("events", "event_type"),
        one("documents", "lang"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    // both counter grids rebuilt from raw keys (the q122 discipline),
    // per-depth dot products joined on (i, bkt), min over depths; the
    // exact join count rides as the checked identity
    "q188_cms_join_est" -> {
      val pvals = cmsParams.zipWithIndex
        .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""WITH ha AS (SELECT
         |  (md5_number_lower(CAST(user_id AS VARCHAR)) >> 33)::BIGINT AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |hb AS (SELECT
         |  (md5_number_lower(CAST(o_custkey AS VARCHAR)) >> 33)::BIGINT AS h
         |  FROM orders WHERE o_custkey IS NOT NULL),
         |p(i, a, b) AS (VALUES $pvals),
         |ca AS (SELECT p.i,
         |    ((h.h * p.a + p.b) % 2147483647) % $cmsW AS bkt, COUNT(*) AS n
         |  FROM ha h CROSS JOIN p GROUP BY 1, 2),
         |cb AS (SELECT p.i,
         |    ((h.h * p.a + p.b) % 2147483647) % $cmsW AS bkt, COUNT(*) AS n
         |  FROM hb h CROSS JOIN p GROUP BY 1, 2),
         |dots AS (SELECT ca.i, SUM(ca.n * cb.n) AS dot
         |  FROM ca JOIN cb ON cb.i = ca.i AND cb.bkt = ca.bkt GROUP BY 1),
         |est AS (SELECT MIN(dot) AS est FROM dots),
         |ex AS (SELECT COUNT(*) AS exact_n FROM events e JOIN orders o
         |  ON e.user_id = o.o_custkey)
         |SELECT CAST(est AS BIGINT) AS est, exact_n,
         |  FLOOR(CAST(est AS DOUBLE)/CAST(exact_n AS DOUBLE)*1e4+0.5)/1e4
         |    AS over_ratio
         |FROM est, ex""".stripMargin
    },

    // the identical grid (generate_series inclusive, like Spark's
    // sequence), both IGNORE NULLS window passes, and the same
    // interpolation expression tree over integer-derived doubles
    "q169_gap_fill" ->
      """WITH obs AS (SELECT user_id,
        |    (epoch_us(ts)//1000000)//14400 AS bucket,
        |    CAST(SUM(CAST(FLOOR(value*1e6+0.5) AS BIGINT)) AS DOUBLE)
        |      / (COUNT(*) * 1e6) AS v
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        |  FROM obs GROUP BY 1),
        |grid AS (SELECT user_id,
        |    UNNEST(generate_series(b0, b1)) AS bucket FROM span),
        |j AS (SELECT g.user_id, g.bucket, o.v FROM grid g
        |  LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket),
        |w AS (SELECT user_id, bucket, v,
        |  LAST_VALUE(v IGNORE NULLS) OVER pre AS pv,
        |  LAST_VALUE(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
        |    OVER pre AS pb,
        |  FIRST_VALUE(v IGNORE NULLS) OVER post AS nv,
        |  FIRST_VALUE(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
        |    OVER post AS nb
        |  FROM j
        |  WINDOW pre AS (PARTITION BY user_id ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  post AS (PARTITION BY user_id ORDER BY bucket
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, bucket,
        |  FLOOR((CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) * CAST(bucket - pb AS DOUBLE)
        |      / CAST(nb - pb AS DOUBLE) END)*1e6+0.5)/1e6 AS value,
        |  v IS NOT NULL AS observed
        |FROM w ORDER BY user_id, bucket""".stripMargin,

    // RANGE frame over the integer epoch-day (DuckDB and Spark agree
    // on value-range semantics: same-day ties all share the frame)
    "q170_rolling_window" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day,
        |  CAST(FLOOR(o_totalprice*1e6+0.5) AS BIGINT) AS p6 FROM orders),
        |w AS (SELECT o_orderkey, o_custkey, day,
        |  SUM(p6) OVER r AS rs6, COUNT(*) OVER r AS roll_n
        |  FROM o
        |  WINDOW r AS (PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT o_orderkey, o_custkey, day,
        |  FLOOR(CAST(rs6 AS DOUBLE)/1e6*1e2+0.5)/1e2 AS roll_sum,
        |  roll_n,
        |  FLOOR(CAST(rs6 AS DOUBLE)/(roll_n*1e6)*1e2+0.5)/1e2 AS roll_avg
        |FROM w WHERE o_orderkey % 20 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // the nine HUGEINT moment sums, then the IDENTICAL Cramer +
    // normal-equation-SSE double expression tree (q163 discipline:
    // decimal/HUGEINT -> double is correctly rounded in both engines,
    // and a fixed tree over identical doubles is bit-stable)
    "q171_ols_normal" ->
      """WITH q AS (SELECT l_returnflag,
        |  CAST(FLOOR(l_quantity*1e6+0.5) AS BIGINT) AS x1,
        |  CAST(FLOOR(l_discount*1e6+0.5) AS BIGINT) AS x2,
        |  CAST(FLOOR(l_extendedprice*1e6+0.5) AS BIGINT) AS y
        |  FROM lineitem WHERE l_returnflag IS NOT NULL),
        |m AS (SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
        |  SUM(CAST(x1 AS HUGEINT)*x1) AS s11,
        |  SUM(CAST(x1 AS HUGEINT)*x2) AS s12,
        |  SUM(CAST(x2 AS HUGEINT)*x2) AS s22,
        |  SUM(CAST(x1 AS HUGEINT)*y) AS s1y,
        |  SUM(CAST(x2 AS HUGEINT)*y) AS s2y,
        |  SUM(CAST(y AS HUGEINT)*y) AS syy
        |  FROM q GROUP BY 1),
        |d AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |  CAST(s1 AS DOUBLE)/1e6 AS a12, CAST(s2 AS DOUBLE)/1e6 AS a13,
        |  CAST(s11 AS DOUBLE)/1e12 AS a22,
        |  CAST(s12 AS DOUBLE)/1e12 AS a23,
        |  CAST(s22 AS DOUBLE)/1e12 AS a33,
        |  CAST(sy AS DOUBLE)/1e6 AS c1, CAST(s1y AS DOUBLE)/1e12 AS c2,
        |  CAST(s2y AS DOUBLE)/1e12 AS c3,
        |  CAST(syy AS DOUBLE)/1e12 AS syyd FROM m),
        |e AS (SELECT *, nd*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
        |    + a13*(a12*a23 - a22*a13) AS det FROM d),
        |f AS (SELECT l_returnflag, n, syyd, nd, c1, c2, c3,
        |  (c1*(a22*a33 - a23*a23) - a12*(c2*a33 - a23*c3)
        |    + a13*(c2*a23 - a22*c3))/det AS b0,
        |  (nd*(c2*a33 - a23*c3) - c1*(a12*a33 - a23*a13)
        |    + a13*(a12*c3 - c2*a13))/det AS b1,
        |  (nd*(a22*c3 - c2*a23) - a12*(a12*c3 - c2*a13)
        |    + c1*(a12*a23 - a22*a13))/det AS b2 FROM e)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  FLOOR(b0*1e6+0.5)/1e6 AS b0, FLOOR(b1*1e6+0.5)/1e6 AS b1,
        |  FLOOR(b2*1e6+0.5)/1e6 AS b2,
        |  FLOOR((1.0 - (syyd - b0*c1 - b1*c2 - b2*c3)
        |    /(syyd - c1*c1/nd))*1e6+0.5)/1e6 AS r2
        |FROM f ORDER BY l_returnflag""".stripMargin,

    "q163_corr_moments" -> {
      def u6(c: String) = s"CAST(FLOOR(($c)*1e6+0.5) AS BIGINT)"
      s"""WITH q AS (SELECT l_returnflag,
         |  ${u6("l_quantity")} AS x6, ${u6("l_extendedprice")} AS y6
         |  FROM lineitem WHERE l_returnflag IS NOT NULL),
         |m AS (SELECT l_returnflag, COUNT(*) AS n,
         |  SUM(x6) AS sx, SUM(y6) AS sy,
         |  SUM(CAST(x6 AS HUGEINT) * y6) AS sxy,
         |  SUM(CAST(x6 AS HUGEINT) * x6) AS sxx,
         |  SUM(CAST(y6 AS HUGEINT) * y6) AS syy
         |  FROM q GROUP BY 1),
         |d AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
         |  CAST(sx AS DOUBLE)/1e6 AS sxd, CAST(sy AS DOUBLE)/1e6 AS syd,
         |  CAST(sxy AS DOUBLE)/1e12 AS sxyd,
         |  CAST(sxx AS DOUBLE)/1e12 AS sxxd,
         |  CAST(syy AS DOUBLE)/1e12 AS syyd
         |  FROM m)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |  FLOOR(sxd/nd*1e6+0.5)/1e6 AS mean_x,
         |  FLOOR(syd/nd*1e6+0.5)/1e6 AS mean_y,
         |  FLOOR((sxyd - sxd*syd/nd)/nd*1e6+0.5)/1e6 AS covar,
         |  FLOOR(((sxyd - sxd*syd/nd)/nd) /
         |    (SQRT((sxxd - sxd*sxd/nd)/nd) * SQRT((syyd - syd*syd/nd)/nd))
         |    *1e6+0.5)/1e6 AS corr
         |FROM d ORDER BY l_returnflag""".stripMargin
    },

    // same mutations rebuilt by substring surgery, then the DISTANCE
    // PREDICATE stated declaratively (head-char + length-window +
    // levenshtein <= 2) — the engine's exploded blocking must be pure
    // geometry, changing no pair's membership
    "q162_fuzzy_join" ->
      """WITH canon AS (SELECT e AS entity,
        |    substr(md5(CAST(e AS VARCHAR)), 1, 8) AS name
        |  FROM range(300) t(e)),
        |m AS (SELECT doc_id, CAST(2 + doc_id % 6 AS INT) AS p,
        |  substr(md5(CAST(doc_id % 300 AS VARCHAR)), 1, 8) AS base
        |  FROM documents),
        |mm AS (SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN base
        |    WHEN 1 THEN substr(base, 1, p - 1) || substr(base, p + 1)
        |    WHEN 2 THEN substr(base, 1, p) || substr(base, p)
        |    ELSE substr(base, 1, p - 1) || 'z' || substr(base, p + 1)
        |  END AS mention FROM m)
        |SELECT doc_id, mention, entity, name,
        |  CAST(levenshtein(mention, name) AS BIGINT) AS lev
        |FROM mm JOIN canon
        |  ON substr(mention, 1, 1) = substr(name, 1, 1)
        |  AND abs(length(mention) - length(name)) <= 2
        |  AND levenshtein(mention, name) <= 2
        |ORDER BY doc_id, entity""".stripMargin,

    // the identical systematic-PPS selection replayed in one global
    // cumsum over the SIGNED md5 order (q149's unsigned->signed
    // mapping); // is DuckDB's integer floor division = Spark's div
    "q160_pps_sample" ->
      """WITH b AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
        |  (CASE WHEN h0 >= 9223372036854775808::UBIGINT
        |    THEN CAST(h0::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
        |    ELSE CAST(h0 AS BIGINT) END) AS h
        |  FROM (SELECT doc_id, source, n_chars,
        |    md5_number_lower(CAST(doc_id AS VARCHAR)) AS h0
        |    FROM documents
        |    WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |      AND n_chars > 0)),
        |c AS (SELECT doc_id, source, w,
        |  SUM(w) OVER (ORDER BY h, doc_id) AS cum,
        |  (SELECT SUM(w) FROM b) AS total FROM b)
        |SELECT doc_id, source, w AS n_chars FROM c
        |WHERE (cum - w) * 500 // total < cum * 500 // total
        |ORDER BY doc_id""".stripMargin,

    // 3-grams rebuilt positionally (1-based list indexing); NULL text
    // falls to the ELSE-0 branch in both engines. Same lower+whitespace
    // tokenizer as the shingle kernel.
    "q68_repetition_ratio" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(lower(text),' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS n_grams,
        |  CASE WHEN len(toks) >= 3 THEN len(list_distinct(
        |    list_apply(range(len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
        |  ELSE 0 END AS n_distinct
        |  FROM t)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CASE WHEN n_grams > 0
        |    THEN FLOOR((1.0 - CAST(n_distinct AS DOUBLE) / n_grams) * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    // range(0, n, 16) is Spark's sequence(0, n-1, 16) (stop-exclusive vs
    // inclusive-bound, same elements); chunk_id = start // stride since
    // starts are stride multiples; list_slice clamps like Spark slice.
    // Chunks are never empty (start < n), so array_to_string's
    // NULL-on-empty quirk cannot fire.
    "q69_chunk_windows" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |s AS (SELECT doc_id, toks, UNNEST(range(0, n, 16)) AS start FROM nz),
        |c AS (SELECT doc_id, start, list_slice(toks, start + 1, start + 32) AS chunk FROM s)
        |SELECT doc_id, CAST(start // 16 AS BIGINT) AS chunk_id,
        |  CAST(start AS BIGINT) AS start,
        |  CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  array_to_string(chunk, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // Quantization and scoring recomputed exactly: same double-cast,
    // same floor(x/mx*127+0.5), integer dot/norm sums (order-free), same
    // zero-norm guard and 1e-6 rounding, same (qcos desc, nid asc) ties.
    "q81_quantized_topk" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |m AS (SELECT vec_id, ev,
        |  list_max(list_apply(ev, x -> abs(x))) AS mx FROM v),
        |qv AS (SELECT vec_id,
        |  CASE WHEN mx IS NULL OR mx = 0
        |       THEN list_apply(ev, x -> CAST(0 AS BIGINT))
        |       ELSE list_apply(ev, x -> CAST(FLOOR(x / mx * 127 + 0.5) AS BIGINT)) END AS q
        |  FROM m),
        |qs AS (SELECT vec_id AS qid, q AS qq FROM qv WHERE vec_id % 20 = 0),
        |cs AS (SELECT vec_id AS nid, q AS qn FROM qv),
        |p AS (SELECT qid, nid,
        |  list_sum(list_apply(list_zip(qq, qn), x -> x[1] * x[2])) AS d,
        |  list_sum(list_apply(qq, x -> x * x)) AS na,
        |  list_sum(list_apply(qn, x -> x * x)) AS nb
        |  FROM qs, cs WHERE qid <> nid),
        |sc AS (SELECT qid, nid,
        |  CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |       ELSE FLOOR(CAST(d AS DOUBLE) /
        |         (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |         * 1e6 + 0.5) / 1e6 END AS qcos
        |  FROM p),
        |r AS (SELECT qid, nid, qcos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qcos DESC, nid ASC) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT qid, nid, qcos, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // Fit and apply both recomputed: histogram over all tokens, MLE over
    // the FULL total, top-20 by (count desc, tok asc), left join back,
    // per-token 1e-9 floor-round summed as DECIMAL, final mean rounded
    // 1e-6 — the exact arithmetic UnigramLm performs.
    "q79_unigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
        |h AS (SELECT tok, COUNT(*) AS c FROM u GROUP BY tok),
        |v AS (
        |  SELECT tok, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM h) AS p
        |  FROM h ORDER BY c DESC, tok ASC LIMIT 20),
        |j AS (SELECT u.doc_id, u.tok, v.p FROM u LEFT JOIN v USING (tok)),
        |g AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    COUNT(*) FILTER (WHERE p IS NULL) AS n_oov,
        |    SUM(CAST(FLOOR(COALESCE(p, 0) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,12))) AS sp
        |  FROM j GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(COALESCE(g.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(g.n_oov, 0) AS BIGINT) AS n_oov,
        |  CASE WHEN COALESCE(g.n_tokens, 0) = 0 THEN 0.0
        |       ELSE FLOOR(CAST(g.sp AS DOUBLE) / g.n_tokens * 1e6 + 0.5) / 1e6
        |  END AS mean_p
        |FROM t LEFT JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q79's oracle shape one order up: bigrams rebuilt positionally
    // (range is end-exclusive, so range(1, len) enumerates exactly the
    // n-1 adjacent pairs), conditional p = c(w1 w2)/c(w1) with the
    // denominator joined on the bigram's first token, then the identical
    // decimal-sum / floor-round pipeline.
    "q87_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id,
        |  UNNEST(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS big
        |  FROM t),
        |u AS (SELECT UNNEST(toks) AS tok FROM t),
        |h1 AS (SELECT tok, COUNT(*) AS c1 FROM u GROUP BY tok),
        |hb AS (SELECT big, COUNT(*) AS cb FROM b GROUP BY big),
        |v AS (
        |  SELECT tb.big, CAST(cb AS DOUBLE) / c1 AS p
        |  FROM (SELECT big, cb FROM hb ORDER BY cb DESC, big ASC LIMIT 20) tb
        |  JOIN h1 ON string_split(tb.big, ' ')[1] = h1.tok),
        |j AS (SELECT b.doc_id, b.big, v.p FROM b LEFT JOIN v USING (big)),
        |g AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |    COUNT(*) FILTER (WHERE p IS NULL) AS n_oov,
        |    SUM(CAST(FLOOR(COALESCE(p, 0) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,12))) AS sp
        |  FROM j GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(COALESCE(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(g.n_oov, 0) AS BIGINT) AS n_oov,
        |  CASE WHEN COALESCE(g.n_bigrams, 0) = 0 THEN 0.0
        |       ELSE FLOOR(CAST(g.sp AS DOUBLE) / g.n_bigrams * 1e6 + 0.5) / 1e6
        |  END AS mean_p
        |FROM t LEFT JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Coverage vocabulary rebuilt with the same EXACT integer test:
    // 10 * cum_before < 9 * total admits tokens while coverage is still
    // short of 90%, over the identical (count desc, tok asc) order — no
    // float comparison anywhere near the cut line.
    "q88_vocab_coverage" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
        |h AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY tok),
        |v AS (
        |  SELECT tok FROM (
        |    SELECT tok, c,
        |      CAST(SUM(c) OVER (ORDER BY c DESC, tok ASC
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |    FROM h)
        |  WHERE 10 * (cum - c) < 9 * (SELECT CAST(SUM(c) AS BIGINT) FROM h)),
        |j AS (SELECT u.doc_id, u.tok,
        |  CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM u LEFT JOIN v ON u.tok = v.tok),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov
        |  FROM j GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(g.n_tokens, 0) AS n_tokens,
        |  COALESCE(g.n_oov, 0) AS n_oov,
        |  CASE WHEN COALESCE(g.n_tokens, 0) = 0 THEN 0.0
        |       ELSE FLOOR(CAST(g.n_oov AS DOUBLE) / g.n_tokens * 1e6 + 0.5) / 1e6
        |  END AS oov_rate
        |FROM t LEFT JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // The same synthesized-PII construction and the same four RE2
    // patterns re-run in DuckDB, counts measured at each rule's stage
    // (after earlier replacements) exactly like Redact.counts.
    "q78_pii_redact" -> {
      val stages = Seq(
        ("url", graft.llm.Redact.UrlRe, "<URL>"),
        ("email", graft.llm.Redact.EmailRe, "<EMAIL>"),
        ("ip", graft.llm.Redact.Ipv4Re, "<IP>"),
        ("phone", graft.llm.Redact.PhoneRe, "<PHONE>"))
      s"""WITH t AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |p AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@mail' || (doc_id % 7) ||
         |  '.example.org via http://site' || (doc_id % 13) ||
         |  '.example.com/p/' || doc_id ||
         |  ' from ' || (doc_id % 223 + 1) || '.' || (doc_id % 256) || '.' ||
         |  ((doc_id * 7) % 256) || '.' || (doc_id % 250 + 1) ||
         |  ' call +1-' || (doc_id % 900 + 100) || '-' ||
         |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s0
         |  FROM t),
         |${stages.zipWithIndex.map { case ((cat, re, tok), i) =>
            s"""r$i AS (SELECT *,
               |  CAST(len(regexp_extract_all(s$i, '$re')) AS BIGINT) AS n_$cat,
               |  regexp_replace(s$i, '$re', '$tok', 'g') AS s${i + 1}
               |  FROM ${if (i == 0) "p" else s"r${i - 1}"})""".stripMargin
          }.mkString(",\n")}
         |SELECT doc_id, s4 AS redacted, n_url, n_email, n_ip, n_phone
         |FROM r3 ORDER BY doc_id""".stripMargin
    },

    // Batch equivalence of the streaming as-of enrichment: the same
    // point-in-time join in SQL — newest odd-id row per user at or before
    // each even-id event's time, within the 6-hour lookback, ties to
    // the larger feat_id (mirrors max_by over (f_t, feat_id)). Sentinels
    // never appear: they carry unused keys and the query filters them.
    "q77_stream_asof" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_id % 2 = 0),
        |ft AS (
        |  SELECT event_id AS feat_id, user_id, epoch_us(ts) AS f_us, value AS feat_value
        |  FROM events WHERE event_id % 2 = 1),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.ts_us, f.feat_id, f.feat_value,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY e.event_id, e.user_id, e.ts_us
        |      ORDER BY f.f_us DESC, f.feat_id DESC) AS rn
        |  FROM ev e JOIN ft f ON e.user_id = f.user_id
        |    AND f.f_us <= e.ts_us AND f.f_us >= e.ts_us - 21600000000)
        |SELECT event_id, user_id, ts_us, feat_id, feat_value
        |FROM j WHERE rn = 1
        |ORDER BY event_id, user_id, ts_us""".stripMargin,

    // Batch equivalence of the streaming dedup gate: the set of distinct
    // fingerprints (q12's md5-of-sorted-tokens key; NULL text -> NULL key
    // kept as its own group, exactly like DISTINCT treats NULL).
    "q71_stream_dedup" ->
      """SELECT DISTINCT CASE WHEN text IS NULL THEN NULL ELSE md5(COALESCE(array_to_string(list_sort(list_filter(string_split(lower(text),' '), t -> len(t) > 0)),' '), '')) END AS fingerprint
        |FROM documents ORDER BY fingerprint""".stripMargin,

    // The decode path (inflate + unfilter) has no SQL twin — what the
    // oracle CAN recompute exactly is the pixel-stat arithmetic from the
    // synthesis formula, which the Spark side only reaches THROUGH the
    // real encoder+decoder round-trip. doc_id is non-negative, so % agrees
    // across engines (both take the dividend's sign).
    "q70_png_decode" ->
      """WITH p AS (SELECT doc_id,
        |  4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
        |  FROM documents),
        |v AS (SELECT doc_id, w, h, c, w*h*c AS n,
        |  list_apply(range(w*h*c), i -> (doc_id*31 + i*7) % 256) AS px
        |  FROM p)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(c AS BIGINT) AS channels, CAST(n AS BIGINT) AS n_px,
        |  FLOOR(CAST(list_sum(px) AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_px,
        |  CAST(list_min(px) AS BIGINT) AS min_px,
        |  CAST(list_max(px) AS BIGINT) AS max_px
        |FROM v ORDER BY doc_id""".stripMargin,

    // The dHash replayed from the closed-form pixels: the same integer
    // luma ((299r+587g+114b)//1000 for RGB, raw byte for grayscale), the
    // same LSB-first gradient-sign packing. k walks row-major over the
    // (w-1)*h horizontal pairs — at most 42 bits on this fixture, so the
    // engine's 64-bit cap never binds. lum is 1-indexed (DuckDB lists).
    "q91_image_dhash" ->
      """WITH p AS (SELECT doc_id,
        |  4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
        |  FROM documents),
        |g AS (SELECT doc_id, w, h,
        |  list_transform(range(0, w * h), j ->
        |    CASE WHEN c = 1 THEN (doc_id*31 + j*7) % 256
        |    ELSE (((doc_id*31 + (j*3)*7) % 256) * 299 +
        |          ((doc_id*31 + (j*3+1)*7) % 256) * 587 +
        |          ((doc_id*31 + (j*3+2)*7) % 256) * 114) // 1000 END) AS lum
        |  FROM p),
        |hsh AS (SELECT doc_id, w, h,
        |  CAST(COALESCE(list_sum(list_transform(range(0, h * (w - 1)), k ->
        |    CASE WHEN lum[k // (w - 1) * w + (k % (w - 1)) + 2] >
        |              lum[k // (w - 1) * w + (k % (w - 1)) + 1]
        |      THEN CAST(1 AS BIGINT) << CAST(k AS INT)
        |      ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS dhash
        |  FROM g)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, dhash
        |FROM hsh ORDER BY doc_id""".stripMargin,

    // The 3x3 box pooling replayed from the closed-form pixels: q91's
    // luma CTE verbatim, cell = oy*3+ox unnested per image, integer box
    // edges via floor division (// is left-associative, same precedence
    // as * and %, so cell // 3 * h // 3 is ((cell//3)*h)//3 = oy*h//3),
    // and the box sum walked as a single flat range over the box area —
    // lum is 1-indexed (the +1), everything else 0-based.
    "q93_image_resize" ->
      """WITH p AS (SELECT doc_id,
        |  4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
        |  FROM documents),
        |g AS (SELECT doc_id, w, h,
        |  list_transform(range(0, w * h), j ->
        |    CASE WHEN c = 1 THEN (doc_id*31 + j*7) % 256
        |    ELSE (((doc_id*31 + (j*3)*7) % 256) * 299 +
        |          ((doc_id*31 + (j*3+1)*7) % 256) * 587 +
        |          ((doc_id*31 + (j*3+2)*7) % 256) * 114) // 1000 END) AS lum
        |  FROM p),
        |cells AS (SELECT doc_id, w, h, lum, UNNEST(range(0, 9)) AS cell FROM g),
        |b AS (SELECT doc_id, w, lum, cell // 3 AS oy, cell % 3 AS ox,
        |  cell // 3 * h // 3 AS y0, (cell // 3 + 1) * h // 3 AS y1,
        |  cell % 3 * w // 3 AS x0, (cell % 3 + 1) * w // 3 AS x1
        |  FROM cells),
        |r AS (SELECT doc_id, oy, ox,
        |  CAST(list_sum(list_transform(range(0, (y1 - y0) * (x1 - x0)), i ->
        |    lum[(y0 + i // (x1 - x0)) * w + x0 + i % (x1 - x0) + 1]))
        |    AS BIGINT) AS px_sum,
        |  CAST((y1 - y0) * (x1 - x0) AS BIGINT) AS px_n
        |  FROM b)
        |SELECT doc_id, CAST(oy AS BIGINT) AS oy, CAST(ox AS BIGINT) AS ox,
        |  px_sum, px_n, px_sum // px_n AS px_avg
        |FROM r ORDER BY doc_id, oy, ox""".stripMargin,

    // The framing replayed from q72's closed-form samples: 0-based frame
    // index over n // 32 full windows, sum of |s| per window, and the
    // (prev < 0) != (cur < 0) crossing test over within-frame adjacent
    // pairs — all integer, 1-indexed list access (s[j+1] is 0-based j).
    "q92_audio_frames" ->
      """WITH p AS (SELECT doc_id, 64 + doc_id % 129 AS n FROM documents),
        |v AS (SELECT doc_id, n,
        |  list_apply(range(n), i -> (doc_id*131 + i*17) % 65536 - 32768) AS s
        |  FROM p),
        |f AS (SELECT doc_id, s, UNNEST(range(0, n // 32)) AS frame FROM v)
        |SELECT doc_id, CAST(frame AS INT) AS frame,
        |  CAST(list_sum(list_transform(range(frame*32, frame*32 + 32),
        |    j -> abs(s[CAST(j AS INT) + 1]))) AS BIGINT) AS sum_abs,
        |  CAST(list_sum(list_transform(range(frame*32 + 1, frame*32 + 32),
        |    j -> CASE WHEN (s[CAST(j AS INT)] < 0) <> (s[CAST(j AS INT) + 1] < 0)
        |      THEN 1 ELSE 0 END)) AS INT) AS zero_crossings
        |FROM f ORDER BY doc_id, frame""".stripMargin,

    // The frame sampling + luma stats replayed from the closed-form AVI
    // pixels: range(0, nf, 2) is the stride-2 sample, the luma formula is
    // q91's ((299r+587g+114b)//1000) with the frame term (fi*97) added to
    // the byte formula — all integer, so a decoder row-flip/BGR-swap/pad
    // error hash-diverges.
    "q94_video_frames" ->
      """WITH p AS (SELECT doc_id,
        |  4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h, 2 + doc_id % 3 AS nf
        |  FROM documents),
        |f AS (SELECT doc_id, w, h, UNNEST(range(0, nf, 2)) AS fi FROM p),
        |g AS (SELECT doc_id, w, h, fi,
        |  list_transform(range(0, w * h), j ->
        |    (((doc_id*31 + fi*97 + (j*3)*7) % 256) * 299 +
        |     ((doc_id*31 + fi*97 + (j*3+1)*7) % 256) * 587 +
        |     ((doc_id*31 + fi*97 + (j*3+2)*7) % 256) * 114) // 1000) AS lum
        |  FROM f)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(list_sum(lum) AS BIGINT) AS luma_sum,
        |  CAST(list_min(lum) AS BIGINT) AS luma_min,
        |  CAST(list_max(lum) AS BIGINT) AS luma_max
        |FROM g ORDER BY doc_id, frame_idx""".stripMargin,

    // compress-then-expand replayed per sample in closed form: clip to
    // 32635, add the 0x84 bias, segment e by threshold CASE (the top
    // magnitude bit), then the expanded value is (x >> (e+3)) * 8 + 4
    // scaled by 2^e minus the bias — the &15 mantissa identity folded in
    // ((v-16)*8+132 = v*8+4 for v in [16,32)). Stats as in q72.
    "q95_ulaw_decode" ->
      """WITH p AS (SELECT doc_id, 64 + doc_id % 129 AS n FROM documents),
        |v AS (SELECT doc_id, n,
        |  list_apply(range(n), i -> (doc_id*131 + i*17) % 65536 - 32768) AS s
        |  FROM p),
        |u AS (SELECT doc_id, n,
        |  list_transform(s, x -> least(abs(x), 32635) + 132) AS xs,
        |  list_transform(s, x -> CASE WHEN x < 0 THEN -1 ELSE 1 END) AS sg
        |  FROM v),
        |e AS (SELECT doc_id, n, xs, sg,
        |  list_transform(xs, x -> CASE WHEN x >= 16384 THEN 7
        |    WHEN x >= 8192 THEN 6 WHEN x >= 4096 THEN 5 WHEN x >= 2048 THEN 4
        |    WHEN x >= 1024 THEN 3 WHEN x >= 512 THEN 2 WHEN x >= 256 THEN 1
        |    ELSE 0 END) AS es
        |  FROM u),
        |d AS (SELECT doc_id, n,
        |  list_transform(range(n), i -> sg[CAST(i AS INT) + 1] *
        |    ((xs[CAST(i AS INT) + 1] // (1 << (es[CAST(i AS INT) + 1] + 3))
        |      * 8 + 4) * (1 << es[CAST(i AS INT) + 1]) - 132)) AS ds
        |  FROM e)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  FLOOR(CAST(list_sum(ds) AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_amp,
        |  FLOOR(sqrt(CAST(list_sum(list_apply(ds, x -> x*x)) AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS rms,
        |  CAST(list_max(list_apply(ds, x -> abs(x))) AS BIGINT) AS peak
        |FROM d ORDER BY doc_id""".stripMargin,

    // The synthesized-URL canonical form resolved independently per
    // branch: every (scheme × port) default-port interaction, the
    // %-escape outcomes, the tracking strip, and the byte-sorted
    // surviving params are stated closed-form — not re-derived through
    // the operator's own rules (see urlCanonSqlExpr).
    "q115_url_canon" ->
      s"""SELECT doc_id, ${urlCanonSqlExpr("doc_id")} AS url_canon
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q116_url_dedup" ->
      s"""WITH c AS (SELECT doc_id,
         |  ${urlCanonSqlExpr("doc_id % 97")} AS url_canon FROM documents)
         |SELECT url_canon, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
         |FROM c WHERE url_canon IS NOT NULL
         |GROUP BY url_canon ORDER BY url_canon""".stripMargin,

    // The synthesized host closed-form (lowercased, port/userinfo/dot
    // stripped by construction), three banned hosts excluded, counts
    // grouped — NULL hosts (NULL doc_id rows) drop via the IS NOT NULL
    // guard, mirroring hostStats' filter.
    "q117_host_stats" ->
      """WITH h AS (SELECT doc_id,
        |  'www' || (doc_id%50) || '.example.org' AS host FROM documents)
        |SELECT host, COUNT(*) AS n_docs, MIN(doc_id) AS first_id
        |FROM h WHERE host IS NOT NULL AND host NOT IN
        |  ('www7.example.org', 'www13.example.org', 'www21.example.org')
        |GROUP BY host ORDER BY host""".stripMargin,

    // Replays the full sparse-cosine pipeline: tf, df cap via HAVING,
    // log-free idf ratio, 6-decimal per-term rounding into exact
    // DECIMAL(38,6) sums (sum ORDER is the only nondeterminism doubles
    // admit), IEEE sqrt/divide, mirrored pairs, per-doc rank window.
    "q118_sparse_topk" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0 AND text IS NOT NULL),
        |toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split(lower(text),' '), t -> len(t) > 0)) AS tok
        |  FROM base),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
        |  HAVING COUNT(*) <= 150),
        |n AS (SELECT COUNT(*) AS n FROM base),
        |w AS (SELECT doc_id, tok, CAST(tf * n.n AS DOUBLE) / df AS w
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
        |norms AS (SELECT doc_id,
        |  sqrt(CAST(SUM(CAST(FLOOR(w*w*1e6+0.5)/1e6 AS DECIMAL(38,6))) AS DOUBLE)) AS norm
        |  FROM w GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(SUM(CAST(FLOOR(a.w*b.w*1e6+0.5)/1e6 AS DECIMAL(38,6))) AS DOUBLE) AS dot
        |  FROM w a JOIN w b USING (tok) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |m AS (SELECT id_a, id_b, dot FROM pairs
        |  UNION ALL SELECT id_b, id_a, dot FROM pairs),
        |sc AS (SELECT id_a, id_b,
        |  FLOOR(dot / (na.norm * nb.norm) * 1e6 + 0.5)/1e6 AS cos
        |  FROM m JOIN norms na ON m.id_a = na.doc_id
        |         JOIN norms nb ON m.id_b = nb.doc_id),
        |r AS (SELECT id_a, id_b, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT id_a AS doc_id, id_b AS nid, cos, rank
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // The decompressed text must byte-equal the original column, so the
    // oracle computes digest/lengths DIRECTLY on documents.text — the
    // gzip round-trip on the Spark side has no independent re-derivation
    // and must be the identity for the hashes to agree.
    "q119_gunzip_text" ->
      """SELECT doc_id, md5(text) AS digest,
        |CAST(length(text) AS BIGINT) AS n_chars,
        |CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,

    // Every response record restated closed-form from the source table:
    // the URI formula, the fixed content type, the payload's byte length
    // and md5 — no re-derivation through the container, so pack∘inflate∘
    // parse must be lossless end to end.
    "q120_warc_extract" ->
      """SELECT doc_id,
        |'http://w' || (doc_id%50) || '.example.org/doc/' || doc_id AS target_uri,
        |'text/plain' AS content_type,
        |CAST(strlen(text) AS BIGINT) AS n_payload,
        |md5(text) AS digest
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,

    // Independent replay of the RFC 9309 semantics: the same pattern ->
    // regex compilation (strip trailing $, escape metachars except *,
    // * -> .*, re-anchor), hits ranked by (pattern length DESC, allow
    // DESC), rule-less and unmatched URLs defaulting to allowed, empty
    // patterns excluded.
    "q121_robots_gate" ->
      """WITH urls AS (SELECT doc_id, 'h' || (doc_id%5) AS host,
        |  CASE WHEN doc_id%7 = 0 THEN '/'
        |    WHEN doc_id%7 = 1 THEN '/admin/x' || (doc_id%3)
        |    WHEN doc_id%7 = 2 THEN '/admin/public/y'
        |    WHEN doc_id%7 = 3 THEN '/files/doc' || (doc_id%4) || '.pdf'
        |    WHEN doc_id%7 = 4 THEN '/public/a'
        |    WHEN doc_id%7 = 5 THEN '/tmp/x' || (doc_id%5)
        |    ELSE '/a' END AS path
        |  FROM documents),
        |rules(host, allow, pattern) AS (VALUES
        |  ('h0', false, '/admin'), ('h0', true, '/admin/public'),
        |  ('h0', false, '/*.pdf$'),
        |  ('h1', false, '/'), ('h1', true, '/public'),
        |  ('h2', false, '/tmp/*'), ('h2', false, ''),
        |  ('h4', true, '/')),
        |rx AS (SELECT host, allow, length(pattern) AS plen,
        |  '^' || replace(regexp_replace(
        |    CASE WHEN pattern LIKE '%$' THEN substr(pattern, 1, length(pattern)-1)
        |         ELSE pattern END,
        |    '([.^+?(){}\[\]\\|$])', '\\\1', 'g'), '*', '.*') ||
        |  CASE WHEN pattern LIKE '%$' THEN '$' ELSE '' END AS rx
        |  FROM rules WHERE length(pattern) > 0),
        |h AS (SELECT u.doc_id, r.allow,
        |  ROW_NUMBER() OVER (PARTITION BY u.doc_id
        |    ORDER BY r.plen DESC, r.allow DESC) AS rn
        |  FROM urls u JOIN rx r
        |    ON u.host = r.host AND regexp_matches(u.path, r.rx))
        |SELECT u.doc_id, u.host, u.path,
        |  COALESCE(h.allow, true) AS allowed
        |FROM urls u LEFT JOIN h ON u.doc_id = h.doc_id AND h.rn = 1
        |ORDER BY u.doc_id""".stripMargin,

    // Counters and estimates rebuilt from the same md5-31-bit hash and
    // affine bucket family; an empty bucket COALESCEs to 0 before MIN.
    "q122_cms_counts" -> {
      val pvals = cmsParams.zipWithIndex
        .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      val probeVals = cmsProbes.map(t => s"('$t')").mkString(", ")
      s"""WITH toks AS (SELECT unnest(list_filter(string_split(lower(text),' '),
         |    t -> len(t) > 0)) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT (md5_number_lower(tok) >> 33)::BIGINT AS h FROM toks),
         |p(i, a, b) AS (VALUES $pvals),
         |c AS (SELECT p.i, ((h.h * p.a + p.b) % 2147483647) % $cmsW AS bkt,
         |    COUNT(*) AS n
         |  FROM h CROSS JOIN p GROUP BY 1, 2),
         |probes(term) AS (VALUES $probeVals),
         |ph AS (SELECT term,
         |  (md5_number_lower(term) >> 33)::BIGINT AS h FROM probes),
         |e AS (SELECT term, MIN(COALESCE(c.n, 0)) AS est
         |  FROM ph CROSS JOIN p
         |  LEFT JOIN c ON c.i = p.i
         |    AND c.bkt = ((ph.h * p.a + p.b) % 2147483647) % $cmsW
         |  GROUP BY term),
         |ex AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1)
         |SELECT e.term, e.est, COALESCE(ex.n, 0) AS exact_n
         |FROM e LEFT JOIN ex ON e.term = ex.tok
         |ORDER BY e.term""".stripMargin
    },

    // Batch twin of the stream-static enrichment: inner join drops
    // NULL-key events in both engines; the decimal sum makes the double
    // result order-insensitive.
    "q123_stream_static" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |CAST(SUM(CAST(FLOOR(value*1e6+0.5)/1e6 AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Statistics recomputed inline through the identical IEEE sequence
    // (decimal->double cast, s/n mean, (q - s*s/n)/n variance, sqrt),
    // then the same 6-decimal projections. Assumes non-degenerate
    // spread (std > 0, max > min — true of every fixture); the
    // degenerate branches are spec-pinned instead.
    "q124_scaler" -> {
      def d6(c: String) = s"CAST(FLOOR($c*1e6+0.5)/1e6 AS DECIMAL(18,6))"
      s"""WITH st AS (SELECT
         |  CAST(SUM(${d6("l_quantity")}) AS DOUBLE) AS s_q,
         |  CAST(SUM(${d6("l_quantity*l_quantity")}) AS DOUBLE) AS q_q,
         |  COUNT(l_quantity) AS n_q,
         |  CAST(SUM(${d6("l_extendedprice")}) AS DOUBLE) AS s_p,
         |  CAST(SUM(${d6("l_extendedprice*l_extendedprice")}) AS DOUBLE) AS q_p,
         |  COUNT(l_extendedprice) AS n_p,
         |  MIN(l_discount) AS min_d, MAX(l_discount) AS max_d
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber,
         |  FLOOR((l_quantity - s_q/n_q) /
         |    sqrt(GREATEST((q_q - s_q*s_q/n_q)/n_q, 0)) * 1e6 + 0.5)/1e6 AS z_qty,
         |  FLOOR((l_extendedprice - s_p/n_p) /
         |    sqrt(GREATEST((q_p - s_p*s_p/n_p)/n_p, 0)) * 1e6 + 0.5)/1e6 AS z_price,
         |  FLOOR((l_discount - min_d) / (max_d - min_d) * 1e6 + 0.5)/1e6 AS mm_disc
         |FROM lineitem CROSS JOIN st
         |WHERE l_orderkey % 100 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    // The Bloom prefilter is exactness-neutral (false positives die in
    // the semi join), so the oracle is the PLAIN semi join — no sketch
    // replay needed.
    "q125_bloom_semi" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        |CAST(SUM(CAST(FLOOR(l_quantity*1e6+0.5)/1e6 AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    // The K PageRank iterations UNROLLED as generated CTE layers, each
    // replaying the identical IEEE sequence: rank/odeg divide, 12-decimal
    // rounding into exact decimal sums, dangling-mass scalar, affine
    // update. Same damping/iteration constants via prIterations.
    "q126_pagerank" -> {
      def dec(x: String) =
        s"CAST(FLOOR(($x) * 1e12 + 0.5)/1e12 AS DECIMAL(28,12))"
      val layers = (1 to prIterations).map { i =>
        val p = s"r${i - 1}"
        s"""c$i AS (SELECT e.dst AS node,
           |  CAST(SUM(${dec("r.rank / e.odeg")}) AS DOUBLE) AS contrib
           |  FROM wd e JOIN $p r ON e.src = r.node GROUP BY e.dst),
           |d$i AS (SELECT CAST(COALESCE(SUM(${dec("r.rank")}),
           |    CAST(0 AS DECIMAL(28,12))) AS DOUBLE) AS dmass
           |  FROM $p r WHERE r.node NOT IN (SELECT src FROM ed)),
           |r$i AS (SELECT n.node,
           |  FLOOR(((1 - 0.85)/(SELECT n FROM nn) + 0.85 *
           |    (COALESCE(c.contrib, 0.0) + d.dmass/(SELECT n FROM nn)))
           |    * 1e12 + 0.5)/1e12 AS rank
           |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node
           |  CROSS JOIN d$i d)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT doc_id % 97 AS src, (doc_id*7 + 13) % 97 AS dst
         |    FROM documents
         |  UNION ALL
         |  SELECT doc_id % 97 AS src, (doc_id*31 + 5) % 97 AS dst
         |    FROM documents WHERE doc_id % 3 = 0),
         |ed AS (SELECT DISTINCT src, dst FROM raw WHERE src < 90),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |od AS (SELECT src, COUNT(*) AS odeg FROM ed GROUP BY src),
         |wd AS (SELECT ed.src, ed.dst, od.odeg FROM ed JOIN od USING (src)),
         |r0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes),
         |$layers
         |SELECT node, rank FROM r$prIterations ORDER BY node""".stripMargin
    },

    // q126's unrolled-iteration discipline applied to the two HITS
    // half-steps: per round, auth contributions (join on src, sum on
    // dst), L1 normalization, then hub contributions from the NEW
    // auths — every decimal sum and IEEE divide/round in the engine's
    // exact sequence
    "q155_hits" -> {
      def dec(x: String) =
        s"CAST(FLOOR(($x) * 1e12 + 0.5)/1e12 AS DECIMAL(28,12))"
      // AS MATERIALIZED throughout: multi-referenced CTEs otherwise
      // inline per reference (DuckDB default), and the two half-steps
      // reference each frame twice — 4^K copies of the whole chain
      val layers = (1 to hitsIterations).map { i =>
        val p = s"h${i - 1}"
        s"""a$i AS MATERIALIZED (SELECT e.dst AS node,
           |  CAST(SUM(${dec("h.hub")}) AS DOUBLE) AS a
           |  FROM ed e JOIN $p h ON e.src = h.node GROUP BY e.dst),
           |sa$i AS MATERIALIZED (
           |  SELECT CAST(SUM(${dec("a")}) AS DOUBLE) AS s FROM a$i),
           |au$i AS MATERIALIZED (SELECT n.node,
           |  FLOOR(COALESCE(a.a, 0.0)/(SELECT s FROM sa$i)*1e12 + 0.5)/1e12
           |    AS auth
           |  FROM nodes n LEFT JOIN a$i a USING (node)),
           |hr$i AS MATERIALIZED (SELECT e.src AS node,
           |  CAST(SUM(${dec("au.auth")}) AS DOUBLE) AS h
           |  FROM ed e JOIN au$i au ON e.dst = au.node GROUP BY e.src),
           |sh$i AS MATERIALIZED (
           |  SELECT CAST(SUM(${dec("h")}) AS DOUBLE) AS s FROM hr$i),
           |h$i AS MATERIALIZED (SELECT n.node,
           |  FLOOR(COALESCE(r.h, 0.0)/(SELECT s FROM sh$i)*1e12 + 0.5)/1e12
           |    AS hub
           |  FROM nodes n LEFT JOIN hr$i r USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT doc_id % 97 AS src, (doc_id*7 + 13) % 97 AS dst
         |    FROM documents
         |  UNION ALL
         |  SELECT doc_id % 97 AS src, (doc_id*31 + 5) % 97 AS dst
         |    FROM documents WHERE doc_id % 3 = 0),
         |ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src < 90),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |h0 AS MATERIALIZED (
         |  SELECT node, 1.0/(SELECT n FROM nn) AS hub FROM nodes),
         |$layers
         |SELECT h.node, h.hub, a.auth
         |FROM h$hitsIterations h JOIN au$hitsIterations a USING (node)
         |ORDER BY h.node""".stripMargin
    },

    // the simple undirected graph's triangles enumerated directly as
    // a<b<c edge triples — the engine's degree-oriented wedge join must
    // land on the same count
    "q159_triangles" ->
      """WITH raw AS (
        |  SELECT doc_id % 97 AS src, (doc_id*7 + 13) % 97 AS dst
        |    FROM documents
        |  UNION ALL
        |  SELECT doc_id % 97 AS src, (doc_id*31 + 5) % 97 AS dst
        |    FROM documents WHERE doc_id % 3 = 0),
        |p AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
        |    GREATEST(src, dst) AS b
        |  FROM raw WHERE src < 90 AND src <> dst),
        |t AS (SELECT COUNT(*) AS n FROM p e1
        |  JOIN p e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN p e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT (SELECT n FROM t) AS n_triangles,
        |  (SELECT COUNT(*) FROM p) AS n_edges""".stripMargin,

    // peel rounds unrolled as chained CTEs to an UPPER BOUND depth —
    // rounds past the fixpoint filter nothing (idempotent), so the
    // unrolled result IS the fixpoint the engine iterates to
    "q174_kcore" -> {
      val rounds = 12
      val sb = new StringBuilder
      sb.append(
        """WITH raw AS (
          |  SELECT doc_id % 311 AS src, (doc_id*11 + 7) % 311 AS dst
          |    FROM documents
          |  UNION ALL
          |  SELECT doc_id % 311 AS src, (doc_id*23 + 3) % 311 AS dst
          |    FROM documents WHERE doc_id % 2 = 0),
          |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
          |    GREATEST(src, dst) AS b
          |  FROM raw WHERE src <> dst)""".stripMargin)
      for (i <- 1 to rounds) {
        val p = i - 1
        sb.append(
          s""",
             |b$i AS MATERIALIZED (SELECT node FROM (
             |    SELECT a AS node FROM e$p UNION ALL SELECT b FROM e$p)
             |  GROUP BY node HAVING COUNT(*) < 3),
             |e$i AS MATERIALIZED (SELECT a, b FROM e$p
             |  WHERE a NOT IN (SELECT node FROM b$i)
             |    AND b NOT IN (SELECT node FROM b$i))""".stripMargin)
      }
      sb.append(
        s"""
           |SELECT node, COUNT(*) AS deg FROM (
           |  SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
           |GROUP BY node ORDER BY node""".stripMargin)
      sb.toString
    },

    // one WINDOW clause shared by every function, the same total order;
    // the rank family is integer, the ratio doubles are single IEEE
    // divides of small ints, lag/lead move stored values untouched
    "q156_window_ranks" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(rank() OVER win AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER win AS BIGINT) AS drnk,
        |  percent_rank() OVER win AS prnk,
        |  cume_dist() OVER win AS cdist,
        |  CAST(ntile(4) OVER win AS BIGINT) AS tile,
        |  lag(o_totalprice, 1) OVER win AS prev_price,
        |  lead(o_totalprice, 1) OVER win AS next_price
        |FROM orders
        |WINDOW win AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)
        |QUALIFY o_orderkey % 50 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // FULL OUTER with both-side survivors: DuckDB's own full join over
    // the identically thinned dim and quantized rollup
    "q157_full_outer" ->
      """WITH agg AS (SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice*1e6+0.5)/1e6
        |    AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |  FROM orders GROUP BY o_custkey),
        |cust AS (SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_custkey % 3 <> 0)
        |SELECT COALESCE(o_custkey, c_custkey) AS custkey,
        |  c_custkey IS NOT NULL AS has_customer,
        |  o_custkey IS NOT NULL AS has_orders,
        |  CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
        |  sum_price, c_mktsegment
        |FROM agg FULL OUTER JOIN cust ON o_custkey = c_custkey
        |ORDER BY custkey""".stripMargin,

    // the same two window passes over the same total order: NULL-safe
    // change detection (IS DISTINCT FROM == Spark's <=> negation, with
    // the first row always kept), then lead() validity intervals and
    // row_number versions over the survivors
    "q158_scd2" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT user_id, ts_us, event_id, event_type,
        |  row_number() OVER w AS rn, lag(event_type) OVER w AS prev
        |  FROM c WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id)),
        |k AS (SELECT user_id, ts_us, event_id, event_type FROM f
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id, CAST(row_number() OVER w2 AS BIGINT) AS version,
        |  event_type, ts_us AS valid_from, lead(ts_us) OVER w2 AS valid_to,
        |  (lead(ts_us) OVER w2) IS NULL AS is_current
        |FROM k WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, version""".stripMargin,

    // Per-level group counts + minima, the same first-satisfying-level
    // selection as full-domain recoding, and the chosen level's groups
    // with the suppression flag. NULL quasi values group normally in
    // both engines.
    "q127_k_anon" ->
      """WITH l0 AS (SELECT lang AS q_lang, source AS q_source,
        |    CAST(n_chars AS VARCHAR) AS q_len, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |l1 AS (SELECT lang, source,
        |    CAST(CAST(FLOOR(n_chars/100) AS BIGINT)*100 AS VARCHAR) AS q_len,
        |    COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |l2 AS (SELECT lang, source,
        |    CAST(CAST(FLOOR(n_chars/1000) AS BIGINT)*1000 AS VARCHAR) AS q_len,
        |    COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |l3 AS (SELECT lang, source, '*' AS q_len, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |sel AS (SELECT CASE
        |  WHEN (SELECT MIN(n) FROM l0) >= 10 THEN 0
        |  WHEN (SELECT MIN(n) FROM l1) >= 10 THEN 1
        |  WHEN (SELECT MIN(n) FROM l2) >= 10 THEN 2
        |  ELSE 3 END AS lv),
        |u AS (
        |  SELECT 0 AS level, q_lang, q_source, q_len, n FROM l0
        |  UNION ALL SELECT 1, lang, source, q_len, n FROM l1
        |  UNION ALL SELECT 2, lang, source, q_len, n FROM l2
        |  UNION ALL SELECT 3, lang, source, q_len, n FROM l3)
        |SELECT level, q_lang, q_source, q_len, n, n < 10 AS suppressed
        |FROM u WHERE level = (SELECT lv FROM sel)
        |ORDER BY q_lang, q_source, q_len""".stripMargin,

    // The Morton interleave replayed per bit position (generated terms —
    // bit k of a at 2k, bit k of b at 2k+1), keys folded to 10 bits with
    // the same non-negative pmod.
    "q128_zorder_key" -> {
      val terms = (0 until 10).map { k =>
        s"((((a >> $k) & 1) << ${2 * k}) | (((b >> $k) & 1) << ${2 * k + 1}))"
      }.mkString(" | ")
      s"""WITH f AS (SELECT l_orderkey, l_linenumber,
         |  ((l_orderkey % 1024) + 1024) % 1024 AS a,
         |  ((l_partkey % 1024) + 1024) % 1024 AS b
         |  FROM lineitem WHERE l_orderkey % 50 = 0)
         |SELECT l_orderkey, l_linenumber, ($terms) AS zval
         |FROM f ORDER BY zval, l_orderkey, l_linenumber""".stripMargin
    },

    // The partitioned round-trip must be lossless; the oracle never sees
    // the partitioned copy.
    "q129_partition_prune" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,

    // Registers rebuilt from the same md5-31-bit arithmetic (top 8 bits
    // -> register, max leading-zero rank of the low 23), empty registers
    // contributing 2^0 via the (256 - active) term, the identical IEEE
    // alpha/harmonic sequence.
    "q130_hll_distinct" ->
      """WITH h AS (SELECT
        |  (md5_number_lower(CAST(l_orderkey AS VARCHAR)) >> 33)::BIGINT AS h
        |  FROM lineitem WHERE l_orderkey IS NOT NULL),
        |r AS (SELECT (h >> 23) AS idx,
        |  MAX(CASE WHEN (h & 8388607) = 0 THEN 24
        |      ELSE 23 - length(bin(h & 8388607)) + 1 END) AS rho
        |  FROM h GROUP BY 1),
        |s AS (SELECT SUM(CAST(1.0 AS DOUBLE)/(1 << rho)) + (256 - COUNT(*)) AS S,
        |  COUNT(*) AS act FROM r)
        |SELECT FLOOR(0.7213/(1 + 1.079/256)*256*256/S * 1e6 + 0.5)/1e6 AS hll_est,
        |  CAST(act AS BIGINT) AS n_active,
        |  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS exact_n
        |FROM s""".stripMargin,

    // replay of the fixed-grid histogram sketch: same binning IEEE
    // sequence ((x-lo)/(hi-lo)*bins, floor, clamp), integer cumulative
    // counts, rank = CEIL(q*N) (exact on a <2^53 double), midpoint
    // affine map with the same dyadic width literals (51/102 = 0.5,
    // 104100/512 = 203.3203125)
    "q131_hist_quantile" ->
      """WITH b AS (SELECT l_returnflag,
        |  LEAST(101, GREATEST(0, CAST(FLOOR(
        |    CAST(l_quantity AS DOUBLE) / 51.0 * 102) AS INT))) AS qb,
        |  LEAST(511, GREATEST(0, CAST(FLOOR(
        |    (CAST(l_extendedprice AS DOUBLE) - 900.0) / 104100.0 * 512
        |  ) AS INT))) AS pb
        |  FROM lineitem),
        |qh AS (SELECT l_returnflag, qb, COUNT(*) AS c FROM b GROUP BY 1,2),
        |ph AS (SELECT l_returnflag, pb, COUNT(*) AS c FROM b GROUP BY 1,2),
        |qc AS (SELECT l_returnflag, qb,
        |  SUM(c) OVER (PARTITION BY l_returnflag ORDER BY qb) AS cum,
        |  SUM(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM qh),
        |pc AS (SELECT l_returnflag, pb,
        |  SUM(c) OVER (PARTITION BY l_returnflag ORDER BY pb) AS cum,
        |  SUM(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM ph),
        |qsel AS (SELECT l_returnflag, MIN(qb) AS b FROM qc
        |  WHERE cum >= CEIL(0.5 * n) GROUP BY 1),
        |psel AS (SELECT l_returnflag, MIN(pb) AS b FROM pc
        |  WHERE cum >= CEIL(0.9 * n) GROUP BY 1),
        |ex AS (SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS exact_qty_p50,
        |  quantile_cont(l_extendedprice, 0.9) AS exact_price_p90
        |  FROM lineitem GROUP BY 1)
        |SELECT ex.l_returnflag,
        |  CAST((qsel.b + 0.5) * 0.5 AS DOUBLE) AS approx_qty_p50,
        |  CAST(900.0 + (psel.b + 0.5) * 203.3203125 AS DOUBLE)
        |    AS approx_price_p90,
        |  exact_qty_p50, exact_price_p90
        |FROM ex
        |JOIN qsel ON ex.l_returnflag IS NOT DISTINCT FROM qsel.l_returnflag
        |JOIN psel ON ex.l_returnflag IS NOT DISTINCT FROM psel.l_returnflag
        |ORDER BY ex.l_returnflag""".stripMargin,

    // q108's closed-form pixel oracle VERBATIM: the progressive wire
    // format carries the same quantized DCs, so the decoded stats are
    // identical — what changes (and is under test) is the multi-scan
    // decode path that produced them
    "q132_progressive_decode" ->
      """WITH p AS (SELECT doc_id, 10 + doc_id % 23 AS w, 9 + doc_id % 17 AS h,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
        |  FROM documents),
        |co AS (SELECT doc_id, w, h, c,
        |  (2896*((2896*(doc_id % 5 * 17) + 1024)//2048) + 16384)//32768 AS cb_off,
        |  (2896*((2896*(doc_id % 7 * 17) + 1024)//2048) + 16384)//32768 AS cr_off
        |  FROM p),
        |b AS (SELECT doc_id, w, h, c, cb_off, cr_off,
        |  UNNEST(range(((h+7)//8) * ((w+7)//8))) AS blk FROM co),
        |v AS (SELECT doc_id, w, h, c, cb_off, cr_off,
        |  128 + (2896*((2896*(((doc_id + 3*(blk // ((w+7)//8)) + 5*(blk % ((w+7)//8))) % 24) * 16) + 1024)//2048) + 16384)//32768 AS yv,
        |  LEAST(8, h - 8*(blk // ((w+7)//8))) * LEAST(8, w - 8*(blk % ((w+7)//8))) AS cnt
        |  FROM b),
        |ch AS (SELECT doc_id, w, h, c, cnt,
        |  CASE WHEN c = 1 THEN yv
        |    ELSE LEAST(255, GREATEST(0, yv + (91881*cr_off + 32768)//65536)) END AS v1,
        |  CASE WHEN c = 1 THEN yv
        |    ELSE LEAST(255, GREATEST(0, yv - (22554*cb_off + 46802*cr_off + 32768)//65536)) END AS v2,
        |  CASE WHEN c = 1 THEN yv
        |    ELSE LEAST(255, GREATEST(0, yv + (116130*cb_off + 32768)//65536)) END AS v3
        |  FROM v)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(c AS BIGINT) AS channels, CAST(w*h*c AS BIGINT) AS n_px,
        |  FLOOR(CAST(SUM(CASE WHEN c = 1 THEN v1*cnt ELSE (v1+v2+v3)*cnt END) AS DOUBLE)
        |    / (w*h*c) * 1e6 + 0.5) / 1e6 AS mean_px,
        |  CAST(MIN(LEAST(v1, v2, v3)) AS BIGINT) AS min_px,
        |  CAST(MAX(GREATEST(v1, v2, v3)) AS BIGINT) AS max_px
        |FROM ch GROUP BY doc_id, w, h, c ORDER BY doc_id""".stripMargin,

    // A-law compress∘expand replayed per sample: magnitude = 13-bit
    // truncation (negatives folded via -x-1 so // stays a non-negative
    // floor), segment = top-bit position over {32,64,...,2048}, mantissa
    // shift = max(seg,1), reconstruction (mant*16+8) for seg 0 else
    // (mant*16+264)<<(seg-1) — all integers until the two stat divides
    // (same floor(x*1e6+0.5)/1e6 discipline as q95).
    "q114_alaw_decode" ->
      """WITH p AS (SELECT doc_id, 64 + doc_id % 129 AS n FROM documents),
        |v AS (SELECT doc_id, n,
        |  list_apply(range(n), i -> (doc_id*131 + i*17) % 65536 - 32768) AS s
        |  FROM p),
        |m AS (SELECT doc_id, n,
        |  list_transform(s, x -> CASE WHEN x >= 0 THEN x // 8
        |    ELSE (-x - 1) // 8 END) AS ms,
        |  list_transform(s, x -> CASE WHEN x < 0 THEN -1 ELSE 1 END) AS sg
        |  FROM v),
        |e AS (SELECT doc_id, n, ms, sg,
        |  list_transform(ms, x -> CASE WHEN x >= 2048 THEN 7
        |    WHEN x >= 1024 THEN 6 WHEN x >= 512 THEN 5 WHEN x >= 256 THEN 4
        |    WHEN x >= 128 THEN 3 WHEN x >= 64 THEN 2 WHEN x >= 32 THEN 1
        |    ELSE 0 END) AS es
        |  FROM m),
        |d AS (SELECT doc_id, n,
        |  list_transform(range(n), i -> sg[CAST(i AS INT) + 1] * (CASE
        |    WHEN es[CAST(i AS INT) + 1] = 0
        |    THEN (ms[CAST(i AS INT) + 1] // 2) % 16 * 16 + 8
        |    ELSE ((ms[CAST(i AS INT) + 1]
        |           // (1 << GREATEST(es[CAST(i AS INT) + 1], 1))) % 16
        |          * 16 + 264) * (1 << (es[CAST(i AS INT) + 1] - 1))
        |    END)) AS ds
        |  FROM e)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  FLOOR(CAST(list_sum(ds) AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_amp,
        |  FLOOR(sqrt(CAST(list_sum(list_apply(ds, x -> x*x)) AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS rms,
        |  CAST(list_max(list_apply(ds, x -> abs(x))) AS BIGINT) AS peak
        |FROM d ORDER BY doc_id""".stripMargin,

    // The combined ADPCM encode-decode state machine as a recursive CTE:
    // sample 0 is the block header's verbatim predictor; each step looks
    // up the public 89-entry step table, runs the encoder's successive
    // approximation (step, step/2, step/4 against |target - pred|), the
    // decoder's reconstruction (step/8 + bit-weighted halves, int16
    // clamp) and the index adjust ((nib3-3)*2 for 4..7, else -1, clamped
    // to [0,88]) — stats accumulate along the walk, the k = n-1 row is
    // the finished clip. Layered subqueries name each intermediate once.
    "q96_adpcm_decode" -> {
      val steps = graft.multimodal.Wav.AdpcmSteps.mkString("[", ",", "]")
      s"""WITH RECURSIVE p AS (SELECT doc_id, 16 + doc_id % 17 AS n FROM documents),
         |v AS (SELECT doc_id, n,
         |  list_apply(range(n), i -> (doc_id*131 + i*17) % 65536 - 32768) AS s
         |  FROM p),
         |w AS (
         |  SELECT doc_id, n, s, 0 AS k,
         |    CAST(s[1] AS INTEGER) AS pred, 0 AS idx,
         |    CAST(s[1] AS BIGINT) AS ssum,
         |    CAST(s[1] AS BIGINT) * s[1] AS ssq,
         |    CAST(abs(s[1]) AS BIGINT) AS peak
         |  FROM v
         |  UNION ALL
         |  SELECT doc_id, n, s, k + 1, np, nidx,
         |    ssum + np, ssq + CAST(np AS BIGINT) * np,
         |    GREATEST(peak, CAST(abs(np) AS BIGINT))
         |  FROM (
         |    SELECT doc_id, n, s, k, ssum, ssq, peak,
         |      CAST(CASE WHEN sgn THEN GREATEST(-32768, pred - diffq)
         |           ELSE LEAST(32767, pred + diffq) END AS INTEGER) AS np,
         |      LEAST(88, GREATEST(0, idx +
         |        CASE WHEN nib3 < 4 THEN -1 ELSE (nib3 - 3) * 2 END)) AS nidx
         |    FROM (
         |      SELECT *,
         |        (CASE WHEN b2 THEN 4 ELSE 0 END) +
         |        (CASE WHEN b1 THEN 2 ELSE 0 END) +
         |        (CASE WHEN b0 THEN 1 ELSE 0 END) AS nib3,
         |        step // 8 + CASE WHEN b2 THEN step ELSE 0 END
         |          + CASE WHEN b1 THEN step // 2 ELSE 0 END
         |          + CASE WHEN b0 THEN step // 4 ELSE 0 END AS diffq
         |      FROM (
         |        SELECT *, d2 >= step // 4 AS b0
         |        FROM (
         |          SELECT *, d1 >= step // 2 AS b1,
         |            d1 - CASE WHEN d1 >= step // 2 THEN step // 2 ELSE 0 END AS d2
         |          FROM (
         |            SELECT *, d0 >= step AS b2,
         |              d0 - CASE WHEN d0 >= step THEN step ELSE 0 END AS d1
         |            FROM (
         |              SELECT *, diff < 0 AS sgn, abs(diff) AS d0
         |              FROM (
         |                SELECT doc_id, n, s, k, pred, idx, ssum, ssq, peak,
         |                  $steps[idx + 1] AS step,
         |                  CAST(s[k + 2] AS INTEGER) - pred AS diff
         |                FROM w WHERE k < n - 1))))))))
         |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
         |  FLOOR(CAST(ssum AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_amp,
         |  FLOOR(sqrt(CAST(ssq AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS rms,
         |  peak
         |FROM w WHERE k = n - 1 ORDER BY doc_id""".stripMargin
    },

    // q79's oracle run twice off ONE token unnest (target histogram is
    // the source-filtered slice, raw is everything), the same per-token
    // 1e-9 floor + DECIMAL sum per model, the same 1e-6 mean rounds,
    // then the one float divide for the ratio and the deterministic
    // (weight desc, id asc) top-100 cut.
    "q97_dsir_select" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id, source, UNNEST(toks) AS tok FROM t),
        |ht AS (SELECT tok, COUNT(*) AS c FROM u
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY tok),
        |vt AS (SELECT tok, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM ht) AS p
        |  FROM ht ORDER BY c DESC, tok ASC LIMIT 20),
        |hr AS (SELECT tok, COUNT(*) AS c FROM u GROUP BY tok),
        |vr AS (SELECT tok, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM hr) AS p
        |  FROM hr ORDER BY c DESC, tok ASC LIMIT 20),
        |j AS (SELECT u.doc_id, u.tok, vt.p AS pt, vr.p AS pr
        |  FROM u LEFT JOIN vt USING (tok) LEFT JOIN vr USING (tok)),
        |g AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |  SUM(CAST(FLOOR(COALESCE(pt, 0) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,12))) AS st,
        |  SUM(CAST(FLOOR(COALESCE(pr, 0) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,12))) AS sr
        |  FROM j GROUP BY doc_id),
        |m AS (SELECT t.doc_id,
        |  CAST(COALESCE(g.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CASE WHEN COALESCE(g.n_tokens, 0) = 0 THEN 0.0
        |    ELSE FLOOR(CAST(g.st AS DOUBLE) / g.n_tokens * 1e6 + 0.5) / 1e6
        |  END AS p_target,
        |  CASE WHEN COALESCE(g.n_tokens, 0) = 0 THEN 0.0
        |    ELSE FLOOR(CAST(g.sr AS DOUBLE) / g.n_tokens * 1e6 + 0.5) / 1e6
        |  END AS p_raw
        |  FROM t LEFT JOIN g USING (doc_id))
        |SELECT doc_id, n_tokens, p_target, p_raw,
        |  FLOOR(p_target / (p_raw + 1e-6) * 1e6 + 0.5) / 1e6 AS dsir_w
        |FROM m ORDER BY dsir_w DESC, doc_id ASC LIMIT 100""".stripMargin,

    // q79's scoring chain, then quantile_cont at 1.0/3 and 2.0/3 (the
    // q57-proved percentile parity; the fraction is the same IEEE
    // division both engines perform) feeding the same >= comparisons.
    "q98_ccnet_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
        |h AS (SELECT tok, COUNT(*) AS c FROM u GROUP BY tok),
        |v AS (
        |  SELECT tok, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM h) AS p
        |  FROM h ORDER BY c DESC, tok ASC LIMIT 20),
        |j AS (SELECT u.doc_id, u.tok, v.p FROM u LEFT JOIN v USING (tok)),
        |g AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    SUM(CAST(FLOOR(COALESCE(p, 0) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,12))) AS sp
        |  FROM j GROUP BY doc_id),
        |s AS (
        |  SELECT t.doc_id,
        |    CASE WHEN COALESCE(g.n_tokens, 0) = 0 THEN 0.0
        |         ELSE FLOOR(CAST(g.sp AS DOUBLE) / g.n_tokens * 1e6 + 0.5) / 1e6
        |    END AS mean_p
        |  FROM t LEFT JOIN g USING (doc_id)),
        |c AS (SELECT quantile_cont(mean_p, 1.0/3) AS c1,
        |             quantile_cont(mean_p, 2.0/3) AS c2 FROM s)
        |SELECT s.doc_id, s.mean_p,
        |  CASE WHEN s.mean_p >= c.c2 THEN 'head'
        |       WHEN s.mean_p >= c.c1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM s, c ORDER BY s.doc_id""".stripMargin,

    // Generated twin: the Scala-computed constants (k1+1, 1-b, ...)
    // interpolate via Double.toString (shortest repr — parses back
    // bit-identically, the q24/q39 technique), the data-dependent stats
    // (N, avgdl, df) are recomputed by the oracle itself with the exact
    // arithmetic and association order the Spark projection uses, and
    // every float op is +,*,/ (linear idf — see the query comment).
    "q74_bm25" -> {
      val k1 = 1.2; val b = 0.75
      val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(toks, x -> x = '$t')) AS tf$i" }.mkString(",\n  ")
      val dfAggs = bm25Terms.indices.map(i =>
        s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val score = bm25Terms.indices.map(i =>
        s"(((n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1})) / " +
          s"(tf$i + $k1 * (${1 - b} + $b * (dl / avgdl)))").mkString(" + ")
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split(lower(text),' '), x -> len(x) > 0) AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |d AS (SELECT doc_id, len(toks) AS dl,
         |  $tfCols
         |  FROM t),
         |g AS (SELECT COUNT(*) AS n,
         |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfAggs FROM d),
         |sc AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl,
         |  FLOOR(($score) * 1e6 + 0.5) / 1e6 AS bm25 FROM d, g)
         |SELECT doc_id, dl, bm25 FROM sc WHERE bm25 > 0
         |ORDER BY doc_id""".stripMargin
    },

    // The full incremental-dedup gate recomputed in SQL: fingerprints
    // (q12's md5-of-sorted-bag), md5-mode MinHash signatures + raw-slice
    // band candidacy (q17's construction, byte-identical params from the
    // same seeded generator), the signature-estimated Jaccard gate
    // (integer count / 32.0 — exact power-of-two division in both
    // engines), and the four admission rules at their priority order.
    "q75_incremental_dedup" -> {
      val rnd = new scala.util.Random(42L)
      val params = Seq.fill(32)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong ->
        rnd.nextInt(Int.MaxValue).toLong)
      val sigExprs = params.map { case (a, b) =>
        s"list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647))"
      }.mkString("[\n        ", ",\n        ", "]")
      def bandEq(l: String, r: String) = (0 until 8).map { bnd =>
        val lo = bnd * 4 + 1
        val hi = bnd * 4 + 4
        s"$l.sig[$lo:$hi] = $r.sig[$lo:$hi]"
      }.mkString(" OR ")
      def estJ(l: String, r: String) =
        s"len(list_filter(list_zip($l.sig, $r.sig), x -> x[1] = x[2])) / 32.0"
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |f AS (
         |  SELECT doc_id,
         |    md5(COALESCE(array_to_string(list_sort(toks), ' '), '')) AS fp,
         |    CASE WHEN len(toks) >= 3
         |      THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
         |      ELSE [COALESCE(array_to_string(toks, ' '), '')] END AS sh
         |  FROM t),
         |mh AS (
         |  SELECT doc_id, fp, list_transform(sh, tok -> (md5_number_lower(tok) >> 33)::BIGINT) AS hs
         |  FROM f),
         |feat AS (SELECT doc_id, fp, $sigExprs AS sig FROM mh),
         |idx AS (SELECT * FROM feat WHERE doc_id % 3 <> 0),
         |bat AS (SELECT * FROM feat WHERE doc_id % 3 = 0),
         |ex_i AS (SELECT DISTINCT b.doc_id FROM bat b JOIN idx i ON b.fp = i.fp),
         |ex_b AS (
         |  SELECT b.doc_id FROM bat b
         |  JOIN (SELECT fp, MIN(doc_id) AS m FROM bat GROUP BY fp) g
         |    ON b.fp = g.fp AND b.doc_id > g.m),
         |nr_i AS (
         |  SELECT DISTINCT b.doc_id FROM bat b JOIN idx i
         |    ON (${bandEq("b", "i")})
         |  WHERE ${estJ("b", "i")} >= 0.6),
         |nr_b AS (
         |  SELECT DISTINCT b.doc_id FROM bat b JOIN bat a
         |    ON a.doc_id < b.doc_id AND (${bandEq("a", "b")})
         |  WHERE ${estJ("b", "a")} >= 0.6)
         |SELECT b.doc_id,
         |  CASE WHEN b.doc_id IN (SELECT doc_id FROM ex_i) THEN 'exact_index'
         |       WHEN b.doc_id IN (SELECT doc_id FROM ex_b) THEN 'exact_batch'
         |       WHEN b.doc_id IN (SELECT doc_id FROM nr_i) THEN 'near_index'
         |       WHEN b.doc_id IN (SELECT doc_id FROM nr_b) THEN 'near_batch'
         |       ELSE 'admitted' END AS reason
         |FROM bat b ORDER BY doc_id""".stripMargin
    },

    // Same 3-gram construction as q68's oracle (lower + whitespace
    // tokens, positional rebuild, list_distinct), with the shingle
    // kernel's whole-doc fallback for docs shorter than k reproduced via
    // CASE; COALESCE guards DuckDB's array_to_string([],s)->NULL quirk so
    // empty docs yield the '' shingle exactly like Spark's array_join.
    "q73_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(lower(text),' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT doc_id,
        |  CASE WHEN len(toks) >= 3 THEN list_distinct(
        |    list_apply(range(len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [COALESCE(array_to_string(toks, ' '), '')] END AS sh
        |  FROM t),
        |d AS (SELECT doc_id, UNNEST(sh) AS g FROM s),
        |b AS (SELECT doc_id AS bench_doc, g FROM d WHERE doc_id % 17 = 0)
        |SELECT d.doc_id AS doc, b.bench_doc, COUNT(*) AS shared
        |FROM d JOIN b ON d.g = b.g
        |WHERE d.doc_id <> b.bench_doc
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY doc, bench_doc""".stripMargin,

    // q73's inverted index turned into surgery: positional 3-grams, the
    // benchmark shingle set, covered positions = hit pos + {0,1,2}
    // (deduped), kept tokens rebuilt positionally. COALESCE on
    // array_to_string: DuckDB returns NULL for an empty list where
    // Spark's array_join returns '' (the documented divergence).
    "q99_decontam_scrub" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(lower(text),' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, UNNEST(CASE WHEN len(toks) >= 3 THEN
        |    list_apply(range(len(toks) - 2), i -> struct_pack(pos := i,
        |      sh := toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [] END) AS ps FROM t),
        |b AS (SELECT DISTINCT ps.sh AS sh FROM g WHERE doc_id % 17 = 0),
        |hits AS (SELECT DISTINCT g.doc_id, ps.pos + r.i AS pos
        |  FROM g JOIN b ON ps.sh = b.sh CROSS JOIN range(3) AS r(i)
        |  WHERE g.doc_id % 17 <> 0),
        |hl AS (SELECT doc_id, list(pos) AS rm FROM hits GROUP BY doc_id),
        |k AS (SELECT t.doc_id, len(toks) AS n_toks,
        |  CASE WHEN hl.rm IS NULL THEN toks
        |    ELSE list_apply(list_filter(range(len(toks)),
        |      p -> NOT list_contains(hl.rm, p)), p -> toks[p+1]) END AS kept
        |  FROM t LEFT JOIN hl USING (doc_id) WHERE t.doc_id % 17 <> 0)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens,
        |  CAST(n_toks - len(kept) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(kept, ' '), '') AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // q70's audio twin: the chunk walk + PCM extraction has no SQL
    // equivalent; the oracle recomputes the sample-stat arithmetic from
    // the synthesis formula, which the Spark side only reaches THROUGH
    // the real encode→splice→decode round-trip. Sums/sums-of-squares are
    // integer-exact; the only float ops (divide, sqrt, floor-round) are
    // IEEE-identical in both engines.
    "q72_wav_decode" ->
      """WITH p AS (SELECT doc_id,
        |  64 + doc_id % 129 AS n,
        |  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS c,
        |  8000 + (doc_id % 5) * 4000 AS sr
        |  FROM documents),
        |v AS (SELECT doc_id, n, c, sr,
        |  list_apply(range(n), i -> (doc_id*131 + i*17) % 65536 - 32768) AS s
        |  FROM p)
        |SELECT doc_id, CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(c AS BIGINT) AS channels, CAST(n AS BIGINT) AS n_samples,
        |  FLOOR(CAST(list_sum(s) AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_amp,
        |  FLOOR(sqrt(CAST(list_sum(list_apply(s, x -> x*x)) AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS rms,
        |  CAST(list_max(list_apply(s, x -> abs(x))) AS BIGINT) AS peak
        |FROM v ORDER BY doc_id""".stripMargin,

    // q24's LSH recompute (seeded planes as shortest-repr double
    // literals, sign-test bucket bits, any-table band match) composed
    // with q34's recursive-CTE connected components — the full semantic
    // dedup pipeline rebuilt from literals + the q19-proven cosine fold.
    "q67_semantic_dedup" -> {
      val rnd = new scala.util.Random(42L)
      // identical stream to Similarity.hyperplaneBuckets(dim=64, planes=8,
      // tables=4, seed=42): tables outer, planes inner, 64 gaussians each
      val tablesPlanes: Seq[Seq[Array[Double]]] = Seq.fill(4)(
        Seq.fill(8)(Array.fill(64)(rnd.nextGaussian())))
      def dotSql(v: String, plane: Array[Double]): String =
        s"list_sum(list_apply(list_zip($v, [${plane.mkString(",")}]), x -> x[1] * x[2]))"
      def bucketSql(v: String, t: Int): String =
        tablesPlanes(t).zipWithIndex.map { case (pl, i) =>
          s"(CASE WHEN ${dotSql(v, pl)} >= 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString("(", " + ", ")")
      val bucketCols = (0 until 4).map(t => s"${bucketSql("ev", t)} AS b$t")
        .mkString(",\n    ")
      val bandMatch = (0 until 4).map(t => s"a.b$t = c.b$t").mkString(" OR ")
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |b AS (SELECT vec_id, ev,
         |    $bucketCols
         |  FROM v),
         |p AS (
         |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |    FLOOR(list_sum(list_apply(list_zip(a.ev, c.ev), x -> x[1] * x[2])) /
         |      (sqrt(list_sum(list_apply(a.ev, x -> x * x))) *
         |       sqrt(list_sum(list_apply(c.ev, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
         |  FROM b a, b c WHERE a.vec_id < c.vec_id AND ($bandMatch)),
         |q AS (SELECT id_a, id_b FROM p WHERE cos >= 0.4),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM q
         |  UNION ALL SELECT id_b, id_a FROM q),
         |closure(n, m) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT c2.n, e.d FROM closure c2 JOIN edges e ON c2.m = e.s)
         |SELECT n AS vec_id, LEAST(n, MIN(m)) AS group_id
         |FROM closure GROUP BY n ORDER BY vec_id""".stripMargin
    },

    // Per-class unigram models + argmax routing rebuilt relationally:
    // per-source MLE vocabularies (top-20 by count desc, tok asc — the
    // exact fitClassVocab order), the q79 decimal-sum mass per (doc,
    // class), a grid completing zero-hit classes at 0.0, and the same
    // (mass desc, cls asc) rank-1 winner. self_routed as BIGINT, not
    // BOOLEAN: integer stringification is engine-stable for the hash.
    "q100_class_route" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id, source, UNNEST(toks) AS tok FROM t),
        |h AS (SELECT source AS cls, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
        |tot AS (SELECT cls, CAST(SUM(c) AS DOUBLE) AS tot FROM h GROUP BY 1),
        |v AS (SELECT cls, tok, p FROM (
        |  SELECT h.cls, h.tok, CAST(c AS DOUBLE) / tot.tot AS p,
        |    ROW_NUMBER() OVER (PARTITION BY h.cls ORDER BY c DESC, tok ASC) AS rn
        |  FROM h JOIN tot USING (cls)) WHERE rn <= 20),
        |j AS (SELECT u.doc_id, v.cls,
        |  SUM(CAST(FLOOR(v.p * 1e9 + 0.5) AS BIGINT)) AS sn
        |  FROM u JOIN v USING (tok) GROUP BY 1, 2),
        |grid AS (SELECT t.doc_id, t.source, len(t.toks) AS n_tokens, c.cls
        |  FROM t CROSS JOIN (SELECT DISTINCT cls FROM v) c),
        |sc AS (SELECT g.doc_id, g.source, g.cls, g.n_tokens,
        |  CASE WHEN g.n_tokens = 0 OR j.sn IS NULL THEN 0.0
        |    ELSE FLOOR(CAST(j.sn AS DOUBLE) / 1e9 / g.n_tokens * 1e6 + 0.5) / 1e6
        |  END AS mass
        |  FROM grid g LEFT JOIN j ON g.doc_id = j.doc_id AND g.cls = j.cls),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY mass DESC, cls ASC) AS rn FROM sc)
        |SELECT doc_id, cls AS pred_cls, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  mass,
        |  CAST(CASE WHEN cls = source THEN 1 ELSE 0 END AS BIGINT) AS self_routed
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Shard assignment + manifest rebuilt from the same md5 >> 33
    // 31-bit hash (the q66 discipline); token counts mirror the
    // un-lowered whitespace tokenizer (q13), and the checksum is the
    // identical order-free integer sum over 'id:n_chars' hashes.
    "q101_shard_manifest" ->
      """WITH a AS (SELECT doc_id, text, COALESCE(n_chars, 0) AS nc,
        |  CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) >> 33 AS BIGINT) % 8 AS shard
        |  FROM documents),
        |b AS (SELECT shard, doc_id, nc,
        |  CASE WHEN text IS NULL THEN 0
        |    ELSE len(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |  END AS nt,
        |  CAST(md5_number_lower(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(nc AS VARCHAR)) >> 33 AS BIGINT) AS ck
        |  FROM a)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |  CAST(SUM(nc) AS BIGINT) AS n_chars,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id,
        |  CAST(SUM(ck) AS BIGINT) AS checksum
        |FROM b GROUP BY shard ORDER BY shard""".stripMargin,

    // Per-source distinct 3-shingle sets (the shinglesHof semantics:
    // whole-doc fallback under 3 tokens, with COALESCE around
    // array_to_string — DuckDB maps [] to NULL where Spark yields ''),
    // shingle-keyed intersection counts, and a size-table cross grid so
    // zero-overlap pairs surface with jaccard 0.
    "q102_source_overlap" ->
      """WITH t AS (SELECT source,
        |  list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT DISTINCT source AS g, UNNEST(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_apply(range(len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
        |  ELSE [COALESCE(array_to_string(toks, ' '), '')] END) AS sh FROM t),
        |s AS (SELECT g, COUNT(*) AS n FROM sh GROUP BY g),
        |i AS (SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.g < b.g GROUP BY 1, 2),
        |grid AS (SELECT x.g AS g_a, y.g AS g_b, x.n AS n_a, y.n AS n_b
        |  FROM s x CROSS JOIN s y WHERE x.g < y.g)
        |SELECT g.g_a, g.g_b, CAST(g.n_a AS BIGINT) AS n_a,
        |  CAST(g.n_b AS BIGINT) AS n_b,
        |  CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
        |  FLOOR(CAST(COALESCE(i.inter, 0) AS DOUBLE) /
        |    (g.n_a + g.n_b - COALESCE(i.inter, 0)) * 1e6 + 0.5) / 1e6 AS jaccard
        |FROM grid g LEFT JOIN i USING (g_a, g_b)
        |ORDER BY g_a, g_b""".stripMargin,

    // Null-safe content-hash diff rebuilt relationally: both engines
    // md5 the UTF-8 text bytes (NULL -> the reserved sentinel), FULL
    // OUTER JOIN USING coalesces the id, and the CASE ladder is
    // identical. The %-bucket snapshot simulation drops NULL ids on
    // both sides in both engines (NULL % k <> j is NULL-false).
    "q104_snapshot_diff" ->
      """WITH o AS (SELECT doc_id,
        |  COALESCE(md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v1'
        |                    ELSE text END), '<null>') AS f
        |  FROM documents WHERE doc_id % 7 <> 3),
        |n AS (SELECT doc_id, COALESCE(md5(text), '<null>') AS f
        |  FROM documents WHERE doc_id % 7 <> 5)
        |SELECT doc_id,
        |  CASE WHEN o.f IS NULL THEN 'added'
        |       WHEN n.f IS NULL THEN 'removed'
        |       WHEN o.f = n.f THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Two q79-shaped MLE fits (top-50, count desc / tok asc ties, totals
    // over ALL occurrences) full-outer joined; each side 1e-9-quantized
    // with absent = 0, delta re-quantized after the one abs-difference
    // IEEE op — the identical fixed float sequence in both engines.
    "q105_vocab_drift" ->
      """WITH ta AS (
        |  SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
        |ua AS (SELECT UNNEST(toks) AS tok FROM ta),
        |ha AS (SELECT tok, COUNT(*) AS c FROM ua GROUP BY tok),
        |va AS (
        |  SELECT tok, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM ha) AS p
        |  FROM ha ORDER BY c DESC, tok ASC LIMIT 50),
        |tb AS (
        |  SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1),
        |ub AS (SELECT UNNEST(toks) AS tok FROM tb),
        |hb AS (SELECT tok, COUNT(*) AS c FROM ub GROUP BY tok),
        |vb AS (
        |  SELECT tok, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM hb) AS p
        |  FROM hb ORDER BY c DESC, tok ASC LIMIT 50),
        |j AS (SELECT tok,
        |  FLOOR(COALESCE(va.p, 0) * 1e9 + 0.5) / 1e9 AS p_a,
        |  FLOOR(COALESCE(vb.p, 0) * 1e9 + 0.5) / 1e9 AS p_b
        |  FROM va FULL OUTER JOIN vb USING (tok))
        |SELECT tok, p_a, p_b,
        |  FLOOR(abs(p_a - p_b) * 1e9 + 0.5) / 1e9 AS delta
        |FROM j ORDER BY tok""".stripMargin,

    // The identical template synthesis + regexp fold in DuckDB: same
    // patterns (the Java/RE2 common subset — explicit whitespace class,
    // no lookaround), same entity order (&amp; last), 'gs' flags for
    // global + dot-matches-newline ((?i) inline for case). length() on
    // both sides counts codepoints of the same strings.
    "q106_html_strip" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    '<html><head><style>p{color:red}</style></head><body><h1>Title</h1>' ||
        |    chr(10) || '<p>' || text ||
        |    '</p><p>&amp;copy; 2024 &lt;graft&gt;</p></body></html>'
        |  WHEN doc_id % 3 = 1 THEN
        |    '<div class="a">' || chr(9) || text ||
        |    '</div><script>var x = "<p>";</script>'
        |  ELSE text END AS page
        |  FROM documents),
        |s AS (SELECT doc_id, page,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(page, '(?i)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'gs'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '[ ' || chr(9) || chr(10) || chr(13) || chr(12) || ']+', ' ', 'g'))
        |  AS clean_text
        |  FROM p)
        |SELECT doc_id, clean_text,
        |  CAST(length(page) - length(clean_text) AS INTEGER) AS n_stripped
        |FROM s ORDER BY doc_id""".stripMargin,

    // The identical mixed-form synthesis (chr() codepoints = the Spark
    // side's \\u escapes) normalized by DuckDB's nfc_normalize — the
    // same public Unicode canonical-composition algorithm the JDK
    // Normalizer implements; the normalized TEXT is hash-compared, so
    // any algorithmic divergence would surface. NULL: IS DISTINCT FROM
    // mirrors the null-safe <=> so changed stays 0.
    "q107_nfc_normalize" ->
      """WITH m AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN text || ' cafe' || chr(769)
        |       WHEN doc_id % 4 = 1 THEN text || ' caf' || chr(233)
        |       WHEN doc_id % 4 = 2 THEN text || ' ' || chr(4352) || chr(4449)
        |       ELSE text END AS mixed
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(mixed) AS norm_text,
        |  CAST(CASE WHEN nfc_normalize(mixed) IS DISTINCT FROM mixed
        |       THEN 1 ELSE 0 END AS BIGINT) AS changed
        |FROM m ORDER BY doc_id""".stripMargin,

    // q32's batch sessionization IS the streaming contract (the
    // q63/q71 batch-equivalence discipline): gap >= 30 min breaks a
    // session, end = last event + gap.
    "q103_stream_session" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |o AS (SELECT user_id, tu,
        |  CASE WHEN LAG(tu) OVER w IS NULL
        |       OR tu - LAG(tu) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu)),
        |s AS (SELECT user_id, tu,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY tu
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(tu) AS s_start, MAX(tu) + 1800000000 AS s_end,
        |COUNT(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    // The JPEG decode replayed from the DC-only closed form: a DC-only
    // block is flat, every pixel = Jpeg.dcOnlyPixel(dequantized DC) —
    // the decoder's own two-pass integer IDCT collapsed to
    // 128 + (2896*((2896*d + 1024)//2048) + 16384)//32768 (all terms
    // nonnegative here, so // matches the JVM's >> descale), and for
    // color the fixed-point YCbCr->RGB constants replayed verbatim with
    // flat chroma. Blocks walk the visible ceil(w/8) x ceil(h/8) grid;
    // partial blocks weight by their cropped pixel count (padding blocks
    // of partial MCUs are encoded but never visible). Restart intervals
    // and subsampling change the bitstream, not the absolute DCs, so one
    // formula covers every fixture variant — which is exactly what makes
    // a predictor-reset or upsample-index bug hash-diverge.
    "q108_jpeg_decode" ->
      """WITH p AS (SELECT doc_id, 10 + doc_id % 23 AS w, 9 + doc_id % 17 AS h,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
        |  FROM documents),
        |co AS (SELECT doc_id, w, h, c,
        |  (2896*((2896*(doc_id % 5 * 17) + 1024)//2048) + 16384)//32768 AS cb_off,
        |  (2896*((2896*(doc_id % 7 * 17) + 1024)//2048) + 16384)//32768 AS cr_off
        |  FROM p),
        |b AS (SELECT doc_id, w, h, c, cb_off, cr_off,
        |  UNNEST(range(((h+7)//8) * ((w+7)//8))) AS blk FROM co),
        |v AS (SELECT doc_id, w, h, c, cb_off, cr_off,
        |  128 + (2896*((2896*(((doc_id + 3*(blk // ((w+7)//8)) + 5*(blk % ((w+7)//8))) % 24) * 16) + 1024)//2048) + 16384)//32768 AS yv,
        |  LEAST(8, h - 8*(blk // ((w+7)//8))) * LEAST(8, w - 8*(blk % ((w+7)//8))) AS cnt
        |  FROM b),
        |ch AS (SELECT doc_id, w, h, c, cnt,
        |  CASE WHEN c = 1 THEN yv
        |    ELSE LEAST(255, GREATEST(0, yv + (91881*cr_off + 32768)//65536)) END AS v1,
        |  CASE WHEN c = 1 THEN yv
        |    ELSE LEAST(255, GREATEST(0, yv - (22554*cb_off + 46802*cr_off + 32768)//65536)) END AS v2,
        |  CASE WHEN c = 1 THEN yv
        |    ELSE LEAST(255, GREATEST(0, yv + (116130*cb_off + 32768)//65536)) END AS v3
        |  FROM v)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(c AS BIGINT) AS channels, CAST(w*h*c AS BIGINT) AS n_px,
        |  FLOOR(CAST(SUM(CASE WHEN c = 1 THEN v1*cnt ELSE (v1+v2+v3)*cnt END) AS DOUBLE)
        |    / (w*h*c) * 1e6 + 0.5) / 1e6 AS mean_px,
        |  CAST(MIN(LEAST(v1, v2, v3)) AS BIGINT) AS min_px,
        |  CAST(MAX(GREATEST(v1, v2, v3)) AS BIGINT) AS max_px
        |FROM ch GROUP BY doc_id, w, h, c ORDER BY doc_id""".stripMargin,

    // the bucketing is candidate generation only — the oracle replays
    // the exact BETWEEN semantics the equi-bucket join must equal
    "q133_range_band" ->
      """SELECT p.p_partkey,
        |  CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_in_band
        |FROM part p LEFT JOIN lineitem l
        |  ON l.l_extendedprice >= p.p_retailprice - 25
        | AND l.l_extendedprice <= p.p_retailprice + 25
        |GROUP BY p.p_partkey ORDER BY p.p_partkey""".stripMargin,

    "q134_interval_overlap" ->
      """SELECT p.p_partkey,
        |  CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_overlap
        |FROM part p LEFT JOIN orders o
        |  ON p.p_retailprice - 25 <= o.o_totalprice + 250
        | AND o.o_totalprice - 250 <= p.p_retailprice + 25
        |GROUP BY p.p_partkey ORDER BY p.p_partkey""".stripMargin,

    // q40's signed-hash mapping, extended to set operations: bottom-k
    // per corpus, union = bottom-k of the merged mins, rho = fraction of
    // the union sketch in both inputs — every estimate replayed from the
    // same md5 hashes with the same rounding order (rho rounds first)
    "q135_kmv_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id % 2 AS grp,
        |    unnest(list_filter(string_split(lower(text),' '), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT DISTINCT grp, tok FROM toks),
        |h AS (SELECT grp,
        |  (CASE WHEN h0 >= 9223372036854775808::UBIGINT
        |    THEN CAST(h0::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
        |    ELSE CAST(h0 AS BIGINT) END) AS sh
        |  FROM (SELECT grp, md5_number_lower(tok) AS h0 FROM d)),
        |ma AS (SELECT DISTINCT sh FROM h WHERE grp = 0 ORDER BY sh LIMIT 256),
        |mb AS (SELECT DISTINCT sh FROM h WHERE grp = 1 ORDER BY sh LIMIT 256),
        |x AS (SELECT sh FROM (SELECT sh FROM ma UNION SELECT sh FROM mb)
        |  ORDER BY sh LIMIT 256),
        |st AS (SELECT COUNT(*) AS nx, MAX(sh) AS kth,
        |  SUM(CASE WHEN sh IN (SELECT sh FROM ma)
        |       AND sh IN (SELECT sh FROM mb) THEN 1 ELSE 0 END) AS ni
        |  FROM x),
        |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
        |  CAST(SUM(CASE WHEN has0 AND has1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS exact_inter
        |  FROM (SELECT tok, BOOL_OR(grp = 0) AS has0,
        |          BOOL_OR(grp = 1) AS has1 FROM d GROUP BY tok)),
        |e1 AS (SELECT
        |  CASE WHEN nx < 256 THEN CAST(nx AS BIGINT)
        |    ELSE CAST(FLOOR(255.0/((CAST(kth AS DOUBLE)/1.8446744073709552e19)+0.5)+0.5) AS BIGINT) END AS est_union,
        |  FLOOR(CAST(ni AS DOUBLE)/nx*1e6+0.5)/1e6 AS rho
        |  FROM st)
        |SELECT est_union,
        |  FLOOR(rho*est_union*1e6+0.5)/1e6 AS est_inter,
        |  rho AS est_jaccard,
        |  exact_union, exact_inter
        |FROM e1 CROSS JOIN ex""".stripMargin,

    // batch-equivalent replay of the streaming windowed histogram:
    // epoch-hour windows, q131's binning/rank/midpoint arithmetic
    "q136_stream_quantile" ->
      """WITH e AS (SELECT
        |  (epoch_us(ts) // 3600000000) * 3600000000 AS w_start,
        |  CAST(value AS DOUBLE) AS v FROM events),
        |b AS (SELECT w_start,
        |  LEAST(255, GREATEST(0, CAST(FLOOR(v / 512.0 * 256) AS INT))) AS bin
        |  FROM e),
        |h AS (SELECT w_start, bin, COUNT(*) AS c FROM b GROUP BY 1,2),
        |cw AS (SELECT w_start, bin,
        |  SUM(c) OVER (PARTITION BY w_start ORDER BY bin) AS cum,
        |  SUM(c) OVER (PARTITION BY w_start) AS n FROM h),
        |s50 AS (SELECT w_start, MIN(bin) AS b FROM cw
        |  WHERE cum >= CEIL(0.5 * n) GROUP BY 1),
        |s90 AS (SELECT w_start, MIN(bin) AS b FROM cw
        |  WHERE cum >= CEIL(0.9 * n) GROUP BY 1),
        |n AS (SELECT w_start, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1)
        |SELECT n.w_start,
        |  CAST((s50.b + 0.5) * 2.0 AS DOUBLE) AS approx_p50,
        |  CAST((s90.b + 0.5) * 2.0 AS DOUBLE) AS approx_p90,
        |  n
        |FROM n JOIN s50 USING (w_start) JOIN s90 USING (w_start)
        |ORDER BY n.w_start""".stripMargin,

    // q130's register SQL partitioned by the hour window — streaming
    // must equal batch semantics, and register max per window is
    // arrival-order-free
    "q165_stream_hll" ->
      """WITH e AS (SELECT
        |  (epoch_us(ts) // 3600000000) * 3600000000 AS w_start,
        |  (md5_number_lower(CAST(user_id AS VARCHAR)) >> 33)::BIGINT AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT w_start, (h >> 23) AS idx,
        |  MAX(CASE WHEN (h & 8388607) = 0 THEN 24
        |      ELSE 23 - length(bin(h & 8388607)) + 1 END) AS rho
        |  FROM e GROUP BY 1, 2),
        |s AS (SELECT w_start,
        |  SUM(CAST(1.0 AS DOUBLE)/(1 << rho)) + (256 - COUNT(*)) AS S,
        |  COUNT(*) AS act FROM r GROUP BY 1),
        |n AS (SELECT w_start, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY 1)
        |SELECT s.w_start,
        |  FLOOR(0.7213/(1 + 1.079/256)*256*256/S * 1e6 + 0.5)/1e6 AS hll_est,
        |  CAST(act AS BIGINT) AS n_active, n_events
        |FROM s JOIN n USING (w_start) ORDER BY 1""".stripMargin,

    // each check's exact counts + the engine's floor-rounded rate and
    // threshold comparison, replayed constraint by constraint
    "q137_dq_checks" ->
      """WITH rows_checks AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_rf,
        |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ok,
        |    CAST(SUM(CASE WHEN l_discount IS NOT NULL
        |      AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS v_d,
        |    CAST(COUNT(*) AS BIGINT) AS total FROM lineitem),
        |uq AS (SELECT
        |  CAST(COUNT(*) - (SELECT COUNT(*) FROM
        |    (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS BIGINT) AS v,
        |  CAST(COUNT(*) AS BIGINT) AS total FROM lineitem),
        |rf AS (SELECT
        |  CAST(SUM(CASE WHEN o.__rk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v,
        |  CAST(COUNT(*) AS BIGINT) AS total
        |  FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey AS __rk FROM orders) o
        |    ON l.l_orderkey = o.__rk),
        |u AS (
        |  -- by_rate=true: pass compares the UNROUNDED rate to the declared
        |  -- threshold (NotNull/InRange semantics — the reported rate column
        |  -- is rounded, the gate is not, so one bad row in >2M rows cannot
        |  -- round to a pass); false: pass is violations = 0
        |  -- exactly (Unique/Ref), matching the engine per check
        |  SELECT 'not_null:l_returnflag' AS check_name, v_rf AS violations,
        |    total, 0.001 AS thresh, true AS by_rate FROM rows_checks
        |  UNION ALL SELECT 'not_null:l_orderkey', v_ok, total, 0.0, true
        |    FROM rows_checks
        |  UNION ALL SELECT 'in_range:l_discount', v_d, total, 0.0, true
        |    FROM rows_checks
        |  UNION ALL SELECT 'unique:l_orderkey,l_linenumber', v, total,
        |    0.0, false FROM uq
        |  UNION ALL SELECT 'ref:l_orderkey', v, total, 0.0, false FROM rf)
        |SELECT check_name, violations, total,
        |  CASE WHEN total = 0 THEN 0.0
        |    ELSE FLOOR(CAST(violations AS DOUBLE)/total*1e6+0.5)/1e6 END AS rate,
        |  CASE WHEN by_rate THEN
        |    (CASE WHEN total = 0 THEN 0.0
        |      ELSE CAST(violations AS DOUBLE)/total END)
        |      <= thresh
        |  ELSE violations = 0 END AS pass
        |FROM u ORDER BY check_name""".stripMargin,

    // chained conditional minima replay the window-over-window funnel:
    // t2 counts only clicks STRICTLY after t1, t3 only purchases after
    // t2; NULL comparisons drop stages exactly like the engine's when()
    "q138_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE user_id IS NOT NULL),
        |u1 AS (SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS t1
        |  FROM e GROUP BY 1),
        |u2 AS (SELECT e.user_id, u1.t1,
        |  MIN(CASE WHEN event_type = 'click' AND ts_us > t1
        |      AND ts_us <= t1 + 86400000000 THEN ts_us END) AS t2
        |  FROM e JOIN u1 USING (user_id) GROUP BY 1, 2),
        |u3 AS (SELECT e.user_id, u2.t1, u2.t2,
        |  MIN(CASE WHEN event_type = 'purchase' AND ts_us > t2
        |      AND ts_us <= t2 + 86400000000 THEN ts_us END) AS t3
        |  FROM e JOIN u2 USING (user_id) GROUP BY 1, 2, 3)
        |SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |  WHEN t2 IS NOT NULL THEN 2
        |  WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM u3 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q139_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT cohort, wk - cohort AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q135's estimator replay lifted to the pair grid: per-source
    // bottom-k via ROW_NUMBER over the signed md5 hashes, per-pair union
    // bottom-k the same way, membership via left joins back to the
    // per-source mins, exact sizes/intersections from the distinct
    // (source, tok) set — identical rounding order (rho first)
    "q141_kmv_matrix" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split(lower(text),' '), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT DISTINCT source, tok FROM toks),
        |h AS (SELECT source,
        |  (CASE WHEN h0 >= 9223372036854775808::UBIGINT
        |    THEN CAST(h0::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
        |    ELSE CAST(h0 AS BIGINT) END) AS sh
        |  FROM (SELECT source, md5_number_lower(tok) AS h0 FROM d)),
        |hd AS (SELECT DISTINCT source, sh FROM h),
        |m AS (SELECT source, sh FROM (
        |  SELECT source, sh,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY sh) AS rn
        |  FROM hd) WHERE rn <= 128),
        |srcs AS (SELECT DISTINCT source FROM d),
        |p AS (SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |xu AS (
        |  SELECT p.src_a, p.src_b, m.sh FROM p JOIN m ON m.source = p.src_a
        |  UNION
        |  SELECT p.src_a, p.src_b, m.sh FROM p JOIN m ON m.source = p.src_b),
        |xk AS (SELECT src_a, src_b, sh FROM (
        |  SELECT src_a, src_b, sh,
        |    ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY sh) AS rn
        |  FROM xu) WHERE rn <= 128),
        |st AS (SELECT x.src_a, x.src_b, COUNT(*) AS nx, MAX(x.sh) AS kth,
        |  SUM(CASE WHEN ma.sh IS NOT NULL AND mb.sh IS NOT NULL
        |      THEN 1 ELSE 0 END) AS ni
        |  FROM xk x
        |  LEFT JOIN m ma ON ma.source = x.src_a AND ma.sh = x.sh
        |  LEFT JOIN m mb ON mb.source = x.src_b AND mb.sh = x.sh
        |  GROUP BY 1, 2),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd FROM d GROUP BY 1),
        |ex AS (SELECT da.source AS src_a, db.source AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS xi
        |  FROM d da JOIN d db ON da.tok = db.tok AND da.source < db.source
        |  GROUP BY 1, 2),
        |e1 AS (SELECT src_a, src_b,
        |  CASE WHEN nx < 128 THEN CAST(nx AS BIGINT)
        |    ELSE CAST(FLOOR(127.0/((CAST(kth AS DOUBLE)/1.8446744073709552e19)+0.5)+0.5) AS BIGINT) END AS est_union,
        |  FLOOR(CAST(ni AS DOUBLE)/nx*1e6+0.5)/1e6 AS rho
        |  FROM st)
        |SELECT p.src_a, p.src_b, e1.est_union,
        |  FLOOR(rho*est_union*1e6+0.5)/1e6 AS est_inter,
        |  rho AS est_jaccard,
        |  sza.nd + szb.nd - COALESCE(ex.xi, 0) AS exact_union,
        |  COALESCE(ex.xi, 0) AS exact_inter
        |FROM p
        |JOIN e1 ON e1.src_a = p.src_a AND e1.src_b = p.src_b
        |JOIN sz sza ON sza.source = p.src_a
        |JOIN sz szb ON szb.source = p.src_b
        |LEFT JOIN ex ON ex.src_a = p.src_a AND ex.src_b = p.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin,

    // the closed-form TIFF pixels by flat index i over w*h*c: gray
    // (mode 0) (id+3r+5c)%256, RGB (mode 1) adds 11k, bilevel (mode 2)
    // is the (id+r+c) parity checkerboard at 0/255. WhiteIsZero docs
    // store inverted bytes but decode normalizes back, so the oracle is
    // photometric-free — the inversion is pinned byte-level in TiffSpec
    "q143_tiff_decode" ->
      """WITH p AS (SELECT doc_id,
        |  10 + doc_id % 23 AS w, 9 + doc_id % 17 AS h,
        |  doc_id % 3 AS mode,
        |  CASE WHEN doc_id % 3 = 1 THEN 3 ELSE 1 END AS c
        |  FROM documents),
        |v AS (SELECT doc_id, w, h, c, mode, w*h*c AS n,
        |  list_apply(range(w*h*c), i ->
        |    CASE WHEN mode = 0 THEN (doc_id + 3*(i//w) + 5*(i%w)) % 256
        |         WHEN mode = 1 THEN
        |           (doc_id + 3*(i//(w*3)) + 5*((i%(w*3))//3) + 11*(i%3)) % 256
        |         ELSE CASE WHEN (doc_id + i//w + i%w) % 2 = 0
        |           THEN 255 ELSE 0 END END) AS px
        |  FROM p)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(c AS BIGINT) AS channels, CAST(n AS BIGINT) AS n_px,
        |  FLOOR(CAST(list_sum(px) AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_px,
        |  CAST(list_min(px) AS BIGINT) AS min_px,
        |  CAST(list_max(px) AS BIGINT) AS max_px
        |FROM v ORDER BY doc_id""".stripMargin,

    // members regenerated closed-form (same repeat-text formula) and
    // digested with DuckDB's own md5 — agreement proves the
    // compress->archive->walk->inflate round trip preserved every
    // member byte; corrupt docs are single ok=false rows
    "q154_zip_walk" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |m AS (SELECT doc_id, j FROM d CROSS JOIN range(3) t(j)
        |  WHERE j < 1 + doc_id % 3 AND doc_id % 7 <> 3),
        |c AS (SELECT doc_id, j,
        |  'doc' || doc_id || '/part' || j || '.txt' AS name,
        |  CASE WHEN (doc_id + j) % 2 = 0 THEN 8 ELSE 0 END AS method,
        |  repeat('w' || (doc_id + j) || ' ',
        |    CAST(5 + (doc_id + j) % 20 AS INT)) AS content
        |  FROM m)
        |SELECT doc_id, TRUE AS ok, name, CAST(method AS BIGINT) AS method,
        |  CAST(length(content) AS BIGINT) AS n_bytes, md5(content) AS digest
        |FROM c
        |UNION ALL
        |SELECT doc_id, FALSE AS ok, NULL AS name, CAST(-1 AS BIGINT),
        |  CAST(-1 AS BIGINT), NULL
        |FROM d WHERE doc_id % 7 = 3
        |ORDER BY doc_id, name""".stripMargin,

    // members regenerated closed-form (file rows + the every-5th
    // directory row), digests by md5 of the same repeated unit; corrupt
    // docs collapse to one ok=false row — the gzip wrapping is
    // transparent to the result (same members either way)
    "q172_tar_walk" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |m AS (SELECT doc_id, j FROM d CROSS JOIN range(3) t(j)
        |  WHERE j < 1 + doc_id % 3 AND doc_id % 7 <> 3),
        |c AS (SELECT doc_id, j,
        |  'doc' || doc_id || '/part' || j || '.txt' AS name,
        |  repeat('t' || (doc_id + j) || ' ',
        |    CAST(5 + (doc_id + j) % 20 AS INT)) AS content
        |  FROM m)
        |SELECT doc_id, TRUE AS ok, name, '0' AS typeflag,
        |  CAST(length(content) AS BIGINT) AS n_bytes, md5(content) AS digest
        |FROM c
        |UNION ALL
        |SELECT doc_id, TRUE AS ok, 'doc' || doc_id || '/' AS name,
        |  '5' AS typeflag, CAST(0 AS BIGINT) AS n_bytes, md5('') AS digest
        |FROM d WHERE doc_id % 5 = 0 AND doc_id % 7 <> 3
        |UNION ALL
        |SELECT doc_id, FALSE AS ok, NULL AS name, NULL AS typeflag,
        |  CAST(-1 AS BIGINT), NULL
        |FROM d WHERE doc_id % 7 = 3
        |ORDER BY doc_id, name""".stripMargin,

    // every field closed-form from the doc_id formulas; duration is the
    // all-integer duration*1000//timescale; the first VIDEO track's
    // dims surface, audio-only and trackless files carry nulls
    "q167_mp4_probe" ->
      """WITH p AS (SELECT doc_id,
        |  doc_id % 7 <> 3 AS ok,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  1000 + (doc_id % 9) * 100 AS tsc,
        |  (doc_id * 731 + 17) % 10000000 AS dur,
        |  CASE doc_id % 4 WHEN 0 THEN 2 WHEN 3 THEN 0 ELSE 1 END AS nt,
        |  doc_id % 4 IN (0, 1) AS hv,
        |  doc_id % 4 IN (0, 2) AS ha
        |  FROM documents)
        |SELECT doc_id, ok,
        |  CASE WHEN ok THEN brand END AS brand,
        |  CAST(CASE WHEN ok THEN (dur * 1000) // tsc END AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN ok THEN nt END AS BIGINT) AS n_tracks,
        |  CASE WHEN ok THEN hv END AS has_video,
        |  CASE WHEN ok THEN ha END AS has_audio,
        |  CAST(CASE WHEN ok AND hv THEN 320 + doc_id % 1600 END AS BIGINT)
        |    AS width,
        |  CAST(CASE WHEN ok AND hv THEN 240 + doc_id % 900 END AS BIGINT)
        |    AS height
        |FROM p ORDER BY doc_id""".stripMargin,

    // every field closed-form from the doc_id formulas; duration is the
    // all-integer total*1000//rate; n_blocks counts STREAMINFO plus the
    // optional blocks the same modulus formulas added
    // every field closed-form from the doc_id formulas; corrupt beats
    // unknown-codec; duration all-integer (opus on its fixed 48 kHz
    // clock less pre-skip, vorbis on the ident rate)
    "q173_ogg_probe" ->
      """WITH p AS (SELECT doc_id,
        |  doc_id % 7 <> 3 AS okf,
        |  doc_id % 9 = 4 AS unk,
        |  doc_id % 2 = 1 AS isopus,
        |  CAST(1 + doc_id % 4 AS BIGINT) AS ch,
        |  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |    WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS vrate,
        |  312 + doc_id % 500 AS preskip,
        |  CASE WHEN doc_id % 3 = 0 THEN 44100 ELSE 48000 END AS orate,
        |  doc_id * 977 + 48000 AS g,
        |  CASE WHEN doc_id % 4 = 0 THEN 1 ELSE doc_id % 4 + 1 END AS np
        |  FROM documents)
        |SELECT doc_id, okf AS ok,
        |  CASE WHEN NOT okf THEN NULL WHEN unk THEN 'unknown'
        |    WHEN isopus THEN 'opus' ELSE 'vorbis' END AS codec,
        |  CAST(CASE WHEN okf AND NOT unk THEN ch END AS BIGINT) AS channels,
        |  CAST(CASE WHEN okf AND NOT unk THEN
        |    (CASE WHEN isopus THEN orate ELSE vrate END) END AS BIGINT)
        |    AS sample_rate,
        |  CAST(CASE WHEN okf THEN np END AS BIGINT) AS n_pages,
        |  CAST(CASE WHEN okf AND NOT unk THEN
        |    (CASE WHEN isopus THEN (g - preskip) * 1000 // 48000
        |     ELSE g * 1000 // vrate END) END AS BIGINT) AS duration_ms
        |FROM p ORDER BY doc_id""".stripMargin,

    "q161_flac_probe" ->
      """WITH p AS (SELECT doc_id,
        |  doc_id % 7 <> 3 AS ok,
        |  [8000, 16000, 22050, 44100, 48000, 96000][CAST(doc_id % 6 AS INT) + 1] AS sr,
        |  1 + doc_id % 4 AS ch,
        |  [8, 12, 16, 24, 32][CAST(doc_id % 5 AS INT) + 1] AS bits,
        |  (doc_id * 977 + 11) % 1048576 AS total,
        |  doc_id % 3 = 0 AS tags,
        |  CAST(1 AS BIGINT) + CAST(doc_id % 3 = 0 AS BIGINT)
        |    + CAST(doc_id % 4 = 0 AS BIGINT)
        |    + CAST(doc_id % 5 = 0 AS BIGINT) AS nb
        |  FROM documents)
        |SELECT doc_id, ok,
        |  CAST(CASE WHEN ok THEN sr END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN ok THEN ch END AS BIGINT) AS channels,
        |  CAST(CASE WHEN ok THEN bits END AS BIGINT) AS bits_per_sample,
        |  CAST(CASE WHEN ok THEN total END AS BIGINT) AS total_samples,
        |  CAST(CASE WHEN ok THEN (total * 1000) // sr END AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN ok THEN nb END AS BIGINT) AS n_blocks,
        |  CASE WHEN ok THEN tags END AS has_tags
        |FROM p ORDER BY doc_id""".stripMargin,

    // every field recomputed closed-form from the doc_id formulas and
    // the PUBLIC ISO bitrate/samplerate tables (stated here as list
    // literals — an independent transcription of the same spec the
    // kernel's arrays transcribe): duration is the all-integer
    // n_frames*samples_per_frame*1000 // sample_rate; VBR docs
    // (doc_id%4=1) report NULL bitrate; corrupt docs ok=false/null
    "q153_mpeg_probe" ->
      """WITH p AS (SELECT doc_id,
        |  doc_id % 7 <> 3 AS ok,
        |  CASE doc_id % 3 WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END AS ver,
        |  1 + (doc_id % 7) % 3 AS lyr,
        |  (doc_id % 5) % 3 AS sri,
        |  3 + doc_id % 6 AS nf,
        |  1 + doc_id % 14 AS bri,
        |  doc_id % 4 = 1 AS vbr
        |  FROM documents),
        |e AS (SELECT doc_id, ok, ver, lyr, nf, vbr,
        |  CASE ver WHEN '1' THEN [44100, 48000, 32000]
        |    WHEN '2' THEN [22050, 24000, 16000]
        |    ELSE [11025, 12000, 8000] END[sri + 1] AS sr,
        |  CASE WHEN lyr = 1 THEN 384 WHEN lyr = 2 THEN 1152
        |    WHEN ver = '1' THEN 1152 ELSE 576 END AS spf,
        |  CASE WHEN vbr THEN NULL
        |    WHEN ver = '1' AND lyr = 1 THEN
        |      [32,64,96,128,160,192,224,256,288,320,352,384,416,448][bri]
        |    WHEN ver = '1' AND lyr = 2 THEN
        |      [32,48,56,64,80,96,112,128,160,192,224,256,320,384][bri]
        |    WHEN ver = '1' THEN
        |      [32,40,48,56,64,80,96,112,128,160,192,224,256,320][bri]
        |    WHEN lyr = 1 THEN
        |      [32,48,56,64,80,96,112,128,144,160,176,192,224,256][bri]
        |    ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160][bri]
        |  END AS kbps
        |  FROM p)
        |SELECT doc_id, ok,
        |  CASE WHEN ok THEN ver END AS version,
        |  CAST(CASE WHEN ok THEN lyr END AS BIGINT) AS layer,
        |  CAST(CASE WHEN ok THEN sr END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN ok THEN
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END END AS BIGINT)
        |    AS channels,
        |  CAST(CASE WHEN ok THEN nf END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN ok THEN (nf * spf * 1000) // sr END AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN ok THEN kbps END AS BIGINT) AS bitrate_kbps,
        |  CASE WHEN ok THEN vbr END AS vbr,
        |  CASE WHEN ok THEN doc_id % 3 = 0 END AS has_id3v2,
        |  CASE WHEN ok THEN doc_id % 5 = 0 END AS has_id3v1
        |FROM e ORDER BY doc_id""".stripMargin,

    // the closed-form BMP pixels by flat index i over w*h*3 (q143's
    // shape, always 3 channels — palette docs expand through the
    // synthetic (7j,5j,3j) table): truecolor (mode 0) v+11k, indexed
    // (modes 1/3) weight[k]*j with mode 3's constant every-3rd rows,
    // bilevel (mode 2) the (id+r+c) parity checkerboard. Row order,
    // RLE coding, pad bytes and alignment all vanish at decode — the
    // pixels are the contract
    "q152_bmp_decode" ->
      """WITH p AS (SELECT doc_id,
        |  10 + doc_id % 23 AS w, 9 + doc_id % 17 AS h,
        |  doc_id % 4 AS mode FROM documents),
        |v AS (SELECT doc_id, w, h, w*h*3 AS n,
        |  list_apply(range(w*h*3), i ->
        |    CASE WHEN mode = 0 THEN
        |      (doc_id + 3*(i//(w*3)) + 5*((i%(w*3))//3) + 11*(i%3)) % 256
        |    WHEN mode = 2 THEN
        |      CASE WHEN (doc_id + i//(w*3) + (i%(w*3))//3) % 2 = 0
        |        THEN 255 ELSE 0 END
        |    ELSE
        |      ((CASE i%3 WHEN 0 THEN 7 WHEN 1 THEN 5 ELSE 3 END) *
        |       (CASE WHEN mode = 3 AND (i//(w*3)) % 3 = 0 THEN doc_id % 256
        |        ELSE (doc_id + 3*(i//(w*3)) + 5*((i%(w*3))//3)) % 256 END)
        |      ) % 256
        |    END) AS px
        |  FROM p)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(n AS BIGINT) AS n_px,
        |  FLOOR(CAST(list_sum(px) AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_px,
        |  CAST(list_min(px) AS BIGINT) AS min_px,
        |  CAST(list_max(px) AS BIGINT) AS max_px
        |FROM v ORDER BY doc_id""".stripMargin,

    // the global bottom-256 recomputed DIRECTLY from the md5 hashes
    // (q40's signed mapping): the engine's sketch came from MERGING
    // per-source sketches, so agreement proves bottom-k-of-union ==
    // union-of-bottom-ks, plus the estimate arithmetic
    "q149_kmv_merge" ->
      """WITH toks AS (SELECT
        |    unnest(list_filter(string_split(lower(text),' '),
        |      t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT DISTINCT tok FROM toks),
        |h AS (SELECT
        |  (CASE WHEN h0 >= 9223372036854775808::UBIGINT
        |    THEN CAST(h0::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
        |    ELSE CAST(h0 AS BIGINT) END) AS sh
        |  FROM (SELECT md5_number_lower(tok) AS h0 FROM d)),
        |m AS (SELECT DISTINCT sh FROM h ORDER BY sh LIMIT 256),
        |st AS (SELECT COUNT(*) AS nx, MAX(sh) AS kth FROM m),
        |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM d)
        |SELECT
        |  CASE WHEN nx < 256 THEN CAST(nx AS BIGINT)
        |    ELSE CAST(FLOOR(255.0/((CAST(kth AS DOUBLE)/1.8446744073709552e19)+0.5)+0.5) AS BIGINT) END
        |    AS est_distinct,
        |  exact_distinct
        |FROM st, ex""".stripMargin,

    // every level's registers built DIRECTLY from the raw hashes
    // (q130's register SQL with a per-level UNION): the engine's
    // __all__ row came from MERGED per-flag registers, and elementwise
    // max must equal grouping the union — any divergence in the merge
    // hash-diverges here
    "q150_hll_merge" ->
      """WITH h AS (SELECT l_returnflag,
        |  (md5_number_lower(CAST(l_orderkey AS VARCHAR)) >> 33)::BIGINT AS h,
        |  l_orderkey
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL),
        |g AS (SELECT l_returnflag, h, l_orderkey FROM h
        |  UNION ALL SELECT '__all__', h, l_orderkey FROM h),
        |r AS (SELECT l_returnflag, (h >> 23) AS idx,
        |  MAX(CASE WHEN (h & 8388607) = 0 THEN 24
        |      ELSE 23 - length(bin(h & 8388607)) + 1 END) AS rho
        |  FROM g GROUP BY 1, 2),
        |s AS (SELECT l_returnflag,
        |  SUM(CAST(1.0 AS DOUBLE)/(1 << rho)) + (256 - COUNT(*)) AS S,
        |  COUNT(*) AS act FROM r GROUP BY 1),
        |ex AS (SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_n FROM g GROUP BY 1)
        |SELECT s.l_returnflag,
        |  FLOOR(0.7213/(1 + 1.079/256)*256*256/S * 1e6 + 0.5)/1e6 AS hll_est,
        |  CAST(act AS BIGINT) AS n_active, exact_n
        |FROM s JOIN ex USING (l_returnflag)
        |ORDER BY 1""".stripMargin,

    // q122's oracle verbatim — the global counters built directly from
    // ALL tokens; the engine side arrived at the same array by merging
    // per-source sketches (elementwise add is associative), so the est
    // column hash-diverges on any merge defect
    "q151_cms_merge" -> {
      val pvals = cmsParams.zipWithIndex
        .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      val probeVals = cmsProbes.map(t => s"('$t')").mkString(", ")
      s"""WITH toks AS (SELECT unnest(list_filter(string_split(lower(text),' '),
         |    t -> len(t) > 0)) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT (md5_number_lower(tok) >> 33)::BIGINT AS h FROM toks),
         |p(i, a, b) AS (VALUES $pvals),
         |c AS (SELECT p.i, ((h.h * p.a + p.b) % 2147483647) % $cmsW AS bkt,
         |    COUNT(*) AS n
         |  FROM h CROSS JOIN p GROUP BY 1, 2),
         |probes(term) AS (VALUES $probeVals),
         |ph AS (SELECT term,
         |  (md5_number_lower(term) >> 33)::BIGINT AS h FROM probes),
         |e AS (SELECT term, MIN(COALESCE(c.n, 0)) AS est
         |  FROM ph CROSS JOIN p
         |  LEFT JOIN c ON c.i = p.i
         |    AND c.bkt = ((ph.h * p.a + p.b) % 2147483647) % $cmsW
         |  GROUP BY term),
         |ex AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1)
         |SELECT e.term, e.est, COALESCE(ex.n, 0) AS exact_n
         |FROM e LEFT JOIN ex ON e.term = ex.tok
         |ORDER BY e.term""".stripMargin
    },

    // both grouping levels replayed from the RAW values (q136's binning
    // CTE): the engine's global row came from MERGED per-type sketches,
    // and merging bin counts must equal binning the union — any
    // divergence in the merge arithmetic hash-diverges here
    "q148_hist_merge" ->
      """WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE event_type IS NOT NULL),
        |b AS (SELECT event_type,
        |  LEAST(255, GREATEST(0, CAST(FLOOR(v / 512.0 * 256) AS INT))) AS bin
        |  FROM e),
        |h AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |u AS (SELECT event_type, bin, c FROM h
        |  UNION ALL SELECT '__all__', bin, SUM(c) FROM h GROUP BY 2),
        |cw AS (SELECT event_type, bin,
        |  SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |  SUM(c) OVER (PARTITION BY event_type) AS n FROM u),
        |s90 AS (SELECT event_type, MIN(bin) AS b FROM cw
        |  WHERE cum >= CEIL(0.9 * n) GROUP BY 1),
        |n AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
        |  FROM u GROUP BY 1)
        |SELECT n.event_type,
        |  CAST((s90.b + 0.5) * 2.0 AS DOUBLE) AS approx_p90, n
        |FROM n JOIN s90 USING (event_type) ORDER BY 1""".stripMargin,

    // the signature from the ORIGINAL text (q135's signed-md5 mapping);
    // agreement proves the engine's JSONL hop was byte-faithful
    "q147_jsonl_roundtrip" ->
      """WITH h AS (SELECT source, n_chars,
        |  (CASE WHEN h0 >= 9223372036854775808::UBIGINT
        |    THEN CAST(h0::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
        |    ELSE CAST(h0 AS BIGINT) END) AS sh
        |  FROM (SELECT source, n_chars,
        |    CASE WHEN text IS NULL THEN NULL
        |      ELSE md5_number_lower(text) END AS h0 FROM documents))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  BIT_XOR(sh) AS text_sig
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same aggregate from the ORIGINAL parquet — a lossy or
    // corrupting ORC hop (types, nulls, filter semantics) hash-diverges
    "q146_orc_roundtrip" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem WHERE l_quantity > 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // plain per-window exact counts: below capacity the MG summary IS
    // the frequency table and its offset is 0 — the oracle asserts BOTH
    // (a nonzero engine offset or a dropped key would hash-diverge)
    "q145_stream_topk" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS w_start,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(0 AS BIGINT) AS off
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the synthesis formulas restated per container form; corrupted
    // docs (every 7th) are ok=false with null fields in both engines
    "q144_webp_probe" ->
      """SELECT doc_id,
        |  doc_id % 7 <> 3 AS ok,
        |  CASE WHEN doc_id % 7 = 3 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 'lossy'
        |       WHEN doc_id % 3 = 1 THEN 'lossless'
        |       ELSE 'extended' END AS format,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 16 + doc_id % 300
        |       WHEN doc_id % 3 = 1 THEN 1 + doc_id % 1000
        |       ELSE 10 + doc_id % 4000 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 9 + doc_id % 200
        |       WHEN doc_id % 3 = 1 THEN 1 + doc_id % 800
        |       ELSE 20 + doc_id % 2000 END AS BIGINT) AS height,
        |  CASE WHEN doc_id % 7 = 3 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN FALSE
        |       WHEN doc_id % 3 = 1 THEN doc_id % 2 = 1
        |       ELSE doc_id % 4 >= 2 END AS has_alpha,
        |  CASE WHEN doc_id % 7 = 3 THEN NULL
        |       WHEN doc_id % 3 = 2 THEN doc_id % 8 >= 4
        |       ELSE FALSE END AS has_anim,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN NULL
        |       WHEN doc_id % 3 = 2 AND doc_id % 8 >= 4 THEN 1 + doc_id % 3
        |       ELSE NULL END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN NULL
        |       WHEN doc_id % 3 = 2 AND doc_id % 8 >= 4
        |         THEN (1 + doc_id % 3) * (40 + doc_id % 25)
        |       ELSE NULL END AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the spliced orientation and the q108 dimension derivations, both
    // arithmetic; no-EXIF docs are 0 by the advisory-metadata contract
    "q140_exif_orientation" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0
        |    ELSE doc_id % 8 + 1 END AS BIGINT) AS orientation,
        |  CAST(10 + doc_id % 23 AS BIGINT) AS width,
        |  CAST(9 + doc_id % 17 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q94's sampling CTE over q108's closed form: stride-2 frame sample,
    // per-frame flat-per-block gray pixels (gray expands to RGB, so luma
    // = (299v+587v+114v)//1000 = v exactly), block-weighted sum and
    // block-level min/max.
    // gray docs: luma = yv exactly ((299+587+114)v/1000). Color docs:
    // flat chroma -> per-doc cb/cr offsets, per-channel clamp, then the
    // integer luma formula — all replayed arithmetically
    "q109_mjpeg_frames" ->
      """WITH p AS (SELECT doc_id, 16 + doc_id % 9 AS w, 8 + doc_id % 13 AS h,
        |  2 + doc_id % 3 AS nf,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c FROM documents),
        |co AS (SELECT doc_id, w, h, nf, c,
        |  (2896*((2896*(doc_id % 5 * 17) + 1024)//2048) + 16384)//32768 AS cb_off,
        |  (2896*((2896*(doc_id % 7 * 17) + 1024)//2048) + 16384)//32768 AS cr_off
        |  FROM p),
        |f AS (SELECT doc_id, w, h, c, cb_off, cr_off,
        |  UNNEST(range(0, nf, 2)) AS fi FROM co),
        |b AS (SELECT doc_id, w, h, c, cb_off, cr_off, fi,
        |  UNNEST(range(((h+7)//8) * ((w+7)//8))) AS blk FROM f),
        |v AS (SELECT doc_id, w, h, c, cb_off, cr_off, fi,
        |  128 + (2896*((2896*(((doc_id + 7*fi + 3*(blk // ((w+7)//8)) + 5*(blk % ((w+7)//8))) % 20) * 16) + 1024)//2048) + 16384)//32768 AS yv,
        |  LEAST(8, h - 8*(blk // ((w+7)//8))) * LEAST(8, w - 8*(blk % ((w+7)//8))) AS cnt
        |  FROM b),
        |l AS (SELECT doc_id, w, h, fi, cnt,
        |  CASE WHEN c = 1 THEN yv
        |    ELSE (299 * LEAST(255, GREATEST(0, yv + (91881*cr_off + 32768)//65536))
        |        + 587 * LEAST(255, GREATEST(0, yv - (22554*cb_off + 46802*cr_off + 32768)//65536))
        |        + 114 * LEAST(255, GREATEST(0, yv + (116130*cb_off + 32768)//65536))) // 1000
        |  END AS lv
        |  FROM v)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(lv*cnt) AS BIGINT) AS luma_sum,
        |  CAST(MIN(lv) AS BIGINT) AS luma_min,
        |  CAST(MAX(lv) AS BIGINT) AS luma_max
        |FROM l GROUP BY doc_id, fi, w, h ORDER BY doc_id, frame_idx""".stripMargin,

    // q91's luma+hash CTEs with a per-container pixel formula: PNG docs
    // replay the byte formula (gray raw / RGB integer luma), JPEG docs
    // replay the DC-only closed form per 8x8 block. The gradient-sign
    // packing is shared, with the engine's 64-bit cap made explicit via
    // LEAST(h*(w-1), 64) — the JPEG fixtures exceed it, which also means
    // bit 63 is reachable: DuckDB's signed << overflows at 63 where the
    // JVM wraps, so the sign bit enters as the literal Long.MinValue.
    "q110_image_dhash_mixed" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 5
        |       ELSE 10 + doc_id % 23 END AS w,
        |  CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 3
        |       ELSE 9 + doc_id % 17 END AS h,
        |  CASE WHEN doc_id % 2 = 0 AND doc_id % 4 <> 0 THEN 3 ELSE 1 END AS c
        |  FROM documents),
        |g AS (SELECT doc_id, w, h,
        |  list_transform(range(0, w * h), j ->
        |    CASE WHEN doc_id % 2 = 1 THEN
        |      128 + (2896*((2896*(((doc_id + 3*((j // w) // 8) + 5*((j % w) // 8)) % 24) * 16) + 1024)//2048) + 16384)//32768
        |    WHEN c = 1 THEN (doc_id*31 + j*7) % 256
        |    ELSE (((doc_id*31 + (j*3)*7) % 256) * 299 +
        |          ((doc_id*31 + (j*3+1)*7) % 256) * 587 +
        |          ((doc_id*31 + (j*3+2)*7) % 256) * 114) // 1000 END) AS lum
        |  FROM p),
        |hsh AS (SELECT doc_id, w, h,
        |  CAST(COALESCE(list_sum(list_transform(range(0, LEAST(h * (w - 1), 64)), k ->
        |    CASE WHEN lum[k // (w - 1) * w + (k % (w - 1)) + 2] <=
        |              lum[k // (w - 1) * w + (k % (w - 1)) + 1]
        |      THEN CAST(0 AS BIGINT)
        |      WHEN k = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |      ELSE CAST(1 AS BIGINT) << CAST(k AS INT) END)), 0) AS BIGINT) AS dhash
        |  FROM g)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, dhash
        |FROM hsh ORDER BY doc_id""".stripMargin,

    // q93's box-pooling CTEs over the GIF palette formula: pixel i's
    // palette slot is (doc_id + 3i) % n, each channel a linear formula of
    // (doc_id, slot), luma the shared integer formula. The LZW/interlace
    // round-trip is lossless, so the decoded bytes ARE the formula.
    "q111_gif_resize" ->
      """WITH p AS (SELECT doc_id, 6 + doc_id % 11 AS w, 5 + doc_id % 7 AS h,
        |  4 + doc_id % 13 AS n FROM documents),
        |g AS (SELECT doc_id, w, h,
        |  list_transform(range(0, w * h), i ->
        |    (((doc_id*7 + ((doc_id + i*3) % n)*13) % 256) * 299 +
        |     ((doc_id*11 + ((doc_id + i*3) % n)*17) % 256) * 587 +
        |     ((doc_id*13 + ((doc_id + i*3) % n)*19) % 256) * 114) // 1000) AS lum
        |  FROM p),
        |cells AS (SELECT doc_id, w, h, lum, UNNEST(range(0, 9)) AS cell FROM g),
        |b AS (SELECT doc_id, w, lum, cell // 3 AS oy, cell % 3 AS ox,
        |  cell // 3 * h // 3 AS y0, (cell // 3 + 1) * h // 3 AS y1,
        |  cell % 3 * w // 3 AS x0, (cell % 3 + 1) * w // 3 AS x1
        |  FROM cells),
        |r AS (SELECT doc_id, oy, ox,
        |  CAST(list_sum(list_transform(range(0, (y1 - y0) * (x1 - x0)), i ->
        |    lum[(y0 + i // (x1 - x0)) * w + x0 + i % (x1 - x0) + 1]))
        |    AS BIGINT) AS px_sum,
        |  CAST((y1 - y0) * (x1 - x0) AS BIGINT) AS px_n
        |  FROM b)
        |SELECT doc_id, CAST(oy AS BIGINT) AS oy, CAST(ox AS BIGINT) AS ox,
        |  px_sum, px_n, px_sum // px_n AS px_avg
        |FROM r ORDER BY doc_id, oy, ox""".stripMargin,

    // q99's span-scrub oracle reshaped for the SELF variant: the
    // duplicated-window set comes from the corpus's own window histogram
    // (count distinct docs >= 2, min doc is the keeper), hits exclude
    // each window's keeper, and the kept-token filter is identical.
    "q112_selfsub_scrub" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(lower(text),' '), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, UNNEST(CASE WHEN len(toks) >= 5 THEN
        |    list_apply(range(len(toks) - 4), i -> struct_pack(pos := i,
        |      sh := toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |            toks[i+4] || ' ' || toks[i+5]))
        |  ELSE [] END) AS ps FROM t),
        |d AS (SELECT ps.sh AS sh, MIN(doc_id) AS keeper
        |  FROM g GROUP BY ps.sh HAVING COUNT(DISTINCT doc_id) >= 2),
        |hits AS (SELECT DISTINCT g.doc_id, ps.pos + r.i AS pos
        |  FROM g JOIN d ON ps.sh = d.sh CROSS JOIN range(5) AS r(i)
        |  WHERE g.doc_id <> d.keeper),
        |hl AS (SELECT doc_id, list(pos) AS rm FROM hits GROUP BY doc_id),
        |k AS (SELECT t.doc_id, len(toks) AS n_toks,
        |  CASE WHEN hl.rm IS NULL THEN toks
        |    ELSE list_apply(list_filter(range(len(toks)),
        |      p -> NOT list_contains(hl.rm, p)), p -> toks[p+1]) END AS kept
        |  FROM t LEFT JOIN hl USING (doc_id))
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens,
        |  CAST(n_toks - len(kept) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(kept, ' '), '') AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // q109's sampling CTE over q111's palette-formula pixels with the
    // frame term folded in — the animated-GIF round trip is lossless, so
    // the decoded bytes ARE the formula per sampled frame.
    "q113_gif_frames" ->
      """WITH p AS (SELECT doc_id, 6 + doc_id % 9 AS w, 5 + doc_id % 6 AS h,
        |  2 + doc_id % 3 AS nf, 3 + doc_id % 7 AS n FROM documents),
        |f AS (SELECT doc_id, w, h, n, UNNEST(range(0, nf, 2)) AS fi FROM p),
        |g AS (SELECT doc_id, w, h, fi,
        |  list_transform(range(0, w * h), i ->
        |    (((doc_id*7 + fi*29 + ((doc_id + fi*11 + i*3) % n)*13) % 256) * 299 +
        |     ((doc_id*11 + fi*31 + ((doc_id + fi*11 + i*3) % n)*17) % 256) * 587 +
        |     ((doc_id*13 + fi*37 + ((doc_id + fi*11 + i*3) % n)*19) % 256) * 114) // 1000) AS lum
        |  FROM f)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(list_sum(lum) AS BIGINT) AS luma_sum,
        |  CAST(list_min(lum) AS BIGINT) AS luma_min,
        |  CAST(list_max(lum) AS BIGINT) AS luma_max
        |FROM g ORDER BY doc_id, frame_idx""".stripMargin,

    // q19's cosine/rank pipeline at k=10 + label joins; the DCG
    // discount and ideal-DCG curves are the SAME ndcgW/ndcgWCum integer
    // literals the Spark side folds in, so both engines sum identical
    // integers and divide once
    "q263_retrieval_eval" -> {
      val wCase = ndcgW.zipWithIndex.map { case (w, i) =>
        s"WHEN rank = ${i + 1} THEN $w" }.mkString(" ")
      val cumCase = ndcgWCum.zipWithIndex.map { case (w, i) =>
        s"WHEN LEAST(n_rel, 10) = ${i + 1} THEN $w" }.mkString(" ")
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         |    label
         |  FROM embeddings WHERE vec_id IS NOT NULL
         |    AND embedding IS NOT NULL AND label IS NOT NULL),
         |q AS (SELECT vec_id AS qid, ev AS qv, label AS qlabel FROM emb
         |  WHERE vec_id % 20 = 0),
         |p AS (SELECT qid, qlabel, vec_id AS nid, label AS nlabel,
         |    FLOOR(list_sum(list_apply(list_zip(qv, ev), x -> x[1] * x[2])) /
         |      (sqrt(list_sum(list_apply(qv, x -> x * x))) *
         |       sqrt(list_sum(list_apply(ev, x -> x * x)))) * 1e6 + 0.5)
         |      / 1e6 AS cos
         |  FROM q, emb WHERE qid <> vec_id),
         |r AS (SELECT qid, qlabel, nid, nlabel,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, nid ASC) AS BIGINT) AS rank
         |  FROM p),
         |t AS (SELECT qid, qlabel, rank,
         |    CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS rel
         |  FROM r WHERE rank <= 10),
         |g AS (SELECT qid, MAX(qlabel) AS qlabel, SUM(rel) AS hits,
         |    SUM(rel * CASE $wCase ELSE 0 END) AS dcg6,
         |    MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel
         |  FROM t GROUP BY qid),
         |ln AS (SELECT label, COUNT(*) AS lab_n FROM emb GROUP BY 1),
         |f AS (SELECT g.*, ln.lab_n - 1 AS n_rel FROM g
         |  JOIN ln ON ln.label = g.qlabel)
         |SELECT qid, CAST(qlabel AS BIGINT) AS qlabel,
         |  CAST(n_rel AS BIGINT) AS n_rel, CAST(hits AS BIGINT) AS hits,
         |  CAST(CASE WHEN n_rel > 0 THEN FLOOR(CAST(dcg6 AS DOUBLE) /
         |    CAST((CASE $cumCase ELSE 0 END) AS DOUBLE) * 1e6 + 0.5) / 1e6
         |    END AS DOUBLE) AS ndcg,
         |  CAST(COALESCE(FLOOR(1e6 / first_rel + 0.5) / 1e6, 0.0)
         |    AS DOUBLE) AS mrr,
         |  CAST(FLOOR(hits * 1e6 / 10 + 0.5) / 1e6 AS DOUBLE) AS prec
         |FROM f ORDER BY qid""".stripMargin
    },

    // identical deterministic raters (len >= 150 chars, >= 30 nonempty
    // whitespace tokens) and the same exact-rational kappa on HUGEINT
    "q264_rater_kappa" ->
      """WITH d AS (SELECT source,
        |    CASE WHEN len(text) >= 150 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN len(list_filter(string_split(text, ' '),
        |      x -> len(x) > 0)) >= 30 THEN 1 ELSE 0 END AS b
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND source IS NOT NULL),
        |g AS (SELECT source, COUNT(*) AS n,
        |    SUM(a * b) AS n11, SUM(a * (1 - b)) AS n10,
        |    SUM((1 - a) * b) AS n01, SUM((1 - a) * (1 - b)) AS n00
        |  FROM d GROUP BY 1),
        |k AS (SELECT *,
        |    CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
        |    CAST(n00 + n01 AS HUGEINT) * (n00 + n10) AS pe_num
        |  FROM g)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
        |  CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
        |  CAST(FLOOR(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS po,
        |  CAST(FLOOR(CAST(pe_num AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * n AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS pe,
        |  CAST(CASE WHEN CAST(n AS HUGEINT) * n <> pe_num THEN
        |    FLOOR(CAST(CAST(n AS HUGEINT) * (n11 + n00) - pe_num
        |      AS DOUBLE) /
        |      CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE)
        |      * 1e6 + 0.5) / 1e6 END AS DOUBLE) AS kappa
        |FROM k ORDER BY source""".stripMargin,

    // the same grid-ridden nearest-rank order statistics: median rank
    // n div 2 + 1, conformal rank ceil(0.9*(n+1)) in pure integers
    "q265_conformal" ->
      """WITH e AS (SELECT user_id % 4 AS segment,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS score2,
        |    event_id % 2 AS half
        |  FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |cal AS (SELECT segment, score2 FROM e WHERE half = 0),
        |cg AS (SELECT segment, score2, COUNT(*) AS c FROM cal
        |  GROUP BY 1, 2),
        |cw AS (SELECT *, SUM(c) OVER (PARTITION BY segment ORDER BY score2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY segment) AS n_cal FROM cg),
        |med AS (SELECT segment, MAX(n_cal) AS n_cal,
        |    MIN(CASE WHEN cum >= n_cal // 2 + 1 THEN score2 END) AS med
        |  FROM cw GROUP BY 1),
        |nc AS (SELECT cal.segment, ABS(score2 - med) AS nc
        |  FROM cal JOIN med ON med.segment = cal.segment),
        |ng AS (SELECT segment, nc, COUNT(*) AS c FROM nc GROUP BY 1, 2),
        |nw AS (SELECT *, SUM(c) OVER (PARTITION BY segment ORDER BY nc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY segment) AS n_cal FROM ng),
        |qh AS (SELECT segment,
        |    MIN(CASE WHEN cum >= ((n_cal + 1) * 9 + 9) // 10 THEN nc END)
        |      AS qhat
        |  FROM nw GROUP BY 1),
        |ev AS (SELECT e.segment, med.n_cal, med.med, qh.qhat,
        |    COUNT(*) AS n_eval,
        |    SUM(CASE WHEN ABS(score2 - med) <= qhat THEN 1 ELSE 0 END)
        |      AS covered
        |  FROM e JOIN med ON med.segment = e.segment
        |    JOIN qh ON qh.segment = e.segment
        |  WHERE half = 1 GROUP BY 1, 2, 3, 4)
        |SELECT CAST(segment AS BIGINT) AS segment,
        |  CAST(n_cal AS BIGINT) AS n_cal, CAST(med AS BIGINT) AS med,
        |  CAST(qhat AS BIGINT) AS qhat,
        |  CAST(qhat * 2 AS BIGINT) AS width,
        |  CAST(n_eval AS BIGINT) AS n_eval,
        |  CAST(covered AS BIGINT) AS covered,
        |  CAST(FLOOR(CAST(covered AS DOUBLE) / CAST(n_eval AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS coverage
        |FROM ev ORDER BY segment""".stripMargin,

    // full recompute from scratch — the hash match against the engine's
    // passthrough ∪ touched-group-recompute route IS the selective-
    // refresh correctness proof (min/max can't merge; only recompute)
    "q266_mv_refresh" ->
      """WITH o AS (SELECT o_orderpriority AS priority,
        |    o_custkey % 1000 AS cust_bucket,
        |    CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT) AS price2,
        |    CASE WHEN o_orderdate >= TIMESTAMP '2001-06-01'
        |      THEN 1 ELSE 0 END AS is_delta
        |  FROM orders WHERE o_orderkey IS NOT NULL
        |    AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        |    AND o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL)
        |SELECT priority, CAST(cust_bucket AS BIGINT) AS cust_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(price2 AS HUGEINT)) AS BIGINT) AS total2,
        |  CAST(MIN(price2) AS DOUBLE) / 1e2 AS min_price,
        |  CAST(MAX(price2) AS DOUBLE) / 1e2 AS max_price,
        |  CAST(MAX(is_delta) AS BIGINT) AS changed
        |FROM o GROUP BY 1, 2 ORDER BY priority, cust_bucket""".stripMargin,

    // the q263 candidate pipeline at k=10, first-max majority vote
    // ((v DESC, label ASC) — same tie order), confusion + per-label
    // accuracy over the grid
    "q283_knn_eval" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        |    label
        |  FROM embeddings WHERE vec_id IS NOT NULL
        |    AND embedding IS NOT NULL AND label IS NOT NULL),
        |q AS (SELECT vec_id AS qid, ev AS qv, label AS qlabel FROM emb
        |  WHERE vec_id % 20 = 0),
        |p AS (SELECT qid, qlabel, vec_id AS nid, label AS nlabel,
        |    FLOOR(list_sum(list_apply(list_zip(qv, ev), x -> x[1] * x[2])) /
        |      (sqrt(list_sum(list_apply(qv, x -> x * x))) *
        |       sqrt(list_sum(list_apply(ev, x -> x * x)))) * 1e6 + 0.5)
        |      / 1e6 AS cos
        |  FROM q, emb WHERE qid <> vec_id),
        |r AS (SELECT qid, qlabel, nlabel,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS rank
        |  FROM p),
        |votes AS (SELECT qid, MAX(qlabel) AS qlabel, nlabel,
        |    COUNT(*) AS v
        |  FROM r WHERE rank <= 10 GROUP BY qid, nlabel),
        |pred AS (SELECT qid, qlabel, nlabel AS pred FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY v DESC, nlabel ASC) AS rn FROM votes)
        |  WHERE rn = 1),
        |conf AS (SELECT qlabel, pred, COUNT(*) AS n FROM pred
        |  GROUP BY 1, 2),
        |w AS (SELECT *, SUM(n) OVER (PARTITION BY qlabel) AS n_true,
        |    SUM(CASE WHEN qlabel = pred THEN n ELSE 0 END)
        |      OVER (PARTITION BY qlabel) AS n_correct
        |  FROM conf)
        |SELECT CAST(qlabel AS BIGINT) AS qlabel,
        |  CAST(pred AS BIGINT) AS pred, CAST(n AS BIGINT) AS n,
        |  CAST(n_true AS BIGINT) AS n_true,
        |  CAST(FLOOR(CAST(n_correct AS DOUBLE) / CAST(n_true AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS label_accuracy
        |FROM w ORDER BY qlabel, pred""".stripMargin,

    // the same (source × lang) grid and exact HUGEINT rational
    "q284_simpson_diversity" ->
      """WITH g AS (SELECT source, lang, COUNT(*) AS c FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT source, COUNT(*) AS n_langs, SUM(c) AS n_docs,
        |    SUM(CAST(c AS HUGEINT) * c) AS ssq
        |  FROM g GROUP BY 1)
        |SELECT source, CAST(n_langs AS BIGINT) AS n_langs,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(FLOOR(CAST(CAST(n_docs AS HUGEINT) * n_docs - ssq
        |    AS DOUBLE) / CAST(CAST(n_docs AS HUGEINT) * n_docs
        |    AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DOUBLE) AS simpson
        |FROM s ORDER BY source""".stripMargin,

    // the same basket census and cap; NULL max_kept when every basket
    // is over the cap (absence surfaced, never a fabricated 0). The
    // cap is INTERPOLATED from ItemCf.MaxBasketSize — single source of
    // truth with the Spark side, so changing the constant can never
    // silently diverge engine vs oracle.
    "q285_itemcf_cap_ledger" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_partkey IS NOT NULL),
        |sz AS (SELECT bk, COUNT(*) AS bsz FROM li GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets,
        |  CAST(SUM(CASE WHEN bsz > ${ItemCf.MaxBasketSize} THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN bsz > ${ItemCf.MaxBasketSize} THEN bsz
        |    ELSE 0 END) AS BIGINT) AS dropped_rows,
        |  CAST(MAX(bsz) AS BIGINT) AS max_basket,
        |  CAST(MAX(CASE WHEN bsz <= ${ItemCf.MaxBasketSize} THEN bsz
        |    END) AS BIGINT) AS max_kept,
        |  CAST(SUM(CASE WHEN bsz <= ${ItemCf.MaxBasketSize}
        |    THEN CAST(bsz AS HUGEINT) * bsz ELSE 0 END) AS DOUBLE)
        |    AS pair_work_kept
        |FROM sz""".stripMargin,

    // the same dense (day x 256-bin) grid; the rolling reference is the
    // ROWS -3..-1 elementwise sum per bin, cumulative gaps
    // cross-multiplied on HUGEINT; day 1 stays NULL end to end
    "q286_rolling_drift" ->
      """WITH e AS (SELECT value AS v, epoch_us(ts)//86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND NOT isnan(value)),
        |wb AS (SELECT day, LEAST(GREATEST(
        |      CAST(FLOOR(v/512.0*256.0) AS INT), 0), 255) AS bin,
        |    COUNT(*) AS a FROM e GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM e),
        |allb AS (SELECT UNNEST(range(0, 256)) AS bin),
        |u AS (SELECT d.day, b.bin, COALESCE(wb.a, 0) AS a
        |  FROM days d CROSS JOIN allb b
        |  LEFT JOIN wb ON wb.day = d.day AND wb.bin = b.bin),
        |r AS (SELECT day, bin, a, SUM(a) OVER (PARTITION BY bin
        |    ORDER BY day ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS r
        |  FROM u),
        |c AS (SELECT day, bin, a, r,
        |    SUM(a) OVER (PARTITION BY day ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    SUM(r) OVER (PARTITION BY day ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
        |    SUM(a) OVER (PARTITION BY day) AS nw,
        |    SUM(r) OVER (PARTITION BY day) AS nr FROM r),
        |g AS (SELECT day, bin, nw, nr,
        |    ABS(CAST(ca AS HUGEINT) * nr - CAST(cr AS HUGEINT) * nw)
        |      AS gap FROM c),
        |h AS (SELECT day, MAX(nw) AS n_win, MAX(nr) AS n_ref,
        |    MAX(gap) AS mgap FROM g GROUP BY 1),
        |ab AS (SELECT h.day, h.n_win, h.n_ref, h.mgap,
        |    (SELECT MIN(bin) FROM g
        |     WHERE g.day = h.day AND g.gap = h.mgap) AS at_bin
        |  FROM h)
        |SELECT CAST(day * 86400000000 AS BIGINT) AS w_start,
        |  CAST(n_win AS BIGINT) AS n_win,
        |  CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(mgap AS DOUBLE) AS max_gap,
        |  CAST(FLOOR(CAST(mgap AS DOUBLE) /
        |    (CAST(n_win AS DOUBLE) * CAST(n_ref AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS ks,
        |  CAST((at_bin + 1) * 2.0 AS DOUBLE) AS at_boundary,
        |  CASE WHEN n_ref IS NOT NULL THEN
        |    CAST(mgap AS HUGEINT) * 20 >
        |      CAST(n_win AS HUGEINT) * n_ref * 3 END AS drifted
        |FROM ab ORDER BY w_start""".stripMargin,

    // the same tokenizer twin (space split, empties dropped), ceil-div
    // chunk census with the 1 floor, inclusive list_slice windows, and
    // the empty-chunk md5 via COALESCE (DuckDB array_to_string([]) is
    // NULL — the adversarial-fixture lesson)
    "q287_rag_chunks" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0)
        |      AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |    AND text IS NOT NULL),
        |n AS (SELECT doc_id, toks, len(toks) AS ntok,
        |    GREATEST(1, (len(toks) - 16 + 47) // 48) AS n_chunks
        |  FROM d),
        |c AS (SELECT doc_id, toks, ntok, n_chunks,
        |    UNNEST(range(0, n_chunks)) AS ci FROM n)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
        |  CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(ntok AS BIGINT) AS ntok,
        |  CAST(ci * 48 + 1 AS BIGINT) AS tok_lo,
        |  CAST(len(list_slice(toks, ci * 48 + 1, ci * 48 + 64))
        |    AS BIGINT) AS n_tok_chunk,
        |  md5(COALESCE(array_to_string(
        |    list_slice(toks, ci * 48 + 1, ci * 48 + 64), ' '), ''))
        |    AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // the same group-hash assignment and the computed leakage audit —
    // the one-row (n_users, n_user_splits) frame crossed onto every
    // split row
    "q288_group_split" ->
      """WITH e AS (SELECT user_id,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS v2,
        |    CAST(md5_number_lower(CAST(user_id AS VARCHAR) || '#q288')
        |      >> 11 AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |s AS (SELECT *, CASE WHEN h % 10 < 8 THEN 'train'
        |    WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split FROM e),
        |a AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(COUNT(*) AS BIGINT) AS n_user_splits
        |  FROM (SELECT DISTINCT user_id, split FROM s)),
        |g AS (SELECT split,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_split,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    SUM(CAST(v2 AS HUGEINT)) AS sv2
        |  FROM s GROUP BY 1)
        |SELECT split, n_users_split, n_events,
        |  CAST(FLOOR(CAST(sv2 AS DOUBLE) /
        |    (CAST(n_events AS DOUBLE) * 100) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS mean_value,
        |  CAST(n_user_splits - n_users AS BIGINT) AS leaked_users
        |FROM g, a ORDER BY split""".stripMargin,

    // the same user x slot hash draw over the dense item domain; an
    // accidental positive stays a FLAGGED row
    "q289_negative_sampling" ->
      """WITH pos AS (SELECT DISTINCT o.o_custkey AS u,
        |    l.l_partkey AS item
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey IS NOT NULL AND o.o_custkey IS NOT NULL
        |    AND l.l_orderkey IS NOT NULL AND l.l_partkey IS NOT NULL),
        |m AS (SELECT MAX(item) AS max_item FROM pos),
        |uu AS (SELECT DISTINCT u FROM pos),
        |n AS (SELECT uu.u, k.k,
        |    (CAST(md5_number_lower(CAST(uu.u AS VARCHAR) || '#q289#'
        |        || CAST(k.k AS VARCHAR)) >> 11 AS BIGINT))
        |      % m.max_item + 1 AS neg_item
        |  FROM uu CROSS JOIN (SELECT UNNEST(range(1, 4)) AS k) k
        |  CROSS JOIN m)
        |SELECT n.u, CAST(n.k AS BIGINT) AS k,
        |  CAST(n.neg_item AS BIGINT) AS neg_item,
        |  p.item IS NOT NULL AS collided
        |FROM n LEFT JOIN pos p ON p.u = n.u AND p.item = n.neg_item
        |ORDER BY n.u, n.k""".stripMargin,

    // the same (segment x score-bin) grid, descending cumulative
    // counts, and 1e-6-quantized exact AP terms; zero-positive
    // segments stay NULL
    "q290_pr_auc" ->
      """WITH e AS (SELECT user_id % 4 AS segment,
        |    LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), 511) AS sb,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT segment, sb, SUM(y) AS p, SUM(1 - y) AS n
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT *,
        |    SUM(p) OVER (PARTITION BY segment ORDER BY sb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    SUM(p + n) OVER (PARTITION BY segment ORDER BY sb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(p) OVER (PARTITION BY segment) AS np,
        |    SUM(n) OVER (PARTITION BY segment) AS nn FROM g),
        |t AS (SELECT segment, np, nn,
        |    SUM((CAST(p AS HUGEINT) * tp * 1000000) // cum) AS ap6
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT CAST(segment AS BIGINT) AS segment,
        |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |  CAST(CASE WHEN np > 0 THEN
        |    FLOOR(CAST(ap6 AS DOUBLE) / (CAST(np AS DOUBLE) * 1e6)
        |      * 1e6 + 0.5) / 1e6 END AS DOUBLE) AS avg_precision
        |FROM t ORDER BY segment""".stripMargin,

    // the same split-grid predictor (floored micro-probability), exact
    // HUGEINT Brier/ECE terms, and the unscored-bin census
    "q292_brier_ece" ->
      """WITH e AS (SELECT user_id % 4 AS segment,
        |    LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), 511) AS sb,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y,
        |    event_id % 2 AS half
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |cal AS (SELECT segment, sb,
        |    (CAST(SUM(y) AS HUGEINT) * 1000000) // COUNT(*) AS p6
        |  FROM e WHERE half = 0 GROUP BY 1, 2),
        |srv AS (SELECT segment, sb, COUNT(*) AS n_srv, SUM(y) AS c_srv
        |  FROM e WHERE half = 1 GROUP BY 1, 2),
        |tot AS (SELECT segment, SUM(n_srv) AS n_total FROM srv
        |  GROUP BY 1),
        |sc AS (SELECT srv.segment, SUM(n_srv) AS n_eval,
        |    SUM(CAST(n_srv - c_srv AS HUGEINT) * p6 * p6 +
        |      CAST(c_srv AS HUGEINT) * (1000000 - p6)
        |        * (1000000 - p6)) AS bsum,
        |    SUM(ABS(CAST(c_srv AS HUGEINT) * 1000000 -
        |      CAST(p6 AS HUGEINT) * n_srv)) AS esum
        |  FROM srv JOIN cal ON cal.segment = srv.segment
        |    AND cal.sb = srv.sb
        |  GROUP BY 1)
        |SELECT CAST(sc.segment AS BIGINT) AS segment,
        |  CAST(n_eval AS BIGINT) AS n_eval,
        |  CAST(n_total - n_eval AS BIGINT) AS n_unscored,
        |  CAST(FLOOR(CAST(bsum AS DOUBLE) /
        |    (CAST(n_eval AS DOUBLE) * 1e12) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS brier,
        |  CAST(FLOOR(CAST(esum AS DOUBLE) /
        |    (CAST(n_eval AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS ece
        |FROM sc JOIN tot ON tot.segment = sc.segment
        |ORDER BY segment""".stripMargin,

    // the same two leak-free as-of lookups (rn = 1 over ts DESC, id
    // DESC within each TTL window) and the staleness arithmetic
    "q291_multi_view_features" ->
      """WITH en AS (SELECT event_id AS e_id, user_id,
        |    epoch_us(ts) AS e_ts
        |  FROM events WHERE event_type = 'purchase'),
        |f1 AS (SELECT user_id, epoch_us(ts) AS f_ts, value AS f_value,
        |    event_id AS f_id
        |  FROM events WHERE event_type = 'click'),
        |j1 AS (SELECT en.e_id, f1.f_value, f1.f_ts,
        |    ROW_NUMBER() OVER (PARTITION BY en.e_id
        |      ORDER BY f1.f_ts DESC, f1.f_id DESC) AS rn
        |  FROM en JOIN f1 ON en.user_id = f1.user_id
        |    AND f1.f_ts <= en.e_ts
        |    AND f1.f_ts >= en.e_ts - 259200000000),
        |f2 AS (SELECT user_id, epoch_us(ts) AS g_ts, event_id AS g_id
        |  FROM events WHERE event_type = 'signup'),
        |j2 AS (SELECT en.e_id, f2.g_id, f2.g_ts,
        |    ROW_NUMBER() OVER (PARTITION BY en.e_id
        |      ORDER BY f2.g_ts DESC, f2.g_id DESC) AS rn
        |  FROM en JOIN f2 ON en.user_id = f2.user_id
        |    AND f2.g_ts <= en.e_ts
        |    AND f2.g_ts >= en.e_ts - 2592000000000)
        |SELECT en.e_id, en.user_id, en.e_ts,
        |  j1.f_value AS recent_click_value,
        |  CAST(en.e_ts - j1.f_ts AS BIGINT) AS click_age_us,
        |  j2.g_id AS signup_id,
        |  CAST(en.e_ts - j2.g_ts AS BIGINT) AS signup_age_us
        |FROM en
        |LEFT JOIN (SELECT * FROM j1 WHERE rn = 1) j1 ON en.e_id = j1.e_id
        |LEFT JOIN (SELECT * FROM j2 WHERE rn = 1) j2 ON en.e_id = j2.e_id
        |ORDER BY en.e_id""".stripMargin,

    // the exact batch equivalent of the watermarked stream-stream band
    // join: inner matches only, inclusive bounds, 1-day band after the
    // impression (86400000000 micros)
    "q293_stream_interval_join" ->
      """WITH i AS (SELECT event_id AS imp_id, user_id,
        |    epoch_us(ts) AS imp_us
        |  FROM events WHERE event_type = 'view'
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |c AS (SELECT event_id AS click_id, user_id,
        |    epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND ts IS NOT NULL)
        |SELECT i.user_id, imp_id, click_id,
        |  CAST(click_us - imp_us AS BIGINT) AS gap_us
        |FROM i JOIN c ON c.user_id = i.user_id
        |  AND click_us >= imp_us
        |  AND click_us <= imp_us + 86400000000
        |ORDER BY i.user_id, imp_id, click_id""".stripMargin,

    // the batch NOT EXISTS over the same band — the negatives the
    // left-outer streaming join must emit exactly once, post-watermark
    "q295_unclicked_impressions" ->
      """WITH i AS (SELECT event_id AS imp_id, user_id,
        |    epoch_us(ts) AS imp_us
        |  FROM events WHERE event_type = 'view'
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |c AS (SELECT user_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND ts IS NOT NULL)
        |SELECT i.user_id, imp_id, imp_us FROM i
        |WHERE NOT EXISTS (SELECT 1 FROM c
        |  WHERE c.user_id = i.user_id
        |    AND c.click_us >= i.imp_us
        |    AND c.click_us <= i.imp_us + 86400000000)
        |ORDER BY i.user_id, imp_id""".stripMargin,

    // the unified labeler's batch equivalent: ONE left join over the
    // band — matched row = positive (gap + click provenance), NULL form
    // = negative, label derived from match presence
    "q296_ctr_labels" ->
      """WITH i AS (SELECT event_id AS imp_id, user_id,
        |    epoch_us(ts) AS imp_us
        |  FROM events WHERE event_type = 'view'
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |c AS (SELECT event_id AS click_id, user_id,
        |    epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'
        |    AND user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND ts IS NOT NULL)
        |SELECT i.user_id, imp_id, imp_us, click_id,
        |  CAST(click_us - imp_us AS BIGINT) AS gap_us,
        |  CAST(click_id IS NOT NULL AS BIGINT) AS label
        |FROM i LEFT JOIN c ON c.user_id = i.user_id
        |  AND click_us >= imp_us
        |  AND click_us <= imp_us + 86400000000
        |ORDER BY i.user_id, imp_id, click_id""".stripMargin,

    // the same grids: q242's med/MAD flag, whole-period baselines, and
    // the exact HUGEINT surprise cross-product ranking
    "q281_anomaly_contrib" ->
      """WITH g3 AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    user_id % 4 AS segment, COUNT(*) AS c_seg
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND user_id IS NOT NULL GROUP BY 1, 2, 3),
        |g2 AS (SELECT event_type, day, SUM(c_seg) AS c_day FROM g3
        |  GROUP BY 1, 2),
        |cw AS (SELECT *, COUNT(*) OVER (PARTITION BY event_type
        |      ORDER BY c_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd FROM g2),
        |med AS (SELECT event_type,
        |    MIN(CASE WHEN cum * 2 >= nd THEN c_day END) AS med
        |  FROM cw GROUP BY 1),
        |dev AS (SELECT g2.*, ABS(c_day - med) AS d FROM g2
        |  JOIN med USING (event_type)),
        |dw AS (SELECT *, COUNT(*) OVER (PARTITION BY event_type
        |      ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd FROM dev),
        |mad AS (SELECT event_type,
        |    MIN(CASE WHEN cumd * 2 >= nd THEN d END) AS mad
        |  FROM dw GROUP BY 1),
        |an AS (SELECT dev.event_type, dev.day, dev.c_day FROM dev
        |  JOIN mad USING (event_type) WHERE d > mad * 3),
        |base AS (SELECT event_type, segment, SUM(c_seg) AS c_ts
        |  FROM g3 GROUP BY 1, 2),
        |bw AS (SELECT *, SUM(c_ts) OVER (PARTITION BY event_type)
        |    AS c_t FROM base),
        |j AS (SELECT an.event_type, an.day, g3.segment, g3.c_seg,
        |    an.c_day, bw.c_ts, bw.c_t,
        |    ABS(CAST(g3.c_seg AS HUGEINT) * bw.c_t -
        |      CAST(bw.c_ts AS HUGEINT) * an.c_day) AS surprise_num
        |  FROM an JOIN g3 ON g3.event_type = an.event_type
        |    AND g3.day = an.day
        |  JOIN bw ON bw.event_type = an.event_type
        |    AND bw.segment = g3.segment)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |  CAST(segment AS BIGINT) AS segment,
        |  CAST(c_seg AS BIGINT) AS c_seg,
        |  CAST(c_day AS BIGINT) AS c_day,
        |  CAST(FLOOR(CAST(c_seg AS DOUBLE) / CAST(c_day AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS share_day,
        |  CAST(FLOOR(CAST(c_ts AS DOUBLE) / CAST(c_t AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS share_base,
        |  CAST(FLOOR(CAST(surprise_num AS DOUBLE) /
        |    (CAST(c_day AS DOUBLE) * CAST(c_t AS DOUBLE)) * 1e6 + 0.5)
        |    / 1e6 AS DOUBLE) AS surprise,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY event_type, day
        |    ORDER BY surprise_num DESC, segment) AS BIGINT) AS rank
        |FROM j ORDER BY event_type, day, rank""".stripMargin,

    // identical integer sufficient sums, floored slope/intercept, and
    // the one-division forecast on those integers
    "q282_capacity_forecast" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 - 19700 AS x, COUNT(*) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |s AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx,
        |    SUM(x * x) AS sxx, SUM(y) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    MAX(y) AS max_c, MAX(x) AS x_max
        |  FROM g GROUP BY 1),
        |t AS (SELECT *,
        |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx
        |  FROM s),
        |u AS (SELECT *, CASE WHEN denx <> 0 THEN
        |    CAST(FLOOR(CAST(num * 1000000 AS DOUBLE) /
        |      CAST(denx AS DOUBLE) + 0.5) AS BIGINT) END AS slope6
        |  FROM t),
        |v AS (SELECT *, CAST(FLOOR(CAST(CAST(sy AS HUGEINT) * 1000000 -
        |      CAST(slope6 AS HUGEINT) * sx AS DOUBLE) /
        |      CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS intercept6 FROM u),
        |w AS (SELECT *, intercept6 + slope6 * x_max AS level_now6,
        |    max_c * 2000000 AS cap6 FROM v)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(slope6 AS DOUBLE) / 1e6 AS slope_per_day,
        |  CAST(level_now6 AS DOUBLE) / 1e6 AS level_now,
        |  CAST(max_c * 2 AS BIGINT) AS cap_daily,
        |  CAST(CASE WHEN slope6 > 0 AND cap6 > level_now6 THEN
        |    FLOOR(CAST(cap6 - level_now6 AS DOUBLE) * 1e2 /
        |      CAST(slope6 AS DOUBLE) + 0.5) / 1e2 END AS DOUBLE)
        |    AS days_to_cap
        |FROM w ORDER BY event_type""".stripMargin,

    // the same md5 coin, engine-native NTILE (PrefixSum matches its
    // remainder semantics bit for bit), and exact Qini cross-product
    "q279_uplift_qini" ->
      """WITH e AS (SELECT user_id,
        |    md5_number_lower(CAST(user_id AS VARCHAR)) >> 33 AS coin,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS v2,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |u AS (SELECT user_id, MAX(coin) % 2 = 0 AS treated,
        |    SUM(v2) AS score2, MAX(y) AS conv
        |  FROM e GROUP BY 1),
        |t AS (SELECT treated, conv,
        |    NTILE(10) OVER (ORDER BY score2 DESC, user_id) AS decile
        |  FROM u),
        |g AS (SELECT decile,
        |    SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS n_t,
        |    SUM(CASE WHEN treated THEN 0 ELSE 1 END) AS n_c,
        |    SUM(CASE WHEN treated THEN conv ELSE 0 END) AS conv_t,
        |    SUM(CASE WHEN treated THEN 0 ELSE conv END) AS conv_c
        |  FROM t GROUP BY 1),
        |w AS (SELECT *,
        |    SUM(n_t) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn_t,
        |    SUM(n_c) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn_c,
        |    SUM(conv_t) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc_t,
        |    SUM(conv_c) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc_c
        |  FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
        |  CAST(conv_t AS BIGINT) AS conv_t,
        |  CAST(conv_c AS BIGINT) AS conv_c,
        |  CAST(CASE WHEN n_t > 0 THEN FLOOR(CAST(conv_t AS DOUBLE) /
        |    CAST(n_t AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS DOUBLE)
        |    AS rate_t,
        |  CAST(CASE WHEN n_c > 0 THEN FLOOR(CAST(conv_c AS DOUBLE) /
        |    CAST(n_c AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS DOUBLE)
        |    AS rate_c,
        |  CAST(CASE WHEN cn_c > 0 THEN
        |    FLOOR((CAST(cc_t AS DOUBLE) -
        |      CAST(CAST(cc_c AS HUGEINT) * cn_t AS DOUBLE) /
        |      CAST(cn_c AS DOUBLE)) * 1e6 + 0.5) / 1e6 END AS DOUBLE)
        |    AS qini
        |FROM w ORDER BY decile""".stripMargin,

    // the same grid, rank-span overlap arithmetic, and HUGEINT dot
    // product for the trimmed sum
    "q280_trimmed_mean" ->
      """WITH e AS (SELECT event_type,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS v2
        |  FROM events WHERE event_type IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT event_type, v2, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |w AS (SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY v2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM g),
        |k AS (SELECT *, n * 5 // 100 AS lo,
        |    GREATEST(0, LEAST(cum, n - n * 5 // 100) -
        |      GREATEST(cum - c, n * 5 // 100)) AS kept_in_cell
        |  FROM w)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(lo) AS BIGINT) AS trimmed_each,
        |  CAST(SUM(kept_in_cell) AS BIGINT) AS kept,
        |  CAST(FLOOR(CAST(SUM(CAST(v2 AS HUGEINT) * kept_in_cell)
        |    AS DOUBLE) / (CAST(SUM(kept_in_cell) AS DOUBLE) * 100)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS trimmed_mean,
        |  CAST(FLOOR(CAST(SUM(CAST(v2 AS HUGEINT) * c) AS DOUBLE) /
        |    (CAST(MAX(n) AS DOUBLE) * 100) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS raw_mean
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the same split, floor-division predictor, and exact-rational
    // metric algebra on HUGEINT (non-negative sums, so DuckDB's floor
    // // and Spark's truncating div agree)
    "q276_regression_eval" ->
      """WITH e AS (SELECT user_id % 4 AS segment,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS y2,
        |    event_id % 2 AS half
        |  FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |p AS (SELECT segment, COUNT(*) AS n_cal,
        |    (SUM(y2) - ((SUM(y2) % COUNT(*)) + COUNT(*)) % COUNT(*))
        |      // COUNT(*) AS pred2
        |  FROM e WHERE half = 0 GROUP BY 1),
        |v AS (SELECT e.segment, p.n_cal, p.pred2, COUNT(*) AS n_eval,
        |    SUM(ABS(y2 - pred2)) AS sabs,
        |    SUM(CAST(y2 - pred2 AS HUGEINT) * (y2 - pred2)) AS ssres,
        |    SUM(y2) AS sy, SUM(CAST(y2 AS HUGEINT) * y2) AS sy2
        |  FROM e JOIN p ON p.segment = e.segment WHERE half = 1
        |  GROUP BY 1, 2, 3),
        |w AS (SELECT *, CAST(n_eval AS HUGEINT) * sy2 -
        |    CAST(sy AS HUGEINT) * sy AS sstot_n FROM v)
        |SELECT CAST(segment AS BIGINT) AS segment,
        |  CAST(n_cal AS BIGINT) AS n_cal,
        |  CAST(pred2 AS DOUBLE) / 1e2 AS pred,
        |  CAST(n_eval AS BIGINT) AS n_eval,
        |  CAST(FLOOR(CAST(sabs AS DOUBLE) /
        |    (CAST(n_eval AS DOUBLE) * 100) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS mae,
        |  CAST(FLOOR(sqrt(CAST(ssres AS DOUBLE) /
        |    CAST(n_eval AS DOUBLE)) / 100 * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS rmse,
        |  CAST(CASE WHEN sstot_n <> 0 THEN
        |    FLOOR((1.0 - CAST(CAST(n_eval AS HUGEINT) * ssres AS DOUBLE)
        |      / CAST(sstot_n AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    END AS DOUBLE) AS r2
        |FROM w ORDER BY segment""".stripMargin,

    // the identical synthetic weighted graph; bounded-depth recursive
    // unrolling (hops < 5) + MIN per node equals K rounds of
    // Bellman-Ford relaxation
    "q277_sssp" ->
      """WITH RECURSIVE docs AS (SELECT doc_id AS d FROM documents
        |  WHERE doc_id IS NOT NULL),
        |e0 AS (SELECT d % 311 AS f, (d * 11 + 7) % 311 AS t FROM docs
        |  UNION ALL SELECT d % 311, (d * 23 + 3) % 311 FROM docs
        |  WHERE d % 2 = 0),
        |edges AS (SELECT DISTINCT f, t FROM e0 WHERE f <> t),
        |we AS (SELECT f, t, (f * 7 + t * 13) % 97 + 1 AS w FROM edges),
        |src AS (SELECT DISTINCT d % 311 AS node FROM docs
        |  WHERE d % 311 < 3),
        |paths(node, dist, hops) AS (
        |  SELECT node, CAST(0 AS BIGINT), 0 FROM src
        |  UNION ALL
        |  SELECT we.t, p.dist + we.w, p.hops + 1
        |  FROM paths p JOIN we ON we.f = p.node WHERE p.hops < 5)
        |SELECT CAST(node AS BIGINT) AS node,
        |  CAST(MIN(dist) AS BIGINT) AS dist
        |FROM paths GROUP BY 1 ORDER BY node""".stripMargin,

    // the same (type × day) grid, power-of-two weights via integer
    // shifts (never pow()), and one floored division for the share
    "q278_decayed_popularity" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT *, MAX(day) OVER () AS anchor FROM g),
        |s AS (SELECT event_type, SUM(c) AS n,
        |    SUM(CAST(c AS HUGEINT) * (CAST(1 AS BIGINT) <<
        |      CAST(40 - LEAST((anchor - day) // 7, 40) AS INT)))
        |      AS score
        |  FROM w GROUP BY 1),
        |t AS (SELECT *, SUM(score) OVER () AS tot FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(FLOOR(CAST(score AS DOUBLE) / CAST(tot AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS decayed_share,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, event_type)
        |    AS BIGINT) AS rank
        |FROM t ORDER BY rank""".stripMargin,

    // full replay of q268's pipeline plus the three metric CTEs; a
    // missing within-list pair coalesces to cosine 0 on both sides
    "q274_rec_eval" ->
      s"""WITH li0 AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_partkey IS NOT NULL),
        |li AS (SELECT bk, item FROM (SELECT *,
        |    COUNT(*) OVER (PARTITION BY bk) AS bsz FROM li0)
        |  WHERE bsz <= ${ItemCf.MaxBasketSize}),
        |cnt AS (SELECT item, COUNT(*) AS c FROM li GROUP BY 1),
        |half AS (SELECT a.item AS ia, b.item AS ib, COUNT(*) AS cab
        |  FROM li a JOIN li b ON a.bk = b.bk AND a.item < b.item
        |  GROUP BY 1, 2),
        |sym AS (SELECT ia, ib, cab FROM half
        |  UNION ALL SELECT ib, ia, cab FROM half),
        |scored AS (SELECT ia, ib,
        |    FLOOR(CAST(cab AS DOUBLE) /
        |      sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 AS cos
        |  FROM sym JOIN cnt ca ON ca.item = ia
        |    JOIN cnt cb ON cb.item = ib),
        |recs AS (SELECT ia, ib, cos FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY ia ORDER BY cos DESC, ib)
        |      AS rank FROM scored) WHERE rank <= 5),
        |lp AS (SELECT r1.ia, r1.ib AS b1, r2.ib AS b2,
        |    COALESCE(CAST(FLOOR(sc.cos * 1e6 + 0.5) AS BIGINT), 0)
        |      AS pc6
        |  FROM recs r1 JOIN recs r2 ON r1.ia = r2.ia AND r1.ib < r2.ib
        |  LEFT JOIN scored sc ON sc.ia = r1.ib AND sc.ib = r2.ib),
        |ild AS (SELECT COUNT(*) AS n_lists, SUM(ild6) AS ild_sum FROM (
        |  SELECT ia, 1000000 - CAST(FLOOR(CAST(SUM(pc6) AS DOUBLE) /
        |    COUNT(*) + 0.5) AS BIGINT) AS ild6
        |  FROM lp GROUP BY ia)),
        |cov AS (SELECT COUNT(DISTINCT ia) AS n_items_with_recs,
        |    COUNT(DISTINCT ib) AS n_recommended FROM recs),
        |pop AS (SELECT COUNT(*) AS n_recs,
        |    SUM(CAST(c AS HUGEINT)) AS pop_sum
        |  FROM recs JOIN cnt ON cnt.item = recs.ib),
        |cat AS (SELECT COUNT(*) AS n_catalog,
        |    SUM(CAST(c AS HUGEINT)) AS cat_sum FROM cnt)
        |SELECT CAST(n_items_with_recs AS BIGINT) AS n_items_with_recs,
        |  CAST(n_recommended AS BIGINT) AS n_recommended,
        |  CAST(n_catalog AS BIGINT) AS n_catalog,
        |  CAST(FLOOR(CAST(n_recommended AS DOUBLE) /
        |    CAST(n_catalog AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DOUBLE)
        |    AS coverage,
        |  CAST(FLOOR(CAST(pop_sum AS DOUBLE) / CAST(n_recs AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS avg_pop_rec,
        |  CAST(FLOOR(CAST(cat_sum AS DOUBLE) / CAST(n_catalog AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS avg_pop_catalog,
        |  CAST(FLOOR(CAST(pop_sum * n_catalog AS DOUBLE) /
        |    CAST(cat_sum * n_recs AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS pop_lift,
        |  CAST(FLOOR(CAST(ild_sum AS DOUBLE) /
        |    (CAST(n_lists AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
        |    AS DOUBLE) AS mean_ild
        |FROM cov, pop, cat, ild""".stripMargin,

    // the same user-local LEAD transitions, session-horizon filter,
    // and grid-ridden nearest-rank order statistics
    "q275_dwell_times" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |t AS (SELECT event_type AS a,
        |    LEAD(event_type, 1) OVER w AS b,
        |    (LEAD(us, 1) OVER w - us) // 1000000 AS gap_s
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id)),
        |f AS (SELECT a, b, gap_s FROM t
        |  WHERE b IS NOT NULL AND gap_s <= 7200),
        |g AS (SELECT a, b, gap_s, COUNT(*) AS c FROM f GROUP BY 1, 2, 3),
        |w2 AS (SELECT *, SUM(c) OVER (PARTITION BY a, b ORDER BY gap_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY a, b) AS n,
        |    SUM(gap_s * c) OVER (PARTITION BY a, b) AS gsum FROM g)
        |SELECT a, b, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum >= n // 2 + 1 THEN gap_s END)
        |    AS BIGINT) AS med_gap_s,
        |  CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_s END)
        |    AS BIGINT) AS p90_gap_s,
        |  CAST(FLOOR(CAST(MAX(gsum) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS mean_gap_s
        |FROM w2 GROUP BY 1, 2 ORDER BY a, b""".stripMargin,

    // batch replay of the stream: epoch-aligned hour windows (Spark's
    // tumbling window() aligns to the epoch in UTC), the same coarse
    // clamped score buckets, and q258's grid AUC per window
    "q272_stream_auc" ->
      """WITH e AS (SELECT
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS w_start,
        |    LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), 511) AS sb,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT w_start, sb, SUM(y) AS p, SUM(1 - y) AS q
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT w_start, p, q,
        |    COALESCE(SUM(q) OVER (PARTITION BY w_start ORDER BY sb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS neg_below,
        |    SUM(p) OVER (PARTITION BY w_start ORDER BY sb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
        |    SUM(q) OVER (PARTITION BY w_start ORDER BY sb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_q,
        |    SUM(p) OVER (PARTITION BY w_start) AS pp,
        |    SUM(q) OVER (PARTITION BY w_start) AS qq
        |  FROM g),
        |a AS (SELECT w_start, MAX(pp) AS n_pos, MAX(qq) AS n_neg,
        |    SUM(CAST(p AS HUGEINT) * (2 * neg_below + q)) AS u2,
        |    MAX(ABS(CAST(cum_p AS HUGEINT) * qq -
        |      CAST(cum_q AS HUGEINT) * pp)) AS ksn
        |  FROM c GROUP BY 1)
        |SELECT w_start, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(FLOOR(CAST(u2 AS DOUBLE) / (CAST(n_pos AS DOUBLE) *
        |    CAST(n_neg AS DOUBLE) * 2) * 1e6 + 0.5) / 1e6 AS DOUBLE)
        |    AS auc,
        |  CAST(FLOOR(CAST(ksn AS DOUBLE) / (CAST(n_pos AS DOUBLE) *
        |    CAST(n_neg AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS DOUBLE) AS ks
        |FROM a WHERE n_pos > 0 AND n_neg > 0
        |ORDER BY w_start""".stripMargin,

    // q258's contingency-grid AUC per fold, then the same exact-integer
    // across-fold mean/variance over the 5-row grid
    "q270_cv_folds" ->
      """WITH e AS (SELECT event_id % 5 AS fold,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS score2,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE event_type IS NOT NULL
        |    AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT fold, score2, SUM(y) AS p, SUM(1 - y) AS q
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT fold, p, q,
        |    COALESCE(SUM(q) OVER (PARTITION BY fold ORDER BY score2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS neg_below,
        |    SUM(p) OVER (PARTITION BY fold ORDER BY score2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
        |    SUM(q) OVER (PARTITION BY fold ORDER BY score2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_q,
        |    SUM(p) OVER (PARTITION BY fold) AS pp,
        |    SUM(q) OVER (PARTITION BY fold) AS qq
        |  FROM g),
        |a AS (SELECT fold, MAX(pp) AS n_pos, MAX(qq) AS n_neg,
        |    SUM(CAST(p AS HUGEINT) * (2 * neg_below + q)) AS u2,
        |    MAX(ABS(CAST(cum_p AS HUGEINT) * qq -
        |      CAST(cum_q AS HUGEINT) * pp)) AS ksn
        |  FROM c GROUP BY 1),
        |f AS (SELECT fold, n_pos, n_neg,
        |    CAST(FLOOR(CAST(u2 AS DOUBLE) / (CAST(n_pos AS DOUBLE) *
        |      CAST(n_neg AS DOUBLE) * 2) * 1e6 + 0.5) AS BIGINT) AS auc6,
        |    FLOOR(CAST(ksn AS DOUBLE) / (CAST(n_pos AS DOUBLE) *
        |      CAST(n_neg AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ks
        |  FROM a WHERE n_pos > 0 AND n_neg > 0),
        |w AS (SELECT *, COUNT(*) OVER () AS k,
        |    SUM(auc6) OVER () AS sa,
        |    SUM(CAST(auc6 AS HUGEINT) * auc6) OVER () AS sa2 FROM f)
        |SELECT CAST(fold AS BIGINT) AS fold,
        |  CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(CAST(auc6 AS DOUBLE) / 1e6 AS DOUBLE) AS auc,
        |  CAST(ks AS DOUBLE) AS ks,
        |  CAST(FLOOR(CAST(sa AS DOUBLE) / (CAST(k AS DOUBLE) * 1e6)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS mean_auc,
        |  CAST(FLOOR(CAST(CAST(k AS HUGEINT) * sa2 -
        |    CAST(sa AS HUGEINT) * sa AS DOUBLE) /
        |    (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) * 1e12) * 1e6 + 0.5)
        |    / 1e6 AS DOUBLE) AS var_auc
        |FROM w ORDER BY fold""".stripMargin,

    // the q263 candidate pipeline at k=10, then the two rank windows
    // (hard negative: cos DESC among rel=0; hard positive: cos ASC
    // among rel=1); NULL survives on single-class top-k sides
    "q271_hard_mining" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        |    label
        |  FROM embeddings WHERE vec_id IS NOT NULL
        |    AND embedding IS NOT NULL AND label IS NOT NULL),
        |q AS (SELECT vec_id AS qid, ev AS qv, label AS qlabel FROM emb
        |  WHERE vec_id % 20 = 0),
        |p AS (SELECT qid, qlabel, vec_id AS nid, label AS nlabel,
        |    FLOOR(list_sum(list_apply(list_zip(qv, ev), x -> x[1] * x[2])) /
        |      (sqrt(list_sum(list_apply(qv, x -> x * x))) *
        |       sqrt(list_sum(list_apply(ev, x -> x * x)))) * 1e6 + 0.5)
        |      / 1e6 AS cos
        |  FROM q, emb WHERE qid <> vec_id),
        |r AS (SELECT qid, qlabel, nid, nlabel, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS rank
        |  FROM p),
        |t AS (SELECT qid, qlabel, nid, cos,
        |    CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS rel
        |  FROM r WHERE rank <= 10),
        |neg AS (SELECT qid, nid AS hard_neg_id, cos AS hard_neg_cos
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS rn FROM t WHERE rel = 0)
        |  WHERE rn = 1),
        |pos AS (SELECT qid, nid AS hard_pos_id, cos AS hard_pos_cos
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos ASC, nid ASC) AS rn FROM t WHERE rel = 1)
        |  WHERE rn = 1)
        |SELECT q.qid, CAST(q.qlabel AS BIGINT) AS qlabel,
        |  neg.hard_neg_id, CAST(neg.hard_neg_cos AS DOUBLE)
        |    AS hard_neg_cos,
        |  pos.hard_pos_id, CAST(pos.hard_pos_cos AS DOUBLE)
        |    AS hard_pos_cos
        |FROM q LEFT JOIN neg ON neg.qid = q.qid
        |  LEFT JOIN pos ON pos.qid = q.qid
        |ORDER BY q.qid""".stripMargin,

    // the same basket self-join, symmetrized pair counts, and
    // quantize-before-rank cosine
    "q268_item_cf" ->
      s"""WITH li0 AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_partkey IS NOT NULL),
        |li AS (SELECT bk, item FROM (SELECT *,
        |    COUNT(*) OVER (PARTITION BY bk) AS bsz FROM li0)
        |  WHERE bsz <= ${ItemCf.MaxBasketSize}),
        |cnt AS (SELECT item, COUNT(*) AS c FROM li GROUP BY 1),
        |half AS (SELECT a.item AS ia, b.item AS ib, COUNT(*) AS cab
        |  FROM li a JOIN li b ON a.bk = b.bk AND a.item < b.item
        |  GROUP BY 1, 2),
        |sym AS (SELECT ia, ib, cab FROM half
        |  UNION ALL SELECT ib, ia, cab FROM half),
        |scored AS (SELECT ia, ib, cab, ca.c AS ca, cb.c AS cb,
        |    FLOOR(CAST(cab AS DOUBLE) /
        |      sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 AS cos
        |  FROM sym JOIN cnt ca ON ca.item = ia
        |    JOIN cnt cb ON cb.item = ib),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY ia
        |    ORDER BY cos DESC, ib) AS BIGINT) AS rank FROM scored)
        |SELECT ia, ib, CAST(cab AS BIGINT) AS cab,
        |  CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        |  CAST(cos AS DOUBLE) AS cos, rank
        |FROM r WHERE rank <= 5 ORDER BY ia, rank""".stripMargin,

    // the same cell grid, quantized-mean argmax arm, and per-context
    // floored IPS contributions; overlap violations stay NULL
    "q269_ips_offpolicy" ->
      """WITH e AS (SELECT user_id % 4 AS ctx, event_type AS action,
        |    CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS r2
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT ctx, action, COUNT(*) AS n_cell, SUM(r2) AS r2_cell
        |  FROM e GROUP BY 1, 2),
        |w AS (SELECT *, SUM(n_cell) OVER (PARTITION BY ctx) AS n_ctx,
        |    SUM(n_cell) OVER () AS n_tot,
        |    CAST(FLOOR(CAST(r2_cell AS DOUBLE) * 1e4 /
        |      CAST(n_cell AS DOUBLE) + 0.5) AS BIGINT) AS mean6
        |  FROM g),
        |best AS (SELECT 'argmax' AS policy, ctx, action AS pi_action
        |  FROM (SELECT ctx, action, ROW_NUMBER() OVER (PARTITION BY ctx
        |      ORDER BY mean6 DESC, action) AS rk FROM w)
        |  WHERE rk = 1),
        |co AS (SELECT p.policy, c.ctx, p.pi_action FROM
        |  (SELECT DISTINCT ctx FROM g) c,
        |  (VALUES ('always_click', 'click'),
        |    ('always_purchase', 'purchase')) AS p(policy, pi_action)),
        |pol AS (SELECT * FROM best UNION ALL SELECT * FROM co),
        |j AS (SELECT pol.policy, pol.ctx, pol.pi_action, w.n_cell,
        |    w.r2_cell, w.n_ctx, w.n_tot
        |  FROM pol LEFT JOIN w ON w.ctx = pol.ctx
        |    AND w.action = pol.pi_action),
        |k AS (SELECT *, CASE WHEN n_cell > 0 THEN
        |    CAST(FLOOR(CAST(CAST(r2_cell AS HUGEINT) * n_ctx AS DOUBLE) /
        |      (CAST(n_cell AS DOUBLE) * CAST(n_tot AS DOUBLE) * 100)
        |      * 1e6 + 0.5) AS BIGINT) END AS contrib6 FROM j),
        |v AS (SELECT *, SUM(CASE WHEN contrib6 IS NULL THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY policy) AS viol,
        |    SUM(contrib6) OVER (PARTITION BY policy) AS vsum FROM k)
        |SELECT policy, CAST(ctx AS BIGINT) AS ctx, pi_action,
        |  CAST(COALESCE(n_cell, 0) AS BIGINT) AS n_cell,
        |  CAST(CAST(contrib6 AS DOUBLE) / 1e6 AS DOUBLE) AS contrib,
        |  CAST(CASE WHEN viol = 0 THEN CAST(vsum AS DOUBLE) / 1e6 END
        |    AS DOUBLE) AS v_ips
        |FROM v ORDER BY policy, ctx""".stripMargin,

    // q221's sessionization verbatim, then consecutive type 3-grams
    // via LEAD over the session order; share/rank ride the path grid
    "q267_path_trigrams" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |f AS (SELECT *, CASE WHEN us - LAG(us) OVER w <= 7200000000
        |    THEN 0 ELSE 1 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id)),
        |n AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS sess_no FROM f),
        |t AS (SELECT event_type AS p1,
        |    LEAD(event_type, 1) OVER w2 AS p2,
        |    LEAD(event_type, 2) OVER w2 AS p3
        |  FROM n WINDOW w2 AS (PARTITION BY user_id, sess_no
        |    ORDER BY us, event_id)),
        |g AS (SELECT p1, p2, p3, COUNT(*) AS n_paths FROM t
        |  WHERE p2 IS NOT NULL AND p3 IS NOT NULL GROUP BY 1, 2, 3),
        |w AS (SELECT *, SUM(n_paths) OVER () AS total FROM g)
        |SELECT p1, p2, p3, CAST(n_paths AS BIGINT) AS n_paths,
        |  CAST(FLOOR(CAST(n_paths AS DOUBLE) / CAST(total AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS DOUBLE) AS share,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n_paths DESC, p1, p2, p3)
        |    AS BIGINT) AS rank
        |FROM w ORDER BY rank""".stripMargin,
  )

  /** q39's DuckDB twin, generated from the SAME fitted IVF index the Spark
    * run probed in this JVM ([[ivfState]]; Verify dumps oracle SQL AFTER
    * executing the queries, so the model is always present by dump time —
    * and because the centroids enter the SQL as literals from that exact
    * model, KMeans fit nondeterminism cannot split the engines). DuckDB
    * recomputes everything downstream of the fit: per-vector cell argmax
    * ([[ivfScoresSql]]), per-query top-`nprobe` cells (score desc, cell
    * asc — the same total order ivfTopK's comparator sort uses), the cell
    * equi-join, and the q19-proven cosine/rank pipeline. Omitted — q39
    * falls back to the rows-only check — if it never ran, or if MORE THAN
    * ONE index was probed in this JVM (RunState's sole-dir rule). */
  private def q39OracleSql: Map[String, String] = {
    ivfState.sole.map { case (m, _) =>
      val scores = ivfScoresSql(m)
      val cellIds = ivfCellIdsSql(m)
      "q39_ivf_topk" ->
        s"""WITH v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           |cs AS (
           |  SELECT vec_id, ev, $scores AS ss
           |  FROM v),
           |cc AS (
           |  SELECT vec_id AS nid, ev AS nv,
           |    list_position(ss, list_aggregate(ss, 'max')) - 1 AS cell
           |  FROM cs),
           |qp AS (
           |  SELECT vec_id AS qid, ev AS qv,
           |    UNNEST(ss) AS s, UNNEST($cellIds) AS cell
           |  FROM cs WHERE vec_id % 20 = 0),
           |qsel AS (
           |  SELECT qid, qv, cell FROM (
           |    SELECT qid, qv, cell,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, cell ASC) AS rn
           |    FROM qp) WHERE rn <= $Q39Nprobe),
           |p AS (
           |  SELECT qid, nid,
           |    FLOOR(list_sum(list_apply(list_zip(qv, nv), x -> x[1] * x[2])) /
           |      (sqrt(list_sum(list_apply(qv, x -> x * x))) *
           |       sqrt(list_sum(list_apply(nv, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
           |  FROM qsel JOIN cc USING (cell) WHERE qid <> nid),
           |r AS (SELECT qid, nid, cos,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS BIGINT) AS rank
           |  FROM p)
           |SELECT qid, nid, cos, rank FROM r WHERE rank <= 5
           |ORDER BY qid, rank""".stripMargin
    }.toMap
  }

  /** q297's oracle: the q39 probe replay (same fitted centroids, same
    * sole-dir rule) EXTENDED with the budget mechanics — scan order
    * (ROW_NUMBER by nid over each query's probed candidates),
    * the per-query candidate count, truncation at the shared
    * [[Q297Budget]], and both ledger columns. A wrong scan order, a
    * candidate silently dropped before the ledger, or a ledger column
    * derived after truncation all hash-diverge. */
  private def q297OracleSql: Map[String, String] = {
    ivfState.sole.map { case (m, _) =>
      val scores = ivfScoresSql(m)
      val cellIds = ivfCellIdsSql(m)
      "q297_ivf_budgeted_probe" ->
        s"""WITH v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           |cs AS (
           |  SELECT vec_id, ev, $scores AS ss
           |  FROM v),
           |cc AS (
           |  SELECT vec_id AS nid, ev AS nv,
           |    list_position(ss, list_aggregate(ss, 'max')) - 1 AS cell
           |  FROM cs),
           |qp AS (
           |  SELECT vec_id AS qid, ev AS qv,
           |    UNNEST(ss) AS s, UNNEST($cellIds) AS cell
           |  FROM cs WHERE vec_id % 20 = 0),
           |qsel AS (
           |  SELECT qid, qv, cell FROM (
           |    SELECT qid, qv, cell,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, cell ASC) AS rn
           |    FROM qp) WHERE rn <= $Q39Nprobe),
           |cand AS (
           |  SELECT qid, qv, nid, nv,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY nid ASC) AS scan,
           |    COUNT(*) OVER (PARTITION BY qid) AS n_cand
           |  FROM qsel JOIN cc USING (cell) WHERE qid <> nid),
           |p AS (
           |  SELECT qid, nid, n_cand,
           |    FLOOR(list_sum(list_apply(list_zip(qv, nv), x -> x[1] * x[2])) /
           |      (sqrt(list_sum(list_apply(qv, x -> x * x))) *
           |       sqrt(list_sum(list_apply(nv, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
           |  FROM cand WHERE scan <= $Q297Budget),
           |r AS (SELECT qid, nid, cos, n_cand,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS BIGINT) AS rank
           |  FROM p)
           |SELECT qid, nid, cos, rank, CAST(n_cand AS BIGINT) AS n_cand,
           |  CAST(GREATEST(n_cand - $Q297Budget, 0) AS BIGINT) AS n_trunc
           |FROM r WHERE rank <= 5
           |ORDER BY qid, rank""".stripMargin
    }.toMap
  }

  /** q298's oracle: both legs recomputed from scratch — the exact side
    * is q19's brute-force pipeline on the sparser %100 sample, the
    * approx side is q297's budgeted replay (same centroid literals,
    * same scan order, same shared budget), then the per-query hit count
    * and floored recall. A drift in EITHER leg (a probe refactor, a
    * rank tie-break change, a budget constant fork) hash-diverges the
    * tripwire itself. */
  private def q298OracleSql: Map[String, String] = {
    ivfState.sole.map { case (m, _) =>
      val scores = ivfScoresSql(m)
      val cellIds = ivfCellIdsSql(m)
      "q298_recall_tripwire" ->
        s"""WITH v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           |cs AS (
           |  SELECT vec_id, ev, $scores AS ss
           |  FROM v),
           |cc AS (
           |  SELECT vec_id AS nid, ev AS nv,
           |    list_position(ss, list_aggregate(ss, 'max')) - 1 AS cell
           |  FROM cs),
           |q AS (SELECT vec_id AS qid, ev AS qv FROM v WHERE vec_id % 100 = 0),
           |ep AS (
           |  SELECT qid, nid,
           |    FLOOR(list_sum(list_apply(list_zip(qv, ev), x -> x[1] * x[2])) /
           |      (sqrt(list_sum(list_apply(qv, x -> x * x))) *
           |       sqrt(list_sum(list_apply(ev, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
           |  FROM q, (SELECT vec_id AS nid, ev FROM v)
           |  WHERE qid <> nid),
           |ex AS (SELECT qid, nid FROM (
           |  SELECT qid, nid,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
           |  FROM ep) WHERE rank <= 5),
           |qp AS (
           |  SELECT vec_id AS qid, ev AS qv,
           |    UNNEST(ss) AS s, UNNEST($cellIds) AS cell
           |  FROM cs WHERE vec_id % 100 = 0),
           |qsel AS (
           |  SELECT qid, qv, cell FROM (
           |    SELECT qid, qv, cell,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, cell ASC) AS rn
           |    FROM qp) WHERE rn <= $Q39Nprobe),
           |cand AS (
           |  SELECT qid, qv, nid, nv,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY nid ASC) AS scan
           |  FROM qsel JOIN cc USING (cell) WHERE qid <> nid),
           |ap AS (
           |  SELECT qid, nid,
           |    FLOOR(list_sum(list_apply(list_zip(qv, nv), x -> x[1] * x[2])) /
           |      (sqrt(list_sum(list_apply(qv, x -> x * x))) *
           |       sqrt(list_sum(list_apply(nv, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
           |  FROM cand WHERE scan <= $Q297Budget),
           |ax AS (SELECT qid, nid FROM (
           |  SELECT qid, nid,
           |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
           |  FROM ap) WHERE rank <= 5),
           |ne AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY 1),
           |h AS (SELECT ax.qid, COUNT(*) AS n_hit
           |  FROM ax JOIN ex ON ax.qid = ex.qid AND ax.nid = ex.nid
           |  GROUP BY 1)
           |SELECT ne.qid, CAST(n_exact AS BIGINT) AS n_exact,
           |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           |  FLOOR(CAST(COALESCE(n_hit, 0) AS DOUBLE) /
           |    CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
           |FROM ne LEFT JOIN h USING (qid)
           |ORDER BY ne.qid""".stripMargin
    }.toMap
  }

  /** q89's oracle: the SAME fitted index as q39 (identical
    * sole-dir rule) replayed for cell assignment —
    * centroid scores as double literals, first-max tie-break — then
    * per-cell counts, rate = min(1, T/count), and the q66 md5-uniform
    * keep test, all recomputed from scratch in DuckDB. */
  private def q89OracleSql: Map[String, String] = {
    ivfState.sole.map { case (m, _) =>
      val scores = ivfScoresSql(m)
      "q89_cluster_sample" ->
        s"""WITH v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           |cc AS (
           |  SELECT vec_id, list_position(ss, list_aggregate(ss, 'max')) - 1 AS cell
           |  FROM (SELECT vec_id, $scores AS ss FROM v)),
           |n AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cn FROM cc GROUP BY cell),
           |r AS (SELECT cc.vec_id, cc.cell,
           |  LEAST(CAST(1 AS DOUBLE), CAST($Q89Target AS DOUBLE) / CAST(cn AS DOUBLE)) AS rate,
           |  CAST(md5_number_lower(CAST(cc.vec_id AS VARCHAR)) >> 33 AS DOUBLE)
           |    / 2147483648.0 AS u
           |  FROM cc JOIN n USING (cell))
           |SELECT vec_id, CAST(cell AS INT) AS cell FROM r
           |WHERE u < rate ORDER BY vec_id""".stripMargin
    }.toMap
  }

  /** q294's oracle: the SAME fitted centroids replayed for BOTH cell
    * assignments — the base corpus and the appended batch (vectors
    * negated in DOUBLE space, exactly what Spark's float negate + double
    * cast computes) — then the full-cell-list occupancy ledger and the
    * exact-integer hot / needs_refit verdicts, all recomputed from
    * scratch in DuckDB. Catches an append written to the wrong cell, a
    * miscounted empty cell, or a verdict arithmetic drift. */
  private def q294OracleSql: Map[String, String] = {
    ivfState.sole.map { case (m, _) =>
      val k = m.centroids.size
      val scores = ivfScoresSql(m)
      val cellIds = ivfCellIdsSql(m)
      "q294_ivf_append_ledger" ->
        s"""WITH v AS (
           |  SELECT CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
           |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
           |b AS (
           |  SELECT list_position(ss, list_aggregate(ss, 'max')) - 1 AS cell
           |  FROM (SELECT $scores AS ss FROM v)),
           |a AS (
           |  SELECT list_position(ss, list_aggregate(ss, 'max')) - 1 AS cell
           |  FROM (SELECT $scores AS ss
           |        FROM (SELECT list_transform(ev, x -> -x) AS ev FROM v))),
           |cells AS (SELECT UNNEST($cellIds) AS cell),
           |cb AS (SELECT cell, COUNT(*) AS nb FROM b GROUP BY 1),
           |ca AS (SELECT cell, COUNT(*) AS na FROM a GROUP BY 1),
           |led AS (SELECT cells.cell, COALESCE(nb, 0) AS nb,
           |    COALESCE(na, 0) AS na
           |  FROM cells LEFT JOIN cb USING (cell)
           |  LEFT JOIN ca USING (cell)),
           |tot AS (SELECT SUM(nb + na) AS n,
           |    MAX(CASE WHEN (nb + na) * $k > 4 * (SELECT SUM(nb + na)
           |      FROM led) THEN 1 ELSE 0 END) AS hot_any
           |  FROM led)
           |SELECT CAST(led.cell AS INT) AS cell,
           |  CAST(nb AS BIGINT) AS n_base, CAST(na AS BIGINT) AS n_new,
           |  CAST(nb + na AS BIGINT) AS n_total,
           |  CAST(CASE WHEN (nb + na) * $k > 4 * n THEN 1 ELSE 0 END
           |    AS BIGINT) AS hot,
           |  CAST(CASE WHEN hot_any = 1 OR n > ${2L * k * 512L}
           |    THEN 1 ELSE 0 END AS BIGINT) AS needs_refit
           |FROM led, tot ORDER BY led.cell""".stripMargin
    }.toMap
  }

  /** q80's oracle: the run's waterfilled rates inlined as literals over
    * the q66 md5-uniform, null source on its own branch. Same
    * sole-dir rule as the other run-state oracles. */
  private def q80OracleSql: Map[String, String] = {
    mixRatesState.sole.map { rates =>
      val cases = rates.collect { case (Some(s0), r) =>
        s"WHEN source = '${s0.replace("'", "''")}' THEN $r" }.mkString(" ")
      val nullRate = rates.getOrElse(None, 0.0)
      "q80_temperature_mix" ->
        s"""WITH h AS (SELECT doc_id, source,
           |  CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) >> 33 AS DOUBLE)
           |    / 2147483648.0 AS u
           |  FROM documents)
           |SELECT doc_id, source FROM h
           |WHERE u < CASE WHEN source IS NULL THEN $nullRate $cases
           |  ELSE 0.0 END
           |ORDER BY doc_id""".stripMargin
    }.toMap
  }

  /** q76's oracle, generated from the merges the run actually learned:
    * the identical bracketed replace-fold replayed as a recursive CTE (one
    * iteration per merge rank). Same sole-dir rule as [[q39OracleSql]] —
    * exactly one fit dir, else omit (rows-only fallback). Single quotes in
    * learned symbols are SQL-escaped by doubling. */
  private def q76OracleSql: Map[String, String] = {
    // an empty merge table (degenerate corpus) would make the VALUES list
    // empty SQL — omit and fall back to rows-only
    bpeState.sole.filter(_.rules.nonEmpty).map { m =>
      def esc(s: String) = s.replace("'", "''")
      val n = m.rules.size
      val vals = m.rules.zipWithIndex.map { case ((a, b), i) =>
        s"(${i + 1}, '${esc(s"[$a][$b]")}', '${esc(s"[$a$b]")}')"
      }.mkString(",\n    ")
      "q76_bpe_tokenize" ->
        s"""WITH RECURSIVE m(k, pat, rep) AS (VALUES
           |    $vals),
           |t AS (
           |  SELECT doc_id, regexp_replace(lower(text), '[\\[\\]]', '', 'g') AS txt
           |  FROM documents WHERE text IS NOT NULL),
           |enc AS (
           |  SELECT doc_id, COALESCE(array_to_string(
           |    list_transform(list_filter(string_split(txt, ' '), x -> len(x) > 0),
           |      w -> array_to_string(list_transform(range(1, len(w) + 1),
           |             i -> '[' || w[i:i] || ']'), '')),
           |    ' '), '') AS s
           |  FROM t),
           |it AS (
           |  SELECT doc_id, s, 0 AS k FROM enc
           |  UNION ALL
           |  SELECT it.doc_id, replace(it.s, m.pat, m.rep), it.k + 1
           |  FROM it JOIN m ON m.k = it.k + 1),
           |fin AS (
           |  SELECT doc_id,
           |    replace(replace(replace(replace(s, '] [', ']['), '][', ' '), '[', ''), ']', '') AS bpe_tokens
           |  FROM it WHERE k = $n)
           |SELECT doc_id, bpe_tokens,
           |  CASE WHEN length(bpe_tokens) = 0 THEN CAST(0 AS BIGINT)
           |       ELSE CAST(len(string_split(bpe_tokens, ' ')) AS BIGINT) END AS n_bpe
           |FROM fin ORDER BY doc_id""".stripMargin
    }.toMap
  }
}
