package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, DedupIndex, Similarity, TextStats}
import graft.ops.BronzeSilver
import graft.sources.Tables

/** Weak-scaling evidence harness: replicate the sf fixtures `factor`×
  * (fresh ids, salted doc text so near-dup structure stays realistic
  * instead of every doc gaining `factor` exact clones), then time the
  * heavy operator paths at both scales. If an operator's shape is right —
  * bucketed candidates, broadcast dims, no n² — wall time grows ~linearly
  * in rows; a super-linear blow-up exposes a hidden all-pairs/replication
  * stage. Results land in SCALING.md.
  *
  * Usage: runMain graft.Scaling [srcSfDir] [factor] [workDir]
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else "/tmp/graft_scale"
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus, cpus)

    // Conf toggle that RESTORES the prior value (not unset) — a plain
    // unset in a finally clobbers any operator-set gate on the shared
    // session for the rest of the run (r17 ADVICE). Used by the rows
    // that pin the graph gates off to keep distributed-path evidence.
    def withConf[T](key: String, value: String)(body: => T): T = {
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body
      finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    // ---- synthesize factor× tables with fresh ids ----------------------
    val e = spark.read.parquet(s"$src/events.parquet")
    (0 until factor).map { i =>
      e.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(i * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val d = spark.read.parquet(s"$src/documents.parquet")
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    (0 until factor).map { i =>
      // per-replica seeded alphabet permutation: every k-gram/shingle/
      // token hash differs across replicas, so the corpus is factor×
      // DISTINCT documents with the planted near-dup structure intact
      // within each replica — true weak scaling. A caesar ROTATION here
      // wraps at factor > 26 (shift i%26 == shift 0 makes replicas 26+
      // byte-identical clones of the first ones — exactly the clique
      // contamination this synthesis exists to avoid); a seeded
      // permutation draw has no wrap. (An appended-token salt instead
      // leaves fingerprints shared and turns every doc into a factor-way
      // near-clone clique: pair counts then grow quadratically by
      // design, which measures clique behavior, not scaling.)
      val shuffled =
        if (i == 0) alphabet
        else new scala.util.Random(2000 + i)
          .shuffle(alphabet.toList).mkString
      d.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        translate(col("text"), alphabet, shuffled).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until factor).map { i =>
      // per-replica coordinate permutation — the embedding analogue of the
      // caesar shift: norms and WITHIN-replica dot products are preserved
      // (permutations are orthogonal), so each replica keeps the base
      // corpus's neighbor structure, while CROSS-replica cosines are those
      // of unrelated random vectors — factor× distinct vectors, no
      // clone cliques. Replica 0 is the identity (base corpus intact).
      val perm =
        if (i == 0) (0 until 64).toList
        else new scala.util.Random(1000 + i).shuffle((0 until 64).toList)
      emb.select((col("vec_id") + lit(10000000L * i)).as("vec_id"),
        array(perm.map(j => col("embedding").getItem(j)): _*).as("embedding"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // factor× lineitem with fresh order AND part keys: the part catalog
    // grows with the data (the q207 Pareto frame is per-part — weak
    // scaling must grow the windowed frame, not just re-weigh it), while
    // category structure (partkey % 100) and the ship-date split stay
    // intact for the q226 bridge
    // factor× orders with fresh customer keys: the q231 RFM frame is
    // per-customer, so weak scaling must grow the ranked entity set
    val ord = spark.read.parquet(s"$src/orders.parquet")
    (0 until factor).map { i =>
      ord.select(
        (col("o_orderkey") + lit(i * 1000000000L)).as("o_orderkey"),
        (col("o_custkey") + lit(i * 10000000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until factor).map { i =>
      li.select((col("l_orderkey") + lit(i * 1000000000L)).as("l_orderkey"),
        (col("l_partkey") + lit(i * 10000000L)).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // ---- the heavy operator paths --------------------------------------
    def bronzeSilver(dir: String): DataFrame = {
      val ev = Tables.wide(spark, dir, "events")
      BronzeSilver.toSilver(
        BronzeSilver.skeletonFromEvents(ev),
        BronzeSilver.commonFromEvents(ev),
        BronzeSilver.syntheticFields)
    }
    def minhash(dir: String): DataFrame =
      Dedup.minhashLsh(Tables(spark, dir, "documents"), "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.6)
    def simhash(dir: String): DataFrame =
      Dedup.simhashBandedPairs(Tables(spark, dir, "documents"),
        "doc_id", "text", radius = 6)
    def rolling(dir: String): DataFrame =
      // q46's selectivity: the fixture's templated docs share enough
      // 8-grams that full-corpus pair enumeration is dense by
      // construction; the subsample keeps the planted structure
      Dedup.rollingDedupPairs(
        Tables(spark, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", minShared = 8)
    def rollingCapped(dir: String): DataFrame =
      // the stop-fingerprint cap (drop fingerprints in > 50 docs): the
      // recommended production guard against boilerplate-driven quadratic
      // buckets — see SCALING.md capped-vs-uncapped row
      Dedup.rollingDedupPairs(
        Tables(spark, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", minShared = 8, maxFpDocFreq = Some(50L))
    def prefixJaccard(dir: String): DataFrame =
      // q34's pair stage: exact prefix-filtered inverted-index join. Its
      // fixture-scale cost is fixed stage latency; THIS row is the
      // evidence that the cost grows with rare-shingle bucket sizes, not
      // doc-pairs² (the crossJoin it replaced would grow 100× for 10×)
      Dedup.prefixJaccardPairs(
        Tables(spark, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleK = 1, threshold = 0.8)
    def cosine(dir: String): DataFrame = {
      val all = Tables(spark, dir, "embeddings")
      Similarity.cosineTopK(
        all.filter(col("vec_id") % 200 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        all.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        k = 5)
    }
    def tfidfish(dir: String): DataFrame =
      Tables(spark, dir, "documents")
        .select(explode(TextStats.tokens(lower(col("text")))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
    def decontaminate(dir: String): DataFrame = {
      // q73's shape: every-17th doc stands in for the benchmark set; the
      // inverted-index join's work is Σ bucket² over shared shingles, so
      // the row evidences ~linear growth (benchmark side grows with the
      // corpus here — the worst case; a real eval set is fixed-size)
      val docs = Tables(spark, dir, "documents")
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      Dedup.contaminationPairs(docs, "doc_id", "text",
        bench, "bench_id", "bench_text", shingleK = 3, minShared = 3)
        .filter(col("doc") =!= col("bench_doc"))
    }

    // q76's apply path with a FIXED merge table (fit once on the base
    // corpus — a deployed tokenizer is a constant, like GPT-2's vocab):
    // the row evidences that the bracketed replace-fold is a stateless
    // projection, ~linear in rows with zero shuffles
    lazy val bpeMerges = graft.llm.Bpe.fit(
      spark.read.parquet(s"$src/documents.parquet")
        .filter(col("text").isNotNull), "text", numMerges = 64)
    def bpeApply(dir: String): DataFrame =
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.llm.Bpe.applyBpe(col("text"), bpeMerges).as("toks"))

    def paraDedup(dir: String): DataFrame = {
      // q85's exact shape with a PLANTED corpus-wide boilerplate line
      // prepended to every doc — the hot-key adversary (one paragraph
      // with |corpus| occurrences, growing with the factor). The
      // min-struct keeper agg combines map-side, so the hot paragraph
      // never funnels through one task; this row is the measured
      // evidence (the row_number-window formulation it replaced routes
      // every copy to a single partition by construction).
      val docs = Tables(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat(lit("all rights reserved\n"), col("text")).as("text"))
      val paras = docs.select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("pos", "para")))
        .filter(length(trim(col("para"))) > 0)
      paras.groupBy("para")
        .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
        .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"),
          col("para"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x("para")), "\n").as("new_text"))
    }

    def ccnetBuckets(dir: String): DataFrame = {
      // q98's exact shape: evidence that EXACT tercile cuts stay
      // affordable as the corpus grows. Scoring scales with tokens; the
      // percentile aggregator's value→count state is bounded by the
      // 1e-6-quantized score domain, so the cut step's merge cost is
      // ~constant — the whole chain should track the linear token cost,
      // with no corpus-sized driver or single-task collection anywhere.
      val docs = Tables(spark, dir, "documents")
        .filter(col("text").isNotNull)
      val vocab = graft.llm.UnigramLm.fit(docs, "text", vocabSize = 20)
      graft.llm.UnigramLm.qualityBuckets(
        graft.llm.UnigramLm.score(docs, "doc_id", "text", vocab), "mean_p")
    }

    def spanScrub(dir: String): DataFrame = {
      // q99's exact shape at a benchmark that grows with the corpus
      // (every-17th doc — worst case; a real eval set is fixed-size).
      // The row evidences the one-tokenize/no-token-shuffle rework:
      // cost tracks the single tokenize + doc-repartition, with the
      // shingle-join work ~ Σ bucket² over shared shingles.
      val docs = Tables(spark, dir, "documents")
        .filter(col("text").isNotNull)
      graft.llm.Dedup.removeContaminatedSpans(
        docs.filter(col("doc_id") % 17 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 17 === 0)
          .select(col("text").as("bench_text")),
        "bench_text", k = 3)
    }

    def classRoute(dir: String): DataFrame = {
      // q100's exact shape: per-source model fit (one melt+groupBy pass
      // with the length-bin top-K prefilter) + argmax routing (one
      // explode, one broadcast model join, K-row-per-doc window). Cost
      // should track the two tokenize passes ~linearly; the window input
      // is docs×K rows, never the token stream.
      val docs = Tables(spark, dir, "documents")
        .filter(col("text").isNotNull)
      val m = graft.llm.UnigramLm.fitClassVocab(docs, "source", "text", 20)
      graft.llm.UnigramLm.routeByClass(docs, "doc_id", "text", m)
    }

    def sourceOverlap(dir: String): DataFrame =
      // q102's exact shape: the shingle-keyed self-join after per-group
      // distinct is structurally capped at C(G,2) pairs per shingle
      // value, so cost should track the distinct (shingle) volume, not
      // any pairwise blowup — this row is the measured evidence.
      Dedup.crossGroupOverlap(
        Tables(spark, dir, "documents").filter(col("text").isNotNull),
        "source", "text", k = 3)

    def snapshotDiff(dir: String): DataFrame = {
      // q104's exact shape: one id-keyed shuffle join carrying 32-hex
      // digests — cost should track rows, never text volume
      val docs = Tables(spark, dir, "documents")
      graft.llm.Dedup.snapshotDiff(
        docs.filter(col("doc_id") % 7 =!= 3),
        docs.filter(col("doc_id") % 7 =!= 5), "doc_id", "text")
    }

    def htmlStrip(dir: String): DataFrame =
      // q106's kernel over the raw text (no template wrap): a pure
      // scan-bound projection — the row evidences zero-shuffle linearity
      Tables(spark, dir, "documents")
        .select(col("doc_id"),
          graft.llm.TextStats.stripMarkup(col("text")).as("clean"))

    def selfsubScrub(dir: String): DataFrame =
      // q112's exact shape: the window histogram carries EVERY k-gram of
      // the corpus through one groupBy (df >= 2 filter), then joins back
      // — the row evidences that cost tracks window volume, with the
      // join-back ~ Σ bucket² over genuinely duplicated windows (the 10×
      // synthesis keeps per-replica planted dups, so duplicate density
      // is constant and the hit volume scales linearly)
      graft.llm.Dedup.selfSubstringScrub(
        Tables(spark, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "text", k = 5, maxShingleDocFreq = Some(64L))

    def gifFrames(dir: String): DataFrame = {
      // q113's shape: per-doc animated-GIF synthesize (real LZW per
      // frame) + decodeFrames + strided luma stats — per-row codec,
      // zero shuffle, like jpeg_decode
      import graft.multimodal.{Binary, Gif, Png}
      import spark.implicits._
      val media = Tables(spark, dir, "documents").select(col("doc_id"))
        .as[Long].mapPartitions { it =>
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
      Binary.gifFrames(media, stride = 2).filter(col("ok")).toDF()
    }

    def jpegDecode(dir: String): DataFrame = {
      // q108's shape: per-doc DC-only JPEG synthesize + REAL decode in
      // one mapPartitions pass, rasters reduced to stats in-partition —
      // the row evidences per-row-codec linearity with zero shuffle
      import graft.multimodal.{Binary, Jpeg}
      import spark.implicits._
      val media = Tables(spark, dir, "documents").select(col("doc_id"))
        .as[Long].mapPartitions { it =>
          it.map { id =>
            val w = 10 + (id % 23).toInt
            val h = 9 + (id % 17).toInt
            val lumaDc = (bR: Int, bC: Int) => ((id + 3 * bR + 5 * bC) % 24).toInt
            val payload =
              if (id % 2 == 0)
                Jpeg.encodeDcOnly(w, h,
                  Seq(Jpeg.DcComp(1, 1, 0, 0, 0, lumaDc)),
                  Map(0 -> Array.fill(64)(16)))
              else
                Jpeg.encodeDcOnly(w, h,
                  Seq(Jpeg.DcComp(2, 2, 0, 0, 0, lumaDc),
                    Jpeg.DcComp(1, 1, 1, 1, 1, (_, _) => (id % 5).toInt),
                    Jpeg.DcComp(1, 1, 1, 1, 1, (_, _) => (id % 7).toInt)),
                  Map(0 -> Array.fill(64)(16), 1 -> Array.fill(64)(17)))
            Binary.MediaRow(id, payload, "image", "jpeg")
          }
        }
      Binary.decodeImage(media).filter(col("ok")).toDF()
    }

    def jpegProgDecode(dir: String): DataFrame = {
      // q132's shape: the same synthesis through the PROGRESSIVE encoder
      // and the multi-scan decoder — per-row cost is a constant factor
      // over baseline (each scan revisits the block grid), never
      // super-linear in docs
      import graft.multimodal.{Binary, Jpeg}
      import spark.implicits._
      val media = Tables(spark, dir, "documents").select(col("doc_id"))
        .as[Long].mapPartitions { it =>
          it.map { id =>
            val w = 10 + (id % 23).toInt
            val h = 9 + (id % 17).toInt
            def blk(dc: (Int, Int) => Int): (Int, Int) => Array[Int] =
              (bR, bC) => { val b = new Array[Int](64); b(0) = dc(bR, bC); b }
            val lumaDc = (bR: Int, bC: Int) => ((id + 3 * bR + 5 * bC) % 24).toInt
            val payload =
              if (id % 2 == 0)
                Jpeg.encodeProgressive(w, h,
                  Seq(Jpeg.CoefComp(1, 1, 0, 0, 0, blk(lumaDc))),
                  Map(0 -> Array.fill(64)(16)), Jpeg.standardScript(1))
              else
                Jpeg.encodeProgressive(w, h,
                  Seq(Jpeg.CoefComp(2, 2, 0, 0, 0, blk(lumaDc)),
                    Jpeg.CoefComp(1, 1, 1, 1, 1, blk((_, _) => (id % 5).toInt)),
                    Jpeg.CoefComp(1, 1, 1, 1, 1, blk((_, _) => (id % 7).toInt))),
                  Map(0 -> Array.fill(64)(16), 1 -> Array.fill(64)(17)),
                  Jpeg.standardScript(3))
            Binary.MediaRow(id, payload, "image", "jpeg")
          }
        }
      Binary.decodeImage(media).filter(col("ok")).toDF()
    }

    def rjHot(dir: String, saltBuckets: Int): DataFrame = {
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val pts = ev.select(col("event_id").as("pid"),
        when(col("event_id") % 5 === 0, pmod(col("event_id"), lit(100)))
          .otherwise(pmod(col("event_id") * 37, lit(1000000)))
          .cast("double").as("x"))
      // replica 0 only (synthesized replicas offset event_id by i*1e8):
      // the interval cohort stays FIXED as the factor grows
      val ivs = ev.filter(col("event_id") < 100000000L &&
          col("event_id") % 23 === 0)
        .select(col("event_id").as("iid"),
          when(col("event_id") % 115 === 0, lit(0.0))
            .otherwise(pmod(col("event_id") * 91, lit(1000000)).cast("double"))
            .as("lo"))
        .withColumn("hi", col("lo") + 120.0)
      // shuffle_hash hint: at fixture scale AQE would BROADCAST the small
      // interval cohort, which already neutralizes bucket skew (points
      // never shuffle). The 100 TB case this row measures is the
      // interval side too big to broadcast — a shuffled join, where the
      // hot bucket's candidates all meet in ONE reduce task. AQE's skew
      // split does NOT rescue it there: its trigger is partition INPUT
      // bytes (256MB and 5x median), and the hot bucket's input is a few
      // MB — the explosion is in join OUTPUT rows, which only the salt
      // spreads. The hint reproduces that physical shape honestly.
      graft.ops.RangeJoin
        .pointInInterval(pts, "x", ivs.hint("shuffle_hash"), "lo", "hi",
          100.0, saltBuckets)
        .groupBy(col("iid")).agg(count(lit(1)).as("n_pts"))
    }

    // fit-once ANN models for the ivfpq probe row: both scales probe
    // the SAME artifacts (the base replica's data is identical in the
    // src and synthesized dirs by construction — replica 0 is the
    // identity), so the timed body is encode + probe only
    lazy val ivfpqModels: (graft.llm.IvfIndex.Model, graft.llm.Pq.Model) = {
      val base = spark.read.parquet(s"$src/embeddings.parquet")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      (graft.llm.IvfIndex.fit(
        base.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        nlist = 64, fitFraction = 1.0),
        graft.llm.Pq.fit(base, "embedding"))
    }

    val all: Seq[(String, String => DataFrame)] = Seq(
      "bronze_silver" -> bronzeSilver, "minhash_lsh" -> minhash,
      "simhash_banded" -> simhash, "rolling_dedup" -> rolling,
      "rolling_capped" -> rollingCapped,
      "prefix_jaccard" -> prefixJaccard,
      "cosine_topk" -> cosine, "token_df" -> tfidfish,
      "decontaminate" -> decontaminate, "bpe_apply" -> bpeApply,
      "para_dedup" -> paraDedup, "ccnet_buckets" -> ccnetBuckets,
      "span_scrub" -> spanScrub, "class_route" -> classRoute,
      "source_overlap" -> sourceOverlap, "snapshot_diff" -> snapshotDiff,
      "html_strip" -> htmlStrip, "jpeg_decode" -> jpegDecode,
      "jpeg_prog" -> jpegProgDecode,
      "selfsub_scrub" -> selfsubScrub, "gif_frames" -> gifFrames,
      // round-10 ops measured through their query bodies (same package;
      // the scaled dir carries the same table layout)
      "url_canon" -> (dir => SparkEntry.queries("q115_url_canon")(spark, dir)),
      "url_dedup" -> (dir => SparkEntry.queries("q116_url_dedup")(spark, dir)),
      "sparse_topk" -> (dir => SparkEntry.queries("q118_sparse_topk")(spark, dir)),
      "warc_extract" -> (dir => SparkEntry.queries("q120_warc_extract")(spark, dir)),
      // round-12 per-row codecs + the windowed SCD2 build: all must
      // stay scan-bound (zip: synthesize->walk->inflate per doc; mpeg:
      // header walk per doc; scd2: one hash partitioning of events)
      "zip_walk" -> (dir => SparkEntry.queries("q154_zip_walk")(spark, dir)),
      "mpeg_probe" -> (dir => SparkEntry.queries("q153_mpeg_probe")(spark, dir)),
      "scd2" -> (dir => SparkEntry.queries("q158_scd2")(spark, dir)),
      // round-12 analytics family: all single-Exchange window shapes —
      // wall must track the event volume, not blow up on the sort
      "funnel" -> (dir => SparkEntry.queries("q176_funnel")(spark, dir)),
      "peak_concurrency" ->
        (dir => SparkEntry.queries("q183_peak_concurrency")(spark, dir)),
      "session_paths" ->
        (dir => SparkEntry.queries("q182_session_paths")(spark, dir)),
      // q179's shape: the per-stratum rank window has parallelism
      // bounded by #strata (fixed here while rows grow 10×) — this row
      // EXISTS to measure that single-reducer-per-stratum tail
      "stratified" ->
        (dir => SparkEntry.queries("q179_stratified")(spark, dir)),
      // round-12 second wave (events-backed — the synthesized dir
      // carries only events/documents/embeddings): the constant-factor
      // explode join and the sliding sketch must track event volume
      "cidr_match" ->
        (dir => SparkEntry.queries("q210_cidr_match")(spark, dir)),
      "sliding_hll" ->
        (dir => SparkEntry.queries("q205_sliding_hll")(spark, dir)),
      // monitoring family: KS rides the DISTINCT-VALUE table (domain-
      // bounded), the acquisition split rides entity×day rows — both
      // must stay sublinear in raw events
      "ks_drift" ->
        (dir => SparkEntry.queries("q224_ks_drift")(spark, dir)),
      "new_returning" ->
        (dir => SparkEntry.queries("q223_new_returning")(spark, dir)),
      // constant-state KS: per-day sketches merge to two 256-long
      // arrays — wall must track the scan, state never grows with rows
      "ks_hist" ->
        (dir => SparkEntry.queries("q227_ks_hist")(spark, dir)),
      // q207's distributed Pareto prefix sum over a part catalog that
      // GROWS with the data (fresh part keys per replica): wall must
      // track #parts — the single-task window it replaced would
      // serialize the whole catalog through one sort
      "abc_pareto" ->
        (dir => SparkEntry.queries("q207_abc_pareto")(spark, dir)),
      // q226's bridge: one conditional-aggregation scan over factor×
      // lines into a FIXED 100-category frame — must stay scan-bound
      "pv_bridge" ->
        (dir => SparkEntry.queries("q226_pv_bridge")(spark, dir)),
      // q228's operator on the factor× event stream: global NTILE(100)
      // by (value desc, event_id) through the rank decomposition —
      // wall must track rows; the bare-window form would single-task
      // the whole sort
      "global_rank" -> (dir => {
        // NaN filter honors PrefixSum's non-null valueCol precondition:
        // floor(NaN*1e6+0.5).cast(long) is NULL, which would silently
        // land in bucket 0 with undefined ordering
        val ev = spark.read.parquet(s"$dir/events.parquet")
          .filter(col("event_id").isNotNull && col("value").isNotNull &&
            !isnan(col("value")))
          .select(col("event_id"),
            floor(col("value") * 1e6 + 0.5).cast("long").as("v6"))
        graft.ops.PrefixSum.ntileDesc(ev, "v6", "event_id", "tile", 100)
          .groupBy(col("tile"))
          .agg(count(lit(1)).as("n"), sum(col("v6")).as("s6"))
      }),
      // round-13 analytics wave: attribution rides lookback-bounded
      // RANGE frames (one user Exchange), the retention triangle rides
      // entity×weeks rows, key-skew and RFM ride the rank
      // decomposition over entity-sized frames that GROW with the data
      "attribution" ->
        (dir => SparkEntry.queries("q229_attribution")(spark, dir)),
      "cohort_retention" ->
        (dir => SparkEntry.queries("q230_cohort_retention")(spark, dir)),
      "key_skew" ->
        (dir => SparkEntry.queries("q232_key_skew")(spark, dir)),
      "rfm" -> (dir => SparkEntry.queries("q231_rfm")(spark, dir)),
      // q243's detector: per-(type, day) counts then two partitioned
      // windows over the day axis — wall must track the events scan;
      // per-key window state is bounded by the TIME axis, not volume
      "cusum" -> (dir => SparkEntry.queries("q243_cusum")(spark, dir)),
      // q244's fusion: the dense crossJoin carries a 20× query batch at
      // 10× corpus (both sides grow — the documented q19 posture) while
      // the lexical side is the shingle-index equi-join; candidate mass
      // must stay index-shaped, never all-pairs
      "rrf_hybrid" ->
        (dir => SparkEntry.queries("q244_rrf_hybrid")(spark, dir)),
      // q245's intersect-postings plan: posting lists grow linearly with
      // the corpus and the joins stay (doc, pos) equi-joins — wall must
      // track the posting-list scan
      "phrase_search" ->
        (dir => SparkEntry.queries("q245_phrase_search")(spark, dir)),
      // q246's estimator: per-user lifetime groupBy (grows with users),
      // then windows over the bounded duration domain
      "hazard" -> (dir => SparkEntry.queries("q246_hazard")(spark, dir)),
      // q247's resampler: R×n hash+ladder rows in one codegen stage,
      // (type, replicate) partial agg — wall must track the R× row scan
      // (the whole point of the Poisson bootstrap: no shuffle per
      // replicate, no second pass)
      "bootstrap" ->
        (dir => SparkEntry.queries("q247_bootstrap_ci")(spark, dir)),
      // q248's greedy: candidate stage grows with corpus×queries, the
      // unrolled rounds stay queries×10-sized — wall must track the
      // candidate stage, the rounds' share must shrink
      "mmr" -> (dir => SparkEntry.queries("q248_mmr_rerank")(spark, dir)),
      // q285: one map-side-combined basket census + a one-row rollup —
      // wall must track the lineitem scan
      "itemcf_ledger" ->
        (dir => SparkEntry.queries("q285_itemcf_cap_ledger")(spark, dir)),
      // q286: streaming per-day sketches (state = 256-long grid per open
      // window) + the rolling rescoring over the days×256 DOMAIN grid —
      // wall must track the replay scan, the grid is volume-invariant
      "rolling_drift" ->
        (dir => SparkEntry.queries("q286_rolling_drift")(spark, dir)),
      // q287: one scan + one explode, per-row slice/join over the token
      // array — embarrassingly parallel, wall tracks the corpus
      "rag_chunks" ->
        (dir => SparkEntry.queries("q287_rag_chunks")(spark, dir)),
      // q288: per-split aggregates + a one-row audit — wall tracks the
      // events scan, output is 3 rows at any volume
      "group_split" ->
        (dir => SparkEntry.queries("q288_group_split")(spark, dir)),
      // q289: users×K hash rows + one left join against positives —
      // wall tracks the pair-distinct, never catalog²
      "neg_sampling" ->
        (dir => SparkEntry.queries("q289_negative_sampling")(spark, dir)),
      // q292: both halves collapse map-side to ≤ 4×512 grid cells;
      // Brier/ECE terms are exact integers on the joined grid
      "brier_ece" ->
        (dir => SparkEntry.queries("q292_brier_ece")(spark, dir)),
      // q291: two chained as-of joins — fan-out bounded by per-key
      // density inside each TTL window; one window shuffle per view
      "multi_view_pit" ->
        (dir => SparkEntry.queries("q291_multi_view_features")(spark, dir)),
      // q290: facts collapse map-side to the (segment × 512-bin) grid;
      // AP rides partitioned windows over ≤ 2048 grid rows
      "pr_auc" ->
        (dir => SparkEntry.queries("q290_pr_auc")(spark, dir)),
      // the IVFPQ production twins: same fusion/greedy tails, candidate
      // stage swapped from the corpus-wide exact cosine to IVF-pruned
      // ADC over PQ codes — the 100 TB candidate path; their ratios
      // against the exact rrf_hybrid/mmr rows ARE the measured case for
      // the swap (the corpus side carries m 4-bit codes, no vector join)
      "rrf_prod" ->
        (dir => SparkEntry.prodVariants("q244_rrf_hybrid__prod")(spark, dir)),
      "mmr_prod" ->
        (dir => SparkEntry.prodVariants("q248_mmr_rerank__prod")(spark, dir)),
      // q249's sketch: the sample stage is a per-group top-k over the
      // scan (k fixed), the exact rider grows with the value domain —
      // wall must track the scan, the sample stays 1024/group
      "sample_quantile" ->
        (dir => SparkEntry.queries("q249_sample_quantile")(spark, dir)),
      // q250's monitor: streaming state per type is open days + O(1)
      // accumulators — wall must track the batch-replay scan
      "stream_cusum" ->
        (dir => SparkEntry.queries("q250_stream_cusum")(spark, dir)),
      // q251: positional bigram join + vocab²-bounded scoring
      "collocations" ->
        (dir => SparkEntry.queries("q251_collocations")(spark, dir)),
      // q252: per-type day-axis windows — decomposition cost is the
      // count scan, like cusum
      "seasonal" ->
        (dir => SparkEntry.queries("q252_seasonal")(spark, dir)),
      // q253: fingerprint groupBy + prefix-index pairs + CC — the
      // whole-corpus curation pass; wall must track the corpus scan
      "cascade" ->
        (dir => SparkEntry.queries("q253_dedup_cascade")(spark, dir)),
      // q254: bounded lag grid over the day axis
      "lag_xcorr" ->
        (dir => SparkEntry.queries("q254_lag_xcorr")(spark, dir)),
      // q255's shape: the O(n) moment identity — wall must track the ONE
      // corpus scan; the per-dimension shuffle stays labels×dims. The
      // replica generator drops `label`, so the class is re-derived from
      // vec_id (same pipeline downstream of the label column)
      "embed_diversity" -> (dir => {
        val d38 = "decimal(38,0)"
        val v = spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
          .withColumn("label", (col("vec_id") % 10).cast("int"))
          .withColumn("nrm", graft.llm.Similarity.l2Norm(col("embedding")))
          .filter(col("nrm") > 0)
          .withColumn("u6", expr(
            "transform(embedding, x -> CAST(FLOOR(x / nrm * 1e6 + 0.5)" +
              " AS BIGINT))"))
          .withColumn("usq", expr(
            "aggregate(u6, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
        val perClass = v.groupBy(col("label"))
          .agg(count(lit(1)).as("n"), sum(col("usq").cast(d38)).as("un"))
        val ssq = v.select(col("label"), posexplode(col("u6")))
          .groupBy(col("label"), col("pos"))
          .agg(sum(col("col")).as("s6"))
          .groupBy(col("label"))
          .agg(sum(col("s6").cast(d38) * col("s6").cast(d38)).as("ssq"))
        perClass.join(ssq, Seq("label")).filter(col("n") >= 2)
          .select(col("label"), col("n"),
            (floor((col("ssq") - col("un")).cast("double") /
              (col("n").cast("double") * (col("n") - 1).cast("double")) /
              1e12 * 1e6 + 0.5) / 1e6).as("mean_cos"))
      }),
      // q234's shape: one orders⋈lineitem fact join (both sides grow
      // with the data), then domain-bounded windows over the
      // (priority × distinct-delay) table — wall must track the join
      // scan (~linear), never the order count
      "ship_sla" ->
        (dir => SparkEntry.queries("q234_ship_sla")(spark, dir)),
      // q193's skyline sweep through the running-max decomposition —
      // the r13 latent finding was band collapse on a narrow domain;
      // quantile buckets must keep wall tracking the scan
      "skyline" ->
        (dir => SparkEntry.queries("q193_skyline")(spark, dir)),
      // q263's scoring tail over a FIXED query batch (base replica only
      // — the q19/pq_adc posture: a query batch that scaled WITH the
      // corpus would grow dense pair work quadratically by design):
      // corpus grows factor×, wall must track the corpus scan. Labels
      // re-derived from vec_id (replicas drop the label column).
      "retrieval_eval" -> (dir => {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
          .withColumn("label", (col("vec_id") % 10).cast("int"))
        val queries = emb
          .filter(col("vec_id") % 20 === 0 && col("vec_id") < 10000000L)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = emb.select(col("vec_id").as("nid"),
          col("embedding").as("nvec"))
        val topk = Similarity.cosineTopK(queries, corpus, k = 10)
        val nLab = emb.select(col("vec_id").as("nid"),
          col("label").as("nlabel"))
        val qLab = emb.select(col("vec_id").as("qid"),
          col("label").as("qlabel"))
        topk.join(nLab, "nid").join(broadcast(qLab), "qid")
          .groupBy(col("qid"))
          .agg(sum(when(col("nlabel") === col("qlabel"), 1L)
            .otherwise(0L)).as("hits"))
          .groupBy().agg(count(lit(1)).as("n_q"), sum(col("hits")).as("h"))
      }),
      // q264: one map-side groupBy over sources — wall must track the
      // documents scan, the agreement grid stays |sources|-sized
      "kappa" ->
        (dir => SparkEntry.queries("q264_rater_kappa")(spark, dir)),
      // q265: both order statistics ride the (segment × score-domain)
      // grid — the grid is bounded by the VALUE DOMAIN, so 10× events
      // collapse map-side into the same frame; wall must track the scan
      "conformal" ->
        (dir => SparkEntry.queries("q265_conformal")(spark, dir)),
      // q266: wall must track the TOUCHED-group history rescan + delta,
      // never the untouched-majority passthrough (which reads only the
      // stored |groups|-row view) — the selective-refresh claim itself
      "mv_refresh" ->
        (dir => SparkEntry.queries("q266_mv_refresh")(spark, dir)),
      // q267: one user_id shuffle (sessionization), user-local windows,
      // |types|³-bounded path grid — wall must track the events scan
      "path_trigrams" ->
        (dir => SparkEntry.queries("q267_path_trigrams")(spark, dir)),
      // q268: pair work is Σ|basket|² (per-order line cap bounds each
      // term), so 10× orders ⇒ ~10× pairs; the top-k window partitions
      // per item over the pair table — wall must track the pair count,
      // never catalog²
      "item_cf" ->
        (dir => SparkEntry.queries("q268_item_cf")(spark, dir)),
      // q268's pipeline with a PLANTED 10k-item bot basket unioned in
      // before the cap: ItemCf.cappedBaskets must exclude it, so wall
      // must MATCH the item_cf row (its |b|² = 10⁸ single-key pair rows
      // never materialize; uncapped, this op would be a one-task
      // 100M-row shuffle key — the skew class the cap exists to kill)
      "item_cf_hot" -> (dir => {
        val raw = spark.read.parquet(s"$dir/lineitem.parquet")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
          .distinct()
        val hot = spark.range(10000).select(lit(999999999999L).as("bk"),
          (col("id") + 8000000000L).as("item"))
        val li = graft.ops.ItemCf.cappedBaskets(raw.unionByName(hot))
        graft.ops.ItemCf.pairScores(li)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("ia"))
              .orderBy(col("cos").desc, col("ib"))).cast("long"))
          .filter(col("rank") <= 5)
      }),
      // q274: the ItemCF pipeline plus four metric branches over the
      // persisted lists; wall must track the pair table like item_cf
      "rec_eval" ->
        (dir => SparkEntry.queries("q274_rec_eval")(spark, dir)),
      // q275: user-local LEAD + the (pair × ≤7200 s gap domain) grid —
      // wall must track the events scan
      "dwell" ->
        (dir => SparkEntry.queries("q275_dwell_times")(spark, dir)),
      // q276: two map-side groupBys + a 4-row broadcast — wall must
      // track the events scan, the metric frame is |segments| rows
      "regression_eval" ->
        (dir => SparkEntry.queries("q276_regression_eval")(spark, dir)),
      // q277: per-round frontier×edges equi-join + min-groupBy on a
      // FIXED 311-node domain — edge volume grows with docs, rounds
      // fixed; wall must track per-round join cost ~linearly. This
      // row's purpose is evidence for the DISTRIBUTED relaxation path —
      // disable the broadcast-scale local gate (the pagerank/cc
      // localMax=0 discipline; the mod-311 edge set is under the gate
      // at every scale)
      "sssp" ->
        (dir => withConf("spark.graft.linkgraph.localMax", "0") {
          SparkEntry.queries("q277_sssp")(spark, dir)
        }),
      // q278: facts collapse to the (type × day) grid; the decayed
      // scoring rides the grid — wall must track the events scan
      "decayed_pop" ->
        (dir => SparkEntry.queries("q278_decayed_popularity")(spark, dir)),
      // q279: per-user groupBy grows with users, deciles ride the
      // PrefixSum decomposition — wall must track the user frame,
      // never a single-task NTILE
      "uplift" ->
        (dir => SparkEntry.queries("q279_uplift_qini")(spark, dir)),
      // q280: the (type × quantized-value) grid bounds every window —
      // wall must track the events scan
      "trimmed_mean" ->
        (dir => SparkEntry.queries("q280_trimmed_mean")(spark, dir)),
      // q281: one fact collapse to (type × day × segment), everything
      // after rides grids — wall must track the events scan
      "anomaly_contrib" ->
        (dir => SparkEntry.queries("q281_anomaly_contrib")(spark, dir)),
      // q282: the day-axis OLS grid — FLAT like cusum/seasonal
      "capacity" ->
        (dir => SparkEntry.queries("q282_capacity_forecast")(spark, dir)),
      // q283's shape: the fixed-anchor retrieval posture; voting and
      // confusion ride anchors×k / |labels|² grids. Labels re-derived
      // from vec_id (replicas drop the label column).
      "knn_eval" -> (dir => {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
          .withColumn("label", (col("vec_id") % 10).cast("int"))
        val queries = emb
          .filter(col("vec_id") % 20 === 0 && col("vec_id") < 10000000L)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = emb.select(col("vec_id").as("nid"),
          col("embedding").as("nvec"))
        val topk = Similarity.cosineTopK(queries, corpus, k = 10)
        val votes = topk
          .join(emb.select(col("vec_id").as("nid"),
            col("label").as("nlabel")), "nid")
          .groupBy(col("qid"), col("nlabel"))
          .agg(count(lit(1)).as("v"))
        votes
          .withColumn("rn", org.apache.spark.sql.functions.row_number()
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("qid"))
              .orderBy(col("v").desc, col("nlabel"))))
          .filter(col("rn") === 1)
          .groupBy(col("nlabel")).agg(count(lit(1)).as("n"))
      }),
      // q284: one map-side groupBy to the (source × lang) grid
      "simpson" ->
        (dir => SparkEntry.queries("q284_simpson_diversity")(spark, dir)),
      // q269: facts collapse map-side to the |ctx|·|actions| cell grid
      // — wall must track the events scan, the estimator rides ≤20
      // rows whatever the volume
      "ips" ->
        (dir => SparkEntry.queries("q269_ips_offpolicy")(spark, dir)),
      // q270: per-fold contingency-grid AUC — the grid is (fold ×
      // score-domain)-bounded, so wall must track the events scan
      "cv_folds" ->
        (dir => SparkEntry.queries("q270_cv_folds")(spark, dir)),
      // q272: streaming state is observed (window × 512-bucket) cells —
      // domain-bounded per window; wall must track the stream replay
      "stream_auc" ->
        (dir => SparkEntry.queries("q272_stream_auc")(spark, dir)),
      // q103: session-window state is one open (user, session) span per
      // key — merged and evicted by the watermark, never the event
      // backlog; wall must track the stream replay
      "sessions" ->
        (dir => SparkEntry.queries("q103_stream_session")(spark, dir)),
      // q77: TWO chained stateful operators (interval join + windowed
      // as-of max_by); join state is watermark-bounded to the 6h
      // lookback band per key — the heaviest streaming state path
      "stream_asof" ->
        (dir => SparkEntry.queries("q77_stream_asof")(spark, dir)),
      // round 17: the stream-stream interval-join family. State per
      // side is one 1-day band of rows per user, watermark-evicted —
      // wall must track input+output volume (matches grow with band
      // density × replicas), never the stream's history
      "stream_join" ->
        (dir => SparkEntry.queries("q293_stream_interval_join")(spark, dir)),
      // q295: the left-outer negatives — adds the held-back NULL forms
      // flushed post-band (state additionally holds unmatched left rows
      // until the watermark clears their band, still band-bounded)
      "stream_negatives" ->
        (dir => SparkEntry.queries("q295_unclicked_impressions")(spark, dir)),
      // q296: the unified labeler — both verdicts from one left-outer
      // pass; output is positives + negatives, the largest of the three
      "ctr_labels" ->
        (dir => SparkEntry.queries("q296_ctr_labels")(spark, dir)),
      // q273's shape: O(n·nlist) against literal centroids, never
      // point×point — the index is a fit-once artifact (ivfpqModels,
      // base corpus, the pq_adc/ivfpq posture), so this row measures
      // the PROBE path; wall must track the corpus scan
      "silhouette" -> (dir => {
        val (ivf, _) = ivfpqModels
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        val scores = array(ivf.centroids.sortBy(_._1).map {
          case (_, cv, n2) =>
            Similarity.dot(col("embedding"), typedlit(cv)) - lit(n2 / 2)
        }: _*)
        emb.withColumn("ss", scores)
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
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"), sum(col("s6")).as("ssum"))
      }),
      // q271: the retrieval_eval posture — FIXED anchor batch (base
      // replica), corpus 10×; the mining windows ride anchors×k rows
      "hard_mining" -> (dir => {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
          .withColumn("label", (col("vec_id") % 10).cast("int"))
        val queries = emb
          .filter(col("vec_id") % 20 === 0 && col("vec_id") < 10000000L)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = emb.select(col("vec_id").as("nid"),
          col("embedding").as("nvec"))
        val topk = Similarity.cosineTopK(queries, corpus, k = 10)
        val t = topk
          .join(emb.select(col("vec_id").as("nid"),
            col("label").as("nlabel")), "nid")
          .join(broadcast(emb.select(col("vec_id").as("qid"),
            col("label").as("qlabel"))), "qid")
          .withColumn("rel", (col("nlabel") === col("qlabel")).cast("int"))
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
        t.filter(col("rel") === 0)
          .withColumn("rn", org.apache.spark.sql.functions.row_number()
            .over(wq.orderBy(col("cos").desc, col("nid"))))
          .filter(col("rn") === 1)
          .groupBy().agg(count(lit(1)).as("n_anchors"),
            sum(col("cos")).as("s"))
      }),
      // q239's ADC scan with a FIXED query set and codebook (fit on the
      // base replica): the scored side grows 10× but carries only m=8
      // codes per row — wall must track the encoded-corpus scan
      "pq_adc" -> (dir => {
        import graft.llm.Pq
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        val base = emb.filter(col("vec_id") < 10000000L)
        val model = Pq.fit(base, "embedding")
        val enc = Pq.encode(emb.select(col("vec_id").as("nid"),
          col("embedding").as("nv")), "nv", model).drop("nv")
        val q = base.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Pq.adcTopK(q, enc, model, 5)
      }),
      // q240's composed shape on the factor× corpus: cells prune the
      // candidate mass to ~nprobe/nlist and the scored side carries m
      // codes — wall must track the (pruned) encoded scan. The models
      // are FIT ONCE on the base corpus outside the timed body (they
      // are fit-once artifacts — q39 probes a persisted index for the
      // same reason; timing 9 KMeans fits per run would measure MLlib
      // job overhead, not the probe path this row exists to bound).
      "ivfpq" -> (dir => {
        import graft.llm.{Pq, Similarity}
        val (ivf, pq) = ivfpqModels
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        val base = emb.filter(col("vec_id") < 10000000L)
        val corpus = emb.select(col("vec_id").as("nid"),
          col("embedding").as("nvec"))
        val enc = Pq.encode(corpus, "nvec", pq)
          .withColumn("cell", Similarity.ivfCell(col("nvec"), ivf))
          .drop("nvec")
        val qc = base.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
          .withColumn("cell", explode(
            Similarity.ivfProbeCells(col("qvec"), ivf, 16)))
          .withColumn("qv", col("qvec").cast("array<double>"))
          .drop("qvec")
        import org.apache.spark.sql.expressions.Window
        val cands = qc.join(enc, Seq("cell"))
          .filter(col("qid") =!= col("nid"))
          .withColumn("adc",
            floor(Pq.adcScore(col("qv"), pq, j => col(s"code_$j"))
              * 1e6 + 0.5) / 1e6)
        val w = Window.partitionBy("qid").orderBy(desc("adc"), asc("nid"))
        cands.withColumn("rank",
            org.apache.spark.sql.functions.row_number().over(w)
              .cast("long"))
          .filter(col("rank") <= 5)
      }),
      // q225's two-dataset eps-join: the POI side is FIXED (512), so
      // with fixed eps both the output and the candidate mass grow
      // linearly in events — the fixed-dimension analogue of
      // spatial_join's density-normalized row
      "poi_join" ->
        (dir => SparkEntry.queries("q225_poi_join")(spark, dir)),
      // q181's grid join with DENSITY-NORMALIZED eps (eps ∝ 1/sqrt(n)
      // holds expected output ~linear in points — fixed eps on a fixed
      // plane would grow pairs quadratically BY DEFINITION, measuring
      // output size, not join machinery): candidate mass per output
      // pair must stay flat
      "spatial_join" -> (dir => {
        import graft.ops.Spatial
        val ev = spark.read.parquet(s"$dir/events.parquet")
          .filter(col("event_id").isNotNull)
        val n = ev.count()
        val eps = 0.5 * math.sqrt(10000.0 / n)
        val coin = (c: org.apache.spark.sql.Column) => shiftrightunsigned(
          call_function("md5_lower64", c), 33)
        val pts = ev.select(col("event_id").as("id"),
          ((coin(col("event_id").cast("string")) % 180000L) / lit(1000.0)
            - 90.0).as("lat"),
          ((coin(concat(col("event_id").cast("string"), lit("#lon")))
            % 360000L) / lit(1000.0) - 180.0).as("lon"))
        Spatial.epsNeighborJoin(pts, "id", "lat", "lon", eps)
      }),
      // q137's shape on the factor× event stream: row-level constraints
      // in ONE aggregate pass + a uniqueness groupBy — the publish gate
      // must stay scan-bound or nobody runs it per batch
      "dq_checks" -> (dir => {
        import graft.ops.Checks
        val ev = spark.read.parquet(s"$dir/events.parquet")
        Checks.run(ev, Seq(
          Checks.NotNull("user_id", maxNullRate = 0.01),
          Checks.NotNull("event_type", maxNullRate = 0.01),
          Checks.InRange("value", 0.0, 1000.0),
          Checks.Unique(Seq("event_id"))))
      }),
      // q133's shape with a FIXED band table and a growing point stream
      // (the price-band-lookup use): output and candidate mass must grow
      // linearly in events — quadratic growth would mean the bucket join
      // degenerated toward the nested loop it replaces
      "range_join" -> (dir => {
        val pts = spark.read.parquet(s"$dir/events.parquet")
          .select(col("event_id").as("pid"),
            col("value").cast("double").as("x"))
        val ivs = spark.range(256).select(col("id").as("iid"),
          (col("id").cast("double") * 7.0 - 100.0).as("lo"),
          (col("id").cast("double") * 7.0 - 79.0).as("hi"))
        graft.ops.RangeJoin
          .pointInInterval(pts, "x", ivs, "lo", "hi", bucketWidth = 7.0)
          .groupBy("iid").agg(count(lit(1)).as("n"))
      }),
      // q131's sketch shape on the factor× event stream: one scan, one
      // bounded-buffer partial agg per partition, a bins-long merge —
      // wall must track the scan, the buffer never grows with the data
      "hist_quantile" -> (dir => {
        val ev = spark.read.parquet(s"$dir/events.parquet")
        ev.groupBy(col("event_type"))
          .agg(graft.llm.Sketches.histogram(col("value"), 0.0, 1000.0, 512)
            .as("sk"))
          .select(col("event_type"), graft.llm.Sketches.histQuantile(
            col("sk"), 0.0, 1000.0, 512, 0.9).as("p90"))
      }),
      // Categorify on a ~row-cardinality vocabulary with the broadcast
      // gate DISABLED (broadcastMaxRows=0): the r10 verdict's F3 path —
      // a 100×-scale vocab must ride the shuffled lookup join, and this
      // row is the evidence that fit (bucketed prefix-sum) + shuffled
      // transform stay ~linear when the vocabulary grows with the data
      "categorify_hc" -> (dir => {
        val ev = spark.read.parquet(s"$dir/events.parquet")
          .select(col("event_id").cast("string").as("eid"), col("user_id"))
        val m = graft.ops.Categorify.fit(ev, Seq("eid"))
        m.transform(ev, broadcastMaxRows = 0L)
      }),
      // q142's shape: corpus-wide top-K through the Misra-Gries
      // aggregator (k-entry state, no vocabulary-sized shuffle) — wall
      // must track the token scan, the summary never grows with the data
      "heavy_hitters" -> (dir => {
        val toks = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull)
          .select(explode(graft.llm.TextStats.tokens(lower(col("text"))))
            .as("tok"))
        toks.agg(graft.llm.Sketches.heavyHitters(col("tok"), 64).as("sk"))
      }),
      // q126's shape on a ~10k-node domain: edge volume scales with the
      // corpus, iteration count fixed — per-round join cost must grow
      // linearly in edges
      // Bucketized range join under a PLANTED hot bucket: 20% of points
      // pile into bucket [0,100) and a fixed ~2.2k-interval cohort covers
      // it (intervals stay replica-0-only so hot candidate mass grows
      // LINEARLY with points: ~43M pairs at 1x, ~435M at 10x). Unsalted,
      // every hot candidate pair meets in ONE reduce task — wall tracks
      // the hot partition, serialized; salted (16), the same pairs fan
      // out over 16 tasks — wall must track total candidates / cores.
      // Same result set by construction (RangeJoinSpec pins equality).
      "rangejoin_hot" -> (dir => rjHot(dir, saltBuckets = 1)),
      "rangejoin_hot_salted" -> (dir => rjHot(dir, saltBuckets = 16)),
      "pagerank" -> (dir => {
        val d = col("doc_id")
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val e1 = docs.select((d % 9973).as("src"),
          ((d * 7 + 13) % 9973).as("dst"))
        val e2 = docs.filter(d % 3 === 0).select((d % 9973).as("src"),
          ((d * 31 + 5) % 9973).as("dst"))
        // this row's purpose is evidence for the DISTRIBUTED fixed-point
        // path — disable the broadcast-scale local gate (the cc row's
        // localMax=0 discipline; the edge set here is mod-bounded). The
        // gate probes at pageRank CALL time, so restoring after the call
        // returns is sound (and this row previously never restored at
        // all, clobbering the gate for the rest of the run — r17 ADVICE)
        withConf("spark.graft.linkgraph.localMax", "0") {
          graft.llm.LinkGraph.pageRank(
            e1.unionByName(e2).filter(col("src") < 9000), "src", "dst", 6)
        }
      }))
    // comma-separated subset filter for targeted runs (mirrors Bench)
    val only = sys.env.get("SPARK_GRAFT_OPS").map(_.split(",").toSet)
    val ops = all.filter { case (n, _) => only.forall(_.contains(n)) }

    // rows come back -1 when the runner reports the run failed or timed out
    val runner = new QueryRunner(spark, "scaling")
    def time(fn: => DataFrame): (Double, Long) = {
      val o = runner.run("scaling")(QueryRunner.noopRows(fn))
      (o.seconds, o.result.getOrElse(-1L))
    }

    val results = ops.map { case (name, fn) =>
      val _ = time(fn(src)) // warm codegen/JIT on the small scale
      val (t1, n1) = time(fn(src))
      val (tN, nN) = time(fn(out))
      (name, t1, n1, tN, nN)
    }
    println("op,base_sec,base_rows,scaled_sec,scaled_rows,time_ratio")
    results.foreach { case (name, t1, n1, tN, nN) =>
      println(f"$name,$t1%.2f,$n1,$tN%.2f,$nN,${tN / t1}%.1f")
    }

    // ---- connected components in isolation (rounds + wall time) --------
    // Pairs are pre-materialized to parquet so the row times CC itself,
    // not the pair generator stacked on top, and the union-find gate is
    // DISABLED (localMax=0): this row's purpose is evidence for the
    // DISTRIBUTED path — O(log diameter) rounds with ~linear per-round
    // cost, rounds flat as the corpus grows. (The gate would otherwise
    // solve these fixture-sized pair sets on the driver in microseconds.)
    if (only.forall(_.contains("cc"))) {
      def ccRow(dir: String, tag: String): (Double, Int, Long) = {
        val pairsPath = s"$out/cc_pairs_$tag.parquet"
        Dedup.minhashLsh(Tables(spark, dir, "documents"), "doc_id", "text",
            shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.6)
          .write.mode("overwrite").parquet(pairsPath)
        val pairs = spark.read.parquet(pairsPath)
        withConf("spark.graft.cc.localMax", "0") {
          val t0 = System.nanoTime()
          val (labels, rounds) =
            Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b")
          val n = labels.count() // rounds already materialized; this is cheap
          ((System.nanoTime() - t0) / 1e9, rounds, n)
        }
      }
      val _ = ccRow(src, "warm") // warm codegen/JIT
      val (t1, r1, n1) = ccRow(src, "base")
      val (tN, rN, nN) = ccRow(out, "scaled")
      spark.catalog.clearCache()
      println("op,base_sec,base_rounds,base_nodes,scaled_sec,scaled_rounds,scaled_nodes,time_ratio")
      println(f"cc,$t1%.2f,$r1,$n1,$tN%.2f,$rN,$nN,${tN / t1}%.1f")
    }

    // ---- corpus-wide semantic dedup: fixed vs density-scaled planes ----
    // Candidate mass is Σ bucket² ≈ n²/(tables·2^planes): with FIXED
    // planes it grows quadratically in n (each bucket densifies), so the
    // at-scale discipline is planes ∝ log₂(n) — hold per-bucket density
    // and the mass grows ~linearly (the same rule as IVF's nlist ∝ √n).
    // Both rows are measured so the knob's effect is evidence, not claim.
    if (only.forall(_.contains("semantic_dup"))) {
      def pairsOp(dir: String, planes: Int): (Double, Long) = time(
        graft.llm.Similarity.semanticDupPairs(
          Tables(spark, dir, "embeddings")
            .select(col("vec_id").as("nid"), col("embedding").as("nvec")),
          dim = 64, minCos = 0.4, planes = planes, tables = 4))
      val _ = pairsOp(src, 8) // warm codegen/JIT
      val (t1, n1) = pairsOp(src, 8)
      val (tF, nF) = pairsOp(out, 8)  // fixed planes: buckets densify
      val (tS, nS) = pairsOp(out, 8 + (math.log(factor) / math.log(2)).ceil.toInt)
      println("op,base_sec,base_pairs,scaled_sec,scaled_pairs,time_ratio")
      println(f"semantic_dup_fixed_planes,$t1%.2f,$n1,$tF%.2f,$nF,${tF / t1}%.1f")
      println(f"semantic_dup_scaled_planes,$t1%.2f,$n1,$tS%.2f,$nS,${tS / t1}%.1f")
    }

    // ---- dedup-index compaction: prune + small-file merge at scale ------
    // Builds the q75-style identity index over documents, appends three
    // batches (the small-file decay compaction exists to undo), then
    // times compact() retiring every 7th doc. Healthy shape: wall grows
    // ~linearly with index rows (scan + anti join + one AQE-sized
    // shuffle per table), file count stays flat regardless of scale.
    if (only.forall(_.contains("index_compact"))) {
      def row(dir: String, tag: String): (Double, Long, Long, Int, Int) = {
        val path = s"$out/idx_compact_$tag"
        val docs = Tables(spark, dir, "documents")
        DedupIndex.build(docs.filter(col("doc_id") % 4 =!= 3),
          "doc_id", "text", path)
        Seq(3L, 7L, 11L).foreach { r =>
          DedupIndex.append(docs.filter(col("doc_id") % 12 === r),
            "doc_id", "text", path)
        }
        val retired = docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("doc"))
        val t0 = System.nanoTime()
        val stats = DedupIndex.compact(spark, path, retired)
        ((System.nanoTime() - t0) / 1e9, stats.map(_.rowsBefore).sum,
          stats.map(_.rowsAfter).sum, stats.map(_.filesBefore).sum,
          stats.map(_.filesAfter).sum)
      }
      val _ = row(src, "warm") // warm codegen/JIT
      val (t1, rb1, ra1, fb1, fa1) = row(src, "base")
      val (tN, rbN, raN, fbN, faN) = row(out, "scaled")
      spark.catalog.clearCache()
      println("op,base_sec,base_rows,base_rows_after,base_files,base_files_after," +
        "scaled_sec,scaled_rows,scaled_rows_after,scaled_files,scaled_files_after,time_ratio")
      println(f"index_compact,$t1%.2f,$rb1,$ra1,$fb1,$fa1," +
        f"$tN%.2f,$rbN,$raN,$fbN,$faN,${tN / t1}%.1f")
    }

    // ---- ANN recall: measured, not collision-bound theory ---------------
    // recall@k of the hyperplane-LSH and IVF probes against the exact
    // cosine top-k ground truth (q19's pipeline), and pair-recall of the
    // corpus-wide semantic-dedup candidate generator against the exact
    // threshold pair set — the numbers behind the planes/tables/nprobe
    // knobs. Every emitted pair/neighbor is exactly verified by
    // construction (precision 1.0); recall is the only approximation.
    if (only.forall(_.contains("recall"))) {
      def recallAt(dir: String): Unit = {
        val emb = Tables(spark, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = emb
          .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
        val k = 5
        val exact = Similarity.cosineTopK(queries, corpus, k)
          .select(col("qid"), col("nid")).cache()
        val nExact = exact.count().toDouble
        def recall(approx: DataFrame): Double =
          approx.select(col("qid"), col("nid"))
            .join(exact, Seq("qid", "nid"), "left_semi").count() / nExact
        val annR = recall(Similarity.annTopK(queries, corpus, dim = 64,
          k = k, planes = 4, tables = 16)) // q24's settings
        val ivfR = recall(Similarity.ivfTopK(queries, corpus, k = k,
          nlist = 64, nprobe = 16)) // q39's settings (see ivf_curve rows)
        // int8-quantized brute force (q81) vs float exact: recall of the
        // quantized ranking, and the MEASURED on-disk byte ratio of the
        // int8+scale layout vs float32 (parquet-compressed, both sides)
        locally {
          import graft.llm.Quant
          val quantR = recall(Quant.quantizedTopK(queries, corpus, k))
          val base = java.nio.file.Files
            .createTempDirectory("quant_probe").toString
          corpus.select(col("nid"), col("nvec"))
            .write.mode("overwrite").parquet(s"$base/f32")
          corpus.select(col("nid"),
              Quant.quantize(col("nvec")).as("q"),
              Quant.scaleOf(col("nvec")).as("s"))
            .write.mode("overwrite").parquet(s"$base/i8")
          def bytes(p: String): Long = {
            val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
            try {
              import scala.jdk.CollectionConverters._
              st.iterator().asScala
                .filter(java.nio.file.Files.isRegularFile(_))
                .map(java.nio.file.Files.size).sum
            } finally st.close()
          }
          println(f"quantized_topk_recall@$k,$dir,$quantR%.4f " +
            f"(i8_bytes/f32_bytes=${bytes(s"$base/i8").toDouble /
              bytes(s"$base/f32")}%.3f)")
        }
        // pair-recall of the LSH self-join candidate generator vs the
        // exact threshold pair set, STRATIFIED by cosine band (the 0.4-0.5
        // band is borderline pairs of near-random vectors — the pairs
        // dedup actually targets live in the high bands) and swept over
        // the tables knob so the recall-vs-cost response is measured, not
        // cited from the collision bound. Corpus-as-queries broadcast is
        // fine at recall-harness scale.
        val exactPairs = Similarity.cosineNearDup(
            emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
            corpus, minCos = 0.4)
          .filter(col("qid") < col("nid"))
          .select(col("qid").as("id_a"), col("nid").as("id_b"),
            col("cos")).cache()
        val nPairs = exactPairs.count().toDouble
        println("metric,dir,value")
        println(f"ann_topk_recall@$k,$dir,$annR%.4f")
        println(f"ivf_topk_recall@$k,$dir,$ivfR%.4f")
        // IVF recall-vs-cost curve: sweep nprobe at each nlist, reporting
        // recall@k alongside the MEASURED fraction of corpus vectors scored
        // per query (cells are not balanced, so the analytic nprobe/nlist
        // underestimates hot cells). This is the evidence behind q39's
        // default: pick the knee, not an accidental setting.
        val corpusN = corpus.count().toDouble
        val nQ = queries.count().toDouble
        for (nlist <- Seq(16, 64)) {
          val idx = graft.llm.IvfIndex.fit(corpus, nlist)
          val cellSizes = corpus
            .withColumn("cell", Similarity.ivfCell(col("nvec"), idx))
            .groupBy("cell").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
          for (nprobe <- Seq(1, 2, 4, 6, 8, 16).filter(_ <= nlist)) {
            val r = recall(Similarity.ivfTopK(queries, corpus, k, idx, nprobe))
            val scanned = queries.withColumn("cell",
                explode(Similarity.ivfProbeCells(col("qvec"), idx, nprobe)))
              .groupBy("cell").count().collect()
              .map(rr => rr.getLong(1) * cellSizes.getOrElse(rr.getInt(0), 0L))
              .sum.toDouble
            println(f"ivf_curve_nlist${nlist}_nprobe$nprobe,$dir,$r%.4f " +
              f"(scanned_frac=${scanned / (nQ * corpusN)}%.3f)")
          }
        }
        // annTopK recall-vs-cost curve: sweep (planes, tables), reporting
        // recall@k alongside the MEASURED fraction of (query, corpus)
        // pairs that reach the exact-cosine verify stage (distinct
        // candidates / (|Q|·|C|) — the LSH analogue of IVF's
        // scanned_frac; buckets are not uniform, so the analytic
        // collision bound underestimates hot buckets). Evidence behind
        // q24's default: a chosen point on a curve, not an accident.
        for (planes <- Seq(4, 6, 8); tables <- Seq(8, 16, 32, 64)
             if planes > 4 || tables < 64) {
          def buckets(df: DataFrame, id: String, vec: String): DataFrame =
            df.select(col(id), explode(Similarity.hyperplaneBuckets(
                col(vec), dim = 64, planes = planes, tables = tables)).as("b"))
              .select(col(id), col("b.table").as("table"),
                col("b.bucket").as("bucket"))
          val nCands = buckets(queries, "qid", "qvec")
            .join(buckets(corpus, "nid", "nvec"), Seq("table", "bucket"))
            .filter(col("qid") =!= col("nid"))
            .select("qid", "nid").dropDuplicates("qid", "nid")
            .count().toDouble
          val r = recall(Similarity.annTopK(queries, corpus, dim = 64,
            k = k, planes = planes, tables = tables))
          println(f"ann_curve_p${planes}_t$tables,$dir,$r%.4f " +
            f"(cand_frac=${nCands / (nQ * corpusN)}%.3f)")
        }
        for (tables <- Seq(4, 8, 16)) {
          val lshPairs = Similarity.semanticDupPairs(corpus, dim = 64,
            minCos = 0.4, planes = 8, tables = tables).cache()
          val hit = lshPairs.join(exactPairs, Seq("id_a", "id_b"), "left_semi")
            .count().toDouble
          val pairR = if (nPairs == 0) 1.0 else hit / nPairs
          val bands = exactPairs
            .withColumn("band", floor(col("cos") * 10) / 10)
            .join(lshPairs.select(col("id_a"), col("id_b"),
              lit(1).as("found")), Seq("id_a", "id_b"), "left")
            .groupBy("band").agg(count(lit(1)).as("n"),
              sum(coalesce(col("found"), lit(0))).as("hits"))
            .orderBy("band").collect()
            .map(r => f"cos${r.getDouble(0)}%.1f:${r.getLong(2)}/${r.getLong(1)}")
            .mkString(" ")
          println(f"semantic_pair_recall_t$tables,$dir,$pairR%.4f (exact_pairs=${nPairs.toLong}; by band: $bands)")
          lshPairs.unpersist()
        }
        exact.unpersist(); exactPairs.unpersist()
      }
      recallAt(src)
    }

    // ---- IVF staleness: recall at the candidate budget vs occupancy ----
    // The occupancy-skew trigger (hot = count×nlist > hotFactor×n) is a
    // PROXY for retrieval quality under a bounded candidate budget; this
    // probe measures the thing itself. The budgeted scan models what the
    // cell-size discipline promises a prober: per query it reads at most
    // nprobe × hotFactor × cellTarget candidate rows from its probed
    // cells, truncating overflow in append order (what a bounded
    // posting-list read does — appended rows are physically last).
    // Protocol per dir: fit + build on the base corpus, then append
    // distribution-SHIFTED base-sized batches (0.5-anchor-blended
    // vectors, data-derived id offsets — see the append comment below),
    // measuring after each append:
    // staleness verdicts, recall@k at the budget, and UNBUDGETED recall
    // as the control (it should stay flat — the centroids still route
    // shifted queries to the cells holding the shifted mass; what breaks
    // is the budget, i.e. the COST bound the trigger guards). Then
    // refitIfStale → rebuild → the same measurement, expecting recovery:
    // the refit re-derives nlist from n/cellTarget and re-balances cells
    // so the budget stops binding. */
    if (only.forall(_.contains("ivf_staleness"))) {
      import graft.llm.IvfIndex
      import org.apache.spark.sql.expressions.Window
      val cellTarget = 512
      val hotFactor = 4
      val nprobe = 16
      val k = 5
      def probeAt(dir: String, tag: String): Unit = {
        val emb = Tables(spark, dir, "embeddings")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        val base = emb.select(col("vec_id").as("nid"),
          col("embedding").as("nvec"))
        val n0 = base.count()
        val nlist = math.max(64, (n0 / cellTarget).toInt)
        val idx = IvfIndex.fit(base, nlist)
        val tmp = java.nio.file.Files
          .createTempDirectory("ivf_stale_").toString
        val cells = s"$tmp/cells"
        IvfIndex.buildInverted(base, idx, cells)
        val Array(idRow) = base.agg(min("nid"), max("nid")).collect()
        val span = idRow.getLong(1) - idRow.getLong(0) + 1L
        val budget = nprobe * hotFactor * cellTarget
        def measure(index: IvfIndex.Model, path: String,
                    stage: String): Unit = {
          val st = IvfIndex.staleness(spark, path, index,
            hotFactor, cellTarget)
          val cur = spark.read.parquet(path).select("nid", "nvec")
          // ~hundreds of queries, mixed strata (base + every appended
          // batch — id ranges are disjoint so %997 samples them all)
          val queries = cur.filter(pmod(col("nid"), lit(997L)) === 0)
            .select(col("nid").as("qid"), col("nvec").as("qvec"))
          val exact = Similarity.cosineTopK(queries, cur, k)
            .select("qid", "nid").cache()
          val nE = exact.count().toDouble
          val np = math.min(nprobe, index.centroids.size)
          val queryCells = queries.withColumn("cell",
            explode(Similarity.ivfProbeCells(col("qvec"), index, np)))
          val cand = queryCells
            .join(spark.read.parquet(path), Seq("cell"))
            .filter(col("qid") =!= col("nid"))
          def recallOf(c: DataFrame): Double = {
            val w = Window.partitionBy("qid")
              .orderBy(desc("cos"), asc("nid"))
            val top = c.withColumn("cos", Similarity.round6(
                Similarity.dot(col("qvec"), col("nvec")) /
                (Similarity.l2Norm(col("qvec")) *
                  Similarity.l2Norm(col("nvec")))))
              .withColumn("r", row_number().over(w))
              .filter(col("r") <= k)
            top.select("qid", "nid")
              .join(exact, Seq("qid", "nid"), "left_semi")
              .count() / nE
          }
          // budgeted: keep each query's first `budget` candidates in
          // append order (nid ascends with append batch by construction)
          val wScan = Window.partitionBy("qid").orderBy(asc("nid"))
          val budgeted = cand.withColumn("__scan", row_number().over(wScan))
            .filter(col("__scan") <= budget)
          val rB = recallOf(budgeted)
          val rU = recallOf(cand)
          exact.unpersist()
          val fairX100 = if (st.nRows == 0) 0L
            else st.maxCell * st.nlist * 100L / st.nRows
          println(f"ivf_staleness,$dir,$tag/$stage,n=${st.nRows}," +
            f"nlist=${st.nlist},maxcell_over_fair=${fairX100 / 100.0}%.2f," +
            f"hot=${st.hotCells},empty=${st.emptyCells}," +
            f"needs_refit=${st.needsRefit}," +
            f"recall_budget=$rB%.4f,recall_unbudgeted=$rU%.4f")
        }
        measure(idx, cells, "base")
        // two shifted appends, each base-sized: every appended vector
        // blends 0.5 toward one ANCHOR direction (the max-id base
        // embedding — deterministic, data-derived), modelling a new
        // crawl dominated by a single template. Calibration notes from
        // the measurement: a SYMMETRIC shift (negation) re-balances
        // under the fixture's symmetric embedding distribution and
        // never skews occupancy (max/fair stayed ~1.4x), while a 0.8
        // blend makes the appended cloud near-degenerate — KMeans
        // cannot split a zero-radius mass across centroids, so hot
        // cells PERSIST after refit. 0.5 keeps enough per-vector
        // variance that the refit re-balances, which is the recovery
        // half of the curve. Ids offset by the data's own span per
        // batch (the q294 discipline).
        val anchor = base.filter(col("nid") === lit(idRow.getLong(1)))
          .select("nvec").head().getSeq[Float](0).toSeq
        for (b <- 1 to 2) {
          val batch = base
            .select((col("nid") + lit(span * b)).as("nid"),
              zip_with(col("nvec"), typedlit(anchor),
                (v, a) => lit(0.5f) * v + lit(0.5f) * a).as("nvec"))
          IvfIndex.appendInverted(batch, idx, cells)
          measure(idx, cells, s"append$b")
        }
        IvfIndex.refitIfStale(spark, cells, idx, hotFactor, cellTarget)
          match {
          case Some(idx2) =>
            val cells2 = s"$tmp/cells_refit"
            IvfIndex.buildInverted(
              spark.read.parquet(cells).select("nid", "nvec"), idx2, cells2)
            measure(idx2, cells2, "refit")
          case None =>
            println(s"ivf_staleness,$dir,$tag/refit,SKIPPED (not stale)")
        }
      }
      probeAt(out, s"${factor}x")
    }

    // ---- sequence packing: windowed vs distributed prefix sum ----------
    // The adversarial shape is ONE source: packWindowed's per-source
    // window puts every row in a single task (parallelism = #sources),
    // while packSequences range-buckets the id span so parallelism scales
    // with rows. Synthetic single-source input isolates the packing stage
    // itself (token counting is a projection, identical in both paths).
    if (only.forall(_.contains("packing"))) {
      import graft.llm.Pack
      val baseRows = 2000000L
      def synth(n: Long, path: String): String = {
        spark.range(n).select(col("id").as("doc_id"),
            lit("s0").as("source"),
            (pmod(hash(col("id")), lit(400)) + 1).cast("long").as("n_tokens"))
          .repartition(cpus)
          .write.mode("overwrite").parquet(path)
        path
      }
      val basePath = synth(baseRows, s"$out/pack_base.parquet")
      val scaledPath = synth(baseRows * factor, s"$out/pack_scaled.parquet")
      def packOp(path: String, dist: Boolean): (Double, Long) = time {
        val df = spark.read.parquet(path)
        if (dist) Pack.packSequences(df, "doc_id", "source", "n_tokens", 2048)
        else Pack.packWindowed(df, "doc_id", "source", "n_tokens", 2048)
      }
      val _ = packOp(basePath, dist = true) // warm codegen/JIT
      val (tw1, nw1) = packOp(basePath, dist = false)
      val (twN, _) = packOp(scaledPath, dist = false)
      val (td1, _) = packOp(basePath, dist = true)
      val (tdN, _) = packOp(scaledPath, dist = true)
      println("op,base_sec,base_rows,scaled_sec,time_ratio")
      println(f"pack_windowed,$tw1%.2f,$nw1,$twN%.2f,${twN / tw1}%.1f")
      println(f"pack_distributed,$td1%.2f,$nw1,$tdN%.2f,${tdN / td1}%.1f")
    }

    // ---- incremental dedup: fixed ingest batch vs growing index --------
    // The claim behind DedupIndex: once the corpus's identity is
    // persisted, admitting a fixed batch costs index-probe equi-joins,
    // not a corpus recompute. Compared against the alternative a
    // per-ingest pipeline would otherwise run — full minhashLsh over
    // corpus+batch — at corpus N and factor×N: the full re-dedup must pay
    // ~factor×, the admit only the probes' index-scan growth. Build is
    // timed too (the amortized offline half, expected ~linear).
    if (only.forall(_.contains("incr_dedup"))) {
      import graft.llm.DedupIndex
      val cfg = DedupIndex.Config()
      val baseDocs = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("text").isNotNull).select("doc_id", "text")
      val scaledDocs = spark.read.parquet(s"$out/documents.parquet")
        .filter(col("text").isNotNull).select("doc_id", "text")
      // fixed batch: 800 fresh docs (fresh alphabet permutation -> new
      // fingerprint/shingle space) + 100 exact + 100 near copies of base
      // docs, so every probe path does real work at both scales
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val freshPerm = new scala.util.Random(777777)
        .shuffle(alpha.toList).mkString
      // written once rather than cached: every timed run clears the cache
      val batchPath = s"$out/incr_batch.parquet"
      baseDocs.filter(col("doc_id") % 5 === 1).limit(800)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          translate(col("text"), alpha, freshPerm).as("text"))
        .unionByName(baseDocs.filter(col("doc_id") % 50 === 2).limit(100)
          .select((col("doc_id") + 910000000L).as("doc_id"), col("text")))
        .unionByName(baseDocs.filter(col("doc_id") % 50 === 3).limit(100)
          .select((col("doc_id") + 920000000L).as("doc_id"),
            concat(col("text"), lit(" appended salt token")).as("text")))
        .repartition(cpus).write.mode("overwrite").parquet(batchPath)
      val batch = spark.read.parquet(batchPath)
      val nB = batch.count()
      def buildAt(docs: DataFrame, path: String): Double = {
        val t0 = System.nanoTime()
        DedupIndex.build(docs, "doc_id", "text", path, cfg)
        (System.nanoTime() - t0) / 1e9
      }
      def admitAt(path: String): (Double, Long) = time {
        DedupIndex.admissions(batch, "doc_id", "text", path, cfg)
      }
      val p1 = s"$out/incr_idx_base"; val pN = s"$out/incr_idx_scaled"
      // warm the build path (parquet writer + kernel codegen) so the base
      // timing is not charged one-time JIT costs
      val _w = buildAt(baseDocs.limit(500), s"$out/incr_idx_warm")
      val tb1 = buildAt(baseDocs, p1)
      val tbN = buildAt(scaledDocs, pN)
      val _ = admitAt(p1) // warm codegen/JIT
      val (ta1, _) = admitAt(p1)
      val (taN, _) = admitAt(pN)
      def full(docs: DataFrame): (Double, Long) =
        time(Dedup.minhashLsh(docs.unionByName(batch), "doc_id", "text"))
      val _ = full(baseDocs.limit(1000)) // warm
      val (tf1, _) = full(baseDocs)
      val (tfN, _) = full(scaledDocs)
      println("op,batch_rows,base_sec,scaled_sec,time_ratio")
      println(f"incr_build,$nB,$tb1%.2f,$tbN%.2f,${tbN / tb1}%.1f")
      println(f"incr_admit,$nB,$ta1%.2f,$taN%.2f,${taN / ta1}%.1f")
      println(f"full_rededup,$nB,$tf1%.2f,$tfN%.2f,${tfN / tf1}%.1f")
    }

    // ---- the composed CorpusClean job, both candidate modes ------------
    // Proves the full score->filter->exact-dedup->CC-collapse->write job
    // stays equi-join-shaped at factor× docs: wall time ~linear, retention
    // ratio stable. Language/quality gates are disabled (lang="*",
    // minQuality=0): the caesar-shifted replicas defeat langId marker
    // voting and the stopword-ratio quality term BY CONSTRUCTION (that is
    // what makes their shingles distinct), so with the default filters the
    // scaled run's dedup stages would only ever see the unshifted replica
    // — the row would measure the scoring scan, not the pipeline. Scoring
    // still computes lang/quality for every doc; only the filter is open.
    if (only.forall(o => o.contains("corpus_clean"))) {
      import graft.jobs.CorpusClean
      println("op,base_sec,base_kept/input,scaled_sec,scaled_kept/input,time_ratio")
      for (mode <- Seq("minhash", "prefix")) {
        def run(dir: String, tag: String): (Double, CorpusClean.Stats) = {
          val t0 = System.nanoTime()
          val stats = CorpusClean.run(spark, s"$dir/documents.parquet",
            s"$out/clean_${mode}_$tag", lang = "*", minQuality = 0.0,
            nearDup = mode)
          ((System.nanoTime() - t0) / 1e9, stats)
        }
        val (t1, s1) = run(src, "base")
        val (tN, sN) = run(out, "scaled")
        spark.catalog.clearCache()
        println(f"corpus_clean_$mode,$t1%.2f,${s1.kept}/${s1.input},$tN%.2f,${sN.kept}/${sN.input},${tN / t1}%.1f")
      }
    }
    GraftSession.stop(spark)
  }
}
