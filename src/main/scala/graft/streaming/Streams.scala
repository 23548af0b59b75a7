package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface — the reference's Kafka JSON pipeline
  * (/root/reference/data_processing/stream_processing/
  * stream_silver_to_gold.py) and its Feast online-store materialization
  * (feast-feature-store/feature_retrieval/ingest_stream_to_online_store.py),
  * re-expressed source-agnostically: any streaming DataFrame in, any sink
  * out. Kafka wrappers are provided for cluster use; tests drive the same
  * transforms through file/memory sources (no Kafka broker in this
  * container).
  */
object Streams {

  /** Kafka source — topic of JSON values (stream_silver_to_gold.py:71-77).
    * Requires the spark-sql-kafka connector jar on the cluster classpath. */
  def fromKafka(spark: SparkSession, servers: String, topic: String,
                startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("kafka.enable.auto.commit", "false")
      .load()

  /** JSON decode: raw `value` bytes -> typed columns (from_json + `value.*`,
    * stream_silver_to_gold.py:78). */
  def decodeJson(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("value"))
      .select(col("value.*"))

  /** JSON encode for a Kafka-shaped sink: all columns -> one `value` string
    * (to_json(named_struct ...), stream_silver_to_gold.py:111-133). */
  def encodeJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toSeq.map(col): _*)).as("value"))

  /** Kafka sink with the reference's trigger/checkpoint posture
    * (stream_silver_to_gold.py:135-145). */
  def toKafka(df: DataFrame, servers: String, topic: String,
              checkpoint: String, triggerSecs: Int = 10) =
    encodeJson(df).writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"$triggerSecs seconds"))
      .outputMode("append")

  /** Explicit-state latest-per-key via flatMapGroupsWithState — the
    * unbounded-key-space scale path that complete-mode aggregation can't
    * serve ([[graft.ops.PointInTime.latestPerKey]] on a stream is one: its
    * result table grows without bound and is re-emitted fully every
    * trigger). State here is one row per ACTIVE key, evicted by
    * processing-time timeout `ttl`, and only keys whose newest row CHANGED
    * are emitted each micro-batch (update semantics, like the online
    * store's upsert stream — but resolved by event time, not arrival).
    *
    * @param ttl processing-time idle eviction for a key's state; None keeps
    *            state forever (use None in tests — ProcessingTimeTimeout
    *            schedules continual timeout-evaluation batches, so
    *            `processAllAvailable` never quiesces) */
  def latestPerKeyStateful[K, S](
      ds: Dataset[S], key: S => K, ts: S => Long,
      ttl: Option[String] = None)(
      implicit kEnc: Encoder[K], stateEnc: Encoder[(Long, S)],
      outEnc: Encoder[(K, S)]): Dataset[(K, S)] = {
    val timeoutMode =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(key)
      .flatMapGroupsWithState[(Long, S), (K, S)](
        OutputMode.Update(), timeoutMode) {
        (k: K, rows: Iterator[S], state: GroupState[(Long, S)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val newest = rows.map(r => (ts(r), r))
              .reduceOption((a, b) => if (b._1 >= a._1) b else a)
            val prev = state.getOption
            val winner = (prev ++ newest).reduceOption(
              (a, b) => if (b._1 >= a._1) b else a)
            winner match {
              case Some(w) if !prev.contains(w) =>
                state.update(w)
                ttl.foreach(state.setTimeoutDuration)
                Iterator.single((k, w._2))
              case _ => Iterator.empty
            }
          }
      }
  }

  /** Per-key state for [[cusumMonitor]]: counts of still-OPEN days
    * (bounded by the out-of-orderness horizon, not history), the running
    * CUSUM drawup, and the newest finalized day (a later-arriving row for
    * a finalized day is dropped — the T4 late-data posture). */
  case class CusumKeyState(open: Map[Long, Long], s: Long,
                           doneThrough: Long)

  /** Streaming CUSUM level-shift monitor — q243's detector as a
    * continuous stateful operator. The baseline (per-key integer median +
    * MAD) is batch-fit on a reference period and passed in, the
    * [[driftGate]] broadcast-reference pattern: a monitor that re-derives
    * its own baseline from the stream it watches can't tell drift from
    * baseline creep. Input rows are (key, day) — one per event, day
    * pre-bucketed by the caller. Each batch folds events into open-day
    * counts, finalizes every day STRICTLY older than the newest day seen
    * for the key, and runs the literal recurrence S = max(0, S + (c −
    * med)) over finalized days in day order (streaming state is the one
    * place the sequential form is right — per-key arrival IS ordered;
    * the batch side uses the prefix identity, CusumSpec pins equality).
    * Emits one row per finalized day: (key, day, count, cusum, alarm at
    * S > hMult·max(mad, 1)). State per key is O(open days), never
    * O(history). */
  def cusumMonitor(events: Dataset[(String, Long)],
                   baseline: Map[String, (Long, Long)],
                   hMult: Long = 5L)
      : Dataset[(String, Long, Long, Long, Boolean)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[CusumKeyState,
        (String, Long, Long, Long, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[(String, Long)],
         state: GroupState[CusumKeyState]) =>
          val (med, mad) = baseline.getOrElse(k, (0L, 0L))
          val h = hMult * math.max(mad, 1L)
          val st = state.getOption
            .getOrElse(CusumKeyState(Map.empty, 0L, Long.MinValue))
          val open = rows.foldLeft(st.open) { case (m, (_, day)) =>
            if (day <= st.doneThrough) m // late past finalization
            else m.updated(day, m.getOrElse(day, 0L) + 1L)
          }
          val maxDay =
            if (open.isEmpty) st.doneThrough else open.keys.max
          val (toEmit, remaining) = open.partition(_._1 < maxDay)
          var s = st.s
          val out = toEmit.toSeq.sortBy(_._1).map { case (day, c) =>
            s = math.max(0L, s + (c - med))
            (k, day, c, s, s > h)
          }
          val newDone =
            if (toEmit.isEmpty) st.doneThrough else toEmit.keys.max
          state.update(CusumKeyState(remaining, s,
            math.max(st.doneThrough, newDone)))
          out.iterator
      }
  }

  /** Watermarked stream-stream interval join: left rows match right rows
    * with the same `key` whose event time lies in
    * `[leftTs, leftTs + window]` (e.g. clicks within 10s after their
    * impression). Both sides carry watermarks, so join state is BOUNDED:
    * Spark evicts buffered rows once the other side's watermark passes the
    * interval — the state-cleanup contract a production attribution join
    * needs (an unwatermarked stream-stream join buffers forever).
    * `leftTs`/`rightTs` are TimestampType columns; `delay` is the
    * out-of-orderness bound, `window` the match interval, as SQL interval
    * strings. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
                         leftTs: String, rightTs: String,
                         delay: String, window: String): DataFrame =
    intervalJoin(left, right, key, leftTs, rightTs, delay, window, "inner")

  /** OUTER variant of [[streamIntervalJoin]]: same key + time-band
    * condition, but unmatched LEFT rows are emitted with NULLs on the
    * right side — and only once the watermark has passed their whole
    * band (before that, a match could still arrive; Spark holds the row
    * in state and emits the NULL form exactly once at eviction). This is
    * the negative-label generator of an attribution pipeline: an
    * impression with no click inside the band becomes a negative example
    * the moment lateness can no longer change the verdict — emitting
    * negatives any earlier would mislabel slow clicks. On a BOUNDED
    * replay the final band's unmatched rows only flush if something
    * advances the watermark past `stream end + window` — union far-future
    * sentinel rows with unmatchable keys onto BOTH inputs (q77's
    * contract; see q295) and filter them out DRIVER-LOCALLY after the
    * sink, never with a streaming-plan predicate (Catalyst pushes a
    * left-side predicate into the union's sentinel branch BEFORE the
    * watermark node, silently stranding the final bands — the q77/q103
    * lesson). */
  def streamIntervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                                  key: String, leftTs: String,
                                  rightTs: String, delay: String,
                                  window: String): DataFrame =
    intervalJoin(left, right, key, leftTs, rightTs, delay, window,
      "leftOuter")

  private def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                           leftTs: String, rightTs: String, delay: String,
                           window: String, joinType: String): DataFrame = {
    require(leftTs != rightTs,
      "left/right event-time columns must have distinct names")
    val l = left.withWatermark(leftTs, delay)
    val r = right.withColumnRenamed(key, "__rk").withWatermark(rightTs, delay)
    l.join(r, expr(
      s"""$key = __rk AND
         |$rightTs >= $leftTs AND
         |$rightTs <= $leftTs + INTERVAL $window""".stripMargin), joinType)
      .drop("__rk")
  }

  /** Watermark accounting for a finished (or stopped) streaming query —
    * the no-silent-drops ledger for watermarked stateful operators.
    * `droppedLate` counts input rows that arrived BEHIND the watermark
    * and were discarded before they could join or aggregate (a
    * production attribution join alarms on this — silent drops are
    * unattributed revenue); `evicted` counts state rows removed once the
    * watermark cleared their interval (the bounded-state guarantee doing
    * its job — zero evictions on a long-running join means state grows
    * without bound). Both are summed across every state operator and
    * every progress report the query retained (the driver keeps the last
    * ~100 progress entries; for longer-lived queries attach a
    * StreamingQueryListener and fold the same fields incrementally). */
  final case class WatermarkLedger(droppedLate: Long, evicted: Long)

  def watermarkLedger(q: StreamingQuery): WatermarkLedger = {
    val ps = q.recentProgress
    WatermarkLedger(
      ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum,
      ps.map(_.stateOperators.map(_.numRowsRemoved).sum).sum)
  }

  /** Streaming point-in-time (as-of) enrichment: each event joins the
    * NEWEST feature row with the same `key` whose event time lies in
    * `[eventTs - lookback, eventTs]` — the feature store's
    * training-serving-skew guarantee ([[graft.ops.PointInTime]], q08) on a
    * live stream. Two chained stateful operators, both watermark-bounded:
    *
    *  1. stream-stream interval join (state evicted once the other side's
    *     watermark clears the lookback window — never unbounded);
    *  2. as-of selection: `max_by(feature, (featureTs, tieBreak))` grouped
    *     per event (plus a 1-second event-time window so append mode has
    *     an emission trigger) — latest-feature-wins resolved by EVENT
    *     time with a deterministic tie-break, not arrival order.
    *
    * Events with no feature inside the lookback are dropped (inner
    * semantics — the enrichment gate shape). Emission is driven by the
    * watermark, AND the effective watermark at the selection stage trails
    * the inputs' by the join's event-time range (`lookback`): a BOUNDED
    * source's final `lookback + delay` of windows only flush if something
    * later advances the watermark past `stream end + lookback` — q77
    * unions far-future sentinel rows (unmatched keys) onto both inputs
    * for exactly that; an unbounded production stream advances it
    * naturally. CAUTION if filtering sentinels out of the result: a
    * predicate on a grouping column (e.g. `event_id >= 0`) is pushed by
    * Catalyst through the aggregation and join into the sentinel union
    * branch, deleting the sentinels BEFORE the watermark node and
    * silently stranding those final windows. Give sentinels keys the
    * join can never match and leave the output unfiltered.
    *
    * `eventCols` must uniquely identify an event row (they are the as-of
    * group); `featureCols` is the payload the winning feature contributes.
    */
  def streamAsofEnrich(events: DataFrame, features: DataFrame, key: String,
                       eventTs: String, featureTs: String,
                       delay: String, lookback: String,
                       eventCols: Seq[String], featureCols: Seq[String],
                       tieBreak: String): DataFrame = {
    require(eventTs != featureTs,
      "event/feature event-time columns must have distinct names")
    val l = events.withWatermark(eventTs, delay)
    val r = features.withColumnRenamed(key, "__rk")
      .withWatermark(featureTs, delay)
    val joined = l.join(r, expr(
      s"""$key = __rk AND
         |$featureTs <= $eventTs AND
         |$featureTs >= $eventTs - INTERVAL $lookback""".stripMargin))
      .drop("__rk")
    joined
      .groupBy(eventCols.map(col) :+ window(col(eventTs), "1 second"): _*)
      .agg(max_by(struct(featureCols.map(col): _*),
        struct(col(featureTs), col(tieBreak))).as("__f"))
      .select(eventCols.map(col) :+ col("__f.*"): _*)
  }

  /** Watermarked append-mode dedup: keep the FIRST arrival of each key
    * within the watermark horizon, dropping late duplicates — the
    * reference's declared-but-unenforced 1-minute late-data bound
    * (data_sources.py:27). State is bounded by the watermark: keys older
    * than `delay` behind max event time are evicted, so this scales to
    * unbounded streams (unlike complete-mode aggregation). */
  def dedupWithinWatermark(stream: DataFrame, key: Seq[String],
                           eventTimeCol: String, delay: String): DataFrame =
    stream.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(key)

  /** Ingest-time near-dup gate: compute the order-insensitive content
    * fingerprint ([[graft.llm.TextStats.fingerprint]] — md5 of the sorted
    * lowercased token multiset) for each arriving document and keep only
    * the FIRST arrival of each fingerprint within the watermark horizon —
    * the streaming analogue of the batch exact-dedup spine (q12), gating
    * duplicates out of a training-data corpus AT INGEST instead of in a
    * nightly batch sweep. State is one entry per distinct fingerprint
    * inside the horizon (evicted as the watermark passes), so memory is
    * bounded by the dedup window, not the stream. The fingerprint rides
    * out in column `fingerprint` for downstream audit/metrics. */
  def dedupByFingerprint(stream: DataFrame, textCol: String,
                         eventTimeCol: String, delay: String): DataFrame =
    dedupWithinWatermark(
      stream.withColumn("fingerprint",
        graft.llm.TextStats.fingerprint(col(textCol))),
      Seq("fingerprint"), eventTimeCol, delay)

  /** Continuous distribution-drift monitor — the streaming form of the
    * q227 histogram-KS sketch: per event-time window, a
    * [[graft.llm.Sketches.FixedHistogram]] aggregates `valueCol` in the
    * state store (state per window is the GRID — `bins` longs — a
    * constant, never the data; elementwise adds merge incrementally
    * across micro-batches), then [[graft.llm.Sketches.histKs]] scores
    * each window's sketch against a same-grid REFERENCE histogram
    * shipped as a plan literal (it broadcasts with the plan — `bins`
    * longs, computed once from a trusted baseline period). One drift
    * row per window: counts, the KS statistic in exact integer gap
    * units, the sketch's own error bound (`max_mass` — callers emit it
    * next to the estimate instead of pretending the sketch is exact),
    * and the first bin boundary achieving the sup.
    *
    * With append output the watermark bounds state (closed windows
    * evict and emit exactly once — the production monitor shape);
    * batch-replay oracle checks run the same plan in complete mode
    * (q136's discipline). NaN values must be filtered upstream —
    * FixedHistogram fails fast on NaN by contract. */
  def driftGate(stream: DataFrame, eventTimeCol: String, valueCol: String,
                delay: String, windowLen: String, reference: Seq[Long],
                lo: Double, hi: Double, bins: Int): DataFrame = {
    require(reference.size == bins,
      s"reference histogram has ${reference.size} bins, grid is $bins")
    import graft.llm.Sketches
    driftWindows(stream, eventTimeCol, valueCol, delay, windowLen,
        lo, hi, bins)
      .select(col("w_start"), col("n_win"),
        Sketches.histKs(col("sk"), typedLit(reference)).as("ks"))
      .select(col("w_start"),
        col("n_win"),
        col("ks.n_b").as("n_ref"),
        col("ks.max_gap").as("max_gap"),
        col("ks.max_mass").as("max_mass"),
        col("ks.at_bin").as("at_bin"))
  }

  /** Per-window histogram sketch stream WITHOUT a baked-in reference —
    * the monitor half of the drift gate, split out so the reference
    * policy is the caller's choice: [[driftGate]] scores each window
    * against a STATIC trusted-period literal, while
    * [[rollingDriftScore]] re-baselines against the trailing windows
    * (production references go stale — a permanent level shift is
    * "drift" for a while and then the new normal). State per open
    * window is the grid (`bins` longs), never the data.
    *
    * OUTPUT MODE is the caller's choice and changes what is emitted:
    * q286 runs this in `complete` mode (every window re-emitted each
    * trigger — correct for bounded AvailableNow replays, where the
    * final window must appear even though the watermark never passes
    * its end). An `append` caller gets watermark-evicted closed
    * windows exactly once but must account for the windows still open
    * at end-of-stream — on a bounded replay the LAST window is never
    * emitted in append mode. State eviction only happens under
    * append/update; complete mode retains all windows' grids (fine
    * here: the state IS the days×bins domain grid, not the data). */
  def driftWindows(stream: DataFrame, eventTimeCol: String,
                   valueCol: String, delay: String, windowLen: String,
                   lo: Double, hi: Double, bins: Int): DataFrame = {
    import graft.llm.Sketches
    stream.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), windowLen).as("w"))
      .agg(Sketches.histogram(col(valueCol), lo, hi, bins).as("sk"),
        count(lit(1)).as("n_win"))
      .select(unix_micros(col("w.start")).as("w_start"),
        col("n_win"), col("sk"))
  }

  /** Lagged ROLLING re-baseline over [[driftWindows]] output — the
    * alerting layer for a monitor whose reference must not go stale:
    * each window's reference histogram is the elementwise SUM of the
    * `lag` preceding OBSERVED windows' sketches, so a permanent level
    * shift alarms for exactly `lag` windows and then becomes the new
    * baseline (the q266 selective-refresh shape: per trigger this
    * rescoring rides the ≤ windows×bins DOMAIN grid — posexplode of
    * the sketch column — never the fact stream). All drift arithmetic
    * is exact: cumulative gaps are cross-multiplied on DECIMAL(38,0)
    * (|ca·n_ref − cr·n_win|, the q235 integer-KS form), one floored
    * division renders the KS float at the end. The FIRST window has no
    * reference and emits NULL ks/at_bin (warmup surfaced, never a
    * fabricated 0); a window after a gap in the data compares against
    * the last `lag` windows that EXIST (ROWS, not RANGE — the monitor
    * re-baselines on observed history, stated not hidden).
    *
    * Output per window: w_start, n_win, n_ref (NULL on warmup),
    * max_gap, at_bin (first bin index achieving the sup), and the
    * KS statistic `ks` as a double on the 1e-6 grid. */
  def rollingDriftScore(perWindow: DataFrame, lag: Int): DataFrame = {
    require(lag >= 1, "lag must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val g = perWindow.select(col("w_start"), col("n_win"),
      posexplode(col("sk")).as(Seq("bin", "a")))
    val wRef = Window.partitionBy(col("bin")).orderBy(col("w_start"))
      .rowsBetween(-lag, -1)
    val wCum = Window.partitionBy(col("w_start")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wWin = Window.partitionBy(col("w_start"))
    g.withColumn("r", sum(col("a")).over(wRef))
      .withColumn("ca", sum(col("a")).over(wCum))
      .withColumn("cr", sum(col("r")).over(wCum))
      .withColumn("n_ref", sum(col("r")).over(wWin))
      .withColumn("gap", abs(col("ca").cast(d38) * col("n_ref").cast(d38)
        - col("cr").cast(d38) * col("n_win").cast(d38)))
      .withColumn("mgap", max(col("gap")).over(wWin))
      .groupBy(col("w_start"), col("n_win"), col("n_ref"))
      // max_gap STAYS DECIMAL(38,0): it is bounded by n_win·n_ref, which
      // passes 2^63 near ~3e9-event windows — a long cast would throw
      // (ANSI) or wrap divergently vs the oracle's HUGEINT (the q232
      // overflow lesson); callers emit the double magnitude
      .agg(max(col("gap")).as("max_gap"),
        min(when(col("gap") === col("mgap"), col("bin"))).as("at_bin"))
      .withColumn("ks", floor(col("max_gap").cast("double") /
        (col("n_win").cast("double") * col("n_ref").cast("double"))
        * 1e6 + 0.5) / 1e6)
  }

  /** Continuous online-store materialization: foreachBatch MERGE of each
    * micro-batch into a keyed latest-value table — the engine's analog of
    * the reference's Redis upsert stream
    * (ingest_stream_to_online_store.py:48-82), but resolved by event time
    * so a late-arriving older row never clobbers a newer one.
    *
    * Each batch: apply `preprocess` (the reference's `preprocess_fn` hook,
    * ingest_stream_to_online_store.py:30-34 — arbitrary per-batch
    * DataFrame->DataFrame features/filtering before ingestion), collapse to
    * latest-per-key, merge with the live snapshot (max_by event time
    * again), and publish through [[graft.store.OnlineTable]] — immutable
    * bucket-generation dirs named by a manifest, committed through an
    * atomic commit-log pointer, safe for concurrent readers and object
    * stores (no directory renames).
    *
    * Publish is the BUCKETED incremental form
    * ([[graft.store.OnlineTable.publishBucketedBatch]]): the snapshot is
    * hash-bucketed by key and each micro-batch merges + rewrites ONLY
    * the buckets it touches — write amplification is O(touched buckets),
    * not O(table), the difference between upserting into a
    * billion-entity table every trigger and rewriting it. Merge cost per
    * bucket stays O(batch + bucket), never O(history). Batch retries
    * after a failure republish idempotently (latest-per-key of a union
    * is idempotent; a crashed publish leaves only unreferenced gen dirs
    * collected by GC), and a concurrent publisher costs a CAS re-derive,
    * never a lost update.
    *
    * @param compactEvery run [[graft.store.OnlineTable.compact]] after
    *   every Nth micro-batch (0 disables): each batch adds one
    *   generation dir for its touched buckets, so a long-running stream
    *   scatters every bucket's rows across many small files; periodic
    *   compaction collapses the live snapshot back to one generation
    *   through the same CAS log (readers and concurrent publishers are
    *   safe by the rebucket argument). Size the cadence to small-file
    *   pressure — compaction rewrites the WHOLE table, so it belongs on
    *   a maintenance rhythm, not per trigger. */
  def upsertOnline(stream: DataFrame, key: Seq[String], ts: String,
                   tieBreak: String, path: String,
                   preprocess: DataFrame => DataFrame = identity,
                   compactEvery: Long = 0L) = {
    import graft.ops.PointInTime
    import graft.store.OnlineTable
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val latestBatch =
          PointInTime.latestPerKey(preprocess(batch), key, ts, tieBreak)
        OnlineTable.publishBucketedBatch(latestBatch, path, key,
          (prev, b) => PointInTime.latestPerKey(
            prev.unionByName(b), key, ts, tieBreak))
        // after the publish, so a retried batch re-runs idempotently
        // (compact itself is a no-op on content)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          OnlineTable.compact(batch.sparkSession, path, key)
    }
  }

  /** Run a streaming query over a bounded source to completion
    * (Trigger.AvailableNow) into an in-memory table; returns the final
    * result as a batch DataFrame. Drives the full Structured Streaming
    * machinery (IncrementalExecution, state store) over file sources, which
    * is how tests and oracle checks exercise the streaming path without a
    * broker. */
  def runToMemory(result: DataFrame, name: String,
                  outputMode: String = "complete"): DataFrame = {
    val spark = result.sparkSession
    val (rows, schema) = runToMemoryRows(result, name, outputMode)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** [[runToMemory]] returning the collected rows + schema directly —
    * the memory sink's table is already driver-resident, so callers
    * that re-enter the result on ANOTHER session (runToMemoryIsolated)
    * can build their local relation from these rows without a second
    * collect of an intermediate DataFrame. Size caution: the memory
    * sink materializes the full result on the driver by design; this
    * path is for BOUNDED replays (tests, oracle checks, bench) whose
    * results are fixture-sized — an unbounded production stream keeps
    * a real sink (see upsertOnline). */
  private def runToMemoryRows(result: DataFrame, name: String,
                              outputMode: String)
      : (Array[org.apache.spark.sql.Row], StructType) = {
    val spark = result.sparkSession
    val q = result.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // The memory sink's table is fully materialized on the driver already;
    // take its rows and DROP the temp view before returning. Callers use
    // throwaway query names (q23/q63/q71 suffix nanoTime), so leaving the
    // view registered would accumulate one materialized result table plus
    // its streaming-query state per invocation in a long-lived JVM (bench
    // and verify loops).
    val t = spark.table(name)
    val rows = t.collect()
    val schema = t.schema
    spark.catalog.dropTempView(name)
    (rows, schema)
  }

  /** State partitions of every bounded replay ([[runToMemoryIsolated]]).
    * A fixture-sized stream pays one state-store commit per partition per
    * stateful operator per micro-batch, so a 32-core session's 32
    * partitions of near-empty state are mostly commit overhead: measured
    * ~1/3 of q77's wall at 32 vs 8, and ~20-30 % over ten replays. 8 -> 2
    * cuts the commits but loses the wall (compute parallelism), so 8 is
    * the measured optimum. Results do not depend on it: state is
    * hash-partitioned on the same keys either way. */
  private val StatePartitions = 8

  /** [[runToMemory]] with [[StatePartitions]] state partitions. Structured
    * Streaming sizes its state store from `spark.sql.shuffle.partitions`
    * at first run, and that must not be set by mutating the shared session
    * conf around the run: two concurrent stream launches on one session
    * would race on the set/restore. Instead the query is BUILT AND RUN on
    * a cloned session (`newSession` — same SparkContext, independent
    * SQLConf and temp-view catalog), so the partition override is
    * invisible to the caller's session and to any concurrent stream.
    * `build` receives the clone and must construct its sources from it;
    * the result re-enters the PARENT session as a local relation, so
    * downstream batch ops see the caller's own conf. */
  def runToMemoryIsolated(spark: SparkSession, name: String,
                          outputMode: String)
                         (build: SparkSession => DataFrame): DataFrame = {
    val cloned = spark.newSession()
    cloned.conf.set("spark.sql.shuffle.partitions",
      StatePartitions.toString)
    // one collect: the memory sink's rows re-enter the PARENT session
    // directly (the old path built a clone-session DataFrame and
    // collected it a second time to rebind)
    val (rows, schema) = runToMemoryRows(build(cloned), name, outputMode)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }
}
