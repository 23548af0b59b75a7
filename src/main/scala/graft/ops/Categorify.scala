package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frequency-based categorical indexing — the reference's 16-column
  * `StringIndexer` `Pipeline` (/root/reference/data_processing/
  * batch_processing/batch_process_Silver_to_Gold.py:106-126) rebuilt as a
  * relational operator.
  *
  * Semantics match MLlib `StringIndexer(frequencyDesc, handleInvalid=keep)`:
  * index 0 = most frequent value, ties broken by value ascending, unseen
  * values at transform time -> `numLabels`.
  *
  * Scale design: the reference fits 16 indexers *serially* — 16 full scans
  * (SURVEY.md §4.2 pathology #5). Here one `fit` melts all requested columns
  * into (column, value) pairs and computes every vocabulary in a single
  * scan + single shuffle. The fitted model is a per-column lookup table;
  * `transform` broadcast-joins it when the fitted size is under
  * [[BroadcastMaxRows]] (no shuffle on the main table), and falls back
  * to a shuffled hash join for web-scale vocabularies that would blow
  * the broadcast ceiling.
  */
object Categorify {

  /** Vocabularies at or under this row count get an explicit
    * `broadcast()` hint at transform time; larger ones ride a shuffled
    * join. ~4M rows of (string value, long idx) is comfortably inside
    * Spark's broadcast ceiling (tens of MB); the reference's largest
    * vocabulary (item_id, ~1.84 M) broadcasts, a 100×-scaled one
    * (~184 M rows, multi-GB) must NOT — a forced broadcast there
    * exceeds the 8 GB broadcast limit and OOMs executors. Above the
    * gate we leave the join unhinted so AQE may still pick a broadcast
    * if the runtime size turns out small. */
  val BroadcastMaxRows: Long = 4L << 20

  /** One fitted vocabulary: column name -> lookup DataFrame
    * (`value: string, idx: long`) plus its size (the unseen index).
    * `fitted` is the cached table [[fit]] derives every lookup from; a
    * loaded model has none. */
  case class Model(lookups: Map[String, DataFrame], sizes: Map[String, Long],
                   fitted: Option[DataFrame] = None) {

    /** Drop [[fitted]]'s cache once the model's outputs are written. The
      * cached table's lineage pins its fit-time broadcast, whose hash
      * relation holds a whole memory page (16.8 MB under a 2 GB heap) in
      * the block manager for as long as the session lives. The lookups
      * stay usable: they recompute. */
    def unpersist(): Unit = fitted.foreach(_.unpersist(blocking = true))

    /** Replace each fitted column with its index (original value columns are
      * overwritten, like the reference's rename dance at
      * batch_process_Silver_to_Gold.py:126-130). Unseen -> vocab size.
      *
      * The lookup join is broadcast ONLY when the fitted vocabulary size
      * is under [[BroadcastMaxRows]] — MLlib's StringIndexer
      * unconditionally collects labels to the driver and would OOM on a
      * web-scale vocabulary; here a large vocab rides a shuffled hash
      * join instead. */
    def transform(df: DataFrame,
                  broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
      lookups.foldLeft(df) { case (acc, (c, lut)) =>
        val renamed = lut
          .withColumnRenamed("value", s"__${c}_val")
          .withColumnRenamed("idx", s"__${c}_idx")
        val l = if (sizes(c) <= broadcastMaxRows) broadcast(renamed)
                else renamed
        acc
          .join(l, acc(c).cast("string") === l(s"__${c}_val"), "left")
          .withColumn(c, coalesce(col(s"__${c}_idx"), lit(sizes(c))))
          .drop(s"__${c}_val", s"__${c}_idx")
      }

    /** Sharded write — a web-scale vocabulary (item_id: ~1.84 M distinct
      * at reference scale, ~100× that at the design bar) must not funnel
      * through one `coalesce(1)` task; files stay bounded via
      * maxRecordsPerFile and AQE coalesces the small shuffles. */
    def save(path: String): Unit =
      lookups.foreach { case (c, lut) =>
        lut.write.mode("overwrite")
          .option("maxRecordsPerFile", (4 << 20).toString)
          .parquet(s"$path/$c")
      }
  }

  /** Single-pass multi-column frequency fit.
    *
    * Ranking shape: a naive `Window.partitionBy(column)` puts each
    * column's ENTIRE vocabulary in one sort partition (~184 M rows for a
    * 100×-scaled item_id — a single-task serialization). Instead the
    * q65/q86/coverageVocab distributed prefix-sum: bucket rows by
    * `length(bin(count))` — exact integer log2, so within a column
    * (bucket desc, count desc, value asc) IS the global
    * (count desc, value asc) order — rank inside the (column, bucket)
    * partition, and add a broadcast per-(column, bucket) row-count
    * offset (≤64 buckets × #columns rows). Fully parallel; the only
    * driver materialization is the #columns-row size map off the cached
    * lookup table. */
  def fit(df: DataFrame, cols: Seq[String]): Model = {
    // Melt: one (col, value) row per cell, then a single groupBy computes all
    // vocabularies together. Nulls are excluded (StringIndexer drops them).
    val pairs = df.select(
      explode(map_from_arrays(
        array(cols.map(lit): _*),
        array(cols.map(c => col(c).cast("string")): _*))).as(Seq("c", "value")))
      .filter(col("value").isNotNull)
    val freq = pairs.groupBy("c", "value").count()
    val bucketed = freq.withColumn("__b", length(bin(col("count"))))
    // per-(column, bucket) row counts -> rank offsets; the window runs
    // over ≤64 rows per column, never over the vocabulary itself
    val offsets = bucketed.groupBy("c", "__b").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.partitionBy("c").orderBy(desc("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("c", "__b", "__off")
    val wb = Window.partitionBy("c", "__b")
      .orderBy(desc("count"), asc("value"))
    val indexed = bucketed.join(broadcast(offsets), Seq("c", "__b"))
      .withColumn("idx",
        row_number().over(wb).cast("long") - 1 + col("__off"))
      .select("c", "value", "idx")
      .cache()
    val lookups = cols.map(c =>
      c -> indexed.filter(col("c") === c).select("value", "idx")).toMap
    // distributed agg over the CACHED lookup table; #columns-row result
    val sizes = indexed.groupBy("c").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Model(lookups, cols.map(c => c -> sizes.getOrElse(c, 0L)).toMap,
      Some(indexed))
  }

  def load(spark: SparkSession, path: String, cols: Seq[String]): Model = {
    val lookups = cols.map(c => c -> spark.read.parquet(s"$path/$c")).toMap
    val sizes = cols.map(c => c -> lookups(c).count()).toMap
    Model(lookups, sizes)
  }

  /** Pure-column variant for a single column when the vocabulary must stay
    * in-plan (used by oracle-checked queries): returns (df with idx column).
    * Same semantics as fit+transform but expressed as one in-plan join.
    * Same bucketed prefix-sum ranking as [[fit]] — no fully-global
    * `Window.orderBy` (that would sort the whole vocabulary in one
    * task); the only single-partition window left runs over the ≤64-row
    * bucket table. */
  def indexColumn(df: DataFrame, c: String, as: String): DataFrame = {
    val freq = df.filter(col(c).isNotNull)
      .groupBy(col(c).cast("string").as("__v")).count()
    val bucketed = freq.withColumn("__b", length(bin(col("count"))))
    val offsets = bucketed.groupBy("__b").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.orderBy(desc("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__b", "__off")
    val wb = Window.partitionBy("__b").orderBy(desc("count"), asc("__v"))
    val lut = bucketed.join(broadcast(offsets), Seq("__b"))
      .withColumn(as,
        row_number().over(wb).cast("long") - 1 + col("__off"))
      .select("__v", as)
    // no broadcast hint on the vocabulary join: its size is unknown until
    // runtime, and AQE broadcasts it when it IS small — a forced hint
    // would OOM on a 100×-scale high-cardinality column (the only hinted
    // broadcast above is the ≤64-row bucket-offset table)
    df.join(lut, df(c).cast("string") === lut("__v"), "left")
      .drop("__v")
  }
}
