package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{
  escapePathName, getPartitionPathString, unescapePathName}
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

  /** Schema of each saved vocabulary dir. */
  private val VocabSchema = "value STRING, idx BIGINT"

  /** Sidecar next to a saved model's vocabulary dirs: one
    * `<escaped column>\t<size>` line per column, so [[load]] knows every
    * unseen index without a count job per column. */
  private val SizesFile = "_sizes"

  /** One fitted vocabulary: column name -> lookup DataFrame
    * (`value: string, idx: long`) plus its size (the unseen index).
    * `fitted` is the cached `(c, value, idx)` table [[fit]] derives every
    * lookup from; a loaded model has none. */
  case class Model(lookups: Map[String, DataFrame], sizes: Map[String, Long],
                   fitted: Option[DataFrame] = None) {

    /** Drop [[fitted]]'s cache. The cached table's lineage pins its
      * fit-time broadcast, whose hash relation holds a whole memory page
      * (16.8 MB under a 2 GB heap) in the block manager for as long as the
      * session lives. Release it only after the model's last use: every
      * lookup (and [[save]]) reads the cached table, so afterwards each one
      * re-runs the whole fit — a gold write (table plus retrieval split)
      * over an unpersisted 16-column model ran 99 Spark jobs (8.6 s warm)
      * against 19 (1.7-2.1 s) on 40,000 rows and 4 cores. */
    def unpersist(): Unit = fitted.foreach(_.unpersist(blocking = true))

    /** Replace each fitted column with its index (original value columns are
      * overwritten, like the reference's rename dance at
      * batch_process_Silver_to_Gold.py:126-130). Unseen -> vocab size.
      *
      * The lookup join is broadcast ONLY when the fitted vocabulary size
      * is under [[BroadcastMaxRows]] — MLlib's StringIndexer
      * unconditionally collects labels to the driver and would OOM on a
      * web-scale vocabulary; here a large vocab rides a shuffled hash
      * join instead. The joins only add `__<col>_val`/`__<col>_idx`
      * columns; one final projection swaps the indices in, so the
      * analyzer sees each join once instead of re-analysing the growing
      * plan per column. */
    def transform(df: DataFrame,
                  broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
      val joined = lookups.foldLeft(df) { case (acc, (c, lut)) =>
        val l = lut.select(col("value").as(s"__${c}_val"),
          col("idx").as(s"__${c}_idx"))
        acc.join(if (sizes(c) <= broadcastMaxRows) broadcast(l) else l,
          df(c).cast("string") === col(s"__${c}_val"), "left")
      }
      joined.select(df.columns.toSeq.map(c =>
        if (lookups.contains(c))
          coalesce(col(s"__${c}_idx"), lit(sizes(c))).as(c)
        else df(c)): _*)
    }

    /** One write job for every vocabulary: the `(c, value, idx)` table is
      * written once partitioned by `c`, then each `c=<col>` dir is renamed
      * to `<path>/<col>`, the layout [[load]] and the stream job read. A
      * web-scale vocabulary (item_id: ~1.84 M distinct at reference
      * scale, ~100× that at the design bar) never funnels through one
      * task; files stay bounded via maxRecordsPerFile. An empty
      * vocabulary (an all-NULL column) writes no partition, so its dir is
      * created empty. Sizes go to the [[SizesFile]] sidecar from the
      * driver. A model without a fitted table (a loaded one) writes its
      * lookups stacked. Overwrites whatever `path` held. */
    def save(path: String): Unit = {
      val table = fitted.getOrElse(lookups.toSeq
        .map { case (c, lut) => lut.select(lit(c).as("c"), col("value"), col("idx")) }
        .reduce(_ unionByName _))
      table.write.mode("overwrite").partitionBy("c")
        .option("partitionOverwriteMode", "static")
        .option("maxRecordsPerFile", (4 << 20).toString)
        .parquet(path)
      val root = new Path(path)
      val fs = root.getFileSystem(table.sparkSession.sessionState.newHadoopConf())
      sizes.keys.foreach { c =>
        val written = new Path(root, getPartitionPathString("c", c))
        val dir = new Path(s"$path/$c")
        if (!fs.exists(written)) fs.mkdirs(dir)
        else if (!fs.rename(written, dir))
          throw new java.io.IOException(s"categorify save: cannot rename $written to $dir")
      }
      val out = fs.create(new Path(root, SizesFile), true)
      try out.write(sizes.map { case (c, n) => s"${escapePathName(c)}\t$n" }
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
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

  /** A model [[Model.save]] wrote: each column's dir read with the
    * vocabulary schema (no inference job), sizes from the [[SizesFile]]
    * sidecar — no Spark job runs. */
  def load(spark: SparkSession, path: String, cols: Seq[String]): Model = {
    val sidecar = new Path(path, SizesFile)
    val fs = sidecar.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(sidecar)) throw new java.io.FileNotFoundException(
      s"categorify model at $path has no $SizesFile sidecar; save it with Categorify.Model.save")
    val in = fs.open(sidecar)
    val saved = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val Array(c, n) = line.split("\t")
        unescapePathName(c) -> n.toLong
      }.toMap
    finally in.close()
    val sizes = cols.map { c =>
      c -> saved.getOrElse(c, throw new NoSuchElementException(
        s"categorify model at $path has no column $c " +
          s"(saved: ${saved.keys.toSeq.sorted.mkString(", ")})"))
    }.toMap
    Model(cols.map(c => c -> spark.read.schema(VocabSchema).parquet(s"$path/$c")).toMap,
      sizes)
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
