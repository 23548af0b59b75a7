package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF centroid index — fit ONCE, probe many times.
  *
  * An inverted-file ANN index is infrastructure, not a per-query artifact:
  * at corpus scale the KMeans fit is minutes while a probe is a single
  * cell-join, so the fit must amortize across every query batch that
  * follows (the reference's Categorify model store plays the same role for
  * vocabularies — mirrored here as parquet save/load,
  * [[graft.ops.Categorify.Model.save]]).
  *
  * The fitted state is tiny (nlist × dim floats): it rides the driver and
  * enters query plans as literals, never as a joined table, so probing
  * adds zero shuffles to the corpus side ([[Similarity.ivfTopK]]).
  */
object IvfIndex {

  /** (cell id, centroid as floats, ||centroid||²) — precomputed squared
    * norms let cell scoring use argmax(v·c − ||c||²/2), one vec_dot per
    * cell. */
  case class Model(centroids: Seq[(Int, Seq[Float], Double)]) {

    /** Persist as a tiny single-file parquet (cell: int,
      * centroid: array<float>); norms are recomputed on load. */
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      centroids.map { case (i, cv, _) => (i, cv) }
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
  }

  /** KMeans-fit the cell structure on a `fitFraction` sample — cell
    * quality needs the coarse cluster shape, not every point, and nprobe
    * probing absorbs slightly-off boundaries. Deterministic under the
    * fixed seed. `corpus` must expose the embedding as `nvec`. */
  def fit(corpus: DataFrame, nlist: Int = 16, seed: Long = 42L,
          fitFraction: Double = 0.25, maxIter: Int = 5): Model = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val fitSrc =
      if (fitFraction >= 1.0) corpus else corpus.sample(fitFraction, seed)
    val train = fitSrc.select(array_to_vector(
      col("nvec").cast("array<double>")).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .fit(train)
    // n2 from the FLOAT-rounded centroid (what scoring literals carry and
    // what save persists) — fit-then-probe and save/load-then-probe give
    // bit-identical plans
    Model(model.clusterCenters.zipWithIndex.map { case (c, i) =>
      val cv = c.toArray.map(_.toFloat).toSeq
      (i, cv, cv.map(x => x.toDouble * x.toDouble).sum)
    }.toSeq)
  }

  /** Write the INVERTED FILE: the corpus tagged with its cell id, stored
    * as parquet partitioned BY cell. This is the half of IVF the centroid
    * table alone cannot give you: with cells materialized as partitions, a
    * probe READS only its probed cells' directories (partition pruning at
    * the scan) instead of re-scoring every corpus row against every
    * centroid per query batch — at 100 TB the corpus-side probe IO drops
    * to ~nprobe/nlist of the data. `repartition(cell)` gives one writer
    * task per cell (no small-file explosion); the build is the offline
    * half of fit-once/probe-many, exactly like the centroid fit.
    * `corpus` must expose `nid` and the embedding as `nvec`. */
  def buildInverted(corpus: DataFrame, index: Model, path: String): Unit =
    writeInverted(corpus, index, path, "overwrite")

  /** Incremental index maintenance: assign a NEW batch of vectors to the
    * EXISTING centroids and append into the inverted file's cell
    * partitions. This is the cheap path a growing corpus takes between
    * refits — one projection + one cell-partitioned write, no KMeans, no
    * rewrite of existing cells — and it is exactly how the index gets
    * STALE: appended data from a shifted distribution lands wherever the
    * OLD centroids put it, concentrating in few cells (hot cells break
    * the cell-size discipline: candidate mass per probe is bounded by
    * cell×nprobe only while cells stay near their fair share). Pair
    * every append cadence with [[staleness]] and a [[refitIfStale]]
    * policy — the retrieval-quality analogue of a drift monitor's
    * rolling re-baseline. `batch` must expose `nid` and `nvec`. */
  def appendInverted(batch: DataFrame, index: Model, path: String): Unit =
    writeInverted(batch, index, path, "append")

  /** The file under an inverted file's root recording its schema as a
    * parquet read reports it, so a probe reads with no inference job
    * (Spark's file listing skips `_`-prefixed names). */
  private[llm] val SchemaFile = "_schema.json"

  /** Tag `rows` with their cells, write them partitioned by cell, and
    * record the tree's schema in [[SchemaFile]]. */
  private def writeInverted(rows: DataFrame, index: Model, path: String,
                            mode: String): Unit = {
    val tagged = rows.withColumn("cell", Similarity.ivfCell(col("nvec"), index))
    tagged.repartition(col("cell"))
      .write.partitionBy("cell").mode(mode).parquet(path)
    val file = new org.apache.hadoop.fs.Path(path, SchemaFile)
    val out = file.getFileSystem(rows.sparkSession.sessionState.newHadoopConf())
      .create(file, true)
    try out.write(graft.store.OnlineTable.parquetReadSchema(tagged.schema)
      .json.getBytes("UTF-8"))
    finally out.close()
  }

  /** Occupancy-skew staleness verdict for a persisted inverted file.
    * All triggers are EXACT integer comparisons on cell counts:
    *  - a HOT cell holds more than `hotFactor`× its fair share
    *    (count × nlist > hotFactor × n, cross-multiplied longs) — probes
    *    touching it blow the per-probe candidate budget;
    *  - GROWN: the corpus exceeds `growFactor`× the size the nlist was
    *    sized for (n > growFactor × nlist × cellTarget under the
    *    nlist = n/cellTarget discipline) — even perfectly balanced cells
    *    are now oversized.
    * Empty cells are counted (a starving cell is wasted nlist budget and
    * a symptom of drift) but do not trigger alone. */
  final case class Staleness(nRows: Long, nlist: Int, maxCell: Long,
                             hotCells: Int, emptyCells: Int,
                             grown: Boolean, needsRefit: Boolean)

  def staleness(spark: SparkSession, cellsPath: String, index: Model,
                hotFactor: Int = 4, cellTarget: Int = 512,
                growFactor: Int = 2): Staleness = {
    val counts = spark.read.parquet(cellsPath)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val k = index.centroids.size
    val n = counts.values.sum
    val maxCell = if (counts.isEmpty) 0L else counts.values.max
    val hot = index.centroids.count { case (i, _, _) =>
      counts.getOrElse(i, 0L) * k > hotFactor.toLong * n }
    val empty = index.centroids.count { case (i, _, _) =>
      counts.getOrElse(i, 0L) == 0L }
    val grown = n > growFactor.toLong * k * cellTarget
    Staleness(n, k, maxCell, hot, empty, grown, hot > 0 || grown)
  }

  /** Refit policy: when [[staleness]] trips, refit on the CURRENT corpus
    * (the inverted file holds it — base plus every appended batch) with
    * nlist re-derived from the cell-size discipline
    * (max(old nlist, n / cellTarget) — nlist never shrinks, so probe
    * plans sized for the old index stay valid) and return the fresh
    * model for the caller to republish (save + buildInverted + publish,
    * the same atomic-rename path as the original build). Returns None
    * while the index is healthy — the caller keeps appending. */
  def refitIfStale(spark: SparkSession, cellsPath: String, index: Model,
                   hotFactor: Int = 4, cellTarget: Int = 512,
                   growFactor: Int = 2, seed: Long = 42L): Option[Model] = {
    val st = staleness(spark, cellsPath, index, hotFactor, cellTarget,
      growFactor)
    if (!st.needsRefit) None
    else {
      val nlist = math.max(index.centroids.size.toLong,
        math.max(1L, st.nRows / cellTarget)).toInt
      Some(fit(spark.read.parquet(cellsPath)
        .select(org.apache.spark.sql.functions.col("nid"),
          org.apache.spark.sql.functions.col("nvec")),
        nlist = nlist, seed = seed))
    }
  }

  /** Fit-once acquire of the persisted index for content key `key` (the
    * caller's identity of the corpus — e.g. its dir plus its files' name,
    * size and mtime): build and publish on first use in ANY JVM, load
    * thereafter. Returns the model and the path of its inverted file
    * (the `cells` tree [[Similarity.ivfTopKPersisted]] probes). The only
    * code that knows the on-disk layout:
    * `<java.io.tmpdir>/graft_ivf_<md5(key, nlist)>/index/{centroids,cells}`,
    * a stable per-digest path so repeated runs reuse one directory instead
    * of leaking a fresh tempdir each. Both halves are built offline into a
    * unique tmp dir, then published as one tree by [[publish]]: a
    * concurrent JVM building the same key either wins the rename or loads
    * the winner's fully-written index — never a torn or wrong-dataset
    * read. `corpus` must expose `nid` and the embedding as `nvec`. */
  def acquire(spark: SparkSession, corpus: DataFrame, key: String,
              nlist: Int): (Model, String) = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // the layout+params tag versions the on-disk tree: a JVM running
    // older code (centroids-only layout, nlist=16, or cells without
    // `_schema.json`) and this one can never load each other's index dirs
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((key + s"\u0000ivf4:nlist=$nlist").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val base = Paths.get(sys.props("java.io.tmpdir"), s"graft_ivf_$digest")
    val fin = base.resolve("index")
    if (!Files.exists(fin)) {
      val tmp = base.resolve(s"index.tmp.${ProcessHandle.current().pid()}")
      val m = fit(corpus, nlist = nlist)
      m.save(spark, tmp.resolve("centroids").toString)
      buildInverted(corpus, m, tmp.resolve("cells").toString)
      publish(tmp, fin)
      // sweep index.tmp.* leaked by CRASHED builders only: an hour-old
      // age floor keeps a concurrent builder's live tmp out of reach
      // (a whole build is seconds), and rmTree tolerates the
      // mirror-image race of two sweepers
      if (Files.isDirectory(base)) {
        val ls = Files.list(base)
        try ls.iterator().asScala
          .filter(_.getFileName.toString.startsWith("index.tmp."))
          .filter(p => try Files.getLastModifiedTime(p).toMillis <
              System.currentTimeMillis() - 3600L * 1000
            catch { case _: Exception => false })
          .foreach(p => try rmTree(p) catch { case _: Exception => () })
        finally ls.close()
      }
    }
    (load(spark, fin.resolve("centroids").toString),
      fin.resolve("cells").toString)
  }

  /** Publish a fully-written index directory `tmp` to its final path
    * `fin` by atomic rename, safe under concurrent publishers: losing the
    * rename race is success (the winner's tree is complete — drop our
    * duplicate and load theirs). On filesystems without atomic directory
    * moves (AtomicMoveNotSupported on exotic tmpdirs) the fallback
    * serializes through an exclusive lock file in `fin`'s parent and
    * RE-CHECKS under the lock — two fallback publishers can therefore
    * never interleave a non-atomic move (one publishes, the other sees
    * `fin` and drops its tmp). IvfPublishSpec races publishers both ways. */
  def publish(tmp: java.nio.file.Path, fin: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, FileSystemException, StandardCopyOption}
    try Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: FileSystemException =>
      if (Files.exists(fin)) rmTree(tmp) // lost the atomic publish race
      else publishLocked(tmp, fin, e)
    }
  }

  /** Non-atomic fallback, factored out so IvfPublishSpec can race it
    * directly (the atomic path is untestably fast to lose on tmpfs).
    * Two locks, both required: the JVM monitor serializes publisher
    * THREADS (java.nio file locks are per-process — a second thread
    * locking the same file throws OverlappingFileLockException rather
    * than blocking), and the file lock serializes publisher PROCESSES. */
  private val publishMonitor = new Object
  private[llm] def publishLocked(tmp: java.nio.file.Path,
                                 fin: java.nio.file.Path,
                                 cause: Throwable): Unit = publishMonitor.synchronized {
    import java.nio.file.{Files, FileSystemException, StandardOpenOption}
    val lockPath = fin.getParent.resolve(fin.getFileName.toString + ".lock")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val lk = ch.lock()
      try {
        if (Files.exists(fin)) rmTree(tmp) // published while we waited
        else {
          try Files.move(tmp, fin)
          catch { case _: FileSystemException =>
            // neither atomic nor plain move worked and nobody else
            // published: surface the ORIGINAL failure, not a confusing
            // missing-path error from a later load
            if (Files.exists(fin)) rmTree(tmp) else throw cause
          }
        }
      } finally lk.release()
    } finally ch.close()
  }

  /** Delete a tree, tolerating its concurrent removal. */
  private[graft] def rmTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    try {
      val st = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally st.close()
    } catch { case _: java.nio.file.NoSuchFileException => () }
  }

  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path)
      .select("cell", "centroid")
      .collect() // nlist rows — the index is driver-sized by design
      .map { r =>
        val cv = r.getSeq[Float](1)
        // same float-derived n2 as fit — loaded and fresh models are
        // bit-identical
        (r.getInt(0), cv, cv.map(x => x.toDouble * x.toDouble).sum)
      }.sortBy(_._1).toSeq
    Model(rows)
  }
}
