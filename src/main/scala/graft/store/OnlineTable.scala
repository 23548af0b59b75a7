package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{broadcast, col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType,
  LongType, MapType, ShortType, StructType}

/** Versioned, bucketed online-table layout with an optimistic-concurrency
  * commit log — the object-store-safe replacement for directory-rename
  * swaps (which are neither atomic nor portable off a local filesystem:
  * `java.io.File` cannot address HDFS/S3, and S3 has no atomic
  * directory rename at all).
  *
  * Layout under `root`:
  * {{{
  *   root/_commits/c-<seq>   <- the COMMIT LOG: one file per commit,
  *                              created EXCLUSIVELY, naming the version;
  *                              the highest seq is the live version
  *   root/m-<version>        <- every snapshot: a manifest naming, per
  *                              hash bucket of the key, one...
  *   root/g-<generation>/    <- ...immutable bucket-generation dir
  * }}}
  *
  * A publish writes a NEW generation and manifest to completion, then
  * commits by creating `_commits/c-<head+1>` with `overwrite=false` — an
  * EXCLUSIVE create (atomic on posix and HDFS; on an object store the
  * equivalent is a conditional PUT, e.g. S3 If-None-Match). Two
  * concurrent publishers that both read head N both target `c-<N+1>`;
  * the filesystem admits exactly ONE — the loser observes the collision
  * and retries against the new head, so every publisher lands in the
  * log exactly once. This is the multi-writer optimistic-concurrency core
  * of the transactional table formats (Delta's `_delta_log/<n>.json`
  * exclusive create is the same protocol).
  *
  * Readers resolve the log head then scan immutable files, so they can
  * never observe a half-written table; a reader holding the previous
  * version keeps working because the previous snapshot is retained for
  * one publish cycle (older ones are garbage-collected). A writer crash
  * before the commit leaves only an unreferenced manifest and gen dir,
  * collected by the first successful publish after they age past
  * [[OrphanGraceMs]]; after the commit a publish only collects garbage,
  * so a crash there leaves a consistent table.
  */
object OnlineTable {

  private val CommitDir = "_commits"
  private val PublishRetries = 100

  /** Grace window before an UNCOMMITTED manifest or gen dir is
    * collected: a concurrent publisher that has fully written its
    * snapshot but not yet won its commit must not have it swept from
    * under its commit (the torn-snapshot race). Committed-but-superseded
    * snapshots need no grace — the log proves no commit can ever
    * reference them again. Crashed/lost-race orphans are collected by
    * the first successful publish after they age past this window. */
  val OrphanGraceMs: Long = 3600L * 1000

  /** The optimistic check failed: another publisher committed between
    * the caller's read of the live version and its commit attempt. */
  final case class ConcurrentPublishException(
      expected: Option[String], actual: Option[String])
    extends RuntimeException(
      s"concurrent publish: expected live version $expected, log head is $actual")

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val rootPath = new Path(root)
    (rootPath.getFileSystem(spark.sessionState.newHadoopConf()), rootPath)
  }

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.commons.io.IOUtils.copy(in, buf)
      buf.toString("UTF-8").trim
    } finally in.close()
  }

  /** Read a commit file's version, tolerating the create→write window
    * of a NON-local winner mid-commit (local commits are hard-linked
    * into place content-complete, see [[tryCommit]]): brief bounded
    * retries while empty, then fail loudly — an empty commit file past
    * the window means a writer died inside the two-step create, which
    * the single-step local path exists to prevent. */
  private def readCommit(fs: FileSystem, p: Path): String = {
    var waited = 0L
    var v = readSmall(fs, p)
    while (v.isEmpty && waited < 2000L) {
      Thread.sleep(20L); waited += 20L
      v = readSmall(fs, p)
    }
    require(v.nonEmpty, s"commit file $p is empty — writer died mid-commit")
    v
  }

  private def commitPath(rootPath: Path, seq: Long): Path =
    new Path(new Path(rootPath, CommitDir), f"c-$seq%012d")

  /** Seqs of the commit files in the log, unordered; none before the
    * first commit. */
  private def commitSeqs(fs: FileSystem, rootPath: Path): Seq[Long] =
    try fs.listStatus(new Path(rootPath, CommitDir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("c-"))
      .map(_.getPath.getName.stripPrefix("c-").toLong)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The version a commit names; None if a concurrent publisher's GC
    * collected the commit since it was listed. */
  private def commitAt(fs: FileSystem, rootPath: Path, seq: Long): Option[String] =
    try Some(readCommit(fs, commitPath(rootPath, seq)))
    catch { case _: java.io.FileNotFoundException => None }

  /** Retained commit-log entries, seq-ascending (a vanished entry is
    * simply no longer part of the retained log). */
  private def logEntries(fs: FileSystem, rootPath: Path): Seq[(Long, String)] =
    commitSeqs(fs, rootPath).sorted.flatMap(seq =>
      commitAt(fs, rootPath, seq).map(seq -> _))

  /** Log head (seq, version), if the table has ever been published: one
    * listing of the commit dir and one read of its highest seq. GC only
    * evicts commits at least `keepVersions` behind a newer head, so a
    * listed top that vanished before its read means the log moved on —
    * list again. */
  @annotation.tailrec
  private def head(fs: FileSystem, rootPath: Path): Option[(Long, String)] = {
    val seqs = commitSeqs(fs, rootPath)
    if (seqs.isEmpty) None
    else {
      val top = seqs.max
      commitAt(fs, rootPath, top) match {
        case Some(v) => Some((top, v))
        case None => head(fs, rootPath)
      }
    }
  }

  /** One exclusive commit attempt at `seq`; false on collision.
    *
    * Local filesystems get the strongest form: the content is written
    * to a temp file, then HARD-LINKED to the commit name — link(2) is
    * atomic AND exclusive (EEXIST), and the destination appears with
    * its content COMPLETE, so no reader can ever observe an empty
    * commit file. Non-local filesystems fall back to Hadoop's
    * exclusive create + write (HDFS's atomic-create lease protocol;
    * on an object store substitute the conditional PUT), whose brief
    * create→write window [[readCommit]] tolerates. */
  private def tryCommit(fs: FileSystem, rootPath: Path, seq: Long,
                        version: String): Boolean = {
    val dir = new Path(rootPath, CommitDir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val p = commitPath(rootPath, seq)
    if ("file" == fs.getScheme) {
      import java.nio.file.{Files, Paths}
      val target = Paths.get(p.toUri.getPath)
      val tmp = Files.createTempFile(Paths.get(dir.toUri.getPath),
        s".c-$seq-", ".tmp")
      try {
        Files.write(tmp, version.getBytes("UTF-8"))
        try { Files.createLink(target, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally Files.deleteIfExists(tmp)
    } else try {
      val out = fs.create(p, false) // overwrite=false: EXCLUSIVE
      try out.write(version.getBytes("UTF-8")) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.FileNotFoundException => false
      case e: java.io.IOException
        if e.getMessage != null && e.getMessage.contains("exist") => false
    }
  }

  /** Commit `version` at the seq after `h0` and, if it won, collect
    * garbage; false if another publisher took that seq. */
  private def commitAfter(fs: FileSystem, rootPath: Path,
                          h0: Option[(Long, String)], version: String,
                          keepVersions: Int): Boolean =
    tryCommit(fs, rootPath, h0.fold(1L)(_._1 + 1L), version) && {
      collectGarbage(fs, rootPath, keepVersions)
      true
    }

  /** The compare-and-swap loop behind every retrying publish: read the
    * head, derive the version to commit over it (None: nothing to
    * commit), commit it at head+1. A lost race re-derives from the
    * winner's head. So does a derive that fails on files vanishing
    * mid-read: derives read the previous snapshot LAZILY, and a
    * concurrent publisher's GC may evict the head this attempt resolved
    * and collect what it referenced. Each retry means another writer
    * committed, so the loop starves only under pathological contention,
    * and then it fails loudly with the last conflict. */
  private def casLoop(fs: FileSystem, rootPath: Path, keepVersions: Int)(
      derive: Option[(Long, String)] => Option[String]): Unit = {
    require(keepVersions >= 2, "keepVersions must be >= 2")
    var last: Throwable = null
    var attempt = 0
    while (attempt < PublishRetries) {
      attempt += 1
      val h0 = head(fs, rootPath)
      val derived =
        try Right(derive(h0))
        catch { case e: Throwable if isMissingFiles(e) => Left(e) }
      derived match {
        case Left(e) => last = e
        case Right(None) => return
        case Right(Some(version)) =>
          if (commitAfter(fs, rootPath, h0, version, keepVersions)) return
          // lost the race: the written version stays an orphan for GC
          last = ConcurrentPublishException(h0.map(_._2),
            head(fs, rootPath).map(_._2))
      }
    }
    throw last
  }

  /** A fresh, time-ordered file name under the table root. */
  private def freshName(prefix: String): String =
    f"$prefix${System.currentTimeMillis()}%013d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Post-commit GC: retain the newest `keepVersions` committed
    * manifests and the gen dirs they reference, drop orphans and stale
    * commit files. */
  private def collectGarbage(fs: FileSystem, rootPath: Path,
                             keepVersions: Int): Unit = {
    // the log defines commit order; keep the newest keepVersions
    // committed snapshots
    val entries = logEntries(fs, rootPath)
    val keep = entries.takeRight(keepVersions).map(_._2).toSet
    val committed = entries.map(_._2).toSet
    val now = System.currentTimeMillis()
    // bucket-generation references: a gen subdir lives exactly as long
    // as some RETAINED manifest points at it. Parse evicted manifests
    // BEFORE deleting them so their now-unreferenced gens go promptly;
    // gens referenced by NO logged manifest may belong to an in-flight
    // publisher and wait out the grace window like any orphan.
    def refsOf(names: Iterable[String]): Set[String] = names.flatMap { m =>
      try readManifest(fs, rootPath, m).entries.values
      catch { case _: java.io.IOException => Nil }
    }.toSet
    val keptRefs = refsOf(keep)
    val evictedRefs = refsOf(entries.dropRight(keepVersions).map(_._2))
    fs.listStatus(rootPath).foreach { st =>
      val name = st.getPath.getName
      // superseded committed manifests go immediately (the log proves no
      // future commit can reference them); an UNCOMMITTED one may be a
      // concurrent publisher mid-commit — only collect it once it ages
      // past the in-flight grace window
      if (st.isFile && name.startsWith(ManifestPrefix) &&
          !keep.contains(name)) {
        if (committed.contains(name) ||
            now - st.getModificationTime > OrphanGraceMs)
          fs.delete(st.getPath, false)
      }
      if (st.isDirectory && name.startsWith(GenPrefix)) {
        var liveSubdirs = 0
        fs.listStatus(st.getPath).foreach { sub =>
          val rel = s"$name/${sub.getPath.getName}"
          if (keptRefs.contains(rel)) liveSubdirs += 1
          else if (evictedRefs.contains(rel) ||
              now - sub.getModificationTime > OrphanGraceMs)
            fs.delete(sub.getPath, true)
          else liveSubdirs += 1 // young unreferenced: possibly in-flight
        }
        if (liveSubdirs == 0 &&
            now - st.getModificationTime > OrphanGraceMs)
          fs.delete(st.getPath, true)
      }
    }
    entries.dropRight(keepVersions).foreach { case (seq, _) =>
      fs.delete(commitPath(rootPath, seq), false)
    }
  }

  // ---- Bucketed snapshots --------------------------------------------
  //
  // Every committed version is a small manifest FILE mapping each hash
  // bucket of the key to the immutable bucket-generation dir holding its
  // rows. A batch publish rewrites ONLY the buckets the batch touches and
  // re-points the rest at their existing generation dirs — O(touched
  // buckets) write amplification instead of O(table), the difference
  // between a micro-batch upsert into a billion-entity table and
  // rewriting it every trigger; a point lookup scans only the buckets its
  // keys hash into. Commits ride the exclusive-create log (CAS at
  // head+1), so readers resolve one pointer and scan immutable dirs — a
  // torn snapshot is impossible.

  private val ManifestPrefix = "m-"
  private val GenPrefix = "g-"
  private val BucketCol = "__graft_bucket"
  /** Bucket count of a table's first publish. */
  private val DefaultBuckets = 64

  private val SchemaTag = "schema="

  /** Bucket count, bucket -> generation-dir (root-relative), and the
    * snapshot's schema. */
  private[store] final case class Manifest(nBuckets: Int,
                                           entries: Map[Int, String],
                                           schema: StructType)

  /** The manifest `name`; a committed version that is not one (say, a
    * parquet dir committed under a reused root by other code) fails at
    * once with an [[IllegalStateException]] naming the root and the
    * version, which no publish retries. */
  private def readManifest(fs: FileSystem, rootPath: Path,
                           name: String): Manifest = {
    if (!name.startsWith(ManifestPrefix))
      throw new IllegalStateException(
        s"online table $rootPath: version $name is not a bucket manifest")
    val lines = readSmall(fs, new Path(rootPath, name)).split('\n')
    val n = lines.head.stripPrefix("nbuckets=").toInt
    val (schemaLine, bucketLines) =
      lines.tail.filter(_.nonEmpty).partition(_.startsWith(SchemaTag))
    val entries = bucketLines.map { l =>
      val Array(b, rel) = l.split('\t')
      b.toInt -> rel
    }.toMap
    require(schemaLine.nonEmpty, s"manifest $name records no schema")
    Manifest(n, entries,
      DataType.fromJson(schemaLine.head.stripPrefix(SchemaTag)).asInstanceOf[StructType])
  }

  /** Write a manifest for a snapshot whose rows have schema `schema`,
    * recorded as a parquet read reports it (every field nullable). */
  private def writeManifest(fs: FileSystem, rootPath: Path, nBuckets: Int,
                            entries: Map[Int, String],
                            schema: StructType): String = {
    val name = freshName(ManifestPrefix)
    val body = (Seq(s"nbuckets=$nBuckets", SchemaTag + parquetReadSchema(schema).json) ++
      entries.toSeq.sortBy(_._1).map { case (b, rel) => s"$b\t$rel" })
      .mkString("\n")
    val out = fs.create(new Path(rootPath, name), false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    name
  }

  /** The schema a parquet read reports for rows written with `schema`. */
  private[graft] def parquetReadSchema(schema: StructType): StructType =
    nullable(schema).asInstanceOf[StructType]

  /** `t` with every field, element and value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Paths of the manifest's bucket dirs whose bucket `keep` admits,
    * bucket-ascending. */
  private def bucketPaths(rootPath: Path, man: Manifest,
                          keep: Int => Boolean): Seq[String] =
    man.entries.toSeq.sortBy(_._1)
      .collect { case (b, rel) if keep(b) => new Path(rootPath, rel).toString }

  /** The rows of the manifest's buckets that `keep` admits, read with the
    * recorded schema — no inference job — and empty, not failing, when
    * `keep` admits none. Paths go to each scan in groups no larger than
    * the session's parallel-listing threshold, so listing them runs on
    * the driver: a larger group would start a Spark job with one task
    * per bucket dir just to list them (one scan of all 64 buckets ran
    * q209 16-18 % slower end to end, 4 cores, sf0.01 and sf0.1). */
  private def readBuckets(spark: SparkSession, rootPath: Path, man: Manifest,
                          keep: Int => Boolean): DataFrame = {
    val paths = bucketPaths(rootPath, man, keep)
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), man.schema)
    else paths.grouped(math.max(1,
        spark.sessionState.conf.parallelPartitionDiscoveryThreshold))
      .map(spark.read.schema(man.schema).parquet(_: _*)).reduce(_ union _)
  }

  /** The hash bucket of each row of `df`. Integral key columns hash as
    * bigint, so writer and reader agree on placement whatever integral
    * type each carries (an int64 request against an int key column). */
  private def bucketExpr(df: DataFrame, key: Seq[String], n: Int): Column =
    pmod(xxhash64(key.map { k =>
      df.select(k).schema.head.dataType match {
        case ByteType | ShortType | IntegerType => col(k).cast(LongType)
        case _ => col(k)
      }
    }: _*), lit(n.toLong)).cast("int")

  /** Write `df` hash-bucketed by `key` into `n` buckets as one fresh
    * immutable generation dir; returns bucket -> root-relative dir for
    * every bucket that received rows (none: the dir is removed). Rows
    * are first exchanged by bucket across the session's task slots, so
    * each bucket is one file and the buckets are written in parallel,
    * not every input partition writing a file into every bucket (without
    * the exchange q209 ran 9-16 % and q28 5-24 % slower end to end, 4
    * cores, sf0.01 and sf0.1; a streamed upsert measured no change). */
  private def writeGeneration(df: DataFrame, key: Seq[String], n: Int,
                              fs: FileSystem, rootPath: Path): Map[Int, String] = {
    val genRel = freshName(GenPrefix)
    val genPath = new Path(rootPath, genRel)
    df.withColumn(BucketCol, bucketExpr(df, key, n))
      .repartition(math.min(n, df.sparkSession.sparkContext.defaultParallelism),
        col(BucketCol))
      .write.partitionBy(BucketCol).parquet(genPath.toString)
    val written = fs.listStatus(genPath).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$BucketCol="))
      .map { st =>
        st.getPath.getName.stripPrefix(s"$BucketCol=").toInt ->
          s"$genRel/${st.getPath.getName}"
      }.toMap
    if (written.isEmpty) fs.delete(genPath, true)
    written
  }

  /** Write `df` as one fresh generation at `n` buckets plus a manifest
    * over it (no entries if `df` is empty); returns the manifest name. */
  private def writeSnapshot(df: DataFrame, key: Seq[String], n: Int,
                            fs: FileSystem, rootPath: Path): String =
    writeManifest(fs, rootPath, n, writeGeneration(df, key, n, fs, rootPath),
      df.schema)

  /** Publish `df` as the new live snapshot of the table at `root`,
    * hash-bucketed by `key` at the live manifest's bucket count (64 on
    * a first publish); an empty `df` publishes an empty table. Retains
    * the newest `keepVersions` committed snapshots (>= 2: the new one
    * plus at least the previous for in-flight readers); larger values
    * give time-travel depth — [[readVersion]] can read any retained
    * snapshot. Concurrent publishers are safe: a lost commit race
    * retries the commit of the snapshot already written, and rewrites
    * `df` only when the winner changed the bucket count (a rebucket), so
    * every publisher lands in the log exactly once, in commit order. */
  def publish(df: DataFrame, root: String, key: Seq[String],
              keepVersions: Int = 2): Unit = {
    val (fs, rootPath) = fsOf(df.sparkSession, root)
    // (bucket count, manifest) of the snapshot written so far: uncommitted,
    // it outlives a lost race by the GC's grace window
    var written: Option[(Int, String)] = None
    casLoop(fs, rootPath, keepVersions) { h0 =>
      val n = h0.fold(DefaultBuckets) { case (_, v) =>
        readManifest(fs, rootPath, v).nBuckets }
      if (!written.exists(_._1 == n))
        written = Some(n -> writeSnapshot(df, key, n, fs, rootPath))
      written.map(_._2)
    }
  }

  /** Incremental bucketed publish of one upsert batch.
    *
    * Reads the live snapshot's manifest, merges `batch` with ONLY the
    * buckets it touches (`merge(prevTouchedRows, batchRows)` — the
    * caller owns the upsert semantics, e.g. latest-per-key of the
    * union), writes those buckets as one generation dir, and
    * CAS-commits a manifest that re-points touched buckets and keeps
    * every other bucket's existing dir. A lost race re-derives from the
    * winner's manifest; a crash leaves only an unreferenced gen dir +
    * manifest file, collected by the next publish after the grace
    * window.
    *
    * A first publish bucketizes everything once; afterwards `nBuckets`
    * is pinned by the live manifest and the parameter is ignored. The
    * merged result for a touched bucket may be empty (a delete-style
    * merge) — that bucket simply leaves the manifest. An empty batch,
    * and a first batch that merges to nothing, commit nothing. */
  def publishBucketedBatch(batch: DataFrame, root: String,
                           key: Seq[String],
                           merge: (DataFrame, DataFrame) => DataFrame,
                           nBuckets: Int = DefaultBuckets,
                           keepVersions: Int = 2): Unit = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val spark = batch.sparkSession
    val (fs, rootPath) = fsOf(spark, root)
    casLoop(fs, rootPath, keepVersions) { h0 =>
      val prevMan = h0.map { case (_, v) => readManifest(fs, rootPath, v) }
      val n = prevMan.fold(nBuckets)(_.nBuckets)
      // first publish: every bucket is touched exactly once
      val touched = prevMan.fold((0 until n).toSet)(_ =>
        batch.select(bucketExpr(batch, key, n).as(BucketCol))
          .distinct().collect().map(_.getInt(0)).toSet)
      if (touched.isEmpty) None // empty batch: nothing to change
      else {
        val prev = prevMan.fold(batch.limit(0))(readBuckets(spark, rootPath, _, touched))
        val merged = merge(prev, batch)
        val written = writeGeneration(merged, key, n, fs, rootPath)
        require(written.keySet.subsetOf(touched),
          "merge produced rows outside the touched buckets — the merge " +
            "callback must not invent keys the batch does not carry")
        val entries = prevMan.fold(Map.empty[Int, String])(_.entries -- touched) ++
          written
        // nothing merged out of a FIRST publish: an empty micro-batch
        // against a never-published table (a stream's first trigger is
        // often empty) — a no-op, not an error
        if (entries.isEmpty && h0.isEmpty) None
        else Some(writeManifest(fs, rootPath, n, entries, merged.schema))
      }
    }
  }

  /** A scan/derive failure rooted in files vanishing mid-read — the
    * signature of racing an evicted manifest's gen-dir GC (the reader
    * resolved a head, the head moved, GC collected what it referenced).
    * Spark wraps the task-side FileNotFoundException in layered
    * SparkExceptions; the path-missing form is an AnalysisException
    * whose message carries the path. Bounded walk — cause chains can
    * be long. */
  private def isMissingFiles(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 20) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = c.getMessage
      if (m != null && (m.contains("FileNotFound") ||
          m.contains("does not exist") || m.contains("PATH_NOT_FOUND")))
        return true
      c = c.getCause; depth += 1
    }
    false
  }

  /** CAS-committed compaction of a bucketed table: every micro-batch
    * publish adds one generation dir for its touched buckets, so a
    * long-running upsert stream leaves each bucket's rows scattered
    * across many small files under many gens; compaction rewrites the
    * live snapshot into ONE fresh generation (same bucket count) and
    * commits it through the log. Readers and concurrent upserts follow
    * the [[rebucket]] safety argument verbatim — this IS a rebucket at
    * the live count, read afresh at every attempt. Run it on the
    * maintenance cadence small-file pressure dictates, not per batch. */
  def compact(spark: SparkSession, root: String, key: Seq[String],
              keepVersions: Int = 2): Unit =
    rewriteBuckets(spark, root, key, keepVersions)(_.nBuckets)

  /** CAS-committed re-bucketing migration: rewrite the live snapshot as
    * a fresh bucketed generation at `newBuckets` hash buckets, committed
    * through the same exclusive-create log. The manifest pins its bucket
    * count at first publish; an entity table that grows 100× needs more
    * buckets, and this is the ONLINE path — readers are never torn (one
    * commit pointer resolving to immutable dirs), and a concurrent
    * [[publishBucketedBatch]] upsert is never lost: the rebucket commits
    * only at head+1 over the head it derived from, so a racing upsert
    * that wins the seq forces the rebucket to re-derive from the
    * winner's snapshot (and vice versa — the upsert loop re-derives over
    * the new bucket count it finds at ITS retry). No-op if the table was
    * never published. */
  def rebucket(spark: SparkSession, root: String, key: Seq[String],
               newBuckets: Int, keepVersions: Int = 2): Unit = {
    require(newBuckets >= 1, "newBuckets must be >= 1")
    rewriteBuckets(spark, root, key, keepVersions)(_ => newBuckets)
  }

  /** Rewrite the live snapshot as one generation at the bucket count
    * `count` picks from the live manifest. */
  private def rewriteBuckets(spark: SparkSession, root: String,
                             key: Seq[String], keepVersions: Int)(
      count: Manifest => Int): Unit = {
    val (fs, rootPath) = fsOf(spark, root)
    casLoop(fs, rootPath, keepVersions) { h0 =>
      h0.map { case (_, v) =>
        val man = readManifest(fs, rootPath, v)
        writeSnapshot(readBuckets(spark, rootPath, man, _ => true), key,
          count(man), fs, rootPath)
      }
    }
  }

  /** Bucket-pruned point lookup against the live snapshot: for a
    * serving-sized key set (small by construction — it broadcasts), a
    * bucketed table needs to scan ONLY the gen dirs of the buckets the
    * keys hash into — O(|keys|) files instead of the whole entity
    * table, the read-side half of the bucketed-publish bargain. Returns
    * None only if the table was never published.
    *
    * Building the frame reads the log head and the manifest, which
    * carries the snapshot's schema, so the scan needs no inference job.
    * The keys' buckets come from the writer's own [[bucketExpr]],
    * collected to the driver when the keys are a local key set (a
    * `LocalRelation`, as a serving request builds it): that projection
    * folds at optimization, so routing runs no Spark job. Any other key
    * set is joined against every bucket instead — routing it would run
    * its plan once for the buckets and again for the join. */
  def lookup(spark: SparkSession, root: String, key: Seq[String],
             keys: DataFrame): Option[DataFrame] = {
    val (fs, rootPath) = fsOf(spark, root)
    head(fs, rootPath).map { case (_, v) =>
      val man = readManifest(fs, rootPath, v)
      val route = keys.select(bucketExpr(keys, key, man.nBuckets))
      val touched: Int => Boolean =
        if (route.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
          route.collect().map(_.getInt(0)).toSet
        else _ => true
      readBuckets(spark, rootPath, man, touched).join(broadcast(keys), key)
    }
  }

  /** Retained snapshot versions in COMMIT order, oldest first (current
    * is last) — read straight off the log, so orphans from crashed or
    * lost-race publishes never appear. */
  def listVersions(spark: SparkSession, root: String): Seq[String] = {
    val (fs, rootPath) = fsOf(spark, root)
    logEntries(fs, rootPath).map(_._2)
      .filter(v => fs.exists(new Path(rootPath, v)))
  }

  /** A retained version's rows, via its manifest's bucket-generation
    * dirs. */
  private def snapshot(spark: SparkSession, fs: FileSystem, rootPath: Path,
                       version: String): DataFrame =
    readBuckets(spark, rootPath, readManifest(fs, rootPath, version), _ => true)

  /** Time-travel read of a retained snapshot (see [[listVersions]]). */
  def readVersion(spark: SparkSession, root: String, version: String): DataFrame = {
    val (fs, rootPath) = fsOf(spark, root)
    snapshot(spark, fs, rootPath, version)
  }

  /** The live version name — the commit-log head — if the table has
    * ever been published. */
  def currentVersion(spark: SparkSession, root: String): Option[String] = {
    val (fs, rootPath) = fsOf(spark, root)
    head(fs, rootPath).map(_._2)
  }

  /** Read the live snapshot; None if the table was never published. */
  def read(spark: SparkSession, root: String): Option[DataFrame] = {
    val (fs, rootPath) = fsOf(spark, root)
    head(fs, rootPath).map { case (_, v) => snapshot(spark, fs, rootPath, v) }
  }
}
