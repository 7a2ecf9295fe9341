package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generation log: the OBJECT-STORE-SAFE commit spine for the persisted
  * index families. A directory rename is atomic on HDFS/POSIX but a
  * non-atomic copy + delete on S3-like object stores, so this log
  * publishes by POINTER instead, the
  * [[graft.load.Warehouse.commitSnapshot]] pattern generalized to a whole
  * index. Every persisted index family — the four `Versioned*` ones and
  * the BM25 index ([[SparseSim.writeBm25Index]]) — lives on it:
  *
  * {{{
  *   root/_generations/<N>/...   one complete, immutable index incarnation
  *   root/_commits/<N>           marker file: its CREATION commits gen N
  * }}}
  *
  * A mutator stages the next generation as a full directory tree, then
  * commits it with ONE marker-file create — a single atomic PUT on any
  * store. Readers resolve max(committed N) and never look inside an
  * uncommitted staging tree, so a crash anywhere before the marker is
  * invisible (old generation keeps serving) and a crash after it is
  * already durable. Superseded generations stay readable for in-flight
  * queries until [[vacuumGenerations]] — snapshot isolation, where a
  * rename swap would give readers a brief fail-loudly window instead.
  *
  * The price of rename-freedom is write amplification: a generation swap
  * rewrites the full payload rather than renaming the affected partitions
  * in. That is the right trade exactly where this mode is for — object
  * stores, where the "cheap" rename was a copy anyway — and maintenance
  * verbs (consolidate/retrain) rewrite the full payload in either mode.
  */
object GenerationLog {

  private[operators] def fsOf(spark: SparkSession, p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def generationDir(root: String, gen: Long): String = s"$root/_generations/$gen"

  private def numericChildren(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)

  /** Generations with a commit marker, ascending. */
  def committedGenerations(spark: SparkSession, root: String): Seq[Long] =
    numericChildren(fsOf(spark, root),
      new org.apache.hadoop.fs.Path(s"$root/_commits")).sorted

  def currentGeneration(spark: SparkSession, root: String): Option[Long] =
    committedGenerations(spark, root).lastOption

  def currentDir(spark: SparkSession, root: String): Option[String] =
    currentGeneration(spark, root).map(generationDir(root, _))

  /** The current generation and its dir; fails on a root with none. */
  private[operators] def requireCurrent(spark: SparkSession, root: String): (Long, String) = {
    val gen = currentGeneration(spark, root).getOrElse(throw new IllegalStateException(
      s"no committed generation at $root — build the index first"))
    (gen, generationDir(root, gen))
  }

  def requireCurrentDir(spark: SparkSession, root: String): String =
    requireCurrent(spark, root)._2

  /** Reserve the next generation id: past max over committed markers AND
    * staged directories, so a crashed stager's debris is never reused (it
    * ages out via [[vacuumGenerations]]). Mutators run under the index's
    * [[MaintenanceLock]], which serializes reservation.
    */
  private[operators] def stageNext(spark: SparkSession, root: String): (Long, String) = {
    val fs = fsOf(spark, root)
    val staged = numericChildren(fs, new org.apache.hadoop.fs.Path(s"$root/_generations"))
    val gen = (committedGenerations(spark, root) ++ staged ++ Seq(0L)).max + 1
    val dir = generationDir(root, gen)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    (gen, dir)
  }

  /** Stage the next generation, let `write` fill its dir, then commit it:
    * one marker-file create, no rename anywhere. The build, consolidate
    * and retrain verbs of every family publish through here.
    */
  private[operators] def publish(spark: SparkSession, root: String)(write: String => Unit): Unit = {
    val (gen, dir) = stageNext(spark, root)
    write(dir)
    writeMarker(spark, s"$root/_commits/$gen", s"generation $gen")
  }

  /** The one commit-marker writer (generation and segment markers): ONE
    * file create, an atomic PUT on any store. The body is
    * `kind` on its first line and a random token on its second, so two
    * incarnations of a marker path (a root wiped and rebuilt reuses its
    * ids, and mtimes can repeat within a granule) never have the same
    * bytes — [[IndexMeta.cachedByMarker]] keys memos on them. Readers of the
    * kind take the first line ([[markerKind]]), so markers without a token
    * line read the same.
    */
  private[operators] def writeMarker(spark: SparkSession, marker: String, kind: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(marker)
    val fs = fsOf(spark, marker)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    try out.write(s"$kind\n${java.util.UUID.randomUUID}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** A marker's bytes as text; throws if it does not exist. */
  private[operators] def readMarker(spark: SparkSession, marker: String): String = {
    val in = fsOf(spark, marker).open(new org.apache.hadoop.fs.Path(marker))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private[operators] def markerKind(body: String): String = body.takeWhile(_ != '\n').trim

  /** `df` minus its rows whose `key` is tombstoned under `dir` — a
    * broadcast anti-join (delete sets are small next to the index) that
    * every probe and live view pays until a consolidate/retrain purges the
    * tombstones.
    */
  private[operators] def screenTombstones(
      spark: SparkSession, dir: String, key: String, df: DataFrame): DataFrame = {
    val tombDir = s"$dir/tombstones"
    if (!fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(tombDir))) df
    else df.join(
      broadcast(spark.read.parquet(tombDir).select(col(key).as("__tomb")).distinct()),
      col(key) === col("__tomb"), "left_anti")
  }

  /** A maintenance verb's fences, in order: the
    * [[graft.streaming.CommitLog]] guard (refuses while the stream
    * checkpointed at `checkpointDir` has a written-but-uncommitted batch),
    * then the index's [[MaintenanceLock]].
    */
  private[operators] def maintain[T](
      spark: SparkSession, root: String, verb: String,
      checkpointDir: Option[String])(body: => T): T = {
    checkpointDir.foreach(graft.streaming.CommitLog.requireAllCommitted(
      spark, _, s"$verb($root)"))
    MaintenanceLock.withLock(spark, root)(body)
  }

  /** Tombstone-only retention delete of vector ids (the IVF and IVF-PQ
    * `delete` verbs): one small tombstone append to the current
    * generation. Returns the rows of `live(genDir)` the tombstones newly
    * suppress; the id set is pinned once so the count and the tombstone
    * write cannot diverge under a non-deterministic `ids` plan.
    */
  private[operators] def deleteVectors(
      spark: SparkSession, root: String, ids: DataFrame, idCol: String,
      verb: String, checkpointDir: Option[String])(live: String => DataFrame): Long =
    maintain(spark, root, verb, checkpointDir) {
      val dir = requireCurrentDir(spark, root)
      val pinned = graft.CacheScope.localCheckpoint(
        ids.select(col(idCol).cast("long").as("vec_id")).distinct())
      try {
        val n = live(dir).join(broadcast(pinned), Seq("vec_id"), "left_semi").count()
        pinned.coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
        n
      } finally graft.CacheScope.unpersistCheckpoint(pinned)
    }

  private[operators] def newestMtime(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path, depth: Int): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory || depth <= 0) st.getModificationTime
    else (Seq(st.getModificationTime) ++
      fs.listStatus(p).map(c => newestMtime(fs, c.getPath, depth - 1))).max
  }

  /** Health audit of a generation-log index root — the r11 verdict-#5
    * symmetry face: the lifecycle telemetry [[SparseSim]]'s BM25 segment
    * health pioneered, for every family on this spine. ONE row of
    * all-integer, hash-replayable lifecycle state, priced at directory
    * listings plus one bounded tombstone count:
    *
    *  - `n_generations` committed (1 on a healthy vacuumed index; growth
    *    means vacuum isn't running),
    *  - `current_generation` (the pointer readers resolve),
    *  - `n_staged_debris` staged-but-uncommitted generation trees (crashed
    *    stagers awaiting TTL vacuum; persistent growth = a crash loop),
    *  - `n_segments` committed segments in the current generation and
    *    `n_stream_segments` of them carrying stream batch ids (probe-side
    *    read fan-out — the "time to consolidate" trigger),
    *  - `n_tombstones` distinct tombstoned ids (every probe pays this
    *    anti-join until a consolidate/retrain purges them).
    */
  def indexHealth(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    refuseSegmentLogRoot(spark, root)
    val fs = fsOf(spark, root)
    val committed = committedGenerations(spark, root)
    val staged = numericChildren(fs,
      new org.apache.hadoop.fs.Path(s"$root/_generations"))
      .filterNot(committed.contains)
    val (nSegs, nStreamSegs, nTombs) = committed.lastOption.map { g =>
      val dir = generationDir(root, g)
      // present-filtered, same screen committedDirs applies: marker-only
      // commits (all-screened batches whose data dir was dropped) are NOT
      // probe-side read fan-out, and counting them would let the
      // "time to consolidate" trigger fire on segments that don't exist
      val segs = SegmentLog.committedPresent(spark, dir)
      val tombDir = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
      val tombs =
        if (fs.exists(tombDir))
          spark.read.parquet(tombDir.toString).distinct().count()
        else 0L
      (segs.map(_._1).distinct.size.toLong,
        segs.filter(_._2.isDefined).map(_._1).distinct.size.toLong, tombs)
    }.getOrElse((0L, 0L, 0L))
    Seq((committed.size.toLong, committed.lastOption.getOrElse(-1L),
      staged.size.toLong, nSegs, nStreamSegs, nTombs))
      .toDF("n_generations", "current_generation", "n_staged_debris",
        "n_segments", "n_stream_segments", "n_tombstones")
  }

  /** GC: drop superseded committed generations (current stays) and staged
    * generation trees that have been quiet past `ttlMs` (a LIVE stager
    * refreshes mtimes as it writes; only a dead one ages out — the
    * [[MaintenanceLock]] TTL discipline). Deletes only — safe everywhere.
    * Returns the ids removed.
    *
    * Superseded generations get the SAME `ttlMs` quiescence grace as
    * staged debris, measured from the moment they were superseded (the
    * mtime of the earliest commit marker ABOVE them): the snapshot
    * isolation the log promises means an in-flight probe may have resolved
    * the previous current dir just before a consolidate/retrain swapped
    * generations — vacuuming it immediately would turn that probe into
    * FileNotFound. Pass `ttlMs = 0` only where single-writer/no-reader
    * quiescence is known (tests, sequential fixtures): it grants no grace
    * at all, whatever the mtimes say — a marker written in the same
    * millisecond, or stamped ahead by a writer's clock, still goes.
    */
  def vacuumGenerations(
      spark: SparkSession, root: String,
      ttlMs: Long = MaintenanceLock.DefaultTtlMs): Seq[Long] = {
    refuseSegmentLogRoot(spark, root)
    val fs = fsOf(spark, root)
    val committed = committedGenerations(spark, root)
    val current = committed.lastOption
    val now = System.currentTimeMillis()
    def quiet(mtime: Long): Boolean = quietPast(ttlMs, now, mtime)
    def markerMtime(g: Long): Long =
      try fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/_commits/$g"))
        .getModificationTime
      catch { case _: java.io.IOException => now }
    val superseded = committed.dropRight(1).filter { g =>
      // superseded at the instant its successor committed
      quiet(committed.filter(_ > g).map(markerMtime).min)
    }
    superseded.foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(generationDir(root, g)), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/_commits/$g"), false)
    }
    val gensDir = new org.apache.hadoop.fs.Path(s"$root/_generations")
    val deadStaged = numericChildren(fs, gensDir)
      .filterNot(g => current.contains(g))
      .filterNot(committed.contains)
      .filter(g => quiet(newestMtime(fs,
        new org.apache.hadoop.fs.Path(generationDir(root, g)), 4)))
    deadStaged.foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(generationDir(root, g)), true))
    superseded ++ deadStaged
  }

  /** Is `root` a BM25 index in the older segment-log layout (root-level
    * `segments/<id>/` under `base`/`append` markers)? Its markers are not
    * generations — vacuuming them as such would drop its base. One
    * existence check, no Spark job.
    */
  private[operators] def isSegmentLogRoot(spark: SparkSession, root: String): Boolean =
    fsOf(spark, root).exists(new org.apache.hadoop.fs.Path(s"$root/segments"))

  private[operators] def refuseSegmentLogRoot(spark: SparkSession, root: String): Unit =
    if (isSegmentLogRoot(spark, root)) throw new IllegalStateException(
      s"$root is a BM25 index in the segment-log layout — upgrade it once " +
        "with SparseSim.consolidateBm25Index")

  /** Quiet for longer than `ttlMs` at `now`; `ttlMs <= 0` grants no
    * grace, whatever the mtime says.
    */
  private[operators] def quietPast(ttlMs: Long, now: Long, mtime: Long): Boolean =
    ttlMs <= 0 || now - mtime > ttlMs

  /** GC an index root of any family on this log: [[vacuumGenerations]],
    * then the uncommitted segment debris inside the current generation
    * quiet past `ttlMs`. Deletes only.
    */
  def vacuum(
      spark: SparkSession, root: String,
      ttlMs: Long = MaintenanceLock.DefaultTtlMs): Unit = {
    vacuumGenerations(spark, root, ttlMs)
    currentDir(spark, root).foreach(SegmentLog.vacuumSegments(spark, _, ttlMs))
  }
}

/** Marker-committed SEGMENTS inside a committed generation: the rename-free
  * ingest protocol shared by the versioned index families. A segment is a
  * directory `segments/<prefix>=<segId>/` staged fully, then published by
  * ONE `_batch_commits/<segId>[.s<streamBatchId>]` file create. Readers
  * list the marker dir and read exactly the committed segment dirs — an
  * uncommitted (crashed) segment is invisible and ages out via vacuum. A
  * stream batch's checkpoint id rides in the marker NAME, so replay
  * detection is a listing, not a read.
  */
private[operators] object SegmentLog {

  import GenerationLog.fsOf

  def segmentsDir(genDir: String) = s"$genDir/segments"
  def markersDir(genDir: String) = s"$genDir/_batch_commits"
  def segmentDir(genDir: String, segId: Long) =
    s"${segmentsDir(genDir)}/ingest_batch=$segId"

  /** (segId, streamBatchId?) per committed marker. */
  def committed(spark: SparkSession, genDir: String): Seq[(Long, Option[Long])] = {
    val fs = fsOf(spark, genDir)
    val dir = new org.apache.hadoop.fs.Path(markersDir(genDir))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).flatMap { n =>
      n.split("\\.s", 2) match {
        case Array(seg) => scala.util.Try(seg.toLong).toOption.map((_, None: Option[Long]))
        case Array(seg, b) => for {
          s <- scala.util.Try(seg.toLong).toOption
          bid <- scala.util.Try(b.toLong).toOption
        } yield (s, Some(bid))
        case _ => None
      }
    }
  }

  def streamBatchCommitted(spark: SparkSession, genDir: String, batchId: Long): Boolean =
    committed(spark, genDir).exists(_._2.contains(batchId))

  /** Was any tombstone written AT or AFTER this batch's earliest marker?
    * The replay-heal trigger: a replayed batch can only diverge from its
    * frozen committed segment if a delete landed BETWEEN the first attempt
    * and the replay — when every tombstone file predates the marker (or
    * none exist), the replay is provably consistent and the heal's
    * verification job is skipped. `>=` on millisecond mtimes: an
    * equal-timestamp tombstone triggers a (harmless, idempotent) heal
    * rather than ever skipping a needed one.
    */
  def tombstonesSinceMarker(
      spark: SparkSession, genDir: String, batchId: Long): Boolean = {
    val fs = fsOf(spark, genDir)
    val tombDir = new org.apache.hadoop.fs.Path(s"$genDir/tombstones")
    if (!fs.exists(tombDir)) return false
    val tombNewest = fs.listStatus(tombDir).map(_.getModificationTime)
      .foldLeft(0L)(math.max)
    val markerOldest = {
      val md = new org.apache.hadoop.fs.Path(markersDir(genDir))
      if (!fs.exists(md)) Long.MaxValue
      else {
        val mine = fs.listStatus(md)
          .filter(_.getPath.getName.endsWith(s".s$batchId"))
          .map(_.getModificationTime)
        if (mine.isEmpty) Long.MaxValue else mine.min
      }
    }
    tombNewest >= markerOldest
  }

  /** Committed (segId, streamBatchId?) pairs whose data dir exists — the
    * marker-only commits (all-screened/all-suppressed batches) filtered
    * out with ONE listing of the segments dir instead of one exists() per
    * marker. Markers are listed FIRST, data dirs second: the commit
    * protocol writes the dir before its marker, so a listed marker implies
    * the dir exists — the reverse order could observe a marker whose dir
    * was absent from an EARLIER listing and silently drop a
    * freshly committed segment from the live view for that read.
    */
  def committedPresent(spark: SparkSession, genDir: String): Seq[(Long, Option[Long])] = {
    val fs = fsOf(spark, genDir)
    val marked = committed(spark, genDir)
    val sd = new org.apache.hadoop.fs.Path(segmentsDir(genDir))
    val present: Set[Long] =
      if (!fs.exists(sd)) Set.empty
      else fs.listStatus(sd).iterator.map(_.getPath.getName)
        .filter(_.startsWith("ingest_batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("ingest_batch=").toLong).toOption)
        .toSet
    marked.filter(s => present.contains(s._1))
  }

  /** Committed segment dirs that exist, optionally restricted to stream
    * segments STRICTLY BEFORE `beforeBatch` (non-stream segments — batch
    * appends and the build base — always qualify).
    */
  def committedDirs(
      spark: SparkSession, genDir: String,
      beforeBatch: Option[Long] = None): Seq[String] =
    committedPresent(spark, genDir)
      .filter { case (_, sbid) =>
        beforeBatch.forall(b => sbid.forall(_ < b)) }
      .map(_._1).distinct.sorted
      .map(segmentDir(genDir, _))

  /** The live view of a generation, for every family: its base `table` ∪
    * the committed segments, each projected to `cols`, minus the rows whose
    * `tombKey` is tombstoned (families without a tombstone face pass
    * `None`). Stream segments can be restricted to STRICTLY BEFORE
    * `beforeBatch` (base and batch appends always qualify) — the gates'
    * replay-safe read. Uncommitted segment dirs are excluded by
    * construction (an explicit committed-dir list under a basePath), not
    * by filtering.
    */
  def liveView(
      spark: SparkSession, genDir: String, table: String, cols: Seq[Column],
      tombKey: Option[String], beforeBatch: Option[Long] = None): DataFrame = {
    val base = spark.read.parquet(s"$genDir/$table").select(cols: _*)
    val segDirs = committedDirs(spark, genDir, beforeBatch)
    val all =
      if (segDirs.isEmpty) base
      else base.unionByName(
        spark.read.option("basePath", segmentsDir(genDir)).parquet(segDirs: _*)
          .select(cols: _*))
    tombKey.fold(all)(GenerationLog.screenTombstones(spark, genDir, _, all))
  }

  /** Next segment id: past max over markers AND staged dirs (crash debris
    * is never reused; it ages out via vacuum).
    */
  def nextSegId(spark: SparkSession, genDir: String): Long = {
    val fs = fsOf(spark, genDir)
    val sd = new org.apache.hadoop.fs.Path(segmentsDir(genDir))
    val staged =
      if (!fs.exists(sd)) Seq.empty
      else fs.listStatus(sd).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("ingest_batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("ingest_batch=").toLong).toOption)
    (committed(spark, genDir).map(_._1) ++ staged ++ Seq(-1L)).max + 1
  }

  /** Publish a staged segment: one marker-file create. */
  def commitMarker(spark: SparkSession, genDir: String, markerName: String): Unit =
    GenerationLog.writeMarker(spark, s"${markersDir(genDir)}/$markerName",
      s"segment $markerName")

  /** Stage `rows` as segment `segId` (partitioned by `partitionCol` if
    * given) and publish it under `markerName`. Overwrite clears a crashed
    * earlier attempt's debris at this id; visibility comes from the
    * marker, not the write. An EMPTY segment (every row screened or
    * suppressed) stages zero partitions, or no footer with rows, which
    * schema inference on the segment union cannot read: its dir is
    * dropped (with a `segments` dir it leaves empty) and the marker still
    * lands, so a stream replay is recognized as such.
    */
  def writeSegment(
      spark: SparkSession, genDir: String, segId: Long, rows: DataFrame,
      markerName: String, partitionCol: Option[String] = None): Unit = {
    val segDir = new org.apache.hadoop.fs.Path(segmentDir(genDir, segId))
    val w = rows.write.mode("overwrite").option("partitionOverwriteMode", "static")
    partitionCol.fold(w)(w.partitionBy(_)).parquet(segDir.toString)
    val fs = fsOf(spark, genDir)
    val hasData = partitionCol match {
      case Some(p) => fs.listStatus(segDir)
        .exists(st => st.isDirectory && st.getPath.getName.startsWith(s"$p="))
      case None => IndexMeta.dirHasRows(spark, segDir.toString)
    }
    if (!hasData) {
      fs.delete(segDir, true)
      val parent = segDir.getParent
      if (fs.exists(parent) && fs.listStatus(parent).isEmpty) fs.delete(parent, false)
    }
    commitMarker(spark, genDir, markerName)
  }

  /** Drop uncommitted segment dirs quiet past `ttlMs`. */
  def vacuumSegments(spark: SparkSession, genDir: String, ttlMs: Long): Unit = {
    val fs = fsOf(spark, genDir)
    val sd = new org.apache.hadoop.fs.Path(segmentsDir(genDir))
    if (!fs.exists(sd)) return
    val committedIds = committed(spark, genDir).map(_._1).toSet
    val now = System.currentTimeMillis()
    fs.listStatus(sd).toSeq
      .filter(_.getPath.getName.startsWith("ingest_batch="))
      .filterNot(s => scala.util.Try(
        s.getPath.getName.stripPrefix("ingest_batch=").toLong).toOption
        .exists(committedIds.contains))
      .filter(s => GenerationLog.quietPast(ttlMs, now,
        GenerationLog.newestMtime(fs, s.getPath, 3)))
      .foreach(s => fs.delete(s.getPath, true))
  }
}

/** The persisted IVF ANN index on the generation-log commit model: build
  * → append/stream-ingest → delete → consolidate → retrain → probe, with
  * ZERO index-protocol directory renames, so the whole lifecycle runs on
  * S3-like object stores ([[VersionedIndexSpec]] drives it end-to-end on a
  * filesystem that refuses directory renames). Layout per generation:
  * `centroids` (cluster → vector) and `corpus` (vec id, embedding,
  * cluster) PARTITIONED BY (cluster, ingest_batch), so a probe reads only
  * its probed clusters' files. Lifecycle semantics, all consequences of
  * immutable generations:
  *
  *  - deletes are tombstone-only (the BM25/near-dup model): the id stops
  *    retrieving immediately via the probe-side anti-join; the physical
  *    purge happens at the next [[consolidate]]/[[retrain]], which write
  *    a tombstone-free generation. Re-adding a deleted id requires a
  *    consolidation first;
  *  - appends and stream batches land as marker-committed SEGMENTS
  *    ([[SegmentLog]]: `segments/ingest_batch=<segId>` +
  *    `_batch_commits/<segId>`) inside the current generation — pure
  *    dir-create + file-create, atomic everywhere, and snapshot-isolated
  *    (a probe never sees a torn batch). A stream batch's marker records
  *    its checkpoint batch id (`<seg>.s<batch>`), so a replay after a
  *    crash-before-checkpoint-commit is detected by
  *    LISTING alone and skipped — exactly-once without dynamic partition
  *    overwrite, whose job commit renames staging directories and is
  *    therefore banned here;
  *  - consolidate/retrain produce the NEXT generation (batches folded to
  *    the `-1` base, tombstones applied and dropped) and commit it with
  *    one marker create. Pass the ingest stream's `checkpointDir` to both
  *    (the [[graft.streaming.CommitLog]] guard): a written-but-uncommitted
  *    batch must not replay across a generation boundary.
  *
  * Probe correctness is the standing argument: exhaustive probe ≡ brute
  * force for ANY centroid set, over live membership = base ∪ committed
  * segments − tombstones (hash-gated at `s_knn_versioned` /
  * `e_versioned_stream_ingest`).
  */
object VersionedIvf {

  private def corpusCols = Seq(col("vec_id"), col("embedding"),
    col("cluster").cast("int").as("cluster"),
    col("ingest_batch").cast("long").as("ingest_batch"))

  /** Live membership of a generation: the base corpus ∪ committed batch
    * segments, minus tombstones ([[SegmentLog.liveView]]). Cluster
    * partition pruning flows through both legs (`cluster=` dirs in base
    * and inside every segment).
    */
  private[operators] def liveCorpus(
      spark: SparkSession, genDir: String,
      beforeBatch: Option[Long] = None): DataFrame =
    SegmentLog.liveView(spark, genDir, "corpus", corpusCols, Some("vec_id"), beforeBatch)

  /** The live corpus of the CURRENT generation, as a reader view —
    * (vec_id, embedding, cluster, ingest_batch), where `ingest_batch` is
    * the segment id (-1 = base build/consolidated). The audit/receipt
    * face of the stored membership.
    */
  def corpusView(spark: SparkSession, root: String): DataFrame =
    liveCorpus(spark, GenerationLog.requireCurrentDir(spark, root))

  /** Read the coarse centroids of an index (IVF or IVF-PQ: same
    * `centroids` table). Layout-resolving: `path` may be the index ROOT
    * (the current committed generation is resolved via the
    * [[GenerationLog]]) or a generation dir itself (the internal callers'
    * shape).
    */
  def readCentroids(spark: SparkSession, path: String): Seq[Seq[Float]] = {
    val dir = GenerationLog.currentDir(spark, path).getOrElse(path)
    def load = spark.read.parquet(s"$dir/centroids").orderBy(col("cluster"))
      .select(col("centroid")).collect().map(_.getSeq[Float](0).toSeq).toSeq
    // centroids are immutable per committed generation (every retrain/
    // consolidate stages a NEW `_generations/<N>` dir) — memoized so gate
    // batches and repeated probes don't pay a collect job per call. Paths
    // outside the generation log (no immutability contract) read directly,
    // and the memo is keyed on the commit marker's bytes (r14 ADVICE:
    // a wiped-and-rebuilt root reuses generation numbers).
    IndexMeta.cachedParamsIfGeneration(spark, "ivf-centroids", dir)(load)
  }

  /** The current generation of `root` with its centroids, read from that
    * generation's own dir: the generation-tagged freeze a gate stream
    * takes at start (see [[ingestBatch]]'s `frozenCentroids`).
    */
  private[graft] def frozenCentroids(
      spark: SparkSession, root: String): (Long, Seq[Seq[Float]]) = {
    val (gen, dir) = GenerationLog.requireCurrent(spark, root)
    (gen, readCentroids(spark, dir))
  }

  private def writeGeneration(
      spark: SparkSession, genDir: String,
      centroids: Seq[Seq[Float]], assigned: DataFrame): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$genDir/centroids")
    assigned.select(col("vec_id"), col("embedding"), col("cluster"), col("ingest_batch"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("cluster", "ingest_batch")
      .parquet(s"$genDir/corpus")
  }

  /** A segment of assigned rows, partitioned by cluster. */
  private def writeSegment(
      spark: SparkSession, genDir: String, segId: Long,
      rows: DataFrame, markerName: String): Unit =
    SegmentLog.writeSegment(spark, genDir, segId,
      rows.select(col("vec_id"), col("embedding"), col("cluster")),
      markerName, Some("cluster"))

  /** Build (or rebuild) the index: stage generation N+1, commit by marker.
    * A rebuild over a live index is automatically a fresh start — the new
    * generation carries no tombstones or segments, and the old one keeps
    * serving concurrent probes until the marker lands.
    */
  def write(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Float]], root: String): Unit = {
    val spark = corpus.sparkSession
    MaintenanceLock.withLock(spark, root) {
      GenerationLog.publish(spark, root)(writeGeneration(spark, _, centroids,
        Similarity.assignToIndex(corpus, vecCol, idCol, centroids)
          .withColumn("ingest_batch", lit(-1L))))
    }
  }

  /** Probe the current generation: same shape as [[Similarity.ivfTopK]],
    * but the corpus side is the stored cluster-partitioned live membership
    * — no re-assignment, and only the probed clusters' files are read.
    * Read-only: never repairs, never writes.
    */
  def topKFromIndex(
      spark: SparkSession, root: String, queries: DataFrame,
      vecCol: String, idCol: String, k: Int, nprobe: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    val dir = GenerationLog.requireCurrentDir(spark, root)
    val centroids = readCentroids(spark, dir)
    val live = liveCorpus(spark, dir)
    // static partition filter on the probed clusters: DPP cannot reach
    // through the base ∪ segments Union, so without it an nprobe-pruned
    // probe reads EVERY cluster of every leg (see Similarity.probedClusters).
    // Applied only when segments EXIST — a consolidated index is a single
    // scan where DPP already prunes, and the filter's one small query-side
    // job would be pure overhead. Corpus-scale query sides
    // (broadcastQueries = false) probe everything anyway — skipped there
    val pruned =
      if (broadcastQueries && SegmentLog.committedDirs(spark, dir).nonEmpty)
        live.filter(col("cluster").isin(
          Similarity.probedClusters(queries, vecCol, centroids, nprobe): _*))
      else live
    Similarity.probeAssignedCorpus(
      pruned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), col("cluster")),
      queries, vecCol, idCol, k, centroids, nprobe, broadcastQueries)
  }

  /** Retention delete (the right-to-be-forgotten face of the lifecycle):
    * tombstone append only (one small file). The ids stop retrieving
    * immediately (probe anti-join) and are physically purged by the next
    * [[consolidate]]/[[retrain]]; until one runs, tombstones accumulate and
    * screen stream ingest AND probes, so re-adding a deleted id needs a
    * consolidation first. Idempotent. Returns the number of LIVE rows the
    * tombstones newly suppress ([[GenerationLog.deleteVectors]]).
    *
    * `checkpointDir`: pass the ingest/gate stream's checkpoint dir when
    * deleting from an index a stream is actively gating against — the
    * [[graft.streaming.CommitLog]] guard refuses to tombstone while a
    * written-but-uncommitted batch is in flight, whose replay would
    * otherwise recompute its kept set against a shrunken suppression view
    * (the replay-heal in [[ingestBatch]] bounds the damage, but bitwise
    * replay determinism needs quiescence, same as [[consolidate]]).
    */
  def delete(
      spark: SparkSession, root: String, ids: DataFrame, idCol: String,
      checkpointDir: Option[String] = None): Long =
    GenerationLog.deleteVectors(spark, root, ids, idCol,
      "VersionedIvf.delete", checkpointDir)(liveCorpus(spark, _))

  /** Batch append WITHOUT retraining: vectors are assigned against the
    * current generation's FROZEN centroids and land as one
    * marker-committed segment, so concurrent probes see it atomically —
    * the incremental-ingest shape.
    */
  def append(batch: DataFrame, vecCol: String, idCol: String, root: String): Unit = {
    val spark = batch.sparkSession
    MaintenanceLock.withLock(spark, root) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      val segId = SegmentLog.nextSegId(spark, dir)
      writeSegment(spark, dir, segId,
        Similarity.assignToIndex(batch, vecCol, idCol,
          readCentroids(spark, dir)),
        segId.toString)
    }
  }

  /** One stream micro-batch of [[streamAppend]], exposed for replay
    * testing and receipts: skip if a committed segment already records
    * this checkpoint batch id (replay), else screen tombstones (a batch
    * written but not checkpoint-committed, replayed after a [[delete]],
    * cannot resurrect the deleted vectors), assign
    * against the CURRENT generation's centroids (re-resolved per batch, so
    * ingest follows a mid-stream consolidation/retrain onto the new
    * generation instead of mis-assigning against stale centroids), write
    * the segment, commit its marker.
    *
    * Runs under the index [[MaintenanceLock]], like every other mutator:
    * segment-id reservation is only race-free when reservation + write +
    * marker commit are serialized against concurrent batch appends (same
    * segId reserved twice → the later overwrite clobbers the earlier
    * segment silently), and a consolidate/retrain committing a new
    * generation mid-batch would strand this batch's segment in the
    * superseded generation. The lock makes generation resolution and
    * segment publish one atomic unit — acquired with RETRY
    * ([[MaintenanceLock.withLockRetry]]): a gate batch racing a routine
    * delete/consolidate waits it out instead of killing the stream.
    *
    * `frozenCentroids` is GENERATION-TAGGED `(gen, centroids)`: callers
    * that hold the stream's frozen centroids (the semantic gate probes
    * with them) pass them through to save one centroid read + collect per
    * micro-batch, but they are used only while the index is still on the
    * generation they came from — after a mid-stream consolidate/retrain
    * commits a new generation, the batch re-reads the current centroids
    * (validated here, UNDER the lock, so the check and the segment publish
    * are one atomic unit) instead of assigning stale clusters into the new
    * generation and violating the misassigned==0 drift invariant.
    */
  private[graft] def ingestBatch(
      batch: DataFrame, vecCol: String, idCol: String,
      root: String, batchId: Long,
      frozenCentroids: Option[(Long, Seq[Seq[Float]])] = None): Unit =
   MaintenanceLock.withLockRetry(batch.sparkSession, root) {
    val spark = batch.sparkSession
    val (gen, dir) = GenerationLog.requireCurrent(spark, root)
    val centroids = frozenCentroids match {
      case Some((g, c)) if g == gen => c
      case _ => readCentroids(spark, dir)
    }
    def screened = GenerationLog.screenTombstones(spark, dir, "vec_id",
      Similarity.assignToIndex(batch, vecCol, idCol, centroids))
    if (SegmentLog.streamBatchCommitted(spark, dir, batchId)) {
      // REPLAY HEAL: the batch content a gate hands in can legitimately
      // differ from the first attempt's (a tombstone delete between the
      // attempts shrinks the gate's suppression set, so the replayed kept
      // set grows). The committed segment is frozen — so verify coverage
      // and stage a SUPPLEMENTAL segment (new segId, same .s<batchId>
      // marker suffix, which future batches read and this batch's own
      // replays exclude) for any live batch row missing from this batch's
      // committed segments. Idempotent: once covered, the diff is empty
      // and nothing is written. Triggered ONLY when a tombstone landed at
      // or after this batch's marker (one mtime listing) — the no-delete
      // replay, the overwhelmingly common case, stays a pure no-op.
      if (!SegmentLog.tombstonesSinceMarker(spark, dir, batchId)) return
      val segDirs = SegmentLog.committedPresent(spark, dir)
        .filter(_._2.contains(batchId))
        .map(s => SegmentLog.segmentDir(dir, s._1))
      val missing =
        if (segDirs.isEmpty) screened
        else screened.join(
          spark.read.option("basePath", SegmentLog.segmentsDir(dir))
            .parquet(segDirs: _*).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      if (!missing.limit(1).isEmpty) {
        val segId = SegmentLog.nextSegId(spark, dir)
        writeSegment(spark, dir, segId, missing, s"$segId.s$batchId")
      }
      return
    }
    val segId = SegmentLog.nextSegId(spark, dir)
    writeSegment(spark, dir, segId, screened, s"$segId.s$batchId")
  }

  /** Continuous ingest: a stream of embeddings (e.g. a parquet landing
    * dir of daily arrivals) is assigned per micro-batch against the stored
    * centroids and lands as one marker-committed segment per batch — no
    * retrain, no rewrite of standing data, exactly-once under replay (the
    * checkpoint batch id rides in the segment marker's name, so a replay
    * is detected by listing alone and skipped).
    */
  def streamAppend(
      stream: DataFrame, vecCol: String, idCol: String,
      root: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.GateStream.start(stream, checkpointDir)(
      ingestBatch(_, vecCol, idCol, root, _))

  /** Fold every segment into the base and physically purge tombstones —
    * as the NEXT generation (assignments and centroids unchanged). One
    * verb for partition-count maintenance of a long-running ingest stream
    * or gate and for the tombstone purge that lets deleted ids re-enter
    * through any ingest path. Correctness is unchanged for every consumer
    * (probes read live membership regardless; the gates' strictly-earlier
    * reads ride the segment markers). Run it when the ingest stream has
    * no uncommitted batches — pass the stream's `checkpointDir` to enforce
    * that mechanically ([[graft.streaming.CommitLog.requireAllCommitted]]);
    * concurrent maintenance writers are fenced by the index's
    * [[MaintenanceLock]]. Refuses to write an empty generation (an
    * all-tombstoned index is a rebuild, not a consolidation).
    */
  def consolidate(
      spark: SparkSession, root: String,
      checkpointDir: Option[String] = None): Unit =
    GenerationLog.maintain(spark, root, "VersionedIvf.consolidate", checkpointDir) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      val live = liveCorpus(spark, dir)
        .select(col("vec_id"), col("embedding"), col("cluster"))
        .withColumn("ingest_batch", lit(-1L))
      if (live.isEmpty) throw new IllegalStateException(
        s"consolidating $root would write an empty generation (every doc " +
          "tombstoned) — rebuild with VersionedIvf.write instead")
      GenerationLog.publish(spark, root)(
        writeGeneration(spark, _, readCentroids(spark, dir), live))
    }

  /** Retrain the coarse quantizer for a drifted corpus. Every append and
    * gate assigns against FROZEN centroids; a corpus that drifts away from
    * them degrades recall-at-fixed-nprobe with no recourse short of a
    * rebuild (the FAISS posture: coarse quantizers retrain on the
    * operator's cadence, not per insert). This retrains on the STORED live
    * vectors (sampled via `trainSample`), reassigns every live row, and
    * publishes the result as the NEXT generation with one marker create —
    * readers never see new centroids with old assignments. Tombstones are
    * applied (the new generation starts clean) and segments fold into the
    * base; run it only when the ingest stream is quiescent (pass
    * `checkpointDir` to enforce). Correctness is invariant by the standing
    * argument — exhaustive probe ≡ brute force for ANY centroid set. `k`
    * defaults to the stored centroid count.
    */
  def retrain(
      spark: SparkSession, root: String,
      k: Option[Int] = None, iterations: Int = 3, trainSample: Int = 1,
      checkpointDir: Option[String] = None): Unit =
    GenerationLog.maintain(spark, root, "VersionedIvf.retrain", checkpointDir) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      val live = graft.CacheScope.localCheckpoint(
        liveCorpus(spark, dir).select(col("vec_id"), col("embedding")))
      try {
        if (live.isEmpty) throw new IllegalStateException(
          s"retraining $root over an all-tombstoned corpus — rebuild with " +
            "VersionedIvf.write instead")
        val kk = k.getOrElse(readCentroids(spark, dir).size)
        val cents = Similarity.trainIvfCentroids(
          live, "embedding", "vec_id", kk, iterations, trainSample)
        GenerationLog.publish(spark, root)(writeGeneration(spark, _, cents,
          live.select(col("vec_id"), col("embedding"),
            Similarity.nearestCentroid(col("embedding"), cents).as("cluster"))
            .withColumn("ingest_batch", lit(-1L))))
      } finally graft.CacheScope.unpersistCheckpoint(live)
    }

  /** RECEIPT/STRESS hook: publish already-staged fabricated segment dirs
    * (written directly under `segments/ingest_batch=<id>` of the current
    * generation) by creating their commit markers — reproducing the
    * read-side state of a gate that ran N batches between consolidations
    * without paying N sequential micro-batch writes. The per-batch WRITE
    * cost is receipted elsewhere; this exists to measure probe wall vs
    * committed-segment count. Production writers go through
    * [[append]]/[[ingestBatch]].
    */
  private[graft] def commitFabricatedSegments(
      spark: SparkSession, root: String, segIds: Seq[Long]): Unit = {
    val dir = GenerationLog.requireCurrentDir(spark, root)
    segIds.foreach(id => SegmentLog.commitMarker(spark, dir, id.toString))
  }

  /** The retrain TRIGGER metric + an index integrity invariant, one
    * narrow pass over live membership (k native cosines per row against
    * broadcast centroid literals; the only shuffle is the #batches-row
    * aggregate). Per `ingest_batch`:
    *
    *  - `align_ppm_sum / n` — mean cosine of each stored vector to its
    *    ASSIGNED centroid (ppm-integerized). Every write path assigns the
    *    argmax at write time, so assignments are never "wrong" — what
    *    drifts is FIT: batches ingested against centroids trained on an
    *    older population score systematically lower than the base build.
    *    Recent batches' alignment falling materially below `-1`'s is the
    *    "run [[retrain]] now" signal, priced at one scan instead of a
    *    recall study (and retrain visibly restores it — spec-pinned);
    *  - `misassigned` — rows whose CURRENT nearest centroid beats their
    *    assigned one. Zero by construction on any healthy index (every
    *    path assigns the argmax; retrain reassigns atomically with its
    *    generation commit), so ANY nonzero value is structural corruption,
    *    which the hash-gated `s_knn_drift_contract` (drift scan over the
    *    full build → append → retrain fixture, provably empty) would catch.
    *
    * All outputs integer, so the frame hash-replays across engines.
    */
  def assignmentDrift(spark: SparkSession, root: String): DataFrame = {
    val dir = GenerationLog.requireCurrentDir(spark, root)
    Similarity.assignmentDriftOf(
      liveCorpus(spark, dir), readCentroids(spark, dir))
  }
}

/** The persisted near-dup (MinHash-LSH) SIGNATURE INDEX — the on-disk
  * lifecycle of [[Dedup.nearDupManifest]] on the generation-log commit
  * model. Layout per generation:
  *
  *   `params`      one-row parquet pinning (shingle_size, bands,
  *                 rows_per_band, numer, denom): every gate reads the
  *                 STORED shape, so mixing LSH parameters across writers
  *                 is impossible by construction
  *   `manifest`    the base [[Dedup.nearDupManifest]] rows
  *   `segments`    gate batches' signature rows, each a [[SegmentLog]]
  *                 marker-committed segment whose replay is detected by
  *                 the `.s<batchId>` marker name
  *   `tombstones`  doc ids whose signatures must be IGNORED ([[delete]]);
  *                 physically purged by [[consolidate]]
  *
  * Scale shape: the manifest is ~1 KB/doc of band keys + hashed shingles —
  * a 100 TB corpus condenses to a signature table a fraction of a percent
  * of its size, and each arriving batch is gated against it with
  * manifest-scale IO (never corpus text). No verb renames a directory
  * (consolidation publishes the next generation, gate batches publish
  * segments by marker), so the lifecycle runs on object stores.
  * `d_gate_versioned_contract` pins the streamed kept-set to the
  * sequential reference pipeline.
  */
object VersionedNearDup {

  /** Build (or rebuild) the index: params + base manifest as generation
    * N+1, committed by one marker create.
    */
  def write(
      docs: DataFrame, textCol: String, idCol: String, root: String,
      shingleSize: Int = 3, numer: Int = 7, denom: Int = 10,
      bands: Int = 16, rowsPerBand: Int = 4): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    MaintenanceLock.withLock(spark, root) {
      GenerationLog.publish(spark, root)(writeGeneration(_,
        Seq((shingleSize, bands, rowsPerBand, numer, denom))
          .toDF("shingle_size", "bands", "rows_per_band", "numer", "denom"),
        Dedup.nearDupManifest(docs, textCol, idCol, shingleSize, bands, rowsPerBand)))
    }
  }

  /** A generation of this family or of [[VersionedSubstring]]: the
    * one-row `params` and the base `manifest`.
    */
  private[operators] def writeGeneration(
      genDir: String, params: DataFrame, manifest: DataFrame): Unit = {
    params.coalesce(1).write.mode("overwrite").parquet(s"$genDir/params")
    manifest.write.mode("overwrite").parquet(s"$genDir/manifest")
  }

  /** The pinned LSH shape (shingle_size, bands, rows_per_band, numer,
    * denom). Layout-resolving: `path` may be the index root (current
    * generation resolved via the [[GenerationLog]]) or a generation dir
    * (internal callers).
    */
  private[graft] def readParams(
      spark: SparkSession, path: String): (Int, Int, Int, Int, Int) = {
    val dir = GenerationLog.currentDir(spark, path).getOrElse(path)
    // params are immutable per committed generation — memoized so a
    // streaming gate doesn't pay a one-row Spark job per micro-batch; the
    // raw-path fallback (no generation log) is NOT memoized (no
    // immutability contract — r14 ADVICE)
    IndexMeta.cachedParamsIfGeneration(spark, "neardup-params", dir) {
      val r = spark.read.parquet(s"$dir/params").head
      (r.getAs[Int]("shingle_size"), r.getAs[Int]("bands"),
        r.getAs[Int]("rows_per_band"), r.getAs[Int]("numer"), r.getAs[Int]("denom"))
    }
  }

  /** The live manifest view: base ∪ committed gate segments − tombstones
    * (broadcast anti-join — delete sets are small relative to the corpus),
    * optionally restricted (for gate replay safety) to segments from
    * stream batches STRICTLY BEFORE `beforeBatch` (the base and batch
    * appends always qualify).
    */
  def liveManifest(
      spark: SparkSession, root: String,
      beforeBatch: Option[Long] = None): DataFrame =
    SegmentLog.liveView(spark, GenerationLog.requireCurrentDir(spark, root), "manifest",
      Seq(col("doc"), col("keys"), col("shh")), Some("doc"), beforeBatch)

  /** Retention delete ("right to be forgotten" for the dedup corpus): the
    * given doc ids stop suppressing future arrivals IMMEDIATELY — every
    * probe reads the manifest through the tombstone anti-join — without
    * rewriting any manifest row. The signature rows stay on disk until the
    * next [[consolidate]] purges them; pipelines whose retention clock
    * starts at the delete call run it on their own cadence (a
    * manifest-scale rewrite, not a corpus-scale one). Idempotent:
    * re-deleting an id appends a duplicate tombstone row, which the
    * probe-side `distinct()` collapses. Ids must be integral (the
    * manifest's `doc` column is the corpus id; the cluster/keeper
    * machinery downstream requires numeric ids anyway).
    *
    * Runs under the index's [[MaintenanceLock]], serialized with
    * [[consolidate]]: a tombstone lands either in the generation a
    * consolidation reads or in the one it publishes, never between them.
    * Run deletes and consolidation from a single maintenance writer. Pass
    * the gate stream's
    * `checkpointDir` when a stream is actively gating against this index:
    * the guard refuses to tombstone while a written-but-uncommitted batch
    * is in flight (its replay would recompute the kept set against a
    * shrunken suppression view — [[gateBatch]]'s replay-heal bounds the
    * damage; quiescence removes it).
    */
  def delete(
      ids: DataFrame, idCol: String, root: String,
      checkpointDir: Option[String] = None): Unit = {
    val spark = ids.sparkSession
    GenerationLog.maintain(spark, root, "VersionedNearDup.delete", checkpointDir) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      ids.select(col(idCol).cast("long").as("doc")).distinct()
        .coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
    }
  }

  /** One gate batch of [[streamGate]], exposed for replay testing and
    * receipts: kept rows land by static overwrite of the batch's own
    * `$keptDir/ingest_batch=<id>` dir (replay rewrites the same dir —
    * idempotent without dynamic overwrite), and the appended signatures
    * land as a marker-committed segment derived from the WRITTEN kept
    * partition (replay-identical by construction).
    *
    * Replay consistency: a replayed batch recomputes its kept set against
    * the same strictly-earlier manifest view, so absent concurrent
    * mutation it rewrites the identical kept partition and skips the
    * signature append via the marker. If a tombstone [[delete]] landed
    * BETWEEN the first attempt and the replay, the replayed kept set can
    * grow (fewer suppressors) — so on replay the written kept partition's
    * signatures are VERIFIED against this batch's committed segments and
    * any missing docs' signatures are staged as a supplemental segment
    * (idempotent: covered ⇒ empty diff ⇒ no write). The reverse
    * divergence — a first-attempt keeper displaced by a replay keeper,
    * leaving its frozen signatures in the index — is conservative
    * (over-suppression of future near-dups of a dropped doc) and
    * deliberately tolerated; full bitwise replay determinism under
    * concurrent deletes requires stream quiescence (pass the stream's
    * `checkpointDir` to [[delete]], the consolidate guard).
    */
  def gateBatch(
      batch: DataFrame, textCol: String, idCol: String,
      root: String, keptDir: String, batchId: Long): Unit =
   MaintenanceLock.withLockRetry(batch.sparkSession, root) { graft.CacheScope.withScope {
    // locked like every other mutator (with gate-mode RETRY: transient
    // maintenance contention degrades to batch latency, not stream
    // failure): segId reservation + segment write + marker commit must not
    // interleave with a concurrent append's reservation (same id → silent
    // clobber) or a consolidate publishing a new generation mid-batch
    // (segment stranded in the superseded one)
    val spark = batch.sparkSession
    val dir = GenerationLog.requireCurrentDir(spark, root)
    val (ss, bands, rpb, numer, denom) =
      graft.Trace.t("neardup.params")(readParams(spark, dir))
    val manifest = liveManifest(spark, root, beforeBatch = Some(batchId))
    // ONE tokenize+shingle+minhash pass over the batch (the dominant
    // narrow-stage cost): the batch manifest feeds the seen-screen AND the
    // in-batch self-dedup pair generation (nearDupPairsFromManifest over
    // the unseen docs' manifest rows — jaccardDuplicatePairs is that same
    // call over a manifest built from text). All intermediates are batch-bounded
    // and scope-persisted: seen/unseen each have two consumers.
    val bm = graft.CacheScope.persist(
      Dedup.nearDupManifest(batch, textCol, idCol, ss, bands, rpb))
    val seen = Dedup.seenDocsAgainstManifest(bm, manifest, numer, denom)
    val unseen = graft.CacheScope.persist(
      batch.join(seen, batch(idCol) === seen("b_doc"), "left_anti"))
    // unseen docs' manifest rows from the persisted frames (bm semi
    // unseen-ids) — `seen` stays single-consumer, so the corpus-manifest
    // verify runs exactly once per batch
    val unseenMan = bm.join(
      unseen.select(col(idCol).as("__u")),
      bm("doc") === col("__u"), "left_semi")
    val kept = graft.Trace.t("neardup.gate-plan")(Dedup.dropNearDuplicates(
      unseen,
      Dedup.nearDupPairsFromManifest(unseenMan, numer, denom)
        .select(col("doc_a"), col("doc_b")),
      idCol))
    val batchKeptDir = s"$keptDir/ingest_batch=$batchId"
    graft.Trace.t("neardup.kept-write")(
      kept.write.mode("overwrite").option("partitionOverwriteMode", "static")
        .parquet(batchKeptDir))
    // emptiness from the written part-files' FOOTERS — driver-side metadata,
    // no Spark job; also covers the zero-task write (no part files at all)
    val hasData = graft.Trace.t("neardup.empty-probe")(
      IndexMeta.dirHasRows(spark, batchKeptDir))
    if (!SegmentLog.streamBatchCommitted(spark, dir, batchId)) {
      // an all-suppressed batch has no signatures to append, but the
      // marker must still land so a replay is recognized as such
      val segId = SegmentLog.nextSegId(spark, dir)
      if (hasData)
        // derive the appended signatures from the WRITTEN kept partition —
        // replay-identical by construction (the in-place gate's contract)
        graft.Trace.t("neardup.sig-append")(SegmentLog.writeSegment(spark, dir, segId,
          Dedup.nearDupManifest(spark.read.parquet(batchKeptDir), textCol, idCol, ss, bands, rpb),
          s"$segId.s$batchId"))
      else SegmentLog.commitMarker(spark, dir, s"$segId.s$batchId")
    } else if (hasData && SegmentLog.tombstonesSinceMarker(spark, dir, batchId)) {
      // REPLAY HEAL (see scaladoc): kept docs whose signatures are absent
      // from this batch's committed segments get a supplemental segment —
      // same .s<batchId> marker suffix, so future batches read it and this
      // batch's own replays exclude it. Gated on a tombstone having landed
      // at/after this batch's marker (one mtime listing) — a no-delete
      // replay skips the verification job entirely
      val segDirs = SegmentLog.committedPresent(spark, dir)
        .filter(_._2.contains(batchId))
        .map(s => SegmentLog.segmentDir(dir, s._1))
      val sigs = Dedup.nearDupManifest(
        spark.read.parquet(batchKeptDir), textCol, idCol, ss, bands, rpb)
      val missing =
        if (segDirs.isEmpty) sigs
        else sigs.join(
          spark.read.option("basePath", SegmentLog.segmentsDir(dir))
            .parquet(segDirs: _*).select(col("doc")).distinct(),
          Seq("doc"), "left_anti")
      if (!missing.limit(1).isEmpty) {
        val segId = SegmentLog.nextSegId(spark, dir)
        SegmentLog.writeSegment(spark, dir, segId, missing, s"$segId.s$batchId")
      }
    }
   } }

  /** The streaming DEDUP GATE — near-dup-at-ingest against the persisted,
    * self-growing signature index (the shape a continuous crawl needs: the
    * corpus never recomputes, each arriving micro-batch pays batch-sized
    * work). Per batch ([[gateBatch]]):
    *
    *  1. drop arrivals with a near-dup among STRICTLY EARLIER batches'
    *     signatures (segment-pruned manifest read through the tombstone
    *     anti-join — a forgotten doc no longer suppresses);
    *  2. self-dedup the survivors within the batch (LSH candidates + exact
    *     verify + cluster keeper, the [[Dedup.dropNearDuplicates]] policy);
    *  3. land kept docs under `$keptDir/ingest_batch=<id>` and the batch's
    *     signature rows as ONE marker-committed segment.
    *
    * LSH parameters come from the index's pinned params. Batch ordering is
    * the file source's (modification time): the kept-set is order-DEPENDENT
    * by construction (first arrival wins), exactly like the sequential
    * batch pipeline it replaces.
    */
  def streamGate(
      stream: DataFrame, textCol: String, idCol: String,
      root: String, keptDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.GateStream.start(stream, checkpointDir)(
      gateBatch(_, textCol, idCol, root, keptDir, _))

  /** Physically purge tombstoned signatures and fold every gate segment
    * into the base manifest — published as the NEXT generation with one
    * marker create. The live view is invariant; only the layout and the
    * tombstone set change. The partition-count maintenance for a
    * LONG-RUNNING gate, which otherwise accrues one segment per
    * micro-batch forever. Run it when the gate stream has no uncommitted
    * batches — pass its `checkpointDir` to enforce that mechanically;
    * concurrent maintenance writers are fenced by the index's
    * [[MaintenanceLock]]. Refuses to consolidate an index whose every doc
    * is tombstoned (rebuild with [[write]] instead).
    */
  def consolidate(
      spark: SparkSession, root: String,
      checkpointDir: Option[String] = None): Unit =
    GenerationLog.maintain(spark, root, "VersionedNearDup.consolidate", checkpointDir) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      val live = liveManifest(spark, root)
      if (live.limit(1).isEmpty) throw new IllegalStateException(
        s"consolidating $root would write an empty generation (every doc " +
          "tombstoned) — rebuild with VersionedNearDup.write instead")
      GenerationLog.publish(spark, root)(
        writeGeneration(_, spark.read.parquet(s"$dir/params"), live))
    }
}

/** The persisted IVF-PQ index on the generation-log commit model — the
  * same [[GenerationLog]] + [[SegmentLog]] spine as [[VersionedIvf]]. The
  * payload per generation is three sub-tables: coarse `centroids`,
  * residual codebooks (`books`), and cluster-PARTITIONED `codes` — (1 + m)
  * small ints per vector, the whole point of PQ at rest. The float
  * originals are NOT duplicated into the index: they stay in the base
  * corpus table, which the probe touches only for the short re-rank
  * candidate list (an id equi-join). Delete is tombstone-only, appends are
  * marker-committed code segments, and [[retrain]] — which needs that
  * float base table — publishes new quantizers + a full re-encode as the
  * next generation with ONE marker create.
  */
object VersionedIvfPq {

  private def writeGeneration(
      spark: SparkSession, genDir: String,
      centroids: Seq[Seq[Float]], books: Seq[Seq[Seq[Float]]],
      codes: DataFrame): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$genDir/centroids")
    books.zipWithIndex.flatMap { case (book, sI) =>
      book.zipWithIndex.map { case (c, code) => (sI, code, c) } }
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$genDir/books")
    codes.select(col("vec_id"), col("codes"), col("cluster"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("cluster").parquet(s"$genDir/codes")
  }

  /** Live code rows: base ∪ committed segments − tombstones. */
  private def liveCodes(spark: SparkSession, genDir: String): DataFrame =
    SegmentLog.liveView(spark, genDir, "codes",
      Seq(col("vec_id"), col("codes"), col("cluster").cast("int").as("cluster")),
      Some("vec_id"))

  /** The live codes of the CURRENT generation, as a reader view —
    * (vec_id, codes, cluster). The audit face of the stored membership.
    */
  def codesView(spark: SparkSession, root: String): DataFrame =
    liveCodes(spark, GenerationLog.requireCurrentDir(spark, root))

  /** Read the residual codebooks. Layout-resolving like
    * [[VersionedIvf.readCentroids]]: `path` may be the index root or a
    * generation dir.
    */
  def readBooks(spark: SparkSession, path: String): Seq[Seq[Seq[Float]]] = {
    val dir = GenerationLog.currentDir(spark, path).getOrElse(path)
    def load = spark.read.parquet(s"$dir/books")
      .orderBy(col("subspace"), col("code"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toSeq).toSeq)
    // immutable per committed generation — memoized like
    // VersionedIvf.readCentroids
    IndexMeta.cachedParamsIfGeneration(spark, "ivfpq-books", dir)(load)
  }

  def write(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Float]], books: Seq[Seq[Seq[Float]]],
      root: String): Unit = {
    val spark = corpus.sparkSession
    MaintenanceLock.withLock(spark, root) {
      GenerationLog.publish(spark, root)(writeGeneration(spark, _, centroids, books,
        Similarity.ivfPqEncode(corpus, vecCol, idCol, centroids, books)))
    }
  }

  /** Probe: gated ADC over the stored cluster-partitioned live codes
    * (only the probed clusters' files are read), quantizers from their
    * stored frames, and an exact re-rank against the caller's float
    * `corpus` (the re-rank join only).
    */
  def topKFromIndex(
      spark: SparkSession, root: String, queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nprobe: Int = 2, rerank: Int = 4): DataFrame = {
    val dir = GenerationLog.requireCurrentDir(spark, root)
    val centroids = VersionedIvf.readCentroids(spark, dir)
    // same conditional static probed-cluster filter as
    // VersionedIvf.topKFromIndex: the codes Union blocks dynamic partition
    // pruning; a consolidated (single-scan) index needs no help
    val live = liveCodes(spark, dir)
    val codes =
      if (SegmentLog.committedDirs(spark, dir).nonEmpty)
        live.filter(col("cluster").isin(
          Similarity.probedClusters(queries, vecCol, centroids, nprobe): _*))
      else live
    Similarity.ivfPqProbe(
      codes, queries, corpus, vecCol, idCol, k,
      centroids, readBooks(spark, dir), nprobe, rerank)
  }

  /** Append a batch against the FROZEN stored quantizers (no retrain) — a
    * marker-committed code segment, the [[VersionedIvf.append]]
    * incremental-ingest contract.
    */
  def append(batch: DataFrame, vecCol: String, idCol: String, root: String): Unit = {
    val spark = batch.sparkSession
    MaintenanceLock.withLock(spark, root) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      val segId = SegmentLog.nextSegId(spark, dir)
      SegmentLog.writeSegment(spark, dir, segId,
        Similarity.ivfPqEncode(batch, vecCol, idCol,
          VersionedIvf.readCentroids(spark, dir), readBooks(spark, dir))
          .select(col("vec_id"), col("codes"), col("cluster")),
        segId.toString, Some("cluster"))
    }
  }

  /** Tombstone-only retention delete (probe anti-join; physical purge at
    * the next [[consolidate]]/[[retrain]]). Returns the live rows newly
    * suppressed — the [[VersionedIvf.delete]] contract, including its
    * optional `checkpointDir` stream-quiescence guard.
    */
  def delete(
      spark: SparkSession, root: String, ids: DataFrame, idCol: String,
      checkpointDir: Option[String] = None): Long =
    GenerationLog.deleteVectors(spark, root, ids, idCol,
      "VersionedIvfPq.delete", checkpointDir)(liveCodes(spark, _))

  /** Fold code segments and physically purge tombstones as the next
    * generation — the [[VersionedIvf.consolidate]] contract; quantizers
    * and codes unchanged (no re-encode — the codes ARE the membership).
    */
  def consolidate(
      spark: SparkSession, root: String,
      checkpointDir: Option[String] = None): Unit =
    GenerationLog.maintain(spark, root, "VersionedIvfPq.consolidate", checkpointDir) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      val live = liveCodes(spark, dir)
      if (live.isEmpty) throw new IllegalStateException(
        s"consolidating $root would write an empty generation (every vector " +
          "tombstoned) — rebuild with VersionedIvfPq.write instead")
      GenerationLog.publish(spark, root)(writeGeneration(spark, _,
        VersionedIvf.readCentroids(spark, dir), readBooks(spark, dir), live))
    }

  /** Retrain BOTH quantizer levels over live membership and publish the
    * re-encoded index (new coarse centroids, new residual codebooks, full
    * re-encode) as the next generation with one marker create. The codes
    * store no floats, so pass the SAME base corpus table the probe path
    * re-ranks against ([[topKFromIndex]]'s `corpus`). Corpus rows not live
    * in the codes table are ignored (membership is the codes table —
    * deletes stay deleted); a LIVE stored id missing from the corpus fails
    * fast, because re-encoding would silently drop it. Correctness is
    * invariant by the standing argument — exact probe (nprobe = k,
    * rerank ≥ corpus) ≡ brute for ANY quantizer pair. `k`/`m`/`ksub`
    * default to the stored shapes.
    */
  def retrain(
      spark: SparkSession, root: String, corpus: DataFrame,
      vecCol: String, idCol: String,
      k: Option[Int] = None, m: Option[Int] = None, ksub: Option[Int] = None,
      iterations: Int = 3, trainSample: Int = 1,
      checkpointDir: Option[String] = None): Unit =
    GenerationLog.maintain(spark, root, "VersionedIvfPq.retrain", checkpointDir) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      val storedIds = liveCodes(spark, dir).select(col("vec_id"))
      val member = graft.CacheScope.localCheckpoint(
        corpus.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
          .join(storedIds, Seq("vec_id"), "left_semi"))
      try {
        val missing = storedIds
          .join(member.select(col("vec_id")), Seq("vec_id"), "left_anti").count()
        require(missing == 0L,
          s"VersionedIvfPq.retrain($root): $missing live stored vector ids " +
            "are absent from the supplied corpus — re-encoding would " +
            "silently drop them; pass the same base table the probe path " +
            "re-ranks against")
        val oldBooks = readBooks(spark, dir)
        val kk = k.getOrElse(VersionedIvf.readCentroids(spark, dir).size)
        val mm = m.getOrElse(oldBooks.size)
        val ks = ksub.getOrElse(oldBooks.head.size)
        val cents = Similarity.trainIvfCentroids(member, "embedding", "vec_id",
          kk, iterations, trainSample)
        val books = Similarity.trainIvfPqBooks(member, "embedding", "vec_id",
          cents, mm, ks, iterations, trainSample)
        GenerationLog.publish(spark, root)(writeGeneration(spark, _, cents, books,
          Similarity.ivfPqEncode(member, "embedding", "vec_id", cents, books)))
      } finally graft.CacheScope.unpersistCheckpoint(member)
    }
}

/** The persisted SUBSTRING WINDOW (ExactSubstr) index — the on-disk
  * lifecycle of [[Dedup.substringWindowManifest]] on the generation-log
  * commit model, completing the at-ingest gate family (exact digests,
  * near-dup signatures, semantic embeddings, and duplicated substrings).
  * Layout per generation:
  *
  *   `params`    one-row parquet pinning the window size `n` — every gate
  *               reads the STORED shape, so mixing window sizes across
  *               writers is impossible
  *   `manifest`  (h1, h2) per distinct window of the base build; gate
  *               batches' new windows land as [[SegmentLog]]
  *               marker-committed segments (the [[VersionedNearDup]] gate
  *               mechanics: a static overwrite of the batch's own clean
  *               dir plus one marker-committed window segment)
  *
  * 16 bytes per DISTINCT window: a boilerplate-heavy corpus (the case
  * substring dedup exists for) collapses hard — the repeats that dominate
  * the token count contribute one manifest row each.
  *
  * No tombstone face, deliberately: manifest rows are CONTENT keys, not
  * doc rows — "forget doc X" has no per-doc rows to screen (the same
  * window text typically also occurred in other docs), so retention
  * deletes for substring state mean rebuilding the manifest from the
  * retained corpus.
  */
object VersionedSubstring {

  def write(
      docs: DataFrame, textCol: String, idCol: String, root: String,
      n: Int = 8): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    MaintenanceLock.withLock(spark, root) {
      GenerationLog.publish(spark, root)(VersionedNearDup.writeGeneration(_,
        Seq(n).toDF("n"), Dedup.substringWindowManifest(docs, textCol, idCol, n)))
    }
  }

  /** The pinned window size `n`. Layout-resolving like
    * [[VersionedNearDup.readParams]].
    */
  private[graft] def readParams(spark: SparkSession, path: String): Int = {
    val dir = GenerationLog.currentDir(spark, path).getOrElse(path)
    // immutable per committed generation — memoized (one-row read must not
    // cost a Spark job per micro-batch)
    IndexMeta.cachedParamsIfGeneration(spark, "substr-n", dir)(Integer.valueOf(
      spark.read.parquet(s"$dir/params").head.getAs[Int]("n"))).intValue
  }

  /** Manifest view (h1, h2): base ∪ committed segments, stream segments
    * restricted to STRICTLY BEFORE `beforeBatch` (the base always
    * qualifies) — the streaming gate's replay-safe read.
    */
  def manifest(
      spark: SparkSession, root: String,
      beforeBatch: Option[Long] = None): DataFrame =
    SegmentLog.liveView(spark, GenerationLog.requireCurrentDir(spark, root), "manifest",
      Seq(col("h1"), col("h2")), None, beforeBatch)

  /** One gate batch of [[streamGate]], exposed for replay testing and
    * receipts. Cleaned text lands by static overwrite of
    * `$cleanDir/ingest_batch=<id>`; the batch's NEW window keys (from its
    * original text, keep-first-globally) land as a marker-committed
    * segment, skipped on replay.
    */
  def gateBatch(
      batch: DataFrame, textCol: String, idCol: String,
      root: String, cleanDir: String, batchId: Long): Unit =
   MaintenanceLock.withLockRetry(batch.sparkSession, root) { graft.CacheScope.withScope {
    // locked with gate-mode RETRY: see VersionedNearDup.gateBatch — segId
    // reservation and the generation resolution must be atomic vs
    // concurrent appends/retrains, and transient maintenance contention
    // must degrade to batch latency, not stream failure. No replay-heal
    // needed here: this family has no tombstone face (manifest rows are
    // content keys), so the strictly-earlier manifest view a replay
    // recomputes against cannot have shrunk — the replayed clean output
    // and new-window set are identical to the first attempt's
    val spark = batch.sparkSession
    val dir = GenerationLog.requireCurrentDir(spark, root)
    val n = graft.Trace.t("substr.params")(readParams(spark, dir))
    val man = manifest(spark, root, beforeBatch = Some(batchId))
    // ONE tokenize+shingle pass over the batch text, shared (persisted for
    // the scope) by the span computation AND the new-window-key append —
    // previously each re-derived its own occurrence frame
    val occ = graft.CacheScope.persist(
      Dedup.cutOccurrenceKeys(batch, textCol, idCol, n))
    val spans = Dedup.substringSpansFromOccurrences(occ, man, n)
    graft.Trace.t("substr.clean-write")(
      Dedup.applyRemovedSpans(batch, spans, textCol, idCol)
        .write.mode("overwrite").option("partitionOverwriteMode", "static")
        .parquet(s"$cleanDir/ingest_batch=$batchId"))
    if (!SegmentLog.streamBatchCommitted(spark, dir, batchId)) {
      val newKeys = occ.select(col("h1"), col("h2")).distinct()
        .join(man, Seq("h1", "h2"), "left_anti")
      val segId = SegmentLog.nextSegId(spark, dir)
      // a batch with no new windows commits marker-only (see writeSegment)
      graft.Trace.t("substr.keys-write")(
        SegmentLog.writeSegment(spark, dir, segId, newKeys, s"$segId.s$batchId"))
    }
   } }

  /** Streaming substring dedup at ingest: each micro-batch is cut against
    * every strictly-earlier batch's windows
    * ([[Dedup.substringSpansAgainstManifest]] — manifest-seen cuts ∪
    * within-batch keep-first), the cleaned text lands by static overwrite
    * of the batch's own `$cleanDir/ingest_batch=<id>` dir, and the batch's
    * NEW window keys join the index as one marker-committed segment
    * ([[gateBatch]]) — a replayed batch lands byte-identically on top of
    * itself and skips the key append via the marker. Sequential batch
    * semantics ≡ the one-shot pipeline over the concatenated corpus when
    * ids order by arrival — the d_substr_gate_contract gate.
    */
  def streamGate(
      stream: DataFrame, textCol: String, idCol: String,
      root: String, cleanDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.GateStream.start(stream, checkpointDir)(
      gateBatch(_, textCol, idCol, root, cleanDir, _))

  /** Fold segments into the base manifest as the next generation (the
    * partition-count maintenance for a long-running gate). The manifest is
    * one row per distinct window by construction (gates anti-join before
    * appending), so the fold is a plain union.
    */
  def consolidate(
      spark: SparkSession, root: String,
      checkpointDir: Option[String] = None): Unit =
    GenerationLog.maintain(spark, root, "VersionedSubstring.consolidate", checkpointDir) {
      val dir = GenerationLog.requireCurrentDir(spark, root)
      GenerationLog.publish(spark, root)(VersionedNearDup.writeGeneration(_,
        spark.read.parquet(s"$dir/params"), manifest(spark, root)))
    }
}
