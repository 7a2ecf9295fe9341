package graft.operators

import org.apache.spark.sql.SparkSession

/** Driver-side metadata shortcuts for the persisted-index gate paths.
  *
  * A streaming gate pays its fixed costs PER MICRO-BATCH, so metadata that
  * is immutable for the life of a generation must not cost a Spark job per
  * batch:
  *
  *  - [[cachedParams]] memoizes tiny params/centroid reads per GENERATION
  *    DIRECTORY. A generation dir (`root/_generations/<N>`) is immutable
  *    once its commit marker exists — every mutation publishes a NEW
  *    generation — so the key can never serve stale values. This is
  *    metadata caching (the params row, the frozen centroids), never
  *    result caching: all data-bearing reads still hit the store.
  *  - [[dirRowCount]] answers "did this write produce any rows?" from the
  *    parquet FOOTERS of the written part-files — a driver-side metadata
  *    read (the row count is in the file footer), replacing a
  *    `read.parquet(dir).limit(1).isEmpty` Spark job per gate batch.
  */
private[graft] object IndexMeta {

  /** Bounded LRU (r14 ADVICE): a long-lived streaming driver with periodic
    * retrains (or many indexes) otherwise accrues the dead generations'
    * centroid/codebook payloads forever — only the CURRENT generation of
    * each index is ever read on the hot path, so a small access-ordered
    * window holds everything live and evicts superseded generations.
    */
  private val MaxEntries = 128
  private val paramsCache =
    new java.util.LinkedHashMap[String, AnyRef](32, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, AnyRef]): Boolean = size() > MaxEntries
    }

  /** Memoize `load` under `(kind, generationDir)`. Only call with a
    * COMMITTED generation dir (or an otherwise immutable dir, e.g. a
    * committed segment id): the cache never invalidates, by the
    * generation-immutability argument above. Callers resolving a dir via
    * `GenerationLog.currentDir(...).getOrElse(path)` must NOT memoize the
    * fallback raw path — use [[cachedParamsIfGeneration]] there.
    */
  def cachedParams[T <: AnyRef](kind: String, genDir: String)(load: => T): T = {
    val key = s"$kind@$genDir"
    val hit = paramsCache.synchronized(paramsCache.get(key))
    if (hit != null) hit.asInstanceOf[T]
    else {
      // load OUTSIDE the lock (it may run Spark work); a concurrent double
      // load of an immutable value is harmless — last write wins
      val v = load
      paramsCache.synchronized(paramsCache.put(key, v))
      v
    }
  }

  /** [[cachedParams]] gated on `dir` actually being a committed generation
    * dir: a raw root path (no generation log) has no immutability contract,
    * so it is re-read every time (r14 ADVICE: the stale-params gating
    * hazard). A real generation dir is keyed on its commit marker
    * ([[cachedByMarker]]).
    */
  def cachedParamsIfGeneration[T <: AnyRef](
      spark: SparkSession, kind: String, dir: String)(load: => T): T = {
    val i = dir.lastIndexOf("/_generations/")
    if (i < 0) load
    else cachedByMarker(spark, kind, dir, dir.substring(0, i) + "/_commits/" +
      dir.substring(i + "/_generations/".length))(load)
  }

  /** [[cachedParams]] for the immutable `dir` that the commit `marker`
    * published, keyed on the marker's BYTES: ids restart when an index root
    * is wiped and rebuilt at the same path in one JVM (a wiped root reuses
    * `_generations/1`), and mtimes can repeat, but
    * every marker carries its own random token
    * ([[GenerationLog.writeMarker]]) — one driver-side small-file read per
    * lookup, never a Spark job. An uncommitted (or unreadable) marker skips
    * the cache entirely.
    */
  def cachedByMarker[T <: AnyRef](
      spark: SparkSession, kind: String, dir: String, marker: String)(load: => T): T =
    (try Some(GenerationLog.readMarker(spark, marker))
    catch { case _: Throwable => None }) match {
      case Some(body) => cachedParams(kind, s"$dir@$body")(load)
      case None => load
    }

  /** Total row count across the parquet part-files directly under `dir`,
    * from file footers only (no Spark job; the files a gate batch writes
    * are few). Returns 0 for a missing dir or one with no part-files —
    * same answer the listStatus + limit(1).isEmpty probe gave, including
    * the zero-task-write case (no part files at all).
    */
  def dirRowCount(spark: SparkSession, dir: String): Long =
    partFileCounts(spark, dir).sum

  /** Emptiness only — short-circuits on the first part-file whose footer
    * reports rows (r14 ADVICE: on object stores a many-file dir must not
    * pay one round-trip per file when the first footer already answers).
    */
  def dirHasRows(spark: SparkSession, dir: String): Boolean =
    partFileCounts(spark, dir).exists(_ > 0L)

  private def partFileCounts(
      spark: SparkSession, dir: String): Iterator[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Iterator.empty
    fs.listStatus(p).iterator
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-") &&
        f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }
  }
}
