package perfbench

import java.io.File

import scala.collection.mutable

import graft.{CacheScope, GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Entry point for one benchmark run of one workload.
  *
  * {{{
  * perfbench.Main --workload dhs_ingest|extract_curation
  *   --seed N --seconds S --trace 0|1 --work DIR --cores N
  * }}}
  *
  * Every workload is a closed loop with one client: the next unit of work
  * (a survey delivery; an extraction or a curation query) starts when the
  * previous one returns. The inputs are generated first, untimed; the
  * program's set-up is timed on its own; an untimed warm-up follows; the
  * loop then runs a unit count fixed by S (see [[Main.IngestUnitS]]).
  * Correctness checks run after the loop, untimed. With --trace 1 the loop
  * runs twice, untraced and then traced over the same inputs: the traced
  * loop yields the per-layer metrics, and the two median unit latencies
  * give the tracing overhead.
  *
  * Writes DIR/result.json and DIR/spans.jsonl; run.py turns the result into
  * the benchmark's output line.
  */
object Main {

  final class Run(val spark: SparkSession, val seed: Long, val seconds: Double, val traced: Boolean,
      val work: File, val cores: Int) {
    val tracer = new Tracer(spark, traced)
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L

    def fail(what: String): Unit = { failed += 1; failures += what }

    /** Closed loop over `n` units; returns per-unit latencies. */
    def loop(n: Int)(unit: Int => Boolean): Seq[Double] = {
      val lat = mutable.ArrayBuffer.empty[Double]
      var more = true
      while (more && lat.size < n) {
        val u0 = System.nanoTime()
        more = unit(lat.size)
        lat += (System.nanoTime() - u0) / 1e9
      }
      lat.toSeq
    }

    /** Units of `unitS` seconds of `--seconds`, at least one. */
    def units(unitS: Double): Int = math.max(1L, math.round(seconds / unitS)).toInt

    /** The measured loop. Its length is fixed work, not a deadline:
      * `--seconds` / `unitS` units (at least one), so every run of a
      * workload measures the same units and the count never flips between
      * runs. A traced run measures the loop twice: untraced, then (after
      * `restart`, which replays the same inputs) traced; the two median
      * unit latencies give the tracing overhead. Returns (untraced, traced)
      * latencies.
      */
    def phases(unitS: Double, restart: () => Unit)(unit: Int => Boolean)
        : (Seq[Double], Seq[Double]) = {
      val n = units(unitS)
      info("units") = n
      if (!traced) (loop(n)(unit), Nil)
      else {
        val plain = loop(n)(unit)
        restart()
        tracer.start()
        val withTrace = loop(n)(unit)
        tracer.stop()
        layers("trace.overhead_share") = Stats.median(withTrace) / Stats.median(plain) - 1
        (plain, withTrace)
      }
    }

    /** Heap in use after the loop. Spark keeps the state of the most recent
      * query (a join's broadcast relation holds a 64 MB page at this heap
      * size) until the next one runs, so a trivial query runs first: the
      * sample then shows what the program keeps across requests, whichever
      * request the seeded order put last.
      */
    def liveHeapMb(): Double = {
      spark.range(1).collect()
      Jvm.sampleLiveHeap()
    }

    def spanSum(layer: String, name: String): Double =
      tracer.spans.filter(s => s.layer == layer && s.name == name).map(tracer.durS).sum

    def selfTimes(units: Int): Unit = {
      val self = tracer.selfByLayer
      Seq("sources", "cspro", "catalog", "load", "query", "operators", "streaming").foreach { l =>
        layers(s"$l.self_s") = self.getOrElse(l, 0.0) / math.max(1, units)
      }
      layers ++= tracer.sparkLayer(cores)
    }
  }

  /** Seconds of `--seconds` per unit (one survey delivery, one round of
    * read-side requests): they turn `--seconds` into a fixed unit count
    * (6 deliveries, 1 round at 6 s).
    */
  val IngestUnitS = 1.0
  val RoundS = 20.0

  /** First deliveries loaded for extract_curation: the cp1252 survey with
    * the packed record and V130, and a small survey without either.
    */
  val ExtractSurveys = 2

  /** Blocks of the six extraction families in a round of extract_curation:
    * 18 extractions, so their p90 (the 17th) is the second-slowest, not
    * the slowest one.
    */
  val ExtractBlocks = 3

  /** Progress on stderr, stamped with the JVM's uptime. */
  def log(what: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s  $what")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val work = new File(arg(args, "work"))
    work.mkdirs()
    val cores = arg(args, "cores").toInt
    val load0 = Jvm.loadAverage
    val spark = GraftSession.local(cores)
    log("session ready")
    val run = new Run(spark, arg(args, "seed").toLong, arg(args, "seconds").toDouble,
      arg(args, "trace") == "1", work, cores)
    try workload match {
      case "dhs_ingest" => ingest(run)
      case "extract_curation" => extractCuration(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        run.fail(s"run aborted: $e")
        e.printStackTrace()
    }
    log("checks done")
    if (run.traced) run.tracer.writeSpans(new File(work, "spans.jsonl"))
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
      "heap_max_mb" -> Jvm.maxHeapMb, "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString, "spark" -> spark.version,
      "load_avg_start" -> load0, "load_avg_end" -> Jvm.loadAverage)
    val out = Map(
      "workload" -> workload, "attempted" -> math.max(1L, run.attempted), "failed" -> run.failed,
      "failures" -> run.failures.toSeq,
      "e2e" -> run.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> run.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> run.layers, "env" -> env, "info" -> run.info)
    java.nio.file.Files.write(new File(work, "result.json").toPath, Json.render(out).getBytes("UTF-8"))
    spark.stop()
    log("session stopped")
  }

  // ------------------------------------------------------------ dhs_ingest

  private def ingest(r: Run): Unit = {
    import r._
    def newStore(name: String): DhsStore = {
      val st = new DhsStore(spark, new File(work, name), name, tracer)
      st.initCatalog()
      st
    }
    // the inputs: only the deliveries the loop loads (not timed)
    val corpus = DhsCorpus.generate(seed, new File(work, "landing"), blocks = 5,
      limit = units(IngestUnitS))
    // set-up is the program's own: an empty spec catalog, median of five
    // (the median drops the first, which also starts Spark's first job and
    // Derby)
    var store: DhsStore = null
    val setups = (0 until 5).map { k =>
      if (store != null) store.shutdown()
      Stats.seconds { store = newStore(s"store$k") }._2
    }
    log("set-up done")
    e2e("setup_s") = (Stats.median(setups), "s")
    // warm-up on a separate delivery and catalog: JIT, codegen, Derby
    val warm = newStore("warm")
    DhsCorpus.generate(seed + 7919, new File(work, "warm_landing"), blocks = 1, firstSurvey = 900,
      limit = 1).foreach(warm.loadDelivery)
    warm.shutdown()
    log("warm-up done")

    // one pass over the batch into one store; a traced run replays the
    // same deliveries into a fresh store
    final class Pass(val store: DhsStore) {
      val loaded = mutable.ArrayBuffer.empty[DhsCorpus.Delivery]
      val decisions = mutable.ArrayBuffer.empty[Seq[String]]
      val lines = mutable.ArrayBuffer.empty[Long]
    }
    val passes = mutable.ArrayBuffer(new Pass(store))
    val (plain, withTrace) = phases(IngestUnitS, () => passes += new Pass(newStore("traced"))) { _ =>
      val p = passes.last
      val d = corpus(p.loaded.size)
      attempted += 1
      try {
        val (dec, n) = p.store.loadDelivery(d)
        p.decisions += dec
        p.lines += n
      } catch {
        case e: Exception =>
          fail(s"delivery ${d.key}: $e")
          p.decisions += Nil
          p.lines += 0L
      }
      p.loaded += d
      p.loaded.size < corpus.size
    }
    val heapAfter = liveHeapMb()
    log("loop done")
    val p = passes.last
    val lat = if (traced) withTrace else plain
    e2e("unit_p50_s") = (Stats.pct(lat, 0.5), "s")
    e2e("unit_p90_s") = (Stats.pct(lat, 0.9), "s")
    e2e("rate_per_s") = (p.lines.sum / lat.sum, "1/s")
    // bytes stored per byte of the DAT files whose rows the warehouse holds
    val current = mutable.LinkedHashMap.empty[(String, String), Long]
    p.loaded.foreach(d => d.files.filter(_.decision != "Skip").foreach(f => current((d.surveyId, f.ft)) = f.datBytes))
    e2e("stored_bytes_per_input_byte") = (Jvm.dataBytes(p.store.wh).toDouble / current.values.sum, "ratio")
    e2e("live_heap_mb") = (heapAfter, "MB")

    passes.foreach { q =>
      val checks = Dhs.checkIngest(spark, q.store, q.loaded.toSeq, q.decisions.toSeq)
      checks.filterNot(_.ok).foreach(c => fail(s"${c.name}: ${c.detail}"))
      attempted += checks.size
    }
    info("deliveries_loaded") = p.loaded.size
    info("dat_lines_loaded") = p.lines.sum
    named("survey_load_p50_s") = e2e("unit_p50_s")
    named("survey_load_p90_s") = e2e("unit_p90_s")
    named("survey_load_samples") = (lat.size.toDouble, "count")
    named("ingest_lines_per_s") = e2e("rate_per_s")
    named("stored_bytes_per_dat_byte") = e2e("stored_bytes_per_input_byte")

    if (traced) {
      val st = p.store
      val n = math.max(1, withTrace.size)
      layers("sources.unzip_s") = spanSum("sources", "unzip") / n
      layers("cspro.dcf_parse_s") = spanSum("cspro", "dcf_parse") / n
      layers("cspro.dat_scan_passes") = st.datBytesScanned.toDouble / math.max(1L, st.datBytesLoaded)
      val unknown = st.loadedDats.map { case (path, items, _) =>
        graft.cspro.DatReader.unknownRecordTypes(spark.read.text(path), items)
          .collect().map(_.getLong(1)).sum
      }.sum
      layers("cspro.unknown_tag_share") = unknown.toDouble / math.max(1L, st.loadedDats.map(_._3).sum)
      layers("catalog.reconcile_s") = spanSum("catalog", "reconcile") / n
      layers("catalog.merge_s") = spanSum("catalog", "merge") / n
      val decided = p.decisions.flatten
      Seq("Load", "Reload", "Skip").foreach(k =>
        layers(s"catalog.decisions_${k.toLowerCase}") = decided.count(_ == k).toDouble)
      layers("load.warehouse_write_s") = spanSum("load", "warehouse_write") / n
      val writes = tracer.spans.filter(_.name == "warehouse_write").map(tracer.inclusive)
      layers("load.bytes_written") = writes.map(_.bytesWritten).sum.toDouble / n
      layers("load.files_written") = writes.map(_.filesWritten).sum.toDouble / n
      layers("load.jdbc_append_s") = spanSum("load", "jdbc_append") / n
      layers("load.jdbc_rows") = st.jdbcRows.toDouble / n
      layers("load.ddl_statements") = st.ddlStatements.toDouble / n
      selfTimes(n)
    }
  }

  // ------------------------------------------------------- extract_curation

  /** Read-side requests: cross-survey extractions over a loaded DHS
    * warehouse and catalog, interleaved with curation entries over seeded
    * stand-ins for the harness tables. A round is [[ExtractBlocks]] blocks
    * of the six extraction families plus one pass over the curation
    * entries, in a seeded order.
    */
  private def extractCuration(r: Run): Unit = {
    import r._
    val data = new File(work, "data")
    val d = data.getPath
    val outputs = new File(work, "outputs")
    def invoke(q: String): org.apache.spark.sql.DataFrame = SparkEntry.queries(q)(spark, d)
    def save(name: String, rows: Array[org.apache.spark.sql.Row],
        schema: org.apache.spark.sql.types.StructType): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(outputs, name).getPath)

    // the inputs (not timed): first deliveries and the curation tables
    val corpus = DhsCorpus.generate(seed, new File(work, "landing"), blocks = 1, redeliver = false,
      limit = ExtractSurveys)
    CurationData.generate(spark, seed, data)
    log("inputs generated")
    // set-up is the program's own: a spec catalog and warehouse loaded
    // through the ingest path, once (not a median: the load costs ~15 s,
    // most of it the first, cold survey)
    val store = new DhsStore(spark, new File(work, "store"), "extract", tracer)
    val (_, setupS) = Stats.seconds {
      store.initCatalog()
      corpus.foreach(store.loadDelivery)
    }
    e2e("setup_s") = (setupS, "s")
    log("set-up done")
    val truths = corpus.map(d => Dhs.Truth(d.surveyId, d.files.find(_.ft == "HR").get,
      d.files.find(_.ft == "IR").get))
    val ir = corpus.head.files.find(_.ft == "IR").get
    val rels = graft.cspro.DcfParser.parse(ir.dcf, ir.fileCode).relations

    // warm-up, untimed: every extraction family once, and one pass over
    // the curation entries (which also starts the streaming engine). Each
    // entry's warm-up output goes to the DuckDB oracle check, and every
    // timed pass must hash equal to it.
    val warmRnd = new java.util.Random(seed + 7919)
    Dhs.Families.foreach(f => Dhs.extraction(spark, store, truths, rels, f, warmRnd).run())
    val oracle = Curation.Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    java.nio.file.Files.write(new File(work, "oracle_sql.json").toPath, Json.render(oracle).getBytes("UTF-8"))
    val reference = Curation.Queries.flatMap { q =>
      attempted += 1
      try {
        val (rows, schema) = CacheScope.withScope { val df = invoke(q); (df.collect(), df.schema) }
        save(q, rows, schema)
        Some(q -> Stats.rowsHash(Curation.rowsOf(rows, schema).iterator))
      } catch { case e: Exception => fail(s"$q (warm-up pass): $e"); None }
    }.toMap
    log("warm-up done")

    // (kind, name, latency, traced)
    val reqs = mutable.ArrayBuffer.empty[(String, String, Double, Boolean)]
    val extracted = mutable.ArrayBuffer.empty[(Dhs.Extraction, Seq[Seq[String]], Boolean)]
    def timed[T](kind: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = body
      reqs += ((kind, name, (System.nanoTime() - t0) / 1e9, tracer.active))
      out
    }
    var rnd = new java.util.Random(seed)
    val restart = () => { rnd = new java.util.Random(seed) }
    phases(RoundS, restart) { _ =>
      val sr = scala.util.Random.javaRandomToRandom(rnd)
      val order = sr.shuffle(
        Seq.fill(ExtractBlocks)(sr.shuffle(Dhs.Families)).flatten.map("x" -> _) ++ Curation.Queries.map("c" -> _))
      order.foreach {
        case ("x", family) =>
          val ex = Dhs.extraction(spark, store, truths, rels, family, rnd)
          attempted += 1
          try {
            val rows = timed("extract", family) {
              tracer.span("bench", "extraction", s"$family:${ex.param}") {
                tracer.span("query", family)(ex.run())
              }
            }
            extracted += ((ex, rows, tracer.active))
          } catch { case e: Exception => fail(s"extraction $family:${ex.param}: $e") }
        case (_, q) =>
          attempted += 1
          try {
            val (rows, schema) = timed("curation", q) {
              tracer.span(Curation.layer(q), q) {
                CacheScope.withScope { val df = invoke(q); (df.collect(), df.schema) }
              }
            }
            // untimed: every pass must hash equal to the warm-up pass
            if (!reference.get(q).contains(Stats.rowsHash(Curation.rowsOf(rows, schema).iterator)))
              fail(s"$q: output differs from the warm-up pass")
          } catch { case e: Exception => fail(s"$q: $e") }
      }
      true
    }
    val heapAfter = liveHeapMb()
    log("loop done")
    extracted.foreach { case (ex, rows, _) =>
      val got = Stats.rowsHash(rows.iterator)
      val want = Stats.rowsHash(ex.expected().iterator)
      if (got != want) fail(s"extraction ${ex.family}:${ex.param}: rows got ${got._1} want ${want._1}")
    }

    val measured = reqs.filter(_._4 == traced).toSeq
    val lat = measured.map(_._3)
    val ex = measured.filter(_._1 == "extract").map(_._3)
    val cur = measured.filter(_._1 == "curation")
    val rounds = math.max(1, cur.size / Curation.Queries.size)
    // percentiles over the extractions (extract_p50_s, extract_p90_s);
    // the curation entries weigh in through the rate
    e2e("unit_p50_s") = (Stats.pct(ex, 0.5), "s")
    e2e("unit_p90_s") = (Stats.pct(ex, 0.9), "s")
    e2e("rate_per_s") = (lat.size / lat.sum, "1/s")
    val datBytes = corpus.flatMap(_.files).map(_.datBytes).sum
    e2e("stored_bytes_per_input_byte") = (Jvm.dataBytes(store.wh).toDouble / datBytes, "ratio")
    e2e("live_heap_mb") = (heapAfter, "MB")
    named("request_samples") = (lat.size.toDouble, "count")
    named("extract_p50_s") = e2e("unit_p50_s")
    named("extract_p90_s") = e2e("unit_p90_s")
    named("extract_samples") = (ex.size.toDouble, "count")
    named("stored_bytes_per_dat_byte") = e2e("stored_bytes_per_input_byte")
    named("curation_pass_s") = (cur.map(_._3).sum / rounds, "s")
    named("curation_query_p50_s") = (Stats.pct(cur.map(_._3), 0.5), "s")
    named("curation_query_p90_s") = (Stats.pct(cur.map(_._3), 0.9), "s")
    info("request_order") = measured.map(_._2)
    info("per_request_s") = measured.groupBy(_._2).map { case (k, v) => k -> Stats.median(v.map(_._3)) }

    if (traced) {
      val qs = tracer.spans.filter(_.layer == "query").map(tracer.inclusive)
      val n = math.max(1, qs.size).toDouble
      val returned = extracted.filter(_._3).map(_._2.size.toLong).sum
      layers("query.plan_s") = qs.map(_.planMs).sum / 1000 / n
      layers("query.jobs_per_query") = qs.map(_.jobs).sum / n
      layers("query.exec_s") = qs.map(_.execMs).sum / 1000 / n
      layers("query.bytes_read") = qs.map(_.bytesRead).sum / n
      layers("query.files_read") = qs.map(_.filesRead).sum / n
      layers("query.shuffle_bytes") = qs.map(_.shuffleWrite).sum / n
      layers("query.rows_scanned_per_row_returned") =
        qs.map(_.rowsScanned).sum.toDouble / math.max(1L, returned)
      Curation.Queries.foreach { q =>
        val ss = tracer.spans.filter(_.name == q)
        val cs = ss.map(tracer.inclusive)
        layers(s"operators.$q.wall_s") = ss.map(tracer.durS).sum / rounds
        layers(s"operators.$q.jobs") = cs.map(_.jobs).sum.toDouble / rounds
        layers(s"operators.$q.tasks") = cs.map(_.tasks).sum.toDouble / rounds
        layers(s"operators.$q.shuffle_write_bytes") = cs.map(_.shuffleWrite).sum.toDouble / rounds
        layers(s"operators.$q.spill_bytes") = cs.map(_.spill).sum.toDouble / rounds
        layers(s"operators.$q.gc_ms") = ss.map(_.gcMs).sum.toDouble / rounds
        if (Curation.Streaming(q)) {
          val ms = cs.flatMap(_.batchMs)
          layers(s"streaming.$q.batches") = cs.map(_.batches).sum.toDouble / rounds
          layers(s"streaming.$q.batch_p50_ms") = if (ms.isEmpty) 0.0 else Stats.median(ms.toSeq)
          layers(s"streaming.$q.state_rows") = cs.map(_.stateRows).maxOption.getOrElse(0L).toDouble
          layers(s"streaming.$q.wal_commit_ms") = cs.map(_.walCommitMs).sum.toDouble / rounds
        }
      }
      selfTimes(measured.size)
    }
  }
}
