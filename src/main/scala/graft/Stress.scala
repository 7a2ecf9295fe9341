package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Scale-up validation: multiply the sf0.1 tables STRESS_MULT× in-flight
  * (no disk blow-up) and run the headline operator shapes — joins, window
  * top-1, LSH dedup, ANN — to confirm the plans hold when row counts grow
  * 20×+ past the bench point. Prints one JSON line of per-op seconds.
  *
  * This is the local stand-in for the 100 TB question: the things that break
  * at scale (skew, shuffle volume, candidate-pair explosion, per-row
  * interpreted cost) all grow visibly at 10-100× while still fitting one
  * machine.
  */
object Stress {

  // the sf1 expansion: joins on the remapped keys stay 1:N at mult×
  import MakeScaledSf.expand
  // the replay receipts' content hash and the planted-junk quality set are
  // the contract queries' own
  import queries.QueryFixtures.{composedOutputsHash, contentHash, junkLabeled, junkText, landBatch}

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("STRESS_MULT", "20").toInt
    // STRESS_ONLY=op1,op2 isolates named ops (prefix match, the _xN suffix
    // may be omitted): a full-suite op time on a 30-op shared JVM includes
    // accumulated GC/shuffle-file pressure — isolate before believing it,
    // exactly like Bench's SPARK_GRAFT_BENCH_ONLY
    val only = sys.env.get("STRESS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.localFromEnv()
    import spark.implicits._

    val lineitem = expand(Tables(spark, sfDir, "lineitem"), mult, Seq("l_orderkey"))
    val orders = expand(Tables(spark, sfDir, "orders"), mult, Seq("o_orderkey"))
    val docs = expand(Tables.balanced(spark, sfDir, "documents"), mult, Seq("doc_id"))
      // mutate most replicas so near-dup structure stays realistic (~keep
      // every 5th replica a true near-dup of the original)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" variant "), col("doc_id"))))
    val embs = expand(Tables.balanced(spark, sfDir, "embeddings"), mult, Seq("vec_id"))
    // event ids remapped, user ids kept: replication deepens per-user
    // histories (the dimension funnel/retention state grows along)
    val events = expand(Tables(spark, sfDir, "events"), mult, Seq("event_id"))

    // --- streaming stress input: the expanded events written ONCE as a
    // ts-range-partitioned parquet landing dir (64 files in event-time
    // order — the shape a real ingestion directory has), read back through
    // the production file-source path. Replica timestamps are jittered
    // 0-59 s by event_id so replication adds genuinely new time points
    // instead of a degenerate all-duplicate-ts pile. Built lazily: only
    // stream ops pay for it; the first one run includes the write (noted
    // on stderr).
    // the persisted-BM25 stress fixture dir: built by bm25_index_build (or
    // on demand when STRESS_ONLY isolates the probe), probed after
    var bm25StressIdx: Option[String] = None
    var versionedStressIdx: Option[String] = None
    var qualityStressModel: Option[Seq[(Long, Long)]] = None
    var streamDirHandle: Option[java.nio.file.Path] = None
    lazy val streamEventsDir: String = {
      val dir = Fixtures.dir("stress_events")
      streamDirHandle = Some(dir)
      val t0 = System.nanoTime()
      events
        .withColumn("ts", col("ts") + expr("make_interval(0,0,0,0,0,0, event_id % 60)"))
        .repartitionByRange(64, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(dir.toString)
      System.err.println(f"[stress] stream landing-dir write: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      dir.toString
    }
    // Append-mode plans (join/sessionize/dedup): count every emitted row on
    // the EXECUTORS via foreachBatch — a memory sink at stress scale would
    // accumulate millions of rows on the driver
    def streamCountAppend(plan: DataFrame): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val q = plan.writeStream
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: Dataset[Row], _: Long) => { acc.addAndGet(b.count()); () })
        .start()
      q.awaitTermination()
      acc.get
    }
    // Complete-mode aggregations re-emit the whole result each micro-batch:
    // the LAST batch's count is the answer
    def streamCountLast(plan: DataFrame): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val q = plan.writeStream
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: Dataset[Row], _: Long) => { acc.set(b.count()); () })
        .start()
      q.awaitTermination()
      acc.get
    }

    // One run-wide tally: Spark jobs started and task-end shuffle writes.
    // Receipts read deltas around a body, with the listener bus drained
    // (CoreBridge) before each read so the numbers are complete. This turns
    // the scale claims into MEASURED receipts — "the k-bounded top-k
    // exchanges 45k rows where the window plan exchanges 15M" is a printed
    // number, not prose.
    object Tally extends org.apache.spark.scheduler.SparkListener {
      private val jobs = new java.util.concurrent.atomic.AtomicLong
      private val records = new java.util.concurrent.atomic.AtomicLong
      private val bytes = new java.util.concurrent.atomic.AtomicLong
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
      /** (jobs, shuffle records, shuffle bytes) so far, bus drained. */
      def read(): (Long, Long, Long) = {
        org.apache.spark.graftbridge.CoreBridge.drainListenerBus(spark.sparkContext)
        (jobs.get, records.get, bytes.get)
      }
      /** `body`'s value and the Spark jobs it started. */
      def jobsOf[A](body: => A): (A, Long) = {
        val j0 = read()._1
        val a = body
        (a, read()._1 - j0)
      }
    }
    spark.sparkContext.addSparkListener(Tally)

    def time(name: String)(body: => Long): Option[(String, Double, Long)] = {
      if (only.exists(sel => !sel.exists(name.startsWith))) return None
      val (_, r0, b0) = Tally.read()
      val t0 = System.nanoTime()
      // per-op scope: each measured op frees its own persisted/checkpointed
      // frames at exit, so later ops never pay for earlier ops' cache state
      val n = CacheScope.withScope(body)
      val (_, r1, b1) = Tally.read()
      // ... and that must actually be TRUE: a new stress body that persists
      // outside scope discipline fails its own run here, instead of
      // resurfacing later as cross-op accumulation (the round-3 collapse)
      require(CacheScope.cacheManagerEmpty(spark),
        s"$name leaked CacheManager entries past its scope close")
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[stress] $name%-22s ${sec}%8.2f s   rows=$n" +
        f"   shuffle=${r1 - r0}%d recs/${(b1 - b0) / (1 << 20)}%d MiB")
      Some((name, sec, n))
    }

    val results = Seq(
      time(s"agg_lineitem_x$mult")(lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), count(lit(1))).count()),
      // broadcast disabled for THIS op: the in-flight expand's explode hides
      // the true size from the planner, which happily broadcasts the 15M-row
      // orders side (shuffle receipt: 6 recs) — a local-mode artifact. A
      // 1000-executor cluster with honest stats plans the sort-merge join,
      // so that is what the op must measure; conf restored immediately
      time(s"join_agg_x$mult") {
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)), sum("l_quantity")).count()
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      },
      time(s"top1_orders_x$mult")(SparkEntryHelpers.top1PerCustomer(orders).count()),
      time(s"exact_dedup_x$mult")(operators.Dedup.exactDuplicateGroups(docs, "text", "doc_id")
        .filter(col("n_copies") > 1).count()),
      time(s"minhash_lsh_x$mult")(operators.Dedup.minhashCandidatePairs(
        docs, "text", "doc_id", shingleSize = 3, bands = 32, rowsPerBand = 2).count()),
      time(s"simhash_x$mult")(operators.Dedup.simhashDuplicatePairs(
        docs, "text", "doc_id", maxDist = 3).count()),
      // exact substring dedup under replication: every "variant" replica's
      // whole prefix duplicates the original, so cut content grows with
      // mult — the occurrence agg (map-side combined two-hash key) and the
      // span merge must track that answer growth, never windows²
      time(s"substr_spans_x$mult")(operators.Dedup.substringRemovedSpans(
        docs, "text", "doc_id", n = 8).count()),
      // the incremental substring face: a FIXED-size arriving batch against
      // a manifest that grows with mult — per-batch cost must track the
      // manifest SCAN (batch keys broadcast, manifest never shuffles),
      // not the manifest's row count through a shuffle
      time(s"substr_gate_x$mult") {
        val batch = Tables.balanced(spark, sfDir, "documents")
          .withColumn("doc_id", col("doc_id") + lit(1000000000L))
        operators.Dedup.substringSpansAgainstManifest(batch,
          operators.Dedup.substringWindowManifest(docs, "text", "doc_id", n = 8),
          "text", "doc_id", n = 8).count()
      },
      // BM25: candidate rows = Σ df over the query terms — linear in corpus
      // for a fixed query batch; the df cap tracks the corpus like the
      // sparse-cosine path
      // queries are EXPANDED docs: their "variant <id>" tokens are the
      // only sub-cap (discriminative) terms in this 31-word synthetic
      // vocabulary — the cap correctly drops the ubiquitous head and the
      // rare tail still retrieves (self-hit per query)
      time(s"bm25_x$mult") {
        operators.SparseSim.bm25TopK(docs, docs.filter(col("doc_id") < 8),
          "text", "doc_id", "text", "doc_id", k = 10,
          maxDf = docs.count() / 2).count()
      },
      // the PERSISTED index: the build pays the corpus-sized tokenize/agg
      // ONCE (wall comparable to a single recompute); the probe then reads
      // only the query terms' hash-bucket partitions — its wall AND shuffle
      // must be a small fraction of bm25_x above and must NOT scale with
      // corpus re-tokenization (the receipt for "probe cost independent of
      // the corpus" — compare probe numbers across 20×/50×)
      time(s"bm25_index_build_x$mult") {
        val dir = Fixtures.dir("stress_bm25")
        bm25StressIdx = Some(dir.toString)
        operators.SparseSim.writeBm25Index(docs, "text", "doc_id", dir.toString)
        1L
      },
      time(s"bm25_index_probe_x$mult") {
        val idx = bm25StressIdx.getOrElse {
          val dir = Fixtures.dir("stress_bm25")
          System.err.println("[stress] bm25_index_probe: building index (untimed op skipped)")
          operators.SparseSim.writeBm25Index(docs, "text", "doc_id", dir.toString)
          bm25StressIdx = Some(dir.toString); dir.toString
        }
        operators.SparseSim.bm25TopKFromIndex(spark, idx,
          docs.filter(col("doc_id") < 8), "text", "doc_id", k = 10,
          maxDf = docs.count() / 2).count()
      },
      // the VERSIONED (generation-log) index lifecycle: build + tombstone
      // delete + consolidate = two full generation writes + one tombstone
      // append — wall must track corpus size LINEARLY (the documented
      // object-store trade: a generation swap is a full rewrite, never
      // quadratic, never rename-dependent)
      time(s"versioned_ivf_lifecycle_x$mult") {
        val root = Fixtures.dir("stress_vivf").toString
        versionedStressIdx = Some(root)
        val cents = operators.Similarity.trainIvfCentroids(
          embs, "embedding", "vec_id", k = 16)
        operators.VersionedIvf.write(embs, "embedding", "vec_id", cents, root)
        operators.VersionedIvf.delete(spark, root,
          embs.filter(pmod(col("vec_id"), lit(97)) === 0).select(col("vec_id")),
          "vec_id")
        operators.VersionedIvf.consolidate(spark, root)
        operators.GenerationLog.vacuum(spark, root, ttlMs = 0L)
        1L
      },
      // ...while the probe stays partition-pruned to nprobe clusters of the
      // CURRENT generation — compare across 20×/50×: probe wall must grow
      // with cluster size (corpus/16), not with lifecycle history
      time(s"versioned_ivf_probe_x$mult") {
        val root = versionedStressIdx.getOrElse {
          val dir = Fixtures.dir("stress_vivf").toString
          System.err.println("[stress] versioned_ivf_probe: building index (untimed op skipped)")
          operators.VersionedIvf.write(embs, "embedding", "vec_id",
            operators.Similarity.trainIvfCentroids(embs, "embedding", "vec_id", k = 16), dir)
          versionedStressIdx = Some(dir); dir
        }
        operators.VersionedIvf.topKFromIndex(spark, root,
          embs.filter(col("vec_id") < 8), "embedding", "vec_id",
          k = 10, nprobe = 2).count()
      },
      // SEGMENT-COUNT fan-out receipt (r12 verdict #4): committedDirs lists
      // per read and the probe unions base ∪ N segment dirs — a gate that
      // runs many batches between consolidations pays O(segments) listing +
      // scan fan-out per probe. Fabricate the read-side state of a
      // 500-batch gate (one partitioned write + marker creates; the
      // per-batch WRITE cost is receipted by the gate ops), then measure
      // the SAME probe at rising committed counts. The receipt is the
      // per-count walls on stderr: the growth bound documents the
      // consolidation cadence contract (indexHealth.n_stream_segments is
      // the trigger).
      time(s"segment_fanout_x$mult") {
        val root = Fixtures.dir("stress_segfan").toString
        val base = embs.filter(pmod(col("vec_id"), lit(50)) === 0)
        val cents = operators.Similarity.trainIvfCentroids(
          base, "embedding", "vec_id", k = 16, iterations = 1)
        operators.VersionedIvf.write(base, "embedding", "vec_id", cents, root)
        val genDir = operators.GenerationLog.requireCurrentDir(spark, root)
        val maxSegs = 500
        operators.Similarity.assignToIndex(
            embs.filter(pmod(col("vec_id"), lit(50)) === 1),
            "embedding", "vec_id", cents)
          .withColumn("ingest_batch", pmod(col("vec_id"), lit(maxSegs)))
          .write.mode("append").partitionBy("ingest_batch", "cluster")
          .parquet(s"$genDir/segments")
        val queries = embs.filter(col("vec_id") < 8)
        var rows = 0L
        Seq(0, 100, 250, maxSegs).foldLeft(0) { (done, target) =>
          operators.VersionedIvf.commitFabricatedSegments(
            spark, root, (done until target).map(_.toLong))
          val t0 = System.nanoTime()
          rows = operators.VersionedIvf.topKFromIndex(spark, root, queries,
            "embedding", "vec_id", k = 10, nprobe = 2).count()
          System.err.println(f"[stress] segment_fanout probe @ $target%4d committed segments: ${(System.nanoTime() - t0) / 1e9}%6.2f s")
          target
        }
        rows
      },
      // quality classifier: the labeled TRAINING set is fixed-size (quality
      // filters train on reference samples, not the corpus), so train wall
      // must stay ~FLAT across mults...
      time(s"quality_train_x$mult") {
        val fixed = Tables.balanced(spark, sfDir, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val labeled = fixed.withColumn("label", lit(1L)).unionByName(
          fixed.select((col("doc_id") + lit(1000000L)).as("doc_id"),
            concat_ws(" ", concat(lit("jnk"), pmod(col("doc_id"), lit(7))),
              lit("zzq xxq jnky")).as("text"), lit(0L).as("label")))
        // the model is ≤ numBuckets rows — hold it as driver data so the
        // per-op cache-emptiness invariant stays intact across ops
        qualityStressModel = Some(
          operators.TextClassifier.train(labeled, "text", "doc_id", "label",
            numBuckets = 1 << 12, iterations = 10)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
        1L
      },
      // ...while SCORING is the corpus-scale op: broadcast model join + one
      // map-side-combined doc agg — wall linear in mult, no corpus shuffle
      time(s"quality_score_x$mult") {
        val model = qualityStressModel.getOrElse(
          sys.error("quality_score requires quality_train (run both or neither)"))
          .toDF("bucket", "w_micro")
        operators.TextClassifier.scoreDocs(docs, "text", "doc_id", model,
          numBuckets = 1 << 12).filter(col("quality") === 1L).count()
      },
      // unigram tokenizer training: the corpus collapses to the (word,
      // count) table in one Spark pass; driver-side EM wall tracks the
      // DISTINCT-WORD count (here grown by the per-replica "variant <id>"
      // tokens — the worst case for this op), never the corpus row count
      time(s"unigram_train_x$mult") {
        operators.UnigramTrainer.train(docs, "text",
          vocabSize = 256, maxPieceLen = 6).count()
      },
      // prototypicality pruning: k+1 narrow cosines per row, ONE shuffle on
      // the cluster id for the two windows — wall must track corpus size
      time(s"proto_prune_x$mult") {
        val seeds = embs.orderBy(col("vec_id")).limit(8)
          .select(col("embedding")).collect()
          .map(_.getSeq[Float](0).toSeq).toSeq
        operators.Similarity.pruneByPrototypicality(
          embs, "embedding", "vec_id", seeds, keepNumer = 1, keepDenom = 4).count()
      },
      // DSIR at the paper's configuration: the bucket-space model is
      // corpus-size-independent, so scoring must stay broadcast-join +
      // one #docs-row agg as the corpus grows
      time(s"dsir_hashed_x$mult")(operators.Curation.dsirWeights(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id",
        buckets = 1L << 30).count()),
      // the health audit's degenerate receipt: a planted boilerplate-heavy
      // corpus (2000 distinct texts) collapses band buckets — the audit
      // must FLAG it (violations > 0) at one manifest-scan price, before
      // any gate batch pays the quadratic candidate join. Wall includes
      // the linear index build; the scan itself is the tail
      time(s"index_health_lowent_x$mult") {
        val lowent = docs.withColumn("text",
          concat(lit("shared boilerplate page body number "),
            pmod(col("doc_id"), lit(2000))))
        val idx = Fixtures.dir("stress_hidx").toString
        operators.VersionedNearDup.write(lowent, "text", "doc_id", idx,
          3, 1, 2, 32, 2)
        val viol = operators.Dedup.nearDupIndexBucketStats(spark, idx)
          .filter(col("max_bucket") * 10 > col("n_sigs") + 50 ||
            col("sumsq") > col("n_sigs") * 4)
          .count()
        require(viol > 0, "planted degenerate corpus must trip the health audit")
        viol
      },
      // the skew killer: thousands of docs per distinct text (boilerplate-
      // heavy corpus) — must stay bounded via the distinct-value collapse
      time(s"simhash_lowent_x$mult")(operators.Dedup.simhashDuplicatePairs(
        docs.withColumn("text",
          concat(lit("shared boilerplate page body number "),
            pmod(col("doc_id"), lit(2000)))),
        "text", "doc_id", maxDist = 3).count()),
      time(s"clusters_lsh_x$mult")(operators.Dedup.duplicateClusters(
        operators.Dedup.jaccardDuplicatePairs(docs, "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
          .select(col("doc_a"), col("doc_b"))).count()),
      time(s"knn_x$mult")(operators.Similarity.lshTopK(
        embs.filter(col("vec_id") < 10), embs, "embedding", "vec_id", k = 5, planes = 8).count()),
      // curation at scale: the prefix sum's only global window sees
      // #docs/blockSize rows — with 1M-id blocks it stays driver-trivial
      // no matter the corpus size
      time(s"pack_seq_x$mult")(operators.Curation.packSequences(
        docs.select(col("doc_id"), operators.TextOps.tokenCount(col("text")).as("nt")),
        "doc_id", col("nt"), seqLen = 2048L, blockSize = 1000000L).count()),
      time(s"contamination_x$mult")(operators.Curation.contamination(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", n = 3, broadcastBenchmark = false).count()),
      time(s"quota_sample_x$mult")(operators.Curation.quotaSample(
        docs, "lang", "doc_id", quota = 1000).count()),
      time(s"repetition_x$mult")(operators.TextOps.repetitionSignals(
        docs, "text", "doc_id").count()),
      // incremental near-dup at scale: 1/4 of the corpus as the arriving
      // batch, checked against the other 3/4's signature manifest — the
      // candidate join must stay band-bucket-bounded, never batch×corpus
      time(s"incr_neardup_x$mult")(operators.Dedup.dropSeenNearDuplicates(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        // in-flight manifest is read twice downstream — persist per the API
        // doc (scope-registered: freed when this op's scope closes)
        CacheScope.persist(
          operators.Dedup.nearDupManifest(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
            "text", "doc_id", shingleSize = 3, bands = 32, rowsPerBand = 2)),
        "text", "doc_id", shingleSize = 3, numer = 1, denom = 2,
        bands = 32, rowsPerBand = 2).count()),
      // alternating-star components over the same LSH pair set: the
      // O(log n)-round path must track the propagation path's cost on the
      // clique-like dup graph (its win case — long chains — can't occur here)
      time(s"cc_altstar_x$mult")(operators.Dedup.connectedComponentsAltStar(
        operators.Dedup.jaccardDuplicatePairs(docs, "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
          .select(col("doc_a"), col("doc_b"))).count()),
      // pure chain graph (worst case for label propagation: diameter = n).
      // alt-star must close it in O(log n) ROUNDS regardless of the
      // 100k·mult-hop diameter — the scale shape long URL/template chains
      // force at corpus size
      time(s"cc_altstar_chain_x$mult") {
        val n = 100000L * mult
        val chain = spark.range(n - 1)
          .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
        operators.Dedup.connectedComponentsAltStar(chain, maxIter = 60).count()
      },
      time(s"funnel_x$mult")(operators.EventAnalytics.funnel(
        events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")).count()),
      time(s"retention_x$mult")(operators.EventAnalytics.retention(
        events, "user_id", "ts").count()),
      // per-user calendar densification: the explode is bounded by each
      // user's OWN first..last day span (never a global calendar), so
      // deepened per-user histories must grow output ~linearly
      time(s"gapfill_x$mult")(operators.EventAnalytics.dailyGapFill(
        events, "user_id", "ts").count()),
      // exact corpus-wide bigram top-k: shuffle carries one row per
      // distinct n-gram per partition (partial agg), never per occurrence
      time(s"ngram_top_x$mult")(operators.Sketches.ngramTop(
        docs, "text", n = 2, k = 50).count()),
      time(s"inverted_index_x$mult")(operators.TextOps.invertedIndex(
        docs, "text", "doc_id").count()),
      // CCNet buckets: LM-score cost + the two-level block prefix sums —
      // the only ordered window sees ≤ 4097 block rows, and corpus-sized
      // frames shuffle only on parallel (score, block) keys
      time(s"perplexity_buckets_x$mult") {
        val m = operators.NgramLm.train(docs, "text", "doc_id")
        operators.NgramLm.perplexityBuckets(docs, m, "text", "doc_id", 3).count()
      },
      // the TIE-HEAVY shape (r10 flag): ~30% of the corpus collapses onto
      // ONE identical text → one score carries a third of all docs. The
      // within-score rank must spread across doc-blocks instead of
      // serializing those docs into a single task — wall must stay in
      // family with the uniform case above
      time(s"ppl_buckets_lowent_x$mult") {
        val lowent = docs.withColumn("text",
          when(pmod(col("doc_id"), lit(10)) < 3,
            lit("the same exact boilerplate body repeated across a third of the corpus"))
            .otherwise(col("text")))
        val m = operators.NgramLm.train(lowent, "text", "doc_id")
        operators.NgramLm.perplexityBuckets(lowent, m, "text", "doc_id", 3).count()
      },
      // trigram stupid backoff: three grouped counts + five equi-joins —
      // shuffle keys are n-grams, never documents
      time(s"lm_trigram_x$mult") {
        val m = operators.NgramLm.trainTrigram(
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
        operators.NgramLm.scoreTrigram(docs, m, "text", "doc_id").count()
      },
      time(s"lm_score_x$mult")(operators.NgramLm.selfScore(
        docs, "text", "doc_id").count()),
      // BPE merges: the word-count reduction must keep iteration cost bound
      // to the DISTINCT-word table (which barely grows under replication),
      // not the corpus
      time(s"bpe_train_x$mult")(
        operators.BpeTrainer.train(docs, "text", numMerges = 4).count()),
      // reproducible shuffle + sharding: aggregates over shuffle_pos force
      // the full two-level order (a bare count would let Catalyst prune the
      // rank window away). sum == n(n-1)/2 alone is necessary-not-sufficient
      // (e.g. {0,0,3} sums like {0,1,2}); adding countDistinct == n on the
      // same aggregated frame pins the actual permutation property
      time(s"shuffle_order_x$mult") {
        val n = docs.count()
        val r = operators.Curation.shuffleOrder(docs, "doc_id")
          .agg(sum(col("shuffle_pos")), countDistinct(col("shuffle_pos")))
          .collect().head
        require(r.getLong(0) == n * (n - 1) / 2 && r.getLong(1) == n,
          "shuffle positions are not a permutation of 0..n-1")
        n
      },
      time(s"shards_x$mult")(operators.Curation.shardAssignments(
        docs, "doc_id", numShards = 1024)
        .groupBy(col("shard")).count().count()),
      // sum-of-sizes forces the code arrays to actually evaluate
      time(s"quantize_x$mult")(operators.Similarity.quantizeInt8(
        embs, "embedding", "vec_id")
        .agg(sum(size(col("qvec")))).collect().head.getLong(0)),
      time(s"oov_rate_x$mult")(operators.TextOps.oovRate(
        docs, "text", "doc_id", vocabSize = 1000).count()),
      // memory-resident Bloom dedup gate: build over 3/4 of the corpus,
      // gate the other 1/4 — the filter build is one treeAggregate, the
      // gate a scan-stage test (no join anywhere)
      time(s"bloom_gate_x$mult") {
        val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        operators.Dedup.dropSeenDocumentsBloom(batch,
          operators.Dedup.bloomDigestManifest(corpus, "text",
            expectedItems = 200000L * mult), "text", "doc_id").count()
      },
      // manifest-only re-dedup: pair recompute at manifest-scale IO (the
      // corpus text is never touched after the manifest build)
      time(s"manifest_pairs_x$mult") {
        val manifest = operators.Dedup.nearDupManifest(docs, "text", "doc_id",
          shingleSize = 3, bands = 32, rowsPerBand = 2)
        operators.Dedup.nearDupPairsFromManifest(manifest, numer = 1, denom = 2).count()
      },
      // persisted IVF index full lifecycle at scale: train+build over 3/4
      // of the vectors, frozen-centroid append of the arriving 1/4, then
      // an nprobe probe that reads only the probed clusters' partitions —
      // the ANN-at-rest shape (build cost amortizes; probes stay pruned)
      time(s"ivf_index_x$mult") {
        val dir = Fixtures.dir("stress_ivf")
        try {
          val base = embs.filter(pmod(col("vec_id"), lit(4)) =!= 0)
          val batch = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
          val cents = operators.Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 16)
          operators.VersionedIvf.write(base, "embedding", "vec_id", cents, dir.toString)
          operators.VersionedIvf.append(batch, "embedding", "vec_id", dir.toString)
          operators.VersionedIvf.topKFromIndex(spark, dir.toString,
            embs.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5, nprobe = 2).count()
        } finally Fixtures.delete(dir)
      },
      // retention delete at scale: build an index over the expanded corpus
      // (untimed separately on stderr), then delete a ~1% id slice — the
      // op's receipt is the DELETE-ONLY wall printed to stderr: affected
      // clusters rewrite, untouched partitions are never read or written,
      // so the cost tracks the hit clusters' volume, not the index
      time(s"ivf_delete_x$mult") {
        val dir = Fixtures.dir("stress_ivfdel")
        try {
          val cents = operators.Similarity.trainIvfCentroids(
            embs, "embedding", "vec_id", k = 16, trainSample = 8)
          operators.VersionedIvf.write(embs, "embedding", "vec_id", cents, dir.toString)
          // worst case: a uniform 1% slice hits EVERY cluster — the rewrite
          // approaches a full one
          val t0 = System.nanoTime()
          val deleted = operators.VersionedIvf.delete(spark, dir.toString,
            embs.filter(pmod(col("vec_id"), lit(100)) === 37).select(col("vec_id")), "vec_id")
          System.err.println(
            f"[stress] ivf_delete_x$mult uniform 1%%: ${(System.nanoTime() - t0) / 1e9}%.2f s, $deleted rows (all clusters affected)")
          // locality case: delete a slice of ONE cluster's members — only
          // that cluster's partition rewrites, cost tracks its volume
          val corpusIdx = operators.VersionedIvf.corpusView(spark, dir.toString)
          val busiest = corpusIdx.groupBy(col("cluster")).count()
            .orderBy(col("count").desc).head.getInt(0)
          // deterministic slice: LIMIT without ORDER BY could select a
          // different 2000-id set per evaluation of the plan
          val oneCluster = corpusIdx.filter(col("cluster") === busiest)
            .select(col("vec_id")).orderBy(col("vec_id")).limit(2000)
          val t1 = System.nanoTime()
          val deleted1 = operators.VersionedIvf.delete(
            spark, dir.toString, oneCluster, "vec_id")
          System.err.println(
            f"[stress] ivf_delete_x$mult one-cluster: ${(System.nanoTime() - t1) / 1e9}%.2f s, $deleted1 rows (1 cluster affected)")
          deleted + deleted1
        } finally Fixtures.delete(dir)
      },
      // mergeable CMS at scale: per-part sketches folded must estimate
      // identically to the sketch of the whole — the incremental-ingest
      // sketch-table contract, checked (and REQUIRED to hold) over the
      // full expanded lineitem
      time(s"cms_merge_x$mult") {
        val violations = operators.Sketches.cmsMergeViolations(
          Seq(lineitem.filter(pmod(col("l_orderkey"), lit(2)) === 0),
            lineitem.filter(pmod(col("l_orderkey"), lit(2)) =!= 0)),
          col("l_partkey"), depth = 5, width = 256).count()
        require(violations == 0, s"CMS merge contract broken at ${mult}x: $violations")
        violations
      },
      // PQ at scale: codebooks train on mult×-expanded vectors (Lloyd over
      // exploded subvectors — one groupBy per iteration), every vector
      // encodes to m ints, and the ADC probe scores codes via per-query
      // LUTs — index memory is m ints/vector no matter the corpus size
      time(s"pq_adc_x$mult") {
        val books = operators.Similarity.trainPqCodebooks(
          embs, "embedding", "vec_id", m = 8, ksub = 32)
        operators.Similarity.pqTopK(embs.filter(col("vec_id") < 10), embs,
          "embedding", "vec_id", k = 5, books, rerank = 16).count()
      },
      // latest-wins upsert at scale: base ∪ updates is one key shuffle +
      // per-key top-1 — cost is the shuffle of base+updates rows, with no
      // read-modify-write of the base table
      time(s"upsert_x$mult") {
        val base = orders.withColumn("version", lit(1L))
        val updates = orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
          .withColumn("version", lit(2L))
        load.Warehouse.upsertLatest(base, updates, Seq("o_orderkey"), "version").count()
      },
      // stats-manifest lifecycle at scale: range-layout write of the
      // expanded orders (64 files), one-scan manifest build, then a pruned
      // range read that must skip most files — the lakehouse scan-planning
      // loop, build included
      time(s"stats_prune_x$mult") {
        val dir = Fixtures.dir("stress_prune")
        try {
          load.Warehouse.writeRangeLayout(orders, dir.toString,
            Seq("o_orderkey"), partitions = 64)
          val manifest = load.Warehouse.statsManifest(spark, dir.toString, Seq("o_orderkey"))
          // 1/16 of the expanded orders' own key range, whatever the scale
          val range = orders.agg(min(col("o_orderkey")).cast("long"),
            max(col("o_orderkey")).cast("long")).head()
          val lo = range.getLong(0)
          val hi = lo + (range.getLong(1) - lo) / 16
          val (pruned, kept, total) =
            load.Warehouse.prunedRead(spark, manifest, "o_orderkey", lo, hi)
          require(kept < total / 4,
            s"stats pruning too weak at ${mult}x: kept $kept of $total files")
          pruned.count()
        } finally Fixtures.delete(dir)
      },
      // CDC merge with tombstones at scale: same shuffle shape as upsert
      // (one union + one key shuffle + per-key top-1), deletes carried as
      // rows — cost must track upsert_xN, never a separate delete pass
      time(s"cdc_merge_x$mult") {
        val base = orders.withColumn("version", lit(1L))
        val changes = orders
          .filter(pmod(col("o_orderkey"), lit(10)) === 0 &&
            pmod(col("o_orderkey"), lit(20)) =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
          .withColumn("version", lit(2L)).withColumn("op", lit("U"))
          .unionByName(orders.filter(pmod(col("o_orderkey"), lit(20)) === 0)
            .withColumn("version", lit(2L)).withColumn("op", lit("D")))
        load.Warehouse.applyCdc(base, changes,
          Seq("o_orderkey"), Seq("version"), "op").count()
      },
      // small-file compaction at scale: the expanded orders shattered into
      // 256 debris files, bin-packed back shuffle-free (coalesce) — cost is
      // one read+write of the data, never a shuffle
      time(s"compact_x$mult") {
        val in = Fixtures.dir("stress_cmp_in")
        val out = Fixtures.dir("stress_cmp_out")
        try {
          orders.repartition(256).write.mode("overwrite").parquet(in.toString)
          val (before, after) = load.Warehouse.compactSmallFiles(
            spark, in.toString, out.toString, targetFileBytes = 64L * 1024 * 1024)
          require(after < before / 4,
            s"compaction too weak at ${mult}x: $before -> $after files")
          spark.read.parquet(out.toString).count()
        } finally Seq(in, out).foreach(Fixtures.delete)
      },
      // snapshot lifecycle at scale: two full-table commits (v1, v2 = the
      // CDC merge), a PINNED v1 read after the v2 commit, and a vacuum —
      // commit cost is one table write; version resolution is a dir listing
      time(s"snapshot_x$mult") {
        val root = Fixtures.dir("stress_snap")
        try {
          val base = orders.withColumn("version", lit(1L))
          load.Warehouse.commitSnapshot(base, root.toString, 1)
          val updates = orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
            .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
            .withColumn("version", lit(2L))
          load.Warehouse.commitSnapshot(
            load.Warehouse.upsertLatest(
              load.Warehouse.readSnapshot(spark, root.toString, Some(1)),
              updates, Seq("o_orderkey"), "version"),
            root.toString, 2)
          val v1rows = load.Warehouse.readSnapshot(spark, root.toString, Some(1)).count()
          require(load.Warehouse.vacuumSnapshots(spark, root.toString, 1) == Seq(1))
          v1rows
        } finally Fixtures.delete(root)
      },
      // per-day HLL sketch tables over the expanded events, REQUIRED to
      // hold the merge contract: the union-of-slices estimate stays within
      // the 5% band of exact no matter the row multiplier (sketch size is
      // fixed by lgK; the agg shuffles one sketch per slice per partition)
      time(s"hll_slices_x$mult") {
        val violations = operators.Sketches.hllSliceBoundViolations(
          events, date_trunc("day", col("ts")), col("user_id")).count()
        require(violations == 0, s"HLL merge contract broken at ${mult}x: $violations")
        violations
      },
      // IVF-PQ at scale: coarse training + residual codebooks + the gated
      // ADC probe — index memory stays (1 + m) small ints per vector; the
      // probe joins on cluster id so only ~nprobe/k of the codes are scored
      time(s"ivfpq_adc_x$mult") {
        val cents = operators.Similarity.trainIvfCentroids(
          embs, "embedding", "vec_id", k = 16)
        val books = operators.Similarity.trainIvfPqBooks(
          embs, "embedding", "vec_id", cents, m = 8, ksub = 32)
        operators.Similarity.ivfPqTopK(embs.filter(col("vec_id") < 10), embs,
          "embedding", "vec_id", k = 5, cents, books, nprobe = 4, rerank = 16).count()
      },
      // same pipeline with SAMPLED training (1/8 deterministic id-hash
      // sample): every Lloyd round's scan work drops 8× while the ENCODE +
      // probe stages are unchanged — the corpus-scale posture where the
      // quantizer trains on a bounded sample of a billion-vector corpus.
      // Compare wall vs ivfpq_adc_x above: the delta is the training-scan
      // share of the pipeline, which grows with mult while probe cost
      // stays answer-bound
      time(s"ivfpq_sampled_x$mult") {
        val cents = operators.Similarity.trainIvfCentroids(
          embs, "embedding", "vec_id", k = 16, trainSample = 8)
        val books = operators.Similarity.trainIvfPqBooks(
          embs, "embedding", "vec_id", cents, m = 8, ksub = 32, trainSample = 8)
        operators.Similarity.ivfPqTopK(embs.filter(col("vec_id") < 10), embs,
          "embedding", "vec_id", k = 5, cents, books, nprobe = 4, rerank = 16).count()
      },
      // --- streaming at scale (VERDICT r5: "the streaming family would
      // scale too, once it reads time correctly" — these are the receipts).
      // All stateful ops run at FULL shuffle parallelism (32 state stores —
      // the production posture, unlike the harness's shrunken streamSession)
      // over the mult×-expanded landing dir.
      //
      // Tumbling-window agg over the whole stream in one micro-batch:
      // state = one entry per (window, type) — bounded by the time span,
      // never by row count
      time(s"stream_window_x$mult") {
        val stream = streaming.EventStream.readEvents(spark, streamEventsDir)
        streamCountLast(streaming.EventStream.windowedStats(stream, "1 hour"))
      },
      // ...and INCREMENTALLY: 8 files per trigger → 8 micro-batches in
      // event-time order, agg state carried across batches in the state
      // store — the continuous-ingestion shape. Result must match the
      // single-batch run (same count), cost must stay ~flat vs it.
      time(s"stream_window_incr_x$mult") {
        val single = streamCountLast(streaming.EventStream.windowedStats(
          streaming.EventStream.readEvents(spark, streamEventsDir), "1 hour"))
        val incr = streamCountLast(streaming.EventStream.windowedStats(
          streaming.EventStream.readEvents(spark, streamEventsDir,
            Map("maxFilesPerTrigger" -> "8")), "1 hour"))
        require(incr == single,
          s"incremental window agg diverged: $incr vs $single single-batch")
        incr
      },
      // stream-stream interval join: replication multiplies both sides, so
      // matched pairs grow ~mult² — output-bound by design; join state is
      // watermark+range bounded
      time(s"stream_join_x$mult") {
        val stream = () => streaming.EventStream.readEvents(spark, streamEventsDir)
        val clicks = stream().filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
        val purchases = stream().filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        streamCountAppend(streaming.EventStream.intervalJoin(
          clicks, purchases, "user_id", "p_user", "click_ts", "purchase_ts",
          maxLagSeconds = 3600, watermarkDelay = "1 hour")
          .select(col("user_id"), col("click_ts"), col("purchase_ts")))
      },
      // ...and the BATCH banded equi-join form of the same attribution join:
      // candidates shrink from per-key history² (the keyed-state probe
      // model above) to per-(key, lag-window) neighborhoods — the plan that
      // wins when per-key histories are dense
      time(s"stream_join_batch_x$mult") {
        val ev = spark.read.parquet(streamEventsDir)
        val normalized = streaming.EventStream.normalize(ev)
        streaming.EventStream.intervalJoinBatch(
          normalized.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("click_ts")),
          normalized.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_user"), col("ts").as("purchase_ts")),
          "user_id", "p_user", "click_ts", "purchase_ts",
          maxLagSeconds = 3600).count()
      },
      // stateful sessionization: state is one triple per ACTIVE user
      // (O(users), never O(events)); mult× deeper per-user histories grow
      // the per-group sort, not the store
      time(s"stream_sessionize_x$mult") {
        import spark.implicits._
        val stream = streaming.EventStream.readEvents(spark, streamEventsDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[streaming.EventStream.Event]
        streamCountAppend(streaming.EventStream.sessionizeStateful(
          stream, gapSeconds = 1800L, emitOpenAtEnd = false).toDF())
      },
      // at-least-once → effectively-once: the doubled stream deduped on
      // event_id — state carries every in-watermark key (mult×100k of them;
      // THE state-heavy op, and exactly what RocksDB is for at deployment)
      time(s"stream_dedup_x$mult") {
        val stream = streaming.EventStream.readEvents(spark, streamEventsDir)
        streamCountAppend(streaming.EventStream.dedupWithinWatermark(
          stream.union(stream), Seq("event_id"), "1 hour"))
      },
      // streaming CDC latest-state view at scale: 8 micro-batches over the
      // landing dir, each reduced per-key then merged into the persisted
      // state — per-batch cost is (batch + state) key-shuffled; state is
      // O(distinct users), never O(events)
      time(s"stream_upsert_x$mult") {
        val tmp = Fixtures.dir("stress_supsert")
        try {
          val stream = streaming.EventStream.readEvents(spark, streamEventsDir,
            Map("maxFilesPerTrigger" -> "8"))
            .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          val state = streaming.EventStream.streamUpsertLatest(
            stream, Seq("user_id"), Seq("ts", "event_id"),
            s"$tmp/state", s"$tmp/ckpt")
          spark.read.parquet(state.get).count()
        } finally Fixtures.delete(tmp)
      },
      // SCD2 + point-in-time at scale: mult× deeper per-user change
      // histories — interval construction is one key-shuffle window, the
      // PIT join the as-of union-window (linear per-key state; a containment
      // theta-join would pay history × versions per user here)
      time(s"scd2_pit_x$mult") {
        val dim = load.Warehouse.scd2History(
          events.filter(col("event_type") === "view")
            .select(col("user_id"), col("ts"),
              col("event_id").as("change_id"), col("value").as("profile_value")),
          Seq("user_id"), "ts", Seq("change_id"))
        // consume the carried payload: a bare count() over the left-outer
        // PIT lets Catalyst prune the whole union-window (one row per fact
        // regardless), and the op silently measures a fact-count scan —
        // the shuffle tally caught exactly that
        load.Warehouse.pointInTimeJoin(
          events.filter(col("event_type") === "purchase")
            .select(col("event_id").as("fact_id"), col("user_id"), col("ts")),
          dim, "user_id", "ts", Seq("profile_value", "change_id"))
          .filter(col("change_id").isNotNull).count()
      },
      // state diff at scale: two mult×-size order states full-outer-diffed
      // on the key — cost is the one key shuffle; output is answer-sized
      // (only the mutated keys)
      time(s"snapshot_diff_x$mult") {
        val newState = orders.filter(col("o_orderkey") % 20 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 10 === 0, col("o_totalprice") + lit(100000.0))
              .otherwise(col("o_totalprice")))
        load.Warehouse.snapshotDiff(orders, newState, Seq("o_orderkey")).count()
      },
      // incremental SCD2: a third of the mult×-deep change log arrives as
      // the late batch — affected keys replay, the rest pass through; cost
      // must track the replayed slice + one semi/anti join, not a rebuild
      time(s"scd2_apply_x$mult") {
        val views = events.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("change_id"), col("value").as("profile_value"))
        val base = load.Warehouse.scd2History(
          views.filter(pmod(col("change_id"), lit(3)) =!= 0),
          Seq("user_id"), "ts", Seq("change_id"))
        load.Warehouse.scd2Apply(
          base, views.filter(pmod(col("change_id"), lit(3)) === 0),
          Seq("user_id"), "ts", Seq("change_id")).count()
      },
      // adaptive skew join: a third of the mult×-expanded orders folded onto
      // ONE hot customer key — sampled detection + heavy-only salting must
      // keep reducers balanced while light keys skip the explode entirely
      time(s"adaptive_skew_x$mult") {
        val o = orders.withColumn("custkey",
          when(col("o_orderkey") % 3 === 0, lit(1L)).otherwise(col("o_custkey")))
        operators.SkewJoin.adaptiveSaltedJoin(
          o, Tables(spark, sfDir, "customer")
            .select(col("c_custkey").as("custkey"), col("c_mktsegment")),
          Seq("custkey"), buckets = 32, uniqueIdCol = Some("o_orderkey"),
          heavyShareDenom = 10L, sampleFraction = 0.02)
          .groupBy(col("c_mktsegment")).agg(count(lit(1))).count()
      },
      // Bloom-gated decontamination vs the ungated shuffle join above
      // (contamination_x): the gate must cut the corpus side's shuffled
      // shingle rows to ~hits + fpp share, same exact result
      time(s"contamination_bloom_x$mult")(operators.Curation.contaminationBloom(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", n = 3,
        expectedItems = 2000000L * mult, fpp = 0.01).count()),
      // ...and the gate's WIN case: a CLEAN corpus (benchmark text reversed
      // → disjoint shingles). The op above is the gate's worst case — this
      // stress corpus is ~fully contaminated by construction, so every
      // shingle passes and the gate only measures its own eval overhead
      // (must stay ~free). Here ~every corpus shingle is dropped BEFORE the
      // exchange; compare to the ungated contamination_x time, which
      // shuffles all of them regardless of match rate
      time(s"contamination_bloom_clean_x$mult")(operators.Curation.contaminationBloom(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0)
          .withColumn("text", reverse(col("text"))),
        "text", "doc_id", n = 3,
        expectedItems = 2000000L * mult, fpp = 0.01).count()),
      // FUZZY decontamination at scale: cross-frame LSH with the benchmark
      // side broadcast — the corpus pays two narrow scan passes and the
      // only exchange is the answer-sized candidate distinct. Shuffle tally
      // must track CANDIDATES (bounded by true near-dups of bench items),
      // not corpus shingles — compare against contamination_x's tally,
      // which shuffles every matching shingle row
      time(s"contamination_fuzzy_x$mult")(operators.Curation.contaminationFuzzy(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", shingleSize = 3, numer = 1, denom = 2,
        bands = 32, rowsPerBand = 2).count()),
      // BPE ENCODE at scale: merges are the persisted artifact (trained
      // once on the UNexpanded corpus — training cost is bpe_train_x's
      // row); encoding the expanded corpus is a zero-shuffle narrow
      // projection whose cost is linear in corpus tokens and independent
      // of merge-list length. The aggregate forces full symbol
      // materialization (a bare count would prune the encode away)
      time(s"bpe_encode_x$mult") {
        // training happens inside the op's wall (the harness times whole
        // bodies) but is measured apart on stderr: the RECEIPT number for
        // encode scaling is the encode-only line — merges are a persisted
        // artifact in production, bpe_train_x's row prices training
        val merges = operators.BpeTrainer
          .train(Tables.balanced(spark, sfDir, "documents"), "text", numMerges = 8)
          .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
        val t0 = System.nanoTime()
        val n = operators.BpeTrainer.encode(docs, "text", "doc_id", merges)
          .agg(sum(size(col("syms")))).collect().head.getLong(0)
        System.err.println(
          f"[stress] bpe_encode_x$mult encode-only: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n symbols")
        n
      },
      // per-group top-k at mult×-deepened groups (expand keeps o_custkey, so
      // each customer's order history grows mult×): the k-bounded partial
      // aggregation shuffles ≤ k rows per (group, map partition)...
      time(s"topk_group_x$mult")(operators.Sketches.topKPerGroup(
        orders, Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3).count()),
      // ...while the window plan exchanges the WHOLE table to sort each
      // group — the gap between these two is the point of the Aggregator
      time(s"topk_window_x$mult") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        orders.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3).count()
      },
      // constraint audit: all row-level checks + the FK probe in one
      // partial-aggregated pass over the mult×-expanded table — cost must
      // track the scan, never #checks passes
      time(s"constraints_x$mult") {
        val parentKeys = broadcast(
          Tables(spark, sfDir, "customer").select(col("c_custkey")).distinct())
        operators.Quality.constraintReport(
          orders.join(parentKeys, col("o_custkey") === col("c_custkey"), "left"),
          Seq(
            "orderkey_not_null" -> col("o_orderkey").isNotNull,
            "totalprice_positive" -> (col("o_totalprice") > 0),
            "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
            "custkey_fk" -> col("c_custkey").isNotNull)).count()
      },
      // sorted-neighborhood at mult×: pair volume is n·w BY CONSTRUCTION
      // (the assert pins it) no matter how the blocking key distributes —
      // the single mega-block (all docs share one lang value here after
      // the expand) that would send blockedPairs quadratic costs SNM only
      // a bigger sort
      time(s"snm_x$mult") {
        val w = 4
        val n = operators.Linkage.sortedNeighborhoodPairs(
          docs, "doc_id", col("lang"), lower(substring(col("text"), 1, 32)), w).count()
        val docCount = docs.count()
        require(n <= docCount * w, s"SNM emitted $n pairs > n*w bound ${docCount * w}")
        n
      },
      // blocked linkage at mult×: block sizes grow mult× (same brand/size
      // lattice, mult× the parts) so comparison volume grows mult²/blocks —
      // the audited-cap pattern: blockSizes is the receipt that says
      // whether the blocking scheme survives the corpus
      // the cap BINDS here (blocks grow mult× past it): oversized blocks
      // drop instead of exploding the task, which is the documented
      // production contract — the audit query below proves work done
      // remains Σ|surviving block|²
      time(s"linkage_x$mult") {
        val parts = expand(Tables(spark, sfDir, "part"), mult, Seq("p_partkey"))
        operators.Linkage.blockedPairs(parts, "p_partkey", "p_name",
          concat(col("p_brand"), lit("|"), col("p_size").cast("string")),
          threshold = 0.9, maxBlockSize = 300).count()
      },
      // posting-join top-k at mult×: the df-cap is the scale governor —
      // join work is Σ df² over SURVIVING grams only. The cap must TRACK
      // the corpus (a fixed absolute cap quietly re-admits the quadratic
      // head as the corpus grows: at 20× the mutated replicas push most
      // surviving trigram df's right up to an unscaled cap and the dots
      // stage pays ~Σ(cap²) ≈ 10⁹ pair-rows — measured before this was
      // corpus-relative). 0.1% of corpus is the production-realistic knob.
      // Receipted at mult ≤ 20 ONLY, deliberately: the expand replicates
      // every base text mult×, so every gram's relative df is INVARIANT in
      // mult and Σ df² grows mult² — ~1.5×10¹⁰ pair-rows at 100×
      // (measured, killed). That is the true cost of EXACT sparse top-k on
      // a corpus whose duplication grows with its size; the production
      // answer at that shape is the already-receipted LSH/minhash family
      // or exact-dup collapse first, not a bigger cluster for this op
      time(s"sparse_topk_x$mult") {
        val maxDf = math.max(50L, docs.count() / 1000L)
        operators.SparseSim.topKNeighbors(
          docs, "text", "doc_id", n = 3, minDf = 2L, maxDf = maxDf, k = 5).count()
      },
      // directed containment at mult×: same inverted-index shape as
      // sparse_topk, so the same corpus-relative df-cap governor applies.
      // threshold 0: on THIS corpus the cap kills most shared-gram mass
      // (the 31-word vocab pushes base trigram df's far past 0.1%), so a
      // production 60% threshold returns zero pairs — the measured cost
      // lives entirely in the df-capped posting join and the threshold is
      // a free consumer filter on top of it
      time(s"containment_x$mult") {
        val maxDf = math.max(50L, docs.count() / 1000L)
        operators.Dedup.containmentPairs(docs, "text", "doc_id",
          shingleSize = 3, thresholdPpm = 0L, maxDf = maxDf).count()
      },
      // ER completion at mult×: blocked pairs (cap binds per the linkage
      // op) → alt-star components → survivorship top-1 per entity — the
      // end-to-end pairs→entities→golden chain under expanded blocks
      time(s"golden_x$mult") {
        val parts = expand(Tables(spark, sfDir, "part"), mult, Seq("p_partkey"))
        val pairs = operators.Linkage.blockedPairs(parts, "p_partkey", "p_name",
          concat(col("p_brand"), lit("|"), col("p_size").cast("string")),
          threshold = 0.9, maxBlockSize = 300)
        val labeled = operators.Linkage.entities(parts, "p_partkey", pairs)
        operators.Linkage.goldenRecords(labeled, "p_partkey",
          Seq(col("p_retailprice").desc)).count()
      },
      // integer PageRank at mult×: lineitem expand multiplies the edge set;
      // 3 rounds of shuffle-join + partial-agg inflow sums. Hub in-degree
      // (popular parts) lands in the SUM, which combines map-side
      time(s"pagerank_x$mult") {
        val li = lineitem
          .select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
        operators.PageRank.ranks(
          operators.PageRank.undirected(
            li.select((col("s") * 2 + 1).as("a"), (col("p") * 2).as("b")), "a", "b"),
          iters = 3).count()
      },
      // VERDICT r9 #4: the GENERAL (dangling-redistribution) PageRank path
      // at mult× — DIRECTED supplier→part edges, so every part is a sink
      // and the per-round dangling sum + redistribution actually runs (the
      // sink-free unrolled path is receipted by pagerank_x above; this one
      // had only sf0.1 oracle coverage). Receipt = the shuffle tally line
      // plus round-cost invariance: iters=1 vs iters=3 walls on stderr —
      // the marginal per-round cost must stay flat, since each round is
      // the same join + two aggregations over the same static frames
      time(s"pagerank_sinks_x$mult") {
        val li = lineitem
          .select((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")).distinct()
        // untimed warm-up: under STRESS_ONLY isolation this is the first
        // op in the JVM and the iters=1 leg would otherwise absorb all
        // codegen/scan warm-up, making the marginal come out negative
        operators.PageRank.ranks(li, iters = 1).count()
        val t1 = System.nanoTime()
        operators.PageRank.ranks(li, iters = 1).count()
        val w1 = (System.nanoTime() - t1) / 1e9
        val t3 = System.nanoTime()
        val n = operators.PageRank.ranks(li, iters = 3).count()
        val w3 = (System.nanoTime() - t3) / 1e9
        System.err.println(
          f"[stress] pagerank_sinks_x$mult round-cost: iters=1 $w1%.2f s, " +
            f"iters=3 $w3%.2f s → marginal ${(w3 - w1) / 2}%.2f s/round")
        n
      },
      // VERDICT r9 #1 receipt: the fast BPE trainer at a production-depth
      // merge count — customer names give a 15k-word vocabulary (deep
      // digit-pattern merge capacity; the 31-word documents corpus
      // exhausts near 170). The receipt is the stderr line: ~2 Spark jobs
      // TOTAL (word-count + bounded collect; the final local-relation
      // count may add one) where train() schedules one aggregation job
      // per merge — 1000+ jobs of pure scheduling overhead at this depth
      time("bpe_trainfast_1k") {
        val cust = Tables(spark, sfDir, "customer")
        val t0 = System.nanoTime()
        val (n, jobs) = Tally.jobsOf(
          operators.BpeTrainer.trainFast(cust, "c_name", numMerges = 1000).count())
        System.err.println(
          f"[stress] bpe_trainfast_1k: $n merges in ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
            s"$jobs Spark jobs total (train() would be ~1 per merge)")
        n
      },
      // VERDICT r9 #5: the streaming index INGEST itself at mult× (the
      // bench e_stream_index_append times probe-only): N micro-batches of
      // M rows assigned against frozen centroids and landed as per-batch
      // partitions; then one batch REPLAYED through the same per-batch
      // write path — the dynamic partition overwrite must leave the corpus
      // content-identical (hash compared), the exactly-once claim as a
      // measured receipt rather than a doc line
      time(s"stream_index_ingest_x$mult") {
        val dir = Fixtures.dir("stress_ivfstr")
        val landing = Fixtures.dir("stress_ivfland")
        val ckpt = Fixtures.dir("stress_ivfck")
        try {
          val base = embs.filter(pmod(col("vec_id"), lit(2)) === 0)
          val arrivals = embs.filter(pmod(col("vec_id"), lit(2)) === 1)
          val cents = operators.Similarity.trainIvfCentroids(
            base, "embedding", "vec_id", k = 16, trainSample = 8)
          operators.VersionedIvf.write(base, "embedding", "vec_id", cents, dir.toString)
          (0 until 8).foreach(k => landBatch(
            arrivals.filter(pmod(col("vec_id"), lit(16)) === lit(2 * k + 1)), landing, k))
          val t0 = System.nanoTime()
          operators.VersionedIvf.streamAppend(
            spark.readStream.schema(base.schema).option("maxFilesPerTrigger", 1)
              .parquet(landing.toString),
            "embedding", "vec_id", dir.toString, ckpt.toString)
            .awaitTermination()
          val ingestWall = (System.nanoTime() - t0) / 1e9
          def corpusHash(): (Long, Long) = contentHash(
            operators.VersionedIvf.corpusView(spark, dir.toString),
            Seq("vec_id", "embedding", "cluster", "ingest_batch"))
          val before = corpusHash()
          // replay batch 3 with its own landed content (what a failure
          // between write and checkpoint commit re-delivers)
          val replay = graft.CacheScope.localCheckpoint(
            operators.VersionedIvf.corpusView(spark, dir.toString)
              .filter(col("ingest_batch") === 3L)
              .select(col("vec_id"), col("embedding")))
          try operators.VersionedIvf.ingestBatch(
            replay, "embedding", "vec_id", dir.toString, 3L)
          finally graft.CacheScope.unpersistCheckpoint(replay)
          val after = corpusHash()
          require(before == after,
            s"replayed ingest batch changed the corpus: $before -> $after")
          System.err.println(
            f"[stress] stream_index_ingest_x$mult: 8 batches ingested in " +
              f"$ingestWall%.1f s; replayed batch left corpus content-identical " +
              s"(rows=${before._1}, hash=${before._2})")
          before._1
        } finally Seq(dir, landing, ckpt).foreach(Fixtures.delete)
      },
      // VERDICT r9 #6: e_stream_join cost breakdown — the bench-shaped
      // interval join on the UNEXPANDED sf0.1 events, per-micro-batch wall
      // + state rows from the progress log. The receipt separates
      // micro-batch/state-store FIXED overhead (per-batch floor, state
      // maintenance) from data-proportional work
      time("stream_join_breakdown") {
        val clicks = streaming.EventStream.readEvents(spark, s"$sfDir/events.parquet")
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
        val purchases = streaming.EventStream.readEvents(spark, s"$sfDir/events.parquet")
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        val joined = streaming.EventStream.intervalJoin(
          clicks, purchases, "user_id", "p_user", "click_ts", "purchase_ts",
          maxLagSeconds = 3600, watermarkDelay = "1 hour")
          .select(col("user_id"), col("click_ts"), col("purchase_ts"))
        val acc = new java.util.concurrent.atomic.AtomicLong
        val q = joined.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch((b: Dataset[Row], _: Long) => { acc.addAndGet(b.count()); () })
          .start()
        q.awaitTermination()
        q.recentProgress.foreach { p =>
          val stateRows = p.stateOperators.map(_.numRowsTotal).sum
          System.err.println(
            s"[stress] stream_join_breakdown batch=${p.batchId} " +
              s"trigger=${p.durationMs.getOrDefault("triggerExecution", 0L)}ms " +
              s"addBatch=${p.durationMs.getOrDefault("addBatch", 0L)}ms " +
              s"rows_in=${p.numInputRows} state_rows=$stateRows")
        }
        acc.get
      },
      // round-9 addition: the streaming near-dup DEDUP GATE at mult× —
      // signature index on half the expanded corpus, the other half gated
      // in 4 batches through the per-batch path (the crawl-ingest shape).
      // Receipts: per-batch wall printed (must track BATCH size — each
      // batch reads the manifest, never corpus text, and the manifest read
      // is partition-pruned to earlier batches), then one batch REPLAYED
      // after later ones ran — kept table and manifest must stay
      // content-identical (the exactly-once claim, measured)
      time(s"stream_gate_x$mult") {
        val idx = Fixtures.dir("stress_ndidx")
        val kept = Fixtures.dir("stress_ndkept")
        try {
          val base = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          // half the arrivals are corpus near-dups (the suppression work),
          // half genuinely novel (id-salted so they don't near-dup each
          // other) — the replicated stress corpus otherwise makes EVERY
          // arrival a near-dup of an index doc and the gate keeps nothing
          // novel text = four tokens all carrying the doc id: ZERO shared
          // shingles between two novel docs (shared filler words would give
          // J≈0.2 pairs a ~70% any-of-32-bands collision rate — a
          // candidate-pair explosion quadratic in the novel count)
          val arrivals = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
            .withColumn("text",
              when(pmod(col("doc_id"), lit(4)) === 1,
                concat(lit("nva"), col("doc_id"), lit(" nvb"), col("doc_id"),
                  lit(" nvc"), col("doc_id"), lit(" nvd"), col("doc_id")))
                .otherwise(col("text")))
          def batchOf(k: Int) =
            arrivals.filter(pmod(col("doc_id"), lit(8)) === (2 * k + 1))
          operators.VersionedNearDup.write(base, "text", "doc_id",
            idx.toString, shingleSize = 3, numer = 1, denom = 2,
            bands = 32, rowsPerBand = 2)
          (0 to 3).foreach { k =>
            val t0 = System.nanoTime()
            operators.VersionedNearDup.gateBatch(batchOf(k),
              "text", "doc_id", idx.toString, kept.toString, k.toLong)
            System.err.println(
              f"[stress] stream_gate_x$mult batch=$k " +
                f"${(System.nanoTime() - t0) / 1e9}%.1f s")
          }
          def snap(): ((Long, Long), (Long, Long)) = (
            contentHash(spark.read.parquet(kept.toString), Seq("doc_id", "ingest_batch")),
            contentHash(operators.VersionedNearDup.liveManifest(spark, idx.toString),
              Seq("doc", "keys")))
          val before = snap()
          operators.VersionedNearDup.gateBatch(batchOf(1),
            "text", "doc_id", idx.toString, kept.toString, 1L)
          require(snap() == before,
            s"replayed gate batch changed kept/manifest content: $before")
          System.err.println(
            f"[stress] stream_gate_x$mult replay of batch 1 after batches " +
              s"2-3: kept table + manifest content-identical " +
              s"(kept=${before._1._1}, sigs=${before._2._1})")
          before._1._1
        } finally Seq(idx, kept).foreach(Fixtures.delete)
      },
      // round-9 addition: the streaming SEMANTIC gate at mult× — IVF index
      // on half the expanded embeddings, the other half gated in 4 batches
      // (half exact replicas of index vectors = suppression work; half
      // sign-flipped = novel to the index, with identical copies inside
      // each batch = self-dedup work), then batch 1 replayed after later
      // batches ran. Receipt: per-batch wall + the probe shuffle bounded by
      // arrivals × nprobe clusters (never the index), replay content-identity
      time(s"semantic_gate_x$mult") {
        val idx = Fixtures.dir("stress_sgidx")
        val kept = Fixtures.dir("stress_sgkept")
        try {
          val base = embs.filter(pmod(col("vec_id"), lit(2)) === 0)
            .select(col("vec_id"), col("embedding"))
          val arrivals = embs.filter(pmod(col("vec_id"), lit(2)) === 1)
            .withColumn("embedding",
              when(pmod(col("vec_id"), lit(4)) === 1,
                transform(col("embedding"), x => -x))
                .otherwise(col("embedding")))
            .select(col("vec_id"), col("embedding"))
          def batchOf(k: Int) =
            arrivals.filter(pmod(col("vec_id"), lit(8)) === (2 * k + 1))
          val cents = operators.Similarity.trainIvfCentroids(
            base, "embedding", "vec_id", k = 16, trainSample = 8)
          operators.VersionedIvf.write(base, "embedding", "vec_id",
            cents, idx.toString)
          (0 to 3).foreach { k =>
            val t0 = System.nanoTime()
            operators.Similarity.semanticGateBatch(batchOf(k), "embedding",
              "vec_id", idx.toString, kept.toString, k.toLong,
              threshold = 0.9, nprobe = 2)
            System.err.println(
              f"[stress] semantic_gate_x$mult batch=$k " +
                f"${(System.nanoTime() - t0) / 1e9}%.1f s")
          }
          def snap(): ((Long, Long), (Long, Long)) = (
            contentHash(spark.read.parquet(kept.toString), Seq("vec_id", "ingest_batch")),
            contentHash(operators.VersionedIvf.corpusView(spark, idx.toString),
              Seq("vec_id", "cluster", "ingest_batch")))
          val before = snap()
          operators.Similarity.semanticGateBatch(batchOf(1), "embedding",
            "vec_id", idx.toString, kept.toString, 1L,
            threshold = 0.9, nprobe = 2)
          require(snap() == before,
            s"replayed semantic gate batch changed kept/index content: $before")
          System.err.println(
            f"[stress] semantic_gate_x$mult replay of batch 1 after batches " +
              s"2-3: kept + index content-identical (kept=${before._1._1})")
          before._1._1
        } finally Seq(idx, kept).foreach(Fixtures.delete)
      },
      // round-10 (VERDICT r9 #6): the COMPOSED ingest — text near-dup gate
      // → semantic gate stacked in ONE per-batch path over one arrival
      // stream (graft.streaming.ComposedGate), at mult×. Arrivals combine
      // both gates' workloads: text half near-dup/half id-salted novel,
      // embeddings half exact-replica/half sign-flipped. Receipts:
      // per-batch wall (each batch pays manifest-scale IO + survivors ×
      // nprobe probe, never corpus-scale), then batch 1 REPLAYED through
      // the whole composition after batches 2-3 ran — all four output
      // tables (text kept, final kept, index corpus, signature manifest)
      // must stay content-identical
      time(s"composed_gate_x$mult") {
        val textIdx = Fixtures.dir("stress_cgt")
        val annIdx = Fixtures.dir("stress_cga")
        val textKept = Fixtures.dir("stress_cgtk")
        val kept = Fixtures.dir("stress_cgk")
        try {
          val baseDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          val baseEmb = embs.filter(pmod(col("vec_id"), lit(2)) === 0)
            .select(col("vec_id"), col("embedding"))
          // same novelty construction as stream_gate_x / semantic_gate_x:
          // id-salted token-disjoint novel texts, sign-flipped novel vectors
          val arrivalDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
            .withColumn("text",
              when(pmod(col("doc_id"), lit(4)) === 1,
                concat(lit("nva"), col("doc_id"), lit(" nvb"), col("doc_id"),
                  lit(" nvc"), col("doc_id"), lit(" nvd"), col("doc_id")))
                .otherwise(col("text")))
          val arrivalEmb = embs.filter(pmod(col("vec_id"), lit(2)) === 1)
            .withColumn("embedding",
              when(pmod(col("vec_id"), lit(4)) === 1,
                transform(col("embedding"), x => -x))
                .otherwise(col("embedding")))
          val arrivals = arrivalDocs
            .join(arrivalEmb, arrivalDocs("doc_id") === arrivalEmb("vec_id"))
            .select(arrivalDocs("doc_id"), col("text"), col("embedding"))
          def batchOf(k: Int) =
            arrivals.filter(pmod(col("doc_id"), lit(8)) === (2 * k + 1))
          operators.VersionedNearDup.write(baseDocs, "text", "doc_id",
            textIdx.toString, shingleSize = 3, numer = 1, denom = 2,
            bands = 32, rowsPerBand = 2)
          val cents = operators.Similarity.trainIvfCentroids(
            baseEmb, "embedding", "vec_id", k = 16, trainSample = 8)
          operators.VersionedIvf.write(baseEmb, "embedding", "vec_id",
            cents, annIdx.toString)
          val stages = Seq(
            streaming.ComposedGate.Stage.NearDup(textIdx.toString, textKept.toString),
            streaming.ComposedGate.Stage.Semantic(annIdx.toString, kept.toString,
              threshold = 0.9, nprobe = 2))
          def composed(k: Int): Unit = streaming.ComposedGate.ingestBatch(
            batchOf(k), "text", "embedding", "doc_id", stages, k.toLong)
          (0 to 3).foreach { k =>
            val t0 = System.nanoTime()
            composed(k)
            System.err.println(
              f"[stress] composed_gate_x$mult batch=$k " +
                f"${(System.nanoTime() - t0) / 1e9}%.1f s")
          }
          def snap(): Seq[(Long, Long)] = composedOutputsHash(spark, stages)
          val before = snap()
          composed(1)
          require(snap() == before,
            s"replayed composed batch changed an output table: $before")
          System.err.println(
            f"[stress] composed_gate_x$mult replay of batch 1 after 2-3: " +
              s"text-kept/kept/index/manifest all content-identical " +
              s"(final kept=${before(1)._1}, stage-1 kept=${before.head._1})")
          before(1)._1
        } finally Seq(textIdx, annIdx, textKept, kept).foreach(Fixtures.delete)
      },
      // round-13 (r12 VERDICT #7): the FOUR-stage composed gate at mult× —
      // classifier score gate → substring cut → near-dup gate → semantic
      // gate in one per-batch path. Receipts: per-batch wall + the
      // STAGE-WISE INPUT SHRINKAGE chain (in → quality → clean → text-kept
      // → final kept, read from each stage's own ingest_batch partition) —
      // the design claim that the cheap stateless filter runs first and
      // every downstream stage's input strictly shrinks — and batch 1
      // REPLAYED through all four stages after batches 2-3 ran, all FIVE
      // output tables content-identical. The classifier trains on the
      // UN-multiplied reference table (fixed-size labeled set — quality
      // models train on reference samples, not the corpus; the
      // quality_train op receipts that wall separately).
      time(s"composed4_gate_x$mult") {
        val dirs = Seq("stress_c4s", "stress_c4t", "stress_c4a", "stress_c4q",
          "stress_c4cl", "stress_c4tk", "stress_c4k")
          .map(Fixtures.dir)
        val Seq(substrIdx, textIdx, annIdx, qKept, cleanD, textKept, kept) = dirs
        try {
          val baseDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          val baseEmb = embs.filter(pmod(col("vec_id"), lit(2)) === 0)
            .select(col("vec_id"), col("embedding"))
          // arrivals: novel (token-disjoint) text at ≡1 mod 4, planted junk
          // at ≡3 mod 16 (disjoint residues), near-dup variants otherwise;
          // embeddings sign-flipped novel at ≡1 mod 4, exact replicas else
          val arrivalDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
            .withColumn("text",
              when(pmod(col("doc_id"), lit(4)) === 1,
                concat(lit("nva"), col("doc_id"), lit(" nvb"), col("doc_id"),
                  lit(" nvc"), col("doc_id"), lit(" nvd"), col("doc_id")))
                .when(pmod(col("doc_id"), lit(16)) === 3, junkText(col("doc_id")))
                .otherwise(col("text")))
          val arrivalEmb = embs.filter(pmod(col("vec_id"), lit(2)) === 1)
            .withColumn("embedding",
              when(pmod(col("vec_id"), lit(4)) === 1,
                transform(col("embedding"), x => -x))
                .otherwise(col("embedding")))
          val arrivals = arrivalDocs
            .join(arrivalEmb, arrivalDocs("doc_id") === arrivalEmb("vec_id"))
            .select(arrivalDocs("doc_id"), col("text"), col("embedding"))
          def batchOf(k: Int) =
            arrivals.filter(pmod(col("doc_id"), lit(8)) === (2 * k + 1))
          // fixed-size labeled set from the un-multiplied reference table
          val labeled = junkLabeled(
            Tables.balanced(spark, sfDir, "documents"), 1000000000L)
          val buckets = 1 << 12
          val model = operators.TextClassifier.train(
            labeled, "text", "doc_id", "label",
            numBuckets = buckets, iterations = 5)
          operators.VersionedSubstring.write(baseDocs, "text", "doc_id",
            substrIdx.toString, n = 8)
          operators.VersionedNearDup.write(baseDocs, "text", "doc_id",
            textIdx.toString, shingleSize = 3, numer = 1, denom = 2,
            bands = 32, rowsPerBand = 2)
          val cents = operators.Similarity.trainIvfCentroids(
            baseEmb, "embedding", "vec_id", k = 16, trainSample = 8)
          operators.VersionedIvf.write(baseEmb, "embedding", "vec_id",
            cents, annIdx.toString)
          val stages = {
            import streaming.ComposedGate.Stage._
            Seq(Quality(model, buckets, qKept.toString),
              Substring(substrIdx.toString, cleanD.toString),
              NearDup(textIdx.toString, textKept.toString),
              Semantic(annIdx.toString, kept.toString, threshold = 0.9, nprobe = 2))
          }
          def composed(k: Int): Unit = streaming.ComposedGate.ingestBatch(
            batchOf(k), "text", "embedding", "doc_id", stages, k.toLong)
          def stageCount(dir: java.nio.file.Path, k: Int): Long = {
            val part = new org.apache.hadoop.fs.Path(
              s"$dir/ingest_batch=$k")
            val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (!fs.exists(part)) 0L
            else spark.read.parquet(part.toString).count()
          }
          (0 to 3).foreach { k =>
            val t0 = System.nanoTime()
            composed(k)
            val sec = (System.nanoTime() - t0) / 1e9
            val chain = Seq(batchOf(k).count(), stageCount(qKept, k),
              stageCount(cleanD, k), stageCount(textKept, k),
              stageCount(kept, k))
            require(chain == chain.sorted.reverse,
              s"composed4 stage inputs did not monotonically shrink: $chain")
            System.err.println(
              f"[stress] composed4_gate_x$mult batch=$k $sec%.1f s " +
                s"shrinkage in->q->clean->text->kept: ${chain.mkString(" -> ")}")
          }
          val before = composedOutputsHash(spark, stages)
          composed(1)
          require(composedOutputsHash(spark, stages) == before,
            s"replayed composed4 batch changed an output table: $before")
          System.err.println(
            f"[stress] composed4_gate_x$mult replay of batch 1 after 2-3: " +
              s"all seven output tables content-identical " +
              s"(final kept=${before(3)._1})")
          before(3)._1
        } finally dirs.foreach(Fixtures.delete)
      },
      // round-10 (VERDICT r9 #5): trainFast at PRODUCTION depth — 30k
      // merges on a realistic Zipf vocabulary (log-uniform rank sampling ⇒
      // P(rank) ∝ 1/rank; ranks rendered in a 10-letter alphabet via
      // digit→letter translate, so merges see natural shared prefixes and
      // suffixes rather than c_name's adversarial digit patterns). The 1k
      // receipt proved job-count independence; this measures the
      // driver-side O(merges × affected) inner loop at depth. Receipt:
      // wall + Spark job count (expect word-count + bounded collect, NOT
      // one per merge) + peak driver heap + a 500-merge PREFIX contract
      // (greedy BPE is deterministic, so trainFast(500) must equal the
      // first 500 rows of trainFast(30k))
      time("bpe_trainfast_30k") {
        val u = pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 1000000.0
        val corpus = spark.range(3000000L).select(
          translate(
            floor(exp(u * log(lit(60000.0)))).cast("long").cast("string"),
            "0123456789", "abcdefghij").as("word"))
        import scala.jdk.CollectionConverters._
        val heapPools = java.lang.management.ManagementFactory
          .getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
        heapPools.foreach(_.resetPeakUsage())
        val t0 = System.nanoTime()
        val (full, jobs) = Tally.jobsOf(
          operators.BpeTrainer.trainFast(corpus, "word", numMerges = 30000)
            .orderBy(col("rank"))
            .select(col("rank"), col("left"), col("right"), col("pair_count"))
            .collect().toSeq)
        val wall = (System.nanoTime() - t0) / 1e9
        val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
        val prefix = operators.BpeTrainer.trainFast(corpus, "word", numMerges = 500)
          .orderBy(col("rank"))
          .select(col("rank"), col("left"), col("right"), col("pair_count"))
          .collect().toSeq
        require(prefix == full.take(500),
          "trainFast(500) diverged from the first 500 merges of trainFast(30k)")
        System.err.println(
          f"[stress] bpe_trainfast_30k: ${full.size} merges in $wall%.1f s, " +
            s"$jobs Spark jobs (30k-merge leg only), peak driver heap " +
            s"${peakMb} MB, 500-merge prefix contract OK")
        full.size.toLong
      },
      // round-10 (VERDICT r9 #1): the tombstone PURGE lifecycle at mult× —
      // delete 1% (tombstones + partition-local rewrite), ingest a batch
      // THROUGH the tombstone anti-join, purge, ingest an equal batch with
      // the anti-join structurally gone, then re-ingest the deleted ids
      // (allowed again post-purge). Receipt: purge wall + the two ingest
      // walls + deleted ids probe-visible after re-add
      time(s"ivf_purge_x$mult") {
        val dir = Fixtures.dir("stress_ivfpg")
        try {
          val base = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
          val cents = operators.Similarity.trainIvfCentroids(
            base, "embedding", "vec_id", k = 16, trainSample = 8)
          operators.VersionedIvf.write(base, "embedding", "vec_id",
            cents, dir.toString)
          val delIds = base.filter(pmod(col("vec_id"), lit(400)) === 0)
          val deleted = operators.VersionedIvf.delete(
            spark, dir.toString, delIds.select(col("vec_id")), "vec_id")
          def ingest(sel: Int, batchId: Long): Double = {
            val b = embs.filter(pmod(col("vec_id"), lit(4)) === sel)
              .select(col("vec_id"), col("embedding"))
            val t0 = System.nanoTime()
            operators.VersionedIvf.ingestBatch(
              b, "embedding", "vec_id", dir.toString, batchId)
            (System.nanoTime() - t0) / 1e9
          }
          val withTomb = ingest(1, 0L) // pays the tombstone anti-join
          val t0 = System.nanoTime()
          operators.VersionedIvf.consolidate(spark, dir.toString)
          val purgeWall = (System.nanoTime() - t0) / 1e9
          val afterPurge = ingest(2, 1L) // anti-join structurally gone
          // deleted ids may re-enter now
          operators.VersionedIvf.ingestBatch(
            delIds.select(col("vec_id"), col("embedding")),
            "embedding", "vec_id", dir.toString, 2L)
          val back = operators.VersionedIvf.corpusView(spark, dir.toString)
            .join(broadcast(delIds.select(col("vec_id"))), Seq("vec_id")).count()
          require(back == deleted,
            s"re-added $back of $deleted purged ids")
          System.err.println(
            f"[stress] ivf_purge_x$mult: deleted=$deleted purge=$purgeWall%.1f s " +
              f"ingest with-tombstones=$withTomb%.1f s post-purge=$afterPurge%.1f s " +
              s"re-added=$back (all probe-visible)")
          back
        } finally Fixtures.delete(dir)
      },
      // round-10 (VERDICT r9 #3): the in-place RETRAIN at mult× — index on
      // a quarter of the expanded embeddings, retrain with a 1/8 training
      // sample under the whole-index _COMMIT swap. Receipt: retrain wall,
      // corpus row count invariant across the full rewrite, centroid count
      time(s"ivf_retrain_x$mult") {
        val dir = Fixtures.dir("stress_ivfrt")
        try {
          val base = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
          val cents = operators.Similarity.trainIvfCentroids(
            base, "embedding", "vec_id", k = 16, trainSample = 8)
          operators.VersionedIvf.write(base, "embedding", "vec_id",
            cents, dir.toString)
          val rowsBefore = operators.VersionedIvf.corpusView(spark, dir.toString).count()
          val t0 = System.nanoTime()
          operators.VersionedIvf.retrain(spark, dir.toString,
            trainSample = 8)
          val wall = (System.nanoTime() - t0) / 1e9
          val rowsAfter = operators.VersionedIvf.corpusView(spark, dir.toString).count()
          require(rowsAfter == rowsBefore,
            s"retrain changed corpus row count: $rowsBefore -> $rowsAfter")
          System.err.println(
            f"[stress] ivf_retrain_x$mult: $rowsBefore rows reassigned + " +
              f"swapped in $wall%.1f s (16 centroids, 1/8 train sample), " +
              s"row count invariant")
          rowsAfter
        } finally Fixtures.delete(dir)
      }
    )
    val ran = results.flatten
    val qs = ran.map { case (k, v, _) => s"\"$k\":$v" }.mkString("{", ",", "}")
    println(s"""{"metric":"stress_total","value":${ran.map(_._2).sum},"unit":"sec","mult":$mult,"ops":$qs}""")
    streamDirHandle.foreach(Fixtures.delete)
    spark.stop()
  }
}

/** Small helpers shared with the stress harness. */
private object SparkEntryHelpers {
  import org.apache.spark.sql.expressions.Window
  def top1PerCustomer(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }
}
