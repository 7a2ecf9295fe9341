package graft.load

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class WarehouseSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // each test provisions what it reads — no cross-test table dependencies
  private lazy val tablesReady: Unit = {
    val hh = (1 to 500).map(i => (f"$i%12d", s"hh$i")).toDF("hhid", "hv000")
    val rec = (1 to 500).flatMap(i => Seq((f"$i%12d", 1), (f"$i%12d", 2)))
      .toDF("hhid", "idx")
    spark.sql("DROP TABLE IF EXISTS wh_hh")
    spark.sql("DROP TABLE IF EXISTS wh_rec")
    spark.sql("DROP TABLE IF EXISTS wh_rec4")
    Warehouse.writeBucketed(hh, "wh_hh", Seq("hhid"), 8, sortCols = Seq("hhid"))
    Warehouse.writeBucketed(rec, "wh_rec", Seq("hhid"), 8, sortCols = Seq("hhid"))
    Warehouse.writeBucketed(rec, "wh_rec4", Seq("hhid"), 4)
  }

  test("co-bucketed tables join without a shuffle; mismatched bucketing shuffles") {
    tablesReady
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // co-bucketed: the join reads bucketed scans directly — no exchange
      val j = Warehouse.table(spark, "wh_hh")
        .join(Warehouse.table(spark, "wh_rec"), "hhid")
      assert(j.count() == 1000)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join still shuffles:\n$plan")

      // bucket-count mismatch: at least one side must re-shuffle
      val jm = Warehouse.table(spark, "wh_hh")
        .join(Warehouse.table(spark, "wh_rec4"), "hhid")
      assert(jm.count() == 1000)
      assert(jm.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("bucketed aggregation on the bucket key avoids the shuffle too") {
    tablesReady
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val agg = Warehouse.table(spark, "wh_rec").groupBy("hhid")
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      assert(agg.count() == 500)
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("range-layout write produces files with disjoint key ranges") {
    import spark.implicits._
    val dir = graft.Fixtures.dir("rangelayout").toString + "/t"
    // shuffled insert order — the layout, not the input order, must sort it
    val df = scala.util.Random.shuffle((1 to 2000).toList)
      .map(i => (i.toLong, s"payload$i")).toDF("k", "v")
    Warehouse.writeRangeLayout(df, dir, Seq("k"), partitions = 4)
    // every part file must cover a key range disjoint from every other —
    // that is the property parquet min/max pruning needs
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("k"),
          org.apache.spark.sql.functions.max("k")).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi >= $lo2")
      case _ => ()
    }
    // and nothing was lost in the re-layout
    assert(spark.read.parquet(dir).count() == 2000)
  }

  test("upsertLatest: latest version wins, updates win version ties, inserts land, one row per key") {
    val base = Seq(
      (1L, "a-v1", 1L), (2L, "b-v1", 1L), (3L, "c-v3", 3L)
    ).toDF("k", "v", "version")
    val updates = Seq(
      (1L, "a-v2", 2L), // higher version → replaces
      (2L, "b-v1-upd", 1L), // SAME version → updates side wins the tie
      (3L, "c-v2", 2L), // LOWER version than base → base kept
      (4L, "d-v1", 1L) // new key → insert
    ).toDF("k", "v", "version")
    val got = Warehouse.upsertLatest(base, updates, Seq("k"), "version")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ("a-v2", 2L), 2L -> ("b-v1-upd", 1L),
      3L -> ("c-v3", 3L), 4L -> ("d-v1", 1L)))
  }

  test("upsertLatest multi-column version chain: later columns break earlier ties, updates win full ties") {
    val base = Seq(
      (1L, "a-base", 5L, 10L), // same ts as update, LOWER seq → update wins
      (2L, "b-base", 5L, 30L), // same ts, HIGHER seq → base kept
      (3L, "c-base", 9L, 1L)   // higher ts than update → base kept
    ).toDF("k", "v", "ts", "seq")
    val updates = Seq(
      (1L, "a-upd", 5L, 20L),
      (2L, "b-upd", 5L, 20L),
      (3L, "c-upd", 8L, 99L),
      (4L, "d-upd", 1L, 1L),  // insert
      (5L, "e-tie", 7L, 7L)   // full-tie dedup inside updates is NOT claimed;
                              // single row just lands
    ).toDF("k", "v", "ts", "seq")
    val got = Warehouse.upsertLatest(base, updates, Seq("k"), Seq("ts", "seq"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a-upd", 2L -> "b-base", 3L -> "c-base",
      4L -> "d-upd", 5L -> "e-tie"))
  }

  test("applyCdc: tombstones delete, older updates stay dead, newer upserts resurrect") {
    val base = Seq(
      (1L, "a", 1L), (2L, "b", 1L), (3L, "c", 5L)
    ).toDF("k", "v", "version")
    val changes = Seq(
      (1L, "dead", 2L, "D"),     // delete wins over base
      (2L, "b2", 2L, "U"),       // plain update
      (3L, "zombie", 6L, "U"),   // older than the delete below...
      (3L, "dead", 7L, "D"),     // ...delete at the highest version → gone
      (4L, "d", 1L, "U"),        // insert
      (5L, "dead", 1L, "D"),     // delete of an absent key → no-op
      (6L, "dead", 1L, "D"),     // delete then...
      (6L, "res", 2L, "U")       // ...a NEWER upsert resurrects
    ).toDF("k", "v", "version", "op")
    val got = Warehouse.applyCdc(base, changes, Seq("k"), Seq("version"), "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "b2", 4L -> "d", 6L -> "res"))
    // a base that already carries the op column is a caller bug, refused
    intercept[IllegalArgumentException] {
      Warehouse.applyCdc(changes, changes, Seq("k"), Seq("version"), "op")
    }
  }

  test("compactSmallFiles bin-packs debris without content loss; sorted variant restores disjoint ranges") {
    import org.apache.spark.sql.functions.{min, max, input_file_name}
    val in = graft.Fixtures.dir("cmp_in").toString + "/t"
    val out = graft.Fixtures.dir("cmp_out").toString + "/t"
    val outSorted = graft.Fixtures.dir("cmp_outs").toString + "/t"
    val df = scala.util.Random.shuffle((1 to 5000).toList)
      .map(i => (i.toLong, s"payload-$i")).toDF("k", "v")
    df.repartition(40).write.parquet(in) // ingest debris: 40 tiny files
    val totalBytes = {
      val p = new org.apache.hadoop.fs.Path(in)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(f => f.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }
    // target ~1/3 of the data per file → ~3-4 output files, far below 40
    val (before, after) = Warehouse.compactSmallFiles(spark, in, out, totalBytes / 3)
    assert(before == 40 && after < 10 && after >= 1, s"$before -> $after")
    // content survives the rewrite exactly
    assert(spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == (1 to 5000).map(i => (i.toLong, s"payload-$i")))
    // sorted compaction = range layout: per-file key ranges disjoint again
    val (_, afterSorted) =
      Warehouse.compactSmallFiles(spark, in, outSorted, totalBytes / 3, sortCols = Seq("k"))
    assert(afterSorted >= 2)
    val ranges = spark.read.parquet(outSorted)
      .groupBy(input_file_name()).agg(min("k"), max("k"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi >= $lo2")
      case _ => ()
    }
  }

  test("stats manifest plans a pruned scan: non-overlapping files never opened, result exact") {
    import org.apache.spark.sql.functions.col
    val dir = graft.Fixtures.dir("statsprune").toString + "/t"
    val df = scala.util.Random.shuffle((0 until 4000).toList)
      .map(i => (i.toLong, i % 7)).toDF("k", "grp")
    Warehouse.writeRangeLayout(df, dir, Seq("k"), partitions = 8)
    val manifest = Warehouse.statsManifest(spark, dir, Seq("k"))
    assert(manifest.count() >= 8) // one row per file
    val (pruned, kept, total) = Warehouse.prunedRead(spark, manifest, "k", 100L, 600L)
    // a ~1/8-domain predicate over 8 disjoint-range files: most are skipped
    assert(kept < total, s"nothing pruned ($kept of $total)")
    assert(kept <= 3)
    // and the pruned scan's input really is only the kept files
    assert(pruned.inputFiles.length == kept)
    val got = pruned.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (100L to 600L).toSeq)
    // all-pruned predicate: empty result, zero files opened, schema intact
    val (none, kept0, _) = Warehouse.prunedRead(spark, manifest, "k", 100000L, 200000L)
    assert(kept0 == 0 && none.count() == 0 && none.columns.contains("grp"))

    // incremental maintenance: manifest rows are per-file, so appending
    // files and scanning ONLY those must union to exactly the full rebuild.
    // (Materialize the pre-append rows FIRST — the manifest frame is lazy
    // and would re-scan the appended files on a later collect.)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val preRows = rows(manifest)
    val extra = (4000 until 4500).map(i => (i.toLong, i % 7)).toDF("k", "grp")
    extra.repartitionByRange(2, col("k")).sortWithinPartitions(col("k"))
      .write.mode("append").parquet(dir)
    val newFiles = (spark.read.parquet(dir).inputFiles.toSet -- preRows.map(_._1)).toSeq
    assert(newFiles.size == 2)
    val incr = preRows ++ rows(Warehouse.statsManifestFor(spark, newFiles, Seq("k")))
    assert(incr == rows(Warehouse.statsManifest(spark, dir, Seq("k"))))
  }

  test("snapshots: reader isolation, immutability, crash-safety, vacuum") {
    val root = graft.Fixtures.dir("snap").toString + "/t"
    val v1 = (1 to 100).map(i => (i.toLong, s"v1-$i")).toDF("k", "v")
    val v2 = (1 to 100).map(i => (i.toLong, s"v2-$i")).toDF("k", "v")
    Warehouse.commitSnapshot(v1, root, 1)
    // a half-written commit (no _SUCCESS) must be INVISIBLE to readers
    val half = new org.apache.hadoop.fs.Path(s"$root/v2/part-00000.parquet")
    val fs = half.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(half.getParent)
    assert(Warehouse.snapshotVersions(spark, root) == Seq(1))
    assert(Warehouse.readSnapshot(spark, root).select("v").head.getString(0).startsWith("v1-"))
    fs.delete(half.getParent, true)
    Warehouse.commitSnapshot(v2, root, 2)
    assert(Warehouse.snapshotVersions(spark, root) == Seq(1, 2))
    // reader isolation: v1 read AFTER the v2 commit is still exactly v1
    assert(Warehouse.readSnapshot(spark, root, Some(1))
      .collect().map(_.getString(1)).forall(_.startsWith("v1-")))
    assert(Warehouse.readSnapshot(spark, root) // latest = v2
      .collect().map(_.getString(1)).forall(_.startsWith("v2-")))
    // immutability: re-committing an existing version is refused
    intercept[IllegalArgumentException] { Warehouse.commitSnapshot(v1, root, 1) }
    // vacuum drops old versions, keeps the newest
    Warehouse.commitSnapshot(v2, root, 3)
    assert(Warehouse.vacuumSnapshots(spark, root, keepLatest = 2) == Seq(1))
    assert(Warehouse.snapshotVersions(spark, root) == Seq(2, 3))
    intercept[IllegalArgumentException] { Warehouse.readSnapshot(spark, root, Some(1)) }
  }

  test("z-order layout bounds per-file ranges on BOTH dims; linear layout does not") {
    import org.apache.spark.sql.functions.{min, max, input_file_name}
    import spark.implicits._
    // 64x64 grid, shuffled: a box query on (x, y) should touch few files
    val grid = scala.util.Random.shuffle(
      (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)).toList)
      .toDF("x", "y")
    val zDir = graft.Fixtures.dir("zorder").toString + "/t"
    val linDir = graft.Fixtures.dir("linear").toString + "/t"
    Warehouse.writeZOrderLayout(grid, zDir, Seq("x", "y"), partitions = 16, bitsPerDim = 6)
    Warehouse.writeRangeLayout(grid, linDir, Seq("x"), partitions = 16)

    def fileRanges(dir: String): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("x"), max("x"), min("y"), max("y"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq

    val zRanges = fileRanges(zDir)
    assert(zRanges.size >= 8)
    // every z-file's box is narrow on BOTH dims: with 16 files over a 64x64
    // grid each file holds ~256 cells = a ~16x16 z-box (plus quantile-edge
    // slack). Half-domain width is a conservative bound that linear layout
    // makes no attempt to meet.
    zRanges.foreach { case (x0, x1, y0, y1) =>
      assert(x1 - x0 <= 32, s"x range too wide: [$x0,$x1]")
      assert(y1 - y0 <= 32, s"y range too wide: [$y0,$y1]")
    }
    // linear layout: x is concentrated but y spans the full domain per file
    val linRanges = fileRanges(linDir)
    assert(linRanges.forall { case (_, _, y0, y1) => y1 - y0 >= 60 })
    // file-skipping evidence: fraction of files overlapping a 8x8 box query
    val box = (x0: Long, x1: Long, y0: Long, y1: Long) =>
      !(x1 < 24 || x0 > 31 || y1 < 24 || y0 > 31)
    val zTouched = zRanges.count((box.apply _).tupled)
    val linTouched = linRanges.count((box.apply _).tupled)
    assert(zTouched < linTouched,
      s"z-order should touch fewer files ($zTouched vs $linTouched)")
    assert(spark.read.parquet(zDir).count() == 64L * 64L)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("scd2History: intervals tile per key, same-instant changes collapse to the tie-break winner") {
    val changes = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "a"),
      (1L, ts("2024-01-03 00:00:00"), 11L, "b"),
      // two changes at the same instant: change_id 13 must win, 12 vanish
      (1L, ts("2024-01-05 00:00:00"), 12L, "lost"),
      (1L, ts("2024-01-05 00:00:00"), 13L, "c"),
      (2L, ts("2024-02-01 00:00:00"), 20L, "x"),
      // null key and null ts can never be in effect — dropped
      (0L, null, 30L, "nullts"))
      .toDF("k", "t", "change_id", "attr")
      .withColumn("k", org.apache.spark.sql.functions.when(
        $"change_id" === 30L, org.apache.spark.sql.functions.lit(null)).otherwise($"k"))
    val hist = Warehouse.scd2History(changes, Seq("k"), "t", Seq("change_id"))
      .select("k", "change_id", "attr", "effective_from", "effective_to", "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5)))
      .sortBy(x => (x._1, x._4.getTime))
    assert(hist.toSeq == Seq(
      (1L, 10L, "a", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00")), false),
      (1L, 11L, "b", ts("2024-01-03 00:00:00"), Some(ts("2024-01-05 00:00:00")), false),
      (1L, 13L, "c", ts("2024-01-05 00:00:00"), None, true),
      (2L, 20L, "x", ts("2024-02-01 00:00:00"), None, true)))
    // tiling: within a key, each interval's end is the next one's start
    hist.groupBy(_._1).foreach { case (_, rows) =>
      rows.sliding(2).foreach {
        case Array(a, b) => assert(a._5.contains(b._4), s"gap/overlap between $a and $b")
        case _ => ()
      }
      assert(rows.last._5.isEmpty && rows.last._6)
    }
  }

  test("pointInTimeJoin matches the containment join; pre-history facts null; truncated intervals null, never wrong") {
    val changes = (1 to 40).flatMap(k => (1 to 5).map(v =>
      (k.toLong, ts(f"2024-01-${v * 2}%02d 12:00:00"), (k * 10 + v).toLong, s"v$v")))
      .toDF("k", "t", "change_id", "attr")
    val hist = Warehouse.scd2History(changes, Seq("k"), "t", Seq("change_id"))
    val facts = (1 to 40).flatMap(k => Seq(
      (k.toLong * 1000, k.toLong, ts("2024-01-01 00:00:00")), // before history
      (k.toLong * 1000 + 1, k.toLong, ts("2024-01-02 12:00:00")), // exactly at v1
      (k.toLong * 1000 + 2, k.toLong, ts("2024-01-05 07:30:00")), // inside v2
      (k.toLong * 1000 + 3, k.toLong, ts("2024-12-31 00:00:00")))) // open row
      .toDF("fact_id", "k", "ft")
    val got = Warehouse.pointInTimeJoin(facts, hist, "k", "ft", Seq("attr", "change_id"))
    // oracle: literal containment theta-join
    import org.apache.spark.sql.functions.col
    val want = facts.join(hist,
      facts("k") === hist("k") && col("ft") >= col("effective_from") &&
        (col("effective_to").isNull || col("ft") < col("effective_to")), "left")
      .select(facts("fact_id"), facts("k"), col("ft"), col("attr"), col("change_id"))
    assert(got.select("fact_id", "k", "ft", "attr", "change_id")
      .except(want).isEmpty && want.except(
        got.select("fact_id", "k", "ft", "attr", "change_id")).isEmpty)
    assert(got.filter(col("attr").isNull).count() == 40) // the pre-history facts
    // honesty on a NON-tiling table: drop each key's v2 interval — facts
    // inside the hole must carry null (as-of alone would wrongly serve v1)
    val holed = hist.filter(col("attr") =!= "v2")
    val inHole = Warehouse.pointInTimeJoin(
      facts.filter(col("ft") === ts("2024-01-05 07:30:00")), holed,
      "k", "ft", Seq("attr"))
    assert(inHole.count() == 40 && inHole.filter(col("attr").isNotNull).count() == 0)
  }

  test("scd2Apply: incremental ≡ full rebuild under out-of-order batches; idempotent; untouched keys pass through") {
    import org.apache.spark.sql.functions.col
    val all = (1 to 30).flatMap(k => (1 to 6).map(v =>
      (k.toLong, ts(f"2024-01-${v * 3}%02d 09:00:00"), (k * 10 + v).toLong, s"v$v")))
      .toDF("k", "t", "change_id", "attr")
    // batch 2 is out-of-order: versions 2 and 5 arrive AFTER 1,3,4,6 —
    // their keys' histories must re-tile around them exactly
    val first = all.filter(col("change_id") % 10 =!= 2 && col("change_id") % 10 =!= 5)
    val late = all.filter(col("change_id") % 10 === 2 || col("change_id") % 10 === 5)
      // ...and only for half the keys, so the other half must pass through
      .filter(col("k") <= 15)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "change_id", "attr", "effective_from", "effective_to", "is_current")
        .collect().map(_.toSeq).toSet
    val base = Warehouse.scd2History(first, Seq("k"), "t", Seq("change_id"))
    val applied = Warehouse.scd2Apply(base, late, Seq("k"), "t", Seq("change_id"))
    val rebuilt = Warehouse.scd2History(first.unionByName(late), Seq("k"), "t", Seq("change_id"))
    assert(canon(applied) == canon(rebuilt))
    // idempotent: re-applying the same batch changes nothing
    assert(canon(Warehouse.scd2Apply(applied, late, Seq("k"), "t", Seq("change_id")))
      == canon(applied))
  }

  test("snapshotDiff: U/D/I recovered, null-valued updates exact, applyCdc(old, diff) reconstructs new") {
    import org.apache.spark.sql.functions.{col, lit}
    val old = Seq[(Long, java.lang.Double, String)](
      (1L, 10.0, "keep"), (2L, 20.0, "upd"), (3L, 30.0, "del"), (4L, null, "tonull"))
      .toDF("k", "price", "tag")
    val nu = Seq[(Long, java.lang.Double, String)](
      (1L, 10.0, "keep"),          // unchanged → no row
      (2L, 25.0, "upd"),           // U
      (4L, null, "tonull2"),       // U via the string col, price stays null
      (5L, 50.0, "ins"),           // I
      (6L, null, "insnull"))       // I with a null value
      .toDF("k", "price", "tag")
    val diff = Warehouse.snapshotDiff(old, nu, Seq("k"))
    val got = diff.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      (2L, Some(25.0), "upd", "U"),
      (3L, Some(30.0), "del", "D"),   // tombstone carries last-known state
      (4L, None, "tonull2", "U"),     // new null NOT resurrected to old
      (5L, Some(50.0), "ins", "I"),
      (6L, None, "insnull", "I")))
    // the law: applying the reconstructed feed to old yields new exactly
    val rebuilt = Warehouse.applyCdc(
      old.withColumn("version", lit(1L)),
      diff.withColumn("version", lit(2L)),
      Seq("k"), Seq("version"), "op")
      .drop("version")
    assert(rebuilt.except(nu).isEmpty && nu.except(rebuilt).isEmpty)
  }

  test("property: scd2 family laws hold for random change logs (PIT ≡ containment, apply ≡ rebuild, diff reconstructs)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions.{col, lit}
    // random change logs with SMALL key/ts domains so same-instant ties,
    // single-version keys, and interleaved batches all occur frequently
    val changeGen = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, 6L)
        t <- Gen.choose(1, 8) // day number
        id <- Gen.choose(1L, 1000L)
        attr <- Gen.alphaLowerStr.map(_.take(3))
      } yield (k, ts(f"2024-01-0$t%01d 00:00:00"), id, attr))
      factRows <- Gen.listOfN(12, for {
        k <- Gen.choose(1L, 7L) // includes a key with possibly no history
        t <- Gen.choose(1, 9) // day 9 facts land past every day-≤8 change
        fid <- Gen.choose(1L, 1000L)
      } yield (fid, k, ts(f"2024-01-0$t%01d 12:00:00")))
      splitMod <- Gen.choose(2, 4)
    } yield (
      // (k, t, change_id) must be unique: two same-instant rows with the
      // SAME tie-break id make "the" winner ambiguous by construction
      rows.groupBy(r => (r._1, r._2, r._3)).map(_._2.head).toSeq,
      factRows.distinct, splitMod)
    val prop = Prop.forAll(changeGen) { case (rows, factRows, splitMod) =>
      val changes = rows.toDF("k", "t", "change_id", "attr")
      val facts = factRows.toDF("fact_id", "k", "ft")
      val hist = Warehouse.scd2History(changes, Seq("k"), "t", Seq("change_id"))
      def canon(df: org.apache.spark.sql.DataFrame, cols: String*) =
        df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
      // law 1: PIT join ≡ literal containment theta join
      val pit = Warehouse.pointInTimeJoin(facts, hist, "k", "ft", Seq("attr", "change_id"))
      val theta = facts.join(hist,
        facts("k") === hist("k") && col("ft") >= col("effective_from") &&
          (col("effective_to").isNull || col("ft") < col("effective_to")), "left")
        .select(facts("fact_id"), facts("k"), col("ft"), col("attr"), col("change_id"))
      val law1 = canon(pit, "fact_id", "k", "ft", "attr", "change_id") ==
        canon(theta, "fact_id", "k", "ft", "attr", "change_id")
      // law 2: incremental apply of any hash split ≡ full rebuild
      val first = changes.filter(col("change_id") % splitMod =!= 0)
      val late = changes.filter(col("change_id") % splitMod === 0)
      val applied = Warehouse.scd2Apply(
        Warehouse.scd2History(first, Seq("k"), "t", Seq("change_id")),
        late, Seq("k"), "t", Seq("change_id"))
      val law2 = canon(applied, "k", "change_id", "attr", "effective_from", "effective_to") ==
        canon(hist, "k", "change_id", "attr", "effective_from", "effective_to")
      law1 && law2
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(r.passed, r.status.toString)
  }

  test("property: snapshotDiff + applyCdc reconstructs any random new state") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions.lit
    val gen = for {
      oldKeys <- Gen.someOf(1L to 12L)
      newKeys <- Gen.someOf(1L to 12L)
      // values from a 3-symbol alphabet INCLUDING null so unchanged /
      // changed / null-transitions all occur
      oldVals <- Gen.listOfN(oldKeys.size, Gen.oneOf[java.lang.Double](
        Double.box(1.0), Double.box(2.0), null.asInstanceOf[java.lang.Double]))
      newVals <- Gen.listOfN(newKeys.size, Gen.oneOf[java.lang.Double](
        Double.box(1.0), Double.box(2.0), null.asInstanceOf[java.lang.Double]))
    } yield (oldKeys.toSeq.zip(oldVals), newKeys.toSeq.zip(newVals))
    val prop = Prop.forAll(gen) { case (oldRows, newRows) =>
      val old = oldRows.toDF("k", "v")
      val nu = newRows.toDF("k", "v")
      val diff = Warehouse.snapshotDiff(old, nu, Seq("k"))
      val rebuilt = Warehouse.applyCdc(
        old.withColumn("version", lit(1L)),
        diff.withColumn("version", lit(2L)),
        Seq("k"), Seq("version"), "op").drop("version")
      // unchanged keys (null-safe equal values on both sides) emit nothing
      val unchangedKeys = old.join(nu.withColumnRenamed("v", "v2"), Seq("k"))
        .filter(old("v") <=> org.apache.spark.sql.functions.col("v2"))
        .select("k")
      rebuilt.except(nu).isEmpty && nu.except(rebuilt).isEmpty &&
        diff.join(unchangedKeys, Seq("k"), "left_semi").isEmpty
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(r.passed, r.status.toString)
  }

  test("overwritePartitionsDynamic replaces only the written partitions") {
    import org.apache.spark.sql.functions.col
    val dir = graft.Fixtures.dir("dynow").toString
    (1 to 300).map(i => (i.toLong, s"p${i % 3}", i * 1.0))
      .toDF("id", "part", "v")
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    def files(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).map(_.toString).toSet
    }
    val before = files()
    // re-load partition p1 only, with transformed content
    Warehouse.overwritePartitionsDynamic(
      (1 to 300).filter(_ % 3 == 1).map(i => (i.toLong, s"p1", i * -1.0))
        .toDF("id", "part", "v"),
      dir, Seq("part"))
    val after = files()
    assert(before.filterNot(_.contains("part=p1")) == after.filterNot(_.contains("part=p1")),
      "sibling partitions' files must be byte-identical (same paths)")
    assert(before.filter(_.contains("part=p1")) != after.filter(_.contains("part=p1")))
    val back = spark.read.parquet(dir)
    assert(back.count() == 300)
    assert(back.filter(col("part") === "p1" && col("v") >= 0).count() == 0)
    assert(back.filter(col("part") =!= "p1" && col("v") < 0).count() == 0)
  }
}
