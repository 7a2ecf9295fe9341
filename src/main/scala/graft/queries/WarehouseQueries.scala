package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import QueryFixtures._
import Role._

/** Warehouse maintenance (extensions of S13/S15): upserts, file skipping,
  * compaction, partition and z-order pruning, time travel, CDC,
  * constraints, SCD2 and dynamic partition overwrite.
  */
private[graft] object WarehouseQueries {

  val all: Seq[Query] = Seq(
    // --- warehouse maintenance (extensions of S13/S15) ---------------------
    // latest-wins upsert (MERGE compaction): base@v1 ⊎ updates@v2 (every
    // 10th order re-priced + every 100th re-keyed as an insert) → one
    // union + one key shuffle + per-key top-1; the whole merge result is
    // aggregated under the hash gate
    Query("s16_upsert", (s, d) => {
      val orders = t(s, d, "orders")
      val base = orders.withColumn("version", lit(1L))
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
        .withColumn("version", lit(2L))
        .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", -col("o_orderkey") - 1)
          .withColumn("version", lit(2L)))
      // integer-exact gate: per-row cents then BIGINT sum — a double sum's
      // value depends on partial-agg order, and the driver hashes floats
      // tighter than 6 sig figs (the r6 s16/s18/s21/s22 hash-fails)
      graft.load.Warehouse.upsertLatest(base, updates, Seq("o_orderkey"), "version")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
    },
      // merge outcome: every 10th order carries the v2 price, every 100th
      // key ALSO appears re-keyed as an insert — exactly one row per key.
      // Prices compared as per-row cents (round half-up matches Spark for
      // positives) summed as BIGINT: order-independent and hash-exact; the
      // outer CAST keeps DuckDB's sum(BIGINT)→HUGEINT widening out of the hash
      Timed("SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM (SELECT o_orderstatus, CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price FROM orders UNION ALL SELECT o_orderstatus, o_totalprice AS price FROM orders WHERE o_orderkey % 100 = 0) GROUP BY 1")),
    // stats-manifest file skipping: orders in a 16-file range layout on
    // o_orderkey; the manifest (one row per file, built in one scan) plans
    // the range scan so non-overlapping files are never opened. The pruned
    // aggregate rides the hash gate; WarehouseSpec asserts kept < total
    Query("s17_stats_prune", (s, d) => {
      val path = Fixtures.memo("rangeLayout", d) {
        val dir = Fixtures.dir("rangelay")
        graft.load.Warehouse.writeRangeLayout(
          t(s, d, "orders"), dir.toString, Seq("o_orderkey"), partitions = 16)
        dir.toString
      }
      val manifest = graft.load.Warehouse.statsManifest(s, path, Seq("o_orderkey"))
      val (pruned, kept, total) =
        graft.load.Warehouse.prunedRead(s, manifest, "o_orderkey", 1000L, 2000L)
      require(kept < total,
        s"stats pruning skipped nothing ($kept of $total files kept)")
      pruned.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },
      // the pruned scan is exact: manifest skipping + residual filter ≡ the
      // plain predicate over the whole table
      Timed("SELECT count(*) AS n, sum(o_totalprice) AS sum_price, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000")),
    // small-file compaction: orders shattered into 64 ingest-debris files,
    // bin-packed back to ceil(bytes/target) files with a shuffle-free
    // coalesce. The compacted table's aggregate rides the hash gate (content
    // survives the rewrite); the require pins that compaction actually
    // happened
    Query("s18_compact", (s, d) => {
      val (path, before, after) = Fixtures.memo("compact", d) {
        val in = Fixtures.dir("compact_in")
        val out = Fixtures.dir("compact_out")
        t(s, d, "orders").repartition(64).write.mode("overwrite").parquet(in.toString)
        val (b, a) = graft.load.Warehouse.compactSmallFiles(
          s, in.toString, out.toString, targetFileBytes = 8L * 1024 * 1024)
        (out.toString, b, a)
      }
      require(after < before,
        s"compaction did not reduce file count ($before -> $after)")
      s.read.parquet(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
    },
      // compaction preserves content exactly: the compacted table's aggregate
      // equals the same aggregate over the original orders
      Timed("SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM orders GROUP BY 1")),
    // hive-style partitioned layout + partition pruning: orders written
    // partitionBy(o_orderstatus); a partition-key predicate must scan ONLY
    // that partition's files (checked by counting distinct files actually
    // read, not plan text). The pruned aggregate rides the hash gate
    Query("s19_partition_prune", (s, d) => {
      val path = Fixtures.memo("hivePart", d) {
        val dir = Fixtures.dir("hivepart")
        t(s, d, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(dir.toString)
        dir.toString
      }
      val all = s.read.parquet(path)
      val filesAll = all.select(input_file_name()).distinct().count()
      val pruned = all.filter(col("o_orderstatus") === "F")
      val filesRead = pruned.select(input_file_name()).distinct().count()
      require(filesRead < filesAll,
        s"partition pruning read every file ($filesRead of $filesAll)")
      pruned.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
    },
      // partition pruning is exact: the partition-key predicate over the
      // hive layout equals the plain predicate over the whole table
      Timed("SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS sum_price FROM orders WHERE o_orderstatus = 'F' GROUP BY 1")),
    // z-order layout + stats-manifest pruning on EITHER dimension: orders
    // Morton-interleaved on (o_custkey, o_orderkey), so per-file min/max
    // boxes are narrow on BOTH columns and a range predicate on either one
    // skips files (a linear layout concentrates only its sort column). Both
    // pruned aggregates ride the hash gate; the requires pin real skipping
    Query("s20_zorder_prune", (s, d) => {
      val path = Fixtures.memo("zorder", d) {
        val dir = Fixtures.dir("zorderlay")
        graft.load.Warehouse.writeZOrderLayout(
          t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
          dir.toString, Seq("o_custkey", "o_orderkey"), partitions = 16)
        dir.toString
      }
      val manifest = graft.load.Warehouse.statsManifest(
        s, path, Seq("o_custkey", "o_orderkey"))
      val (byCust, keptC, total) =
        graft.load.Warehouse.prunedRead(s, manifest, "o_custkey", 1L, 20L)
      val (byOrder, keptO, _) =
        graft.load.Warehouse.prunedRead(s, manifest, "o_orderkey", 1000L, 2000L)
      require(keptC < total && keptO < total,
        s"z-order pruned nothing (custkey $keptC, orderkey $keptO of $total)")
      byCust.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
        .select(lit("custkey").as("dim"), col("n"), col("sum_price"))
        .unionByName(
          byOrder.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
            .select(lit("orderkey").as("dim"), col("n"), col("sum_price")))
    },
      // z-order pruning is exact on BOTH dimensions: each manifest-pruned
      // range scan equals the plain predicate over the whole table
      Timed("SELECT 'custkey' AS dim, count(*) AS n, sum(o_totalprice) AS sum_price FROM orders WHERE o_custkey BETWEEN 1 AND 20 UNION ALL SELECT 'orderkey', count(*), sum(o_totalprice) FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000")),
    // snapshot time travel: v1 = the plain orders table, v2 = the s16-style
    // latest-wins upsert committed as a NEW immutable version. Reading v1
    // after the v2 commit must return exactly the original table (the
    // Delta/Iceberg reader-isolation property) — both versions' aggregates
    // ride the hash gate
    Query("s21_time_travel", (s, d) => {
      val root = Fixtures.memo("snapshot", d) {
        val dir = Fixtures.dir("snaproot")
        val orders = t(s, d, "orders")
        val base = orders.withColumn("version", lit(1L))
        graft.load.Warehouse.commitSnapshot(base, dir.toString, 1)
        val updates = orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
          .withColumn("version", lit(2L))
          .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
            .withColumn("o_orderkey", -col("o_orderkey") - 1)
            .withColumn("version", lit(2L)))
        val merged = graft.load.Warehouse.upsertLatest(
          graft.load.Warehouse.readSnapshot(s, dir.toString, Some(1)),
          updates, Seq("o_orderkey"), "version")
        graft.load.Warehouse.commitSnapshot(merged, dir.toString, 2)
        dir.toString
      }
      require(graft.load.Warehouse.snapshotVersions(s, root) == Seq(1, 2),
        "expected exactly snapshots v1 and v2")
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
          .select(lit(tag).as("snapshot"), col("o_orderstatus"), col("n"),
            col("sum_price_cents"))
      agg(graft.load.Warehouse.readSnapshot(s, root, Some(1)), "v1")
        .unionByName(agg(graft.load.Warehouse.readSnapshot(s, root), "v2"))
    },
      // reader isolation: v1 read back AFTER the v2 commit is exactly the
      // original table; v2 is the s16 merge outcome
      Timed("SELECT 'v1' AS snapshot, o_orderstatus, count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM orders GROUP BY 2 UNION ALL SELECT 'v2', o_orderstatus, count(*), CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) FROM (SELECT o_orderstatus, CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price FROM orders UNION ALL SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 100 = 0) GROUP BY 2")),
    // CDC merge with tombstones: every 10th-but-not-20th order re-priced
    // (U), every 20th DELETED (D) — which covers the 100ths, whose re-keyed
    // rows arrive as inserts — all at v2. The survivor set (non-deleted
    // originals re-priced where updated, plus the inserts) is aggregated
    // under the hash gate
    Query("s22_cdc_merge", (s, d) => {
      val orders = t(s, d, "orders")
      val base = orders.withColumn("version", lit(1L))
      val changes = orders
        .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 20 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
        .withColumn("version", lit(2L)).withColumn("op", lit("U"))
        .unionByName(orders.filter(col("o_orderkey") % 20 === 0)
          .withColumn("version", lit(2L)).withColumn("op", lit("D")))
        .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", -col("o_orderkey") - 1)
          .withColumn("version", lit(2L)).withColumn("op", lit("U")))
      graft.load.Warehouse.applyCdc(base, changes,
          Seq("o_orderkey"), Seq("version"), "op")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
    },
      // CDC survivor set: non-deleted originals (re-priced where updated)
      // plus the re-keyed inserts
      Timed("SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM (SELECT o_orderstatus, CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price FROM orders WHERE o_orderkey % 20 != 0 UNION ALL SELECT o_orderstatus, o_totalprice AS price FROM orders WHERE o_orderkey % 100 = 0) GROUP BY 1")),
    // data-quality constraint gate: row-level checks (not-null, range,
    // domain) fold into ONE partial-aggregated scan; the referential check
    // rides the same pass by left-joining the parent's distinct keys first
    // and asserting the carried key non-null. Output = the audit report a
    // load pipeline gates on
    Query("s24_constraints", (s, d) => {
      val o = t(s, d, "orders")
      val parentKeys = broadcast(
        t(s, d, "customer").select(col("c_custkey")).distinct())
      val joined = o.join(parentKeys, col("o_custkey") === col("c_custkey"), "left")
      graft.operators.Quality.constraintReport(joined, Seq(
        "orderkey_not_null" -> col("o_orderkey").isNotNull,
        "totalprice_positive" -> (col("o_totalprice") > 0),
        "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
        "custkey_fk" -> col("c_custkey").isNotNull))
    },
      // the audit report replayed as one aggregate + a 4-way union; NULL
      // predicate results count as violations on both sides
      Timed("WITH j AS (SELECT o.*, c.c_custkey AS fk FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey), t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(coalesce(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v1, CAST(coalesce(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v2, CAST(coalesce(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v3, CAST(coalesce(sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v4 FROM j) SELECT 'orderkey_not_null' AS check_name, v1 AS n_violations, n_rows, v1 * 1000000 // n_rows AS violation_ppm FROM t UNION ALL SELECT 'totalprice_positive', v2, n_rows, v2 * 1000000 // n_rows FROM t UNION ALL SELECT 'status_domain', v3, n_rows, v3 * 1000000 // n_rows FROM t UNION ALL SELECT 'custkey_fk', v4, n_rows, v4 * 1000000 // n_rows FROM t")),
    // SCD Type-2 + point-in-time join: each user's 'view' events are a
    // profile change log; scd2History tiles them into validity intervals
    // (one key shuffle) and every 'purchase' fact is enriched with the
    // version in effect at its instant via the as-of union-window plan
    // (one more key shuffle, no containment theta-join). Inner-filtered so
    // the oracle is a plain containment join over the same lead() intervals
    Query("j14_scd2_pit", (s, d) => {
      val ev = t(s, d, "events")
      val dim = graft.load.Warehouse.scd2History(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("change_id"), col("value").as("profile_value")),
        Seq("user_id"), "ts", Seq("change_id"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("fact_id"), col("user_id"), col("ts"),
          col("value").as("amount"))
      graft.load.Warehouse.pointInTimeJoin(facts, dim, "user_id", "ts",
          Seq("profile_value", "change_id", "effective_from"))
        .filter(col("change_id").isNotNull)
    },
      // SCD2 point-in-time: the oracle builds the same tiled lead() intervals
      // (same-instant losers are the zero-width rows the WHERE drops) and
      // containment-joins the purchase facts — the as-of plan must agree
      // exactly, including inclusive effective_from and the open current row
      Timed("WITH dim AS (SELECT user_id, event_id AS change_id, value AS profile_value, ts AS effective_from, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to FROM events WHERE event_type = 'view'), tiled AS (SELECT * FROM dim WHERE effective_to IS NULL OR effective_to > effective_from) SELECT f.event_id AS fact_id, f.user_id, f.ts, f.value AS amount, d.profile_value, d.change_id, d.effective_from FROM events f JOIN tiled d ON f.user_id = d.user_id AND f.ts >= d.effective_from AND (d.effective_to IS NULL OR f.ts < d.effective_to) WHERE f.event_type = 'purchase'")),
    // change feed reconstructed from two table states: the s22 mutation
    // family (re-price / delete / re-keyed insert) recovered as U/D/I rows
    // by the full-outer state diff — no writer log needed;
    // applyCdc(old, diff) ≡ new is the spec-pinned law
    Query("s26_snapshot_diff", (s, d) => {
      val orders = t(s, d, "orders")
      val newState = orders.filter(col("o_orderkey") % 20 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + lit(100000.0))
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", -col("o_orderkey") - 1))
      graft.load.Warehouse.snapshotDiff(orders, newState, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("op"))
    },
      // the deterministic mutation family restated directly: re-priced
      // non-deleted tenths are U (new price), deleted twentieths D (old
      // price), re-keyed hundredths I
      Timed("SELECT o_orderkey, o_totalprice + 100000.0 AS o_totalprice, 'U' AS op FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 != 0 UNION ALL SELECT o_orderkey, o_totalprice, 'D' FROM orders WHERE o_orderkey % 20 = 0 UNION ALL SELECT -o_orderkey - 1, o_totalprice, 'I' FROM orders WHERE o_orderkey % 100 = 0")),
    // incremental SCD2: the dimension is built from 2/3 of the change log,
    // then the remaining third — including out-of-order history rewrites —
    // applies through scd2Apply (only affected keys replay). The result
    // must equal the full-history build, which is what the oracle states
    Query("s25_scd2_apply", (s, d) => {
      val views = t(s, d, "events").filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("change_id"), col("value").as("profile_value"))
      val base = graft.load.Warehouse.scd2History(
        views.filter(pmod(col("change_id"), lit(3)) =!= 0),
        Seq("user_id"), "ts", Seq("change_id"))
      graft.load.Warehouse.scd2Apply(
          base, views.filter(pmod(col("change_id"), lit(3)) === 0),
          Seq("user_id"), "ts", Seq("change_id"))
        .select(col("user_id"), col("change_id"), col("profile_value"),
          col("effective_from"), col("effective_to"), col("is_current"))
    },
      // incremental apply ≡ the full-history build: same tiled lead()
      // intervals over the WHOLE change log
      Timed("WITH dim AS (SELECT user_id, event_id AS change_id, value AS profile_value, ts AS effective_from, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to FROM events WHERE event_type = 'view') SELECT user_id, change_id, profile_value, effective_from, effective_to, effective_to IS NULL AS is_current FROM dim WHERE effective_to IS NULL OR effective_to > effective_from")),
    // dynamic partition overwrite: events land hive-partitioned by day; the
    // MIN day is re-loaded with doubled values through
    // overwritePartitionsDynamic. The require() pins the operator's whole
    // point: sibling partitions' FILE SET is untouched (static overwrite
    // would have dropped the table), the target day's is replaced. Read-back
    // per-day aggregate rides the hash gate vs an oracle restating the
    // rewrite
    Query("s23_dynamic_overwrite", (s, d) => {
      val root = Fixtures.memo("dynOverwrite", d) {
        val dir = Fixtures.dir("dynpart")
        val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
        ev.write.partitionBy("day").mode("overwrite").parquet(dir.toString)
        def files(): Set[String] = {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .map(_.toString).toSet
        }
        val before = files()
        // bounded 1-row collect: the overwrite target day
        val minDay = ev.agg(min(col("day")).as("d")).head.getDate(0)
        graft.load.Warehouse.overwritePartitionsDynamic(
          ev.filter(col("day") === lit(minDay))
            .withColumn("value", col("value") * 2),
          dir.toString, Seq("day"))
        val after = files()
        val dayDir = s"day=$minDay"
        require(before.filterNot(_.contains(dayDir)) == after.filterNot(_.contains(dayDir)),
          "dynamic overwrite touched sibling partitions")
        require(before.filter(_.contains(dayDir)) != after.filter(_.contains(dayDir)),
          "dynamic overwrite did not replace the target partition")
        dir.toString
      }
      s.read.parquet(root)
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
    },
      // the dynamically re-loaded day carries doubled values; every other day
      // is untouched (the file-set require() in the query pins the physical
      // side the SQL cannot see)
      Timed("SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n, sum(CASE WHEN CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events) THEN value * 2 ELSE value END) AS sum_v FROM events GROUP BY 1, 2"))
  )
}
