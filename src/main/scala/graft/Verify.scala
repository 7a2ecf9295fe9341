package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0); val outDir = args(1)
    // optional name filter for the dev loop: a partial dump's
    // oracle_sql.json holds the selected names only, so check_oracle.py
    // compares it cleanly; the driver passes exactly two args and gets the
    // full set
    val only = SparkEntry.select(args.drop(2))
    // benchOnly names are timing-only faces of operators whose correctness
    // gate is the `_contract` sibling (engine-specific raw outputs have no
    // DuckDB-expressible hash oracle) — dumping them would only re-create
    // oracle-less rows in the driver's artifact. Explicit name args still
    // select them for ad-hoc inspection.
    val selected =
      if (only.isEmpty)
        SparkEntry.queries.view
          .filterKeys(!SparkEntry.benchOnly.contains(_)).toMap
      else SparkEntry.queries.view.filterKeys(only.contains).toMap
    val spark = GraftSession.localFromEnv()
    new java.io.File(outDir).mkdirs()
    // Queries are independent; Spark actions are thread-safe, so run a few
    // concurrently — wall time is dominated by per-query fixed cost, not CPU.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // A failed query must NEVER vanish from the round's correctness artifact
    // (the r5 e_sessionize crash was invisible: 118 intended, 117 recorded).
    // On exception: (a) write a 1-row parquet under the query's own name with
    // a single `_error` column — the driver's compare then reports a loud
    // schema/rows/hash FAIL instead of silently skipping the key; (b) record
    // name → message in verify_errors.json next to oracle_sql.json.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = selected.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        // per-query scope: frames persisted while building/writing this
        // query are freed at scope close. Scopes are thread-confined and
        // each future builds + executes on one pool thread, so concurrent
        // queries get independent scopes.
        try CacheScope.withScope {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          System.err.println(s"[verify] $name failed: $msg")
          errors.put(name, msg)
          try {
            import spark.implicits._
            Seq(msg.take(1000)).toDF("_error").coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case e2: Throwable =>
            System.err.println(s"[verify] $name error-marker write failed: $e2")
          }
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(30, "min"))
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view
      .filterKeys(n => only.isEmpty || only.contains(n))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // explicit machine-readable error ledger (empty object when all green) —
    // consumers can distinguish "query errored" from "query never intended"
    import scala.jdk.CollectionConverters._
    val errJson = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (!errors.isEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keySet().asScala.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }
}
