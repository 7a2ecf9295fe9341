package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize an sf1-SHAPED benchmark dir from the sf0.1 tables: fact
  * tables replicated `SCALE_MULT`× (default 10) with consistent key
  * remapping on both sides of each join key — `k → k·mult + rep` ([[expand]],
  * shared with [[Stress]]), so joins stay 1:N and the documents↔embeddings
  * id alignment survives — dimension tables copied as-is. Written in the
  * harness layout (`<out>/<table>.parquet`), so `graft.Bench` runs against
  * it unchanged: `SPARK_GRAFT_SF_DIR=<out> sbt "runMain graft.Bench"`.
  *
  * This is the 10×-data anchor the per-round sf0.1 bench cannot give:
  * replication-in-flight ([[Stress]]) validates operator CONTRACTS at
  * mult×, while this pins per-query WALL numbers at 10× the bench scale in
  * the same artifact format (BASELINE.md records the comparison). Scaling
  * model: facts 10× (lineitem 6M, orders 1.5M, events 1M, documents 50k,
  * embeddings 20k), dims fixed — fact-heavy queries read as true sf1;
  * dim-only queries are unchanged by construction. Document text mutates
  * per replica (every 5th replica stays a true near-dup) so the dedup
  * operators keep realistic cluster structure instead of a degenerate
  * all-duplicates pile; event replica timestamps jitter 0-59 s so
  * watermarks see new time points.
  */
object MakeScaledSf {

  /** Replicate every row `mult`× with each key column remapped
    * `k → k·mult + rep` (rep = 0 until mult): unique keys stay unique, and
    * a key join between two expanded sides stays 1:N — it fans out ×mult,
    * not ×mult². Non-key columns are copied unchanged.
    */
  private[graft] def expand(df: DataFrame, mult: Int, keys: Seq[String]): DataFrame = {
    val rep = explode(sequence(lit(0L), lit(mult - 1L))).as("_rep")
    val out = df.select(col("*"), rep)
    keys.foldLeft(out) { case (acc, c) =>
      acc.withColumn(c, col(c) * mult + col("_rep"))
    }.drop("_rep")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("/tmp/sf1")
    val mult = sys.env.getOrElse("SCALE_MULT", "10").toInt
    val spark = GraftSession.localFromEnv()

    def write(df: DataFrame, table: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$table.parquet")

    write(expand(Tables(spark, srcDir, "lineitem"), mult,
      Seq("l_orderkey")), "lineitem", 64)
    write(expand(Tables(spark, srcDir, "orders"), mult,
      Seq("o_orderkey")), "orders", 32)
    write(expand(Tables(spark, srcDir, "events"), mult, Seq("event_id"))
      .withColumn("ts",
        col("ts") + expr("make_interval(0,0,0,0,0,0, event_id % 60)")),
      "events", 32)
    write(expand(Tables(spark, srcDir, "documents"), mult, Seq("doc_id"))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" variant "), col("doc_id")))),
      "documents", 16)
    write(expand(Tables(spark, srcDir, "embeddings"), mult,
      Seq("vec_id")), "embeddings", 16)
    Seq("customer", "supplier", "part", "nation", "region")
      .foreach(t => write(Tables(spark, srcDir, t), t, 4))
    println(s"""{"scaled_dir":"$outDir","mult":$mult,"src":"$srcDir"}""")
    spark.stop()
  }
}
