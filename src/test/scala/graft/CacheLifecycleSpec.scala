package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scoped cache-lifecycle contract (VERDICT r3 #2): operators that
  * persist must leave NO net growth in session cache state once their
  * enclosing [[CacheScope]] closes — the invariant a long-running service
  * (or the 104-query bench JVM) depends on.
  */
class CacheLifecycleSpec extends AnyFunSuite with SparkTestBase {

  private def docs: DataFrame = {
    import spark.implicits._
    // planted near-dups so the LSH path does real work (pairs, clusters)
    (0 until 120).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel ${i / 3}"
      (i.toLong, if (i % 3 == 0) base else base + s" tail $i")
    }.toDF("doc_id", "text")
  }

  private def persistentRddCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Shared with the Stress harness's post-scope asserts — one definition
    * of "the CacheManager is empty" for spec and harness alike.
    */
  private def cacheManagerEmpty: Boolean = CacheScope.cacheManagerEmpty(spark)

  // "persistReuse frames": the frames an operator persists for reuse
  // through CacheScope.persist (here the near-dup manifest)
  test("withScope frees persistReuse frames: no net growth over 100 invocations") {
    spark.catalog.clearCache()
    val d = docs
    val before = persistentRddCount
    (1 to 100).foreach { _ =>
      CacheScope.withScope {
        val n = Dedup.jaccardDuplicatePairs(d, "text", "doc_id",
          numer = 1, denom = 2).count()
        assert(n > 0)
      }
      // the invariant: EVERY scope close returns the session to baseline —
      // not just the last one (a single-leak-per-query bug fails fast here)
      assert(persistentRddCount <= before,
        s"persistent RDDs grew: $persistentRddCount > $before")
    }
    assert(cacheManagerEmpty, "CacheManager entries leaked past scope close")
  }

  test("withScope frees iterative-clustering checkpoints and the labels frame") {
    spark.catalog.clearCache()
    val d = docs
    val before = persistentRddCount
    (1 to 10).foreach { _ =>
      CacheScope.withScope {
        val pairs = Dedup.jaccardDuplicatePairs(d, "text", "doc_id",
          numer = 1, denom = 2)
          .select(col("doc_a"), col("doc_b"))
        assert(Dedup.duplicateClusters(pairs).count() > 0)
        assert(Dedup.connectedComponentsAltStar(pairs).count() > 0)
      }
      assert(persistentRddCount <= before,
        s"checkpoint RDDs leaked: $persistentRddCount > $before")
    }
    assert(cacheManagerEmpty)
  }

  test("no scope = legacy behavior (caller-managed lifecycle still works)") {
    spark.catalog.clearCache()
    val pairs = Dedup.jaccardDuplicatePairs(docs, "text", "doc_id", numer = 1, denom = 2)
    assert(pairs.count() > 0)
    assert(cacheManagerEmpty, "outside a scope an operator leaves no cache entry")
    // the caller's own persist of the OUTPUT is the caller's to manage
    val held = pairs.persist()
    val n = held.count()
    assert(!cacheManagerEmpty && held.storageLevel.useMemory)
    assert(held.count() == n)
    held.unpersist(blocking = true)
    assert(cacheManagerEmpty)
  }

  test("outside any scope the persisting operators return rows and leave no cache entry") {
    import graft.operators.{Curation, TextOps}
    spark.catalog.clearCache()
    val d = docs
    val counts = Seq(
      Dedup.jaccardDuplicatePairs(d, "text", "doc_id", numer = 1, denom = 2),
      Dedup.minhashCandidatePairs(d, "text", "doc_id"),
      Dedup.simhashDuplicatePairs(d, "text", "doc_id"),
      Curation.packSequences(d.select(col("doc_id"), TextOps.tokenCount(col("text")).as("nt")),
        "doc_id", col("nt"), seqLen = 16L, blockSize = 8L),
      TextOps.oovRate(d, "text", "doc_id", vocabSize = 5),
      Dedup.containmentPairs(d, "text", "doc_id",
        shingleSize = 3, thresholdPpm = 500000L, maxDf = 1000L)
    ).map(_.count())
    assert(counts.forall(_ > 0), s"an operator returned no rows: $counts")
    assert(CacheScope.registeredCount == 0)
    assert(cacheManagerEmpty, "an operator left a CacheManager entry outside any scope")
  }

  test("scopes are thread-confined: concurrent scopes free only their own frames") {
    spark.catalog.clearCache()
    val d = docs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to 8).map { _ =>
      scala.concurrent.Future {
        CacheScope.withScope {
          Dedup.jaccardDuplicatePairs(d, "text", "doc_id",
            numer = 1, denom = 2).count()
        }
      }
    }
    val counts = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(5, "min"))
    pool.shutdown()
    // concurrent unpersist of a CacheManager-deduped plan only ever costs
    // recompute, never a wrong answer
    assert(counts.toSet.size == 1, s"divergent results under concurrency: $counts")
    assert(cacheManagerEmpty)
  }

  test("nested scopes close independently") {
    CacheScope.withScope {
      val outer = CacheScope.persist(docs)
      assert(outer.count() > 0)
      CacheScope.withScope {
        val inner = CacheScope.persist(docs.select(col("doc_id")))
        assert(inner.count() > 0)
        assert(CacheScope.registeredCount == 1)
      }
      assert(CacheScope.registeredCount == 1)
    }
    assert(cacheManagerEmpty)
  }
}
