package graft

import graft.operators.{Dedup, PageRank}
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-fault mode for iterative operators (VERDICT r7 #5).
  *
  * `CacheScope.localCheckpoint` defaults to executor-local checkpointing —
  * fast, but on a real cluster an executor loss mid-iteration fails the
  * job (restart from scratch; never wrong answers — see the
  * `CacheScope.ReliableCheckpointKey` scaladoc). Setting
  * `spark.graft.checkpoint.reliable=true` (plus a checkpoint dir) swaps
  * every materialization to Spark's reliable checkpoint files. These tests
  * pin the contract that the swap is RESULT-INVISIBLE: the iterative
  * operators (PageRank power iteration, alt-star connected components)
  * produce bit-identical output under both modes, and reliable mode
  * actually writes checkpoint files (i.e. the flag is honored, not
  * silently ignored).
  */
class ReliableCheckpointSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def withReliable[T](body: => T): T = {
    val dir = graft.Fixtures.dir("graft-reliable-cp").toString
    val hadCpDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(CacheScope.ReliableCheckpointKey, "true")
    try body
    finally {
      spark.conf.set(CacheScope.ReliableCheckpointKey, "false")
      hadCpDir.foreach(spark.sparkContext.setCheckpointDir)
      // best-effort temp cleanup; files may be held by the context cleaner
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .toSeq.reverse.foreach(p => try java.nio.file.Files.delete(p) catch { case _: Throwable => () })
      } catch { case _: Throwable => () }
    }
  }

  test("PageRank is bit-identical under reliable checkpointing (sink-free + sink graphs)") {
    val rnd = new scala.util.Random(101)
    val directed = Seq.fill(250)((rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
      .filter { case (a, b) => a != b }
    val undirected = PageRank.undirected(directed.toDF("a", "b"), "a", "b")

    val localSink = CacheScope.withScope {
      PageRank.ranks(directed.toDF("src", "dst"), iters = 4).as[(Long, Long)].collect().toMap
    }
    val localFree = CacheScope.withScope {
      PageRank.ranks(undirected, iters = 5).as[(Long, Long)].collect().toMap
    }
    withReliable {
      val relSink = CacheScope.withScope {
        PageRank.ranks(directed.toDF("src", "dst"), iters = 4).as[(Long, Long)].collect().toMap
      }
      val relFree = CacheScope.withScope {
        PageRank.ranks(undirected, iters = 5).as[(Long, Long)].collect().toMap
      }
      assert(relSink == localSink)
      assert(relFree == localFree)
    }
  }

  test("alt-star connected components is bit-identical under reliable checkpointing") {
    // two chains + a triangle + singleton pair: exercises multi-round merging
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L), (21L, 22L), (22L, 20L), (30L, 31L)))
      .toDF("doc_a", "doc_b")
    val local = CacheScope.withScope {
      Dedup.connectedComponentsAltStar(pairs).as[(Long, Long)].collect().toSet
    }
    val reliable = withReliable {
      CacheScope.withScope {
        Dedup.connectedComponentsAltStar(pairs).as[(Long, Long)].collect().toSet
      }
    }
    assert(reliable == local)
  }

  test("reliable mode actually writes checkpoint files (flag is honored)") {
    val dir = graft.Fixtures.dir("graft-reliable-probe").toString
    val hadCpDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(CacheScope.ReliableCheckpointKey, "true")
    try {
      CacheScope.withScope {
        CacheScope.localCheckpoint(spark.range(100).toDF("id")).count()
        import scala.jdk.CollectionConverters._
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .count(java.nio.file.Files.isRegularFile(_))
        assert(files > 0, "reliable checkpoint wrote no files")
      }
    } finally {
      spark.conf.set(CacheScope.ReliableCheckpointKey, "false")
      hadCpDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }
}
