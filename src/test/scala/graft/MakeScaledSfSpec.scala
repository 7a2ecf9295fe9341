package graft

import org.scalatest.funsuite.AnyFunSuite

/** The key-remapping expansion shared by `graft.MakeScaledSf` (the sf1
  * map) and `graft.Stress`: row count, key mapping, untouched payload, and
  * the 1:N join fan-out it exists to preserve.
  */
class MakeScaledSfSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("expand: ×mult rows, keys k·mult + rep (unique), payload unchanged, key join fans out ×mult") {
    val mult = 3
    val dim = Seq((1L, "a"), (2L, "b"), (5L, "c")).toDF("k", "name")
    val fact = Seq((1L, 10), (1L, 11), (2L, 20), (5L, 50)).toDF("k", "v")
    val dimX = MakeScaledSf.expand(dim, mult, Seq("k"))
    val factX = MakeScaledSf.expand(fact, mult, Seq("k"))

    assert(dimX.count() === dim.count() * mult)
    assert(factX.count() === fact.count() * mult)
    assert(dimX.columns.toSeq === dim.columns.toSeq)

    val expected = for {
      (k, name) <- Seq((1L, "a"), (2L, "b"), (5L, "c"))
      rep <- 0 until mult
    } yield (k * mult + rep, name)
    val got = dimX.as[(Long, String)].collect().toSeq
    assert(got.sortBy(_._1) === expected.sortBy(_._1))
    assert(got.map(_._1).distinct.size === got.size, "unique input keys must stay unique")

    // non-key columns are copied: each input payload appears exactly mult×
    assert(factX.groupBy("v").count().as[(Int, Long)].collect().toMap ===
      Map(10 -> mult.toLong, 11 -> mult.toLong, 20 -> mult.toLong, 50 -> mult.toLong))

    val joined = fact.join(dim, "k").count()
    val joinedX = factX.join(dimX, "k")
    assert(joinedX.count() === joined * mult, "expanded key join must fan out ×mult, not ×mult²")
    // every expanded fact row still meets the dim row its original key named
    assert(joinedX.select("v", "name").distinct().as[(Int, String)].collect().toSet ===
      fact.join(dim, "k").select("v", "name").as[(Int, String)].collect().toSet)
  }
}
