package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Dev triage main: measure ANN recall@k vs brute force for the approximate
  * paths at each shipped SF — the numbers behind the committed recall floors
  * in [[graft.queries.SimilarityQueries]] (re-run after a dataset
  * regeneration before trusting the `_contract` gates; floors must sit
  * BELOW every measured value with headroom). Prints one line per (sf, path).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.localFromEnv()
    val sfs = if (args.nonEmpty) args.toSeq else Seq("sf0.001", "sf0.01", "sf0.1")
    sfs.foreach { sf =>
      val emb = Tables(spark, s"/root/testdata/$sf", "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id")).cache()
      val nTrue = brute.count()
      def recall(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
        val hit = approx.select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id")).count()
        println(f"[recall] $sf%-8s $name%-8s $hit/$nTrue = ${hit.toDouble / nTrue}%.3f")
      }
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      recall("lsh", Similarity.lshTopK(q, emb, "embedding", "vec_id", k = 5,
        planes = 6, tables = 16))
      recall("ivf", Similarity.ivfTopK(q, emb, "embedding", "vec_id", k = 5,
        centroids, nprobe = 2))
      val pqBooks = Similarity.trainPqCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 32)
      recall("pq", Similarity.pqTopK(q, emb, "embedding", "vec_id", k = 5,
        pqBooks, rerank = 16))
      val resBooks = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
        centroids, m = 8, ksub = 32)
      recall("ivfpq", Similarity.ivfPqTopK(q, emb, "embedding", "vec_id", k = 5,
        centroids, resBooks, nprobe = 3, rerank = 16))
      brute.unpersist()
    }
    spark.stop()
  }
}
