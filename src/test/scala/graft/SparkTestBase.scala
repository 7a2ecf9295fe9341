package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for suites (one JVM-wide session; Spark reuses
  * the active session across suites via getOrCreate).
  */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session

  /** A fresh scratch dir under the per-JVM [[Fixtures]] root, which is
    * deleted with everything under it when the test JVM exits.
    */
  def tmpDir(prefix: String): String = Fixtures.dir(prefix).toString
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
