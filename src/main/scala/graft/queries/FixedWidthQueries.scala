package graft
package queries

import graft.cspro.{DatReader, DcfParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryFixtures._
import Role._

/** The CSPro spine (S4/S5): orders rendered to fixed-width DAT lines and
  * read back through the DAT reader and the `fixedwidth` connector, the
  * idempotent survey re-load, and the reference's DCF sample parsed.
  */
private[graft] object FixedWidthQueries {

  // ------------------------------------------------------------------------
  // fixed-width round-trip: orders → DAT lines → DatReader → aggregate
  // ------------------------------------------------------------------------

  private val fixedWidthSpecs = {
    def cs(itemType: String, name: String, start: Int, len: Int) =
      graft.model.ColumnSpec(itemType, "T01", if (itemType == "RecordDesciption") "*" else "ORDERS",
        if (itemType == "RecordDesciption") "*" else "ORD",
        "orders", name, name, start, len, 1, zeroFill = false, decimalChar = false,
        decimal = 0, "HOUSEHOLD", "HOUSEHOLD")
    Seq(
      cs("RecordDesciption", "", 16, 3),
      cs("IdItem", "HHID", 1, 12),
      cs("Item", "STATUS", 19, 1),
      cs("Item", "OKEY", 20, 12))
  }

  private def fixedWidthScan(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "orders").select(
      concat(
        lpad(col("o_custkey").cast("string"), 12, " "),
        lit("   "), lit("ORD"),
        col("o_orderstatus"),
        lpad(col("o_orderkey").cast("string"), 12, "0")).as("value"))
    val orders = DatReader.projectLines(lines, fixedWidthSpecs)("ORDERS")
    orders.groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("okey").cast("bigint")).as("sum_okey"))
  }

  /** Same round trip as [[fixedWidthScan]] but through the `fixedwidth`
    * DataSourceV2 connector: orders rendered to DAT lines on disk, schema
    * authority a generated DCF, read back via
    * `spark.read.format("fixedwidth")` — the connector path under the same
    * oracle as the composable path. The rendered DAT/DCF fixture is pure in
    * the sf dir, so it is built once per dir, not per call (the harness
    * calls each query lambda several times).
    */
  private def fixedWidthV2Scan(s: SparkSession, dir: String): DataFrame = {
    val (dcfFile, datDir) = Fixtures.memo("fwv2", dir)(buildFwv2Fixture(s, dir))
    s.read.format("fixedwidth")
      .option("dcf", dcfFile).option("record", "ORDERS")
      .load(s"$datDir/part-*")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("okey").cast("bigint")).as("sum_okey"))
  }

  private def buildFwv2Fixture(s: SparkSession, dir: String): (String, String) = {
    val tmp = Fixtures.dir("fwv2")
    val dcfPath = tmp.resolve("gen.DCF")
    java.nio.file.Files.writeString(dcfPath,
      """[Dictionary]
        |Name=GEN
        |RecordTypeStart=16
        |RecordTypeLen=3
        |
        |[Level]
        |Label=HOUSEHOLD
        |Name=HOUSEHOLD
        |
        |[IdItems]
        |
        |[Item]
        |Label=Case Identification
        |Name=HHID
        |Start=1
        |Len=12
        |DataType=Alpha
        |
        |[Record]
        |Label=Orders
        |Name=ORDERS
        |RecordTypeValue='ORD'
        |
        |[Item]
        |Label=Status
        |Name=STATUS
        |Start=19
        |Len=1
        |DataType=Alpha
        |
        |[Item]
        |Label=Order key
        |Name=OKEY
        |Start=20
        |Len=12
        |""".stripMargin)
    val datDir = tmp.resolve("dat").toString
    t(s, dir, "orders").select(
      concat(
        lpad(col("o_custkey").cast("string"), 12, " "),
        lit("   "), lit("ORD"),
        col("o_orderstatus"),
        lpad(col("o_orderkey").cast("string"), 12, "0")).as("value"))
      .write.mode("overwrite").text(datDir)
    (dcfPath.toString, datDir)
  }

  /** Embedded DCF fixture (the reference's doc sample) parsed to a spec
    * DataFrame — exercises S4 in the verify harness; the oracle restates
    * the constant parse as a literal table.
    */
  private def dcfParseDemo(s: SparkSession): DataFrame = {
    val r = DcfParser.parse(DcfFixture.content, "BJHR71")
    import s.implicits._
    r.items.toDF()
  }

  val all: Seq[Query] = Seq(
    // --- fixed-width scan (S5) ---------------------------------------------
    Query("s5_fixedwidth_scan", (s, d) => fixedWidthScan(s, d),
      Timed("SELECT o_orderstatus AS status, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_okey FROM orders GROUP BY 1")),
    Query("s5b_fixedwidth_v2", (s, d) => fixedWidthV2Scan(s, d),
      Timed("SELECT o_orderstatus AS status, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_okey FROM orders GROUP BY 1")),
    // the reference's idempotent survey re-load (lib04's drop-and-reload,
    // 509-541) expressed through the warehouse machinery instead of a
    // destructive DELETE: the original DAT delivery is parsed and committed
    // as snapshot v1; a corrected re-delivery (re-statused tenths as U
    // records, withdrawn twentieths as D tombstones — both arriving as real
    // fixed-width lines through the SAME DatReader specs) merges via
    // applyCdc keyed on the survey's id item, and the survivor table is
    // committed as v2. The whole render→parse→merge→commit→read chain rides
    // the hash gate; the fixture is pure in the sf dir, built once
    Query("s27_cspro_reload", (s, d) => {
      val root = Fixtures.memo("csproReload", d) {
        val dir = Fixtures.dir("csproreload")
        def render(df: DataFrame) = df.select(concat(
          lpad(col("o_custkey").cast("string"), 12, " "),
          lit("   "), lit("ORD"),
          col("o_orderstatus"),
          lpad(col("o_orderkey").cast("string"), 12, "0")).as("value"))
        def parse(lines: DataFrame) =
          DatReader.projectLines(lines, fixedWidthSpecs)("ORDERS")
        val orders = t(s, d, "orders")
        val base = parse(render(orders)).withColumn("version", lit(1L))
        graft.load.Warehouse.commitSnapshot(base, dir.toString, 1)
        val upd = parse(render(orders
            .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 20 =!= 0)
            .withColumn("o_orderstatus", lit("X"))))
          .withColumn("version", lit(2L)).withColumn("op", lit("U"))
        val del = parse(render(orders.filter(col("o_orderkey") % 20 === 0)))
          .withColumn("version", lit(2L)).withColumn("op", lit("D"))
        val merged = graft.load.Warehouse.applyCdc(
          graft.load.Warehouse.readSnapshot(s, dir.toString, Some(1)),
          upd.unionByName(del), Seq("okey"), Seq("version"), "op")
        graft.load.Warehouse.commitSnapshot(merged, dir.toString, 2)
        dir.toString
      }
      require(graft.load.Warehouse.snapshotVersions(s, root) == Seq(1, 2),
        "expected exactly snapshots v1 and v2 in the CSPro reload root")
      graft.load.Warehouse.readSnapshot(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("okey").cast("bigint")).as("sum_okey"))
    },
      // reload outcome: twentieths withdrawn, surviving tenths re-statused 'X'
      Timed("SELECT status, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_okey FROM (SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS status, o_orderkey FROM orders WHERE o_orderkey % 20 != 0) GROUP BY 1")),
    Query("s4_dcf_parse", (s, d) => dcfParseDemo(s),
      // the DCF fixture is the reference's own in-repo sample (doc/
      // Data_Format.md:36-117) — a constant, so its parse is oracle-able as a
      // literal table (incl. the format's 'RecordDesciption' misspelling)
      Timed("""SELECT * FROM (VALUES ('RecordDesciption','BJHR71','*','*','*','RECODE7','Standard Recode DHS-VII   1.1.1 - Benin, 2017', CAST(16 AS INTEGER), CAST(3 AS INTEGER), CAST(1 AS INTEGER), FALSE, FALSE, CAST(0 AS INTEGER), '', ''), ('IdItem','BJHR71','RECH0','H00','Household''s basic data','HHID','Case Identification', 1, 12, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD'), ('Item','BJHR71','RECH0','H00','Household''s basic data','HV000','Country code and phase', 19, 3, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD'), ('Item','BJHR71','RECH0','H00','Household''s basic data','HV001','Cluster number', 22, 6, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD'), ('Item','BJHR71','RECH0','H00','Household''s basic data','HV006','Month of interview', 49, 2, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD'), ('Item','BJHR71','RECH0','H00','Household''s basic data','HV015','Result of household interview', 76, 1, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD')) AS t("itemType","fileCode","recordName","recordTypeValue","recordLabel","name","label","start","len","occurrences","zeroFill","decimalChar","decimal","levelName","levelLabel")"""))
  )
}

/** The reference's in-repo DCF sample (ref doc/Data_Format.md:36-117),
  * embedded for the S4 verify query.
  */
private object DcfFixture {
  val content: String =
    """[Dictionary]
      |Version=CSPro 6.3
      |Label=Standard Recode DHS-VII   1.1.1 - Benin, 2017
      |Name=RECODE7
      |RecordTypeStart=16
      |RecordTypeLen=3
      |Positions=Absolute
      |ZeroFill=No
      |DecimalChar=No
      |
      |[Level]
      |Label=HOUSEHOLD
      |Name=HOUSEHOLD
      |
      |[IdItems]
      |
      |[Item]
      |Label=Case Identification
      |Name=HHID
      |Start=1
      |Len=12
      |DataType=Alpha
      |
      |[Record]
      |Label=Household's basic data
      |Name=RECH0
      |RecordTypeValue='H00'
      |RecordLen=172
      |
      |[Item]
      |Label=Country code and phase
      |Name=HV000
      |Start=19
      |Len=3
      |DataType=Alpha
      |
      |[Item]
      |Label=Cluster number
      |Name=HV001
      |Start=22
      |Len=6
      |
      |[Item]
      |Label=Month of interview
      |Name=HV006
      |Start=49
      |Len=2
      |
      |[ValueSet]
      |Label=Month of interview
      |Name=HV006_VS1
      |Value=1:12
      |
      |[Item]
      |Label=Result of household interview
      |Name=HV015
      |Start=76
      |Len=1
      |
      |[ValueSet]
      |Label=Result of household interview
      |Name=HV015_VS1
      |Value=1;Completed
      |Value=9;Other
      |""".stripMargin
}
