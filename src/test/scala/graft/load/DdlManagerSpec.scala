package graft.load

import org.scalatest.funsuite.AnyFunSuite

class DdlManagerSpec extends AnyFunSuite {
  import DdlManager._

  test("create table: keys first, all VARCHAR, lowercased quoted idents") {
    val sql = createTableSql("RECH0",
      keys = Seq(ColumnDef("HHID", 12), ColumnDef("surveyid", 8)),
      cols = Seq(ColumnDef("hv000", 3), ColumnDef("HHID", 12), ColumnDef("hv001", 6)))
    assert(sql == """CREATE TABLE IF NOT EXISTS "rech0" ("hhid" VARCHAR(12), "surveyid" VARCHAR(8), "hv000" VARCHAR(3), "hv001" VARCHAR(6))""")
  }

  test("identifiers with embedded quotes cannot break out of DDL quoting") {
    // item names come from external DCF files — a '"' must stay inside the
    // quoted identifier, not terminate it
    val sql = createTableSql("t", keys = Nil,
      cols = Seq(ColumnDef("a\"b", 4)))
    assert(sql.contains("\"a\"\"b\" VARCHAR(4)"))
    assert(!sql.contains("\"a\"b\""))
  }

  test("schema-qualified table names quote each part; index names flatten the dot") {
    val sql = createTableSql("analytics.RECH0", keys = Seq(ColumnDef("hhid", 12)), cols = Nil)
    assert(sql.startsWith("""CREATE TABLE IF NOT EXISTS "analytics"."rech0" ("""))
    val idx = indexPlan("analytics.RECH0", Seq("hhid", "idx1", "idx2")).statements
    assert(idx.forall(_.contains(""" ON "analytics"."rech0" """)))
    assert(idx.exists(_.contains("idx_analytics_rech0_hhid")))
    assert(idx.forall(s => !s.substring(s.indexOf("idx_")).takeWhile(_ != ' ').contains('.')))
    assert(deleteSurveySliceSql("analytics.RECH0", "x")
      .startsWith("""DELETE FROM "analytics"."rech0" """))
  }

  test("json-packed create: keys + jsonb data column") {
    val sql = createJsonTableSql("REC95", Seq(ColumnDef("caseid", 15)))
    assert(sql == """CREATE TABLE IF NOT EXISTS "rec95" ("caseid" VARCHAR(15), "data" JSONB)""")
  }

  test("evolve: add missing, widen grown, never narrow or drop") {
    val plan = evolvePlan("rech1",
      current = Map("hv101" -> 2, "hv102" -> 4, "extra" -> 9),
      target = Seq(ColumnDef("hv101", 3), ColumnDef("hv102", 4), ColumnDef("hv103", 1)))
    assert(plan.statements == Seq(
      """ALTER TABLE "rech1" ALTER COLUMN "hv101" TYPE VARCHAR(3)""",
      """ALTER TABLE "rech1" ADD COLUMN IF NOT EXISTS "hv103" VARCHAR(1)"""))
  }

  test("index battery: per-key + covering(all) + covering(parent)") {
    val plan = indexPlan("rec21", Seq("caseid", "surveyid", "bidx"))
    assert(plan.statements.size == 5)
    assert(plan.statements.count(_.contains("idx_rec21_all")) == 1)
    assert(plan.statements.count(_.contains("idx_rec21_parent")) == 1)
    assert(plan.statements.last.contains(""""caseid", "surveyid""""))
  }

  test("two keys: covering(all) but no parent index; one key: neither") {
    assert(indexPlan("t", Seq("a", "b")).statements.size == 3)
    assert(indexPlan("t", Seq("a")).statements.size == 1)
  }

  test("drop-index plan drops every index the battery creates, IF EXISTS") {
    def created(keys: Seq[String]) =
      indexPlan("analytics.REC21", keys).statements.map(_.split(" ")(5)).toSet
    def dropped(keys: Seq[String]) =
      dropIndexPlan("analytics.REC21", keys).statements.map(_.stripPrefix("DROP INDEX IF EXISTS ")).toSet
    val three = Seq("CASEID", "surveyid", "bidx")
    assert(created(three) == dropped(three))
    assert(dropped(three) == Set("idx_analytics_rec21_caseid", "idx_analytics_rec21_surveyid",
      "idx_analytics_rec21_bidx", "idx_analytics_rec21_all", "idx_analytics_rec21_parent"))
    // one key creates no covering index; dropping the covering names anyway
    // is harmless under IF EXISTS
    assert(created(Seq("hhid")).subsetOf(dropped(Seq("hhid"))))
    assert(dropIndexPlan("t", Seq("a")).statements.forall(_.startsWith("DROP INDEX IF EXISTS idx_t_")))
  }

  test("delete survey slice escapes quotes") {
    assert(deleteSurveySliceSql("rech0", "it's") ==
      """DELETE FROM "rech0" WHERE "surveyid" = 'it''s'""")
  }

  test("prepareTablePlan: narrow table → full create + indexes; surveyid injected") {
    val plan = prepareTablePlan("rech0",
      Seq(ColumnDef("hhid", 12), ColumnDef("hv000", 3)))
    assert(plan.statements.head.contains(""""surveyid" VARCHAR(8)"""))
    assert(plan.statements.head.contains(""""hv000" VARCHAR(3)"""))
    assert(plan.statements.exists(_.contains("idx_rech0_hhid")))
  }

  test("prepareTablePlan: wide table → json-packed create") {
    val cols = ColumnDef("caseid", 15) +: (1 to 600).map(i => ColumnDef(s"v$i", 2))
    val plan = prepareTablePlan("rec95", cols)
    assert(plan.statements.head.contains("JSONB"))
    assert(!plan.statements.head.contains("v599"))
  }

  test("country-specific forces packing below the width threshold") {
    val plan = prepareTablePlan("csrec", Seq(ColumnDef("caseid", 15), ColumnDef("s101", 2)),
      countrySpecific = true)
    assert(plan.statements.head.contains("JSONB"))
  }
}
