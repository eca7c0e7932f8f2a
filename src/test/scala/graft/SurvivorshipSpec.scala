package graft

import org.apache.spark.sql.functions._
import graft.ops.Survivorship

class SurvivorshipSpec extends SparkSuite {
  import spark.implicits._

  // (entity, source, priority, recency, id, name, phone)
  private def feeds = Seq(
    (1L, "crm", 2L, 10L, 1L, Some("Ada"), None: Option[String]),
    (1L, "web", 1L, 99L, 2L, Some("ada"), Some("555-1")),
    (1L, "csv", 3L, 5L, 3L, None: Option[String], Some("555-2")),
    (2L, "crm", 2L, 1L, 4L, Some("Bob"), None: Option[String]),
    (2L, "web", 1L, 2L, 5L, None: Option[String], None: Option[String])
  ).toDF("entity", "source", "priority", "recency", "id", "name", "phone")

  private def rk = Survivorship.rankKey(col("priority"), col("recency"), col("id"))

  test("per-field best non-null wins independently; all-null stays null") {
    val g = Survivorship.goldenWithProvenance(feeds, "entity", rk, Seq("name", "phone"),
        "source")
      .select("entity", "name", "phone", "n_records")
      .as[(Long, Option[String], Option[String], Long)].collect().toSet
    // entity 1: name from crm (csv's higher priority has null name),
    // phone from csv (highest priority with non-null phone)
    assert(g == Set(
      (1L, Some("Ada"), Some("555-2"), 3L),
      (2L, Some("Bob"), None, 2L)))
  }

  test("provenance records which source supplied each surviving field") {
    val g = Survivorship.goldenWithProvenance(feeds, "entity", rk,
        Seq("name", "phone"), "source")
      .where($"entity" === 1L)
      .select("name", "name_src", "phone", "phone_src")
      .as[(String, String, String, String)].head()
    assert(g == ("Ada", "crm", "555-2", "csv"))
  }

  test("recency breaks priority ties; id breaks full ties") {
    val df = Seq(
      (1L, 1L, 5L, 1L, "old"), (1L, 1L, 9L, 2L, "new"),
      (2L, 1L, 1L, 1L, "lo"), (2L, 1L, 1L, 2L, "hi")
    ).toDF("entity", "priority", "recency", "id", "v")
    val g = Survivorship.goldenWithProvenance(df.withColumn("source", lit("s")), "entity",
        Survivorship.rankKey(col("priority"), col("recency"), col("id")), Seq("v"), "source")
      .select("entity", "v", "n_records")
      .as[(Long, String, Long)].collect().toSet
    assert(g == Set((1L, "new", 2L), (2L, "hi", 2L)))
  }

  test("rankKey fails loudly on out-of-range components") {
    val df = Seq((1L, -1L, 0L, 0L, "x")).toDF("entity", "priority", "recency", "id", "v")
    val e = intercept[Exception] {
      Survivorship.goldenWithProvenance(df.withColumn("source", lit("s")), "entity",
        Survivorship.rankKey(col("priority"), col("recency"), col("id")), Seq("v"), "source")
        .collect()
    }
    assert(e.getMessage.contains("out of range"))
  }
}
