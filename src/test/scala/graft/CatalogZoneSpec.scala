package graft

import graft.store.{CatalogZone, TableDir}

/** Catalog persistence: crawled zone tables are EXTERNAL catalog
  * tables (not temp views), so they are visible from a brand-new
  * session on the same catalog — the property temp views lack — and
  * re-crawl picks up layout changes. */
class CatalogZoneSpec extends SparkSuite {
  import spark.implicits._

  test("crawl registers external tables visible to a NEW session") {
    val zone = tmpDir("catalog_zone").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$zone/dim_widgets")
    Seq((10L, 1L), (20L, 2L)).toDF("fact_id", "widget_id")
      .write.parquet(s"$zone/fact_sales")

    val registered = CatalogZone.crawl(spark, zone)
    assert(registered === Seq("dim_widgets", "fact_sales"))

    // a separate session: temp views would NOT be visible here, but
    // external catalog tables are (shared ExternalCatalog; with a
    // hive/Glue metastore the same call survives JVM restarts)
    val fresh = spark.newSession()
    assert(fresh.catalog.tableExists("default.dim_widgets"))
    assert(fresh.sql(
      """SELECT count(1) FROM default.fact_sales f
         JOIN default.dim_widgets d ON f.widget_id = d.id""")
      .head().getLong(0) === 2L)

    // re-crawl after layout change replaces definitions (crawler
    // re-run): sessions created after it see the new files; an
    // already-running session that cached the old relation refreshes
    // explicitly — standard Spark per-session relation-cache semantics
    Seq((3L, "c")).toDF("id", "v")
      .write.mode("append").parquet(s"$zone/dim_widgets")
    CatalogZone.crawl(spark, zone)
    assert(spark.newSession().sql("SELECT count(1) FROM default.dim_widgets")
      .head().getLong(0) === 3L)
    fresh.catalog.refreshTable("default.dim_widgets")
    assert(fresh.sql("SELECT count(1) FROM default.dim_widgets")
      .head().getLong(0) === 3L)
  }

  test("discover ignores files and dotfiles at the zone root") {
    val zone = tmpDir("catalog_zone2")
    java.nio.file.Files.createDirectories(zone.resolve("t1"))
    java.nio.file.Files.createDirectories(zone.resolve(".hidden"))
    java.nio.file.Files.writeString(zone.resolve("_SUCCESS"), "")
    assert(CatalogZone.discover(zone.toString) === Seq("t1"))
  }

  test("crawl skips the staged and parked siblings of an interrupted swap") {
    val zone = tmpDir("catalog_zone3")
    val live = zone.resolve("dim_swapped")
    Seq((1L, "a")).toDF("id", "v").write.parquet(live.toString)
    Seq((2L, "b")).toDF("id", "v")
      .write.parquet(TableDir.staged(live).toString)
    Seq((3L, "c")).toDF("id", "v")
      .write.parquet(TableDir.parked(live).toString)
    assert(CatalogZone.crawl(spark, zone.toString) === Seq("dim_swapped"))
    assert(spark.sql("SELECT id FROM default.dim_swapped")
      .as[Long].collect().toSeq === Seq(1L))
  }
}
