package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.etl._

import scala.jdk.CollectionConverters._

/** The daily load as a dependency graph: declared warehouse schemas, the
  * fan-out of the five independent writes (failure rule, inherited local
  * properties) and multi-day loads with a replayed ds.
  */
class PipelineGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One raw extract: every city carries the two days up to `ds`, with
    * `tmax` as its temperature on `ds`.
    */
  private def extract(dir: String, ds: String, cities: Seq[(String, Double)]): String = {
    val prev = java.time.LocalDate.parse(ds).minusDays(1).toString
    val records = cities.map { case (city, tmax) =>
      s"""  {
         |    "city": "$city", "latitude": 40.0, "longitude": -74.0,
         |    "timezone": "UTC", "extracted_at": "${ds}T10:00:00",
         |    "daily": {
         |      "time": ["$prev", "$ds"],
         |      "temperature_2m_max": [30.0, $tmax],
         |      "temperature_2m_min": [20.0, 21.0],
         |      "precipitation_sum": [0.5, null],
         |      "windspeed_10m_max": [10.0, 12.0],
         |      "weathercode": [1.0, 61.0]
         |    }
         |  }""".stripMargin
    }
    val path = s"$dir/weather_raw_${ds}_${cities.size}_${cities.map(_._2).sum}.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      records.mkString("[\n", ",\n", "\n]"))
    path
  }

  private def branchThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(Pipeline.BranchThreadPrefix)).toSet

  test("declared warehouse schemas equal parquet inference for a fresh load") {
    val dir = TestSpark.scratch("graph-schemas")
    val wh = Warehouse(spark, s"$dir/wh")
    Pipeline.run(spark, extract(dir, "2024-01-15", Seq("Chicago" -> 35.0, "New York" -> 42.0)),
      wh.root, "2024-01-15", expectedCities = 2)
    assert(Schemas.warehouse.keySet == Set("staging_weather", "staging_weather_summary",
      "agg_monthly_weather", "dim_weather_code", "dim_city", "fact_daily_weather"))
    for ((table, declared) <- Schemas.warehouse) {
      val inferred = spark.read.parquet(wh.path(table)).schema
      assert(declared.map(f => f.name -> f.dataType) == inferred.map(f => f.name -> f.dataType),
        table)
      assert(wh.read(table).schema.map(_.name) == declared.map(_.name), table)
    }
  }

  test("a failed branch fails the load after every branch ends; later failures are suppressed") {
    val dir = TestSpark.scratch("graph-failure")
    val wh = Warehouse(spark, s"$dir/wh")
    new java.io.File(wh.root).mkdirs()
    // plain files where two branches read their table: the weather-code
    // seed (second branch) and the city seed (third) both fail
    for (t <- Seq("dim_weather_code", "dim_city"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(wh.path(t)), "not parquet")
    val err = intercept[Throwable] {
      Pipeline.run(spark, extract(dir, "2024-01-15", Seq("Chicago" -> 35.0)),
        wh.root, "2024-01-15", expectedCities = 1)
    }
    def names(e: Throwable, table: String) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).exists(c => String.valueOf(c.getMessage).contains(s"/$table"))
    assert(names(err, "dim_weather_code"), err)
    assert(err.getSuppressed.length == 1)
    assert(names(err.getSuppressed.head, "dim_city"), err.getSuppressed.head)
    assert(branchThreads().isEmpty)
    // the independent branches still ran to the end
    assert(wh.read("fact_daily_weather").count() == 1)
    assert(wh.read("agg_monthly_weather").count() == 1)
  }

  test("every job of a load carries the caller's local properties") {
    val dir = TestSpark.scratch("graph-props")
    val raw = extract(dir, "2024-01-15", Seq("Chicago" -> 35.0, "New York" -> 42.0))
    val sc = spark.sparkContext
    val key = "graft.test.load"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], Option[String])]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val tag = p.flatMap(x => Option(x.getProperty(key)))
        if (tag.contains("marker")) marker.countDown()
        else jobs.add(tag -> p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graph-props", "daily load")
      sc.setLocalProperty(key, "load-1")
      // two loads: the first creates every table, the second merges
      Pipeline.run(spark, raw, s"$dir/wh", "2024-01-15", expectedCities = 2)
      Pipeline.run(spark, raw, s"$dir/wh", "2024-01-15", expectedCities = 2)
      // listener events arrive in job order: once the marker job is seen,
      // every job of the loads has been
      sc.setLocalProperty(key, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(key, null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.size > 10)
    assert(seen.forall(_ == (Some("load-1") -> Some("graph-props"))), seen.distinct)
  }

  test("post-load checks: one aggregate raises both named errors over the whole table") {
    val fact = Seq(("A", "2024-01-14"), ("A", "2024-01-14"), ("B", "2024-01-15"))
      .toDF("city_name", "d").select($"city_name", $"d".cast("date").as("date"))
    val dup = intercept[IllegalArgumentException](Checks.postLoad(fact, Some("2024-01-15")))
    assert(dup.getMessage.contains("violates UNIQUE(city_name, date)"))
    val unique = fact.dropDuplicates()
    assert(Checks.postLoad(unique, Some("2024-01-15")) == 1L)
    val empty = intercept[IllegalArgumentException](Checks.postLoad(unique, Some("2024-01-16")))
    assert(empty.getMessage.contains("no records loaded for date 2024-01-16"))
    assert(Checks.postLoad(unique.limit(0), None) == 0L)
  }

  test("multi-day loads with a replayed ds: upsert wins, dense alphabetical ids, seed-if-absent") {
    val dir = TestSpark.scratch("graph-days")
    val wh = Warehouse(spark, s"$dir/wh")
    def load(ds: String, cities: (String, Double)*): Map[String, Long] =
      Pipeline.run(spark, extract(dir, ds, cities), wh.root, ds, expectedCities = cities.size)
    assert(load("2024-01-15", "New York" -> 42.0, "Chicago" -> 35.0) ==
      Map("staged" -> 4L, "loaded" -> 2L))
    assert(load("2024-01-16", "New York" -> 43.0, "Chicago" -> 36.0, "Boston" -> 40.0,
      "Austin" -> 60.0)("loaded") == 4L)
    // replay of the first day with a later extract: its values win
    assert(load("2024-01-15", "New York" -> 50.0, "Chicago" -> 31.0)("loaded") == 2L)
    val fact = wh.read("fact_daily_weather")
      .select($"city_name", $"date".cast("string"), $"temp_max")
      .as[(String, String, Double)].collect().toSet
    assert(fact == Set(
      ("New York", "2024-01-15", 50.0), ("Chicago", "2024-01-15", 31.0),
      ("New York", "2024-01-16", 43.0), ("Chicago", "2024-01-16", 36.0),
      ("Boston", "2024-01-16", 40.0), ("Austin", "2024-01-16", 60.0)))
    wh.assertUniqueKeys()
    // ids: first load alphabetical from 1, newcomers alphabetical after
    // the largest id, nothing re-keyed by the replay
    val ids = wh.read("dim_city").select($"city_name", $"city_id")
      .as[(String, Long)].collect().toSeq.sortBy(_._2)
    assert(ids == Seq("Chicago" -> 1L, "New York" -> 2L, "Austin" -> 3L, "Boston" -> 4L))
    assert(wh.read("dim_weather_code").count() == Schemas.weatherCodeSeed.size)
  }
}
