package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Q1/Q2 — the validation gates the reference runs as Airflow tasks
  * (/root/reference/dags/weather_etl_pipeline.py:95-116, 194-215).
  */
object Checks {

  /** Pre-transform structural validation: expected record count, required
    * nested fields present, non-empty time series. Both counts come from
    * one aggregate, so the raw JSON is parsed once.
    */
  def validateRaw(df: DataFrame, expectedCities: Int): Unit = {
    val fields = df.schema.fieldNames.toSet
    require(fields.contains("daily"), "missing 'daily' struct")
    val dailyFields = df.schema("daily").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    require(dailyFields.contains("temperature_2m_max"), "missing daily.temperature_2m_max")
    val counts = df.agg(count(lit(1)), count(when(size(col("daily.time")) === 0, 1))).head()
    val n = counts.getLong(0)
    require(n == expectedCities, s"expected $expectedCities city records, got $n")
    val empty = counts.getLong(1)
    require(empty == 0, s"$empty city records have an empty time series")
  }

  /** Post-load gate over the whole fact table in one read and one
    * aggregate: UNIQUE(city_name, date) holds and, given a ds, the ds
    * slice is non-empty. Returns the ds slice's row count (0 without a ds).
    */
  def postLoad(fact: DataFrame, ds: Option[String]): Long = {
    val onDs = ds.fold(lit(false))(d => col("date") === to_date(lit(d)))
    val r = fact.groupBy("city_name", "date").count()
      .agg(coalesce(max("count"), lit(0L)), coalesce(sum(when(onDs, col("count"))), lit(0L)))
      .head()
    val loaded = r.getLong(1)
    ds.foreach(d => require(loaded > 0, s"no records loaded for date $d"))
    require(r.getLong(0) <= 1, "fact_daily_weather violates UNIQUE(city_name, date)")
    loaded
  }
}

/** Q3/Q4 — the orchestration collapsed Spark-natively: the reference's
  * seven Airflow tasks (extract → validate → transform → create_tables →
  * load → quality_check) become one dependency graph over SparkSession
  * (SURVEY.md §3), with the reference's retry envelope (3 tries, linear
  * backoff) around each step:
  *
  *  - validate → enrich → the `staging_weather` write, in order; the
  *    write fills the cache of the enriched frame;
  *  - then five branches at once, each writing its own table and reading
  *    only the cached enriched frame or that table: `staging_weather_summary`,
  *    the weather-code seed, the city seed, the fact upsert and
  *    `agg_monthly_weather`;
  *  - then the post-load checks.
  *
  * Every branch runs to the end even when another fails; the first
  * failure in branch order is rethrown with the others attached as
  * suppressed exceptions. Idempotency comes from overwrite-by-ds writes,
  * so re-running the load for the same ds converges.
  */
object Pipeline {

  def retry[T](tries: Int = 3, delayMs: Long = 0)(body: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < tries) {
      try return body
      catch { case t: Throwable => last = t; i += 1; if (delayMs > 0) Thread.sleep(delayMs) }
    }
    throw last
  }

  /** Thread-name prefix of the load's branch threads. */
  val BranchThreadPrefix = "etl-load-"

  /** Runs every branch on its own thread and waits for all of them. The
    * threads are started by the calling thread, so each inherits its Spark
    * local properties (job group, job description, scheduler pool) as
    * they are at the call; none outlives the call. The first failure in
    * branch order is rethrown, with the later ones attached as suppressed.
    */
  private def inParallel(branches: Seq[(String, () => Unit)]): Unit = {
    val failures = new Array[Throwable](branches.size)
    val threads = branches.zipWithIndex.map { case ((name, body), i) =>
      new Thread(() => try body() catch { case t: Throwable => failures(i) = t },
        BranchThreadPrefix + name)
    }
    try threads.foreach(_.start())
    finally threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ => ()
    }
  }

  /** Full run for one execution date over already-extracted raw JSON.
    * Single lineage with one cache of the enriched frame before the
    * fan-out — deliberately NOT replicating the reference's repeated
    * count() recomputations (SURVEY.md §7 risk 6).
    */
  def run(spark: SparkSession, rawPath: String, warehouseRoot: String, ds: String,
      expectedCities: Int = 5): Map[String, Long] = {
    val wh = Warehouse(spark, warehouseRoot)
    val raw = retry() {
      spark.read.schema(Schemas.raw).option("multiLine", value = true).json(rawPath)
    }
    retry() { Checks.validateRaw(raw, expectedCities) }
    val enriched = retry() {
      Transform.addDerivedMetrics(Transform.flattenDaily(raw)).cache()
    }
    try {
      retry() { wh.overwrite("staging_weather", enriched) }
      inParallel(Seq(
        "summary" -> (() =>
          retry() { wh.overwrite("staging_weather_summary", Transform.computeAggregates(enriched)) }),
        "weather-codes" -> (() => retry() { wh.seedWeatherCodes() }),
        "cities" -> (() => retry() { wh.seedCities(enriched) }),
        "facts" -> (() => retry() { wh.upsertFacts(enriched, ds) }),
        "monthly" -> (() =>
          retry() { wh.overwrite("agg_monthly_weather", Transform.monthlyRollup(enriched)) })))
      val loaded = retry() { Checks.postLoad(wh.read("fact_daily_weather"), Some(ds)) }
      // count() while still cached — counting after unpersist would re-run
      // the whole flatten+enrich lineage (SURVEY §7 risk 6)
      val staged = enriched.count()
      Map("staged" -> staged, "loaded" -> loaded)
    } finally enriched.unpersist()
  }
}
