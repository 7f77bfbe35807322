package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import graft.etl.{Pipeline, Views, Warehouse}
import graft.functions.DistributedRank
import graft.operators.{DedupOps, Registry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM side: one closed-loop client that drives one
  * workload through the engine's public API and records what each call
  * took.
  *
  * Every call into a layer is wrapped in a span taken from outside:
  *  - build: `Registry` entry `Q.run` (DataFrame construction, with the
  *    eager publishes and collects it makes),
  *  - plan: `queryExecution.executedPlan` (Catalyst and the engine's rules),
  *  - exec: running that physical plan to its last row,
  *  - load: `etl.Pipeline.run` for one execution date,
  *  - view: reading `etl.Views.latestWeather` and `etl.Views.weeklyTrends`.
  *
  * With `--trace 1` the second half of the measuring time runs with a
  * [[Layers]] listener that attributes every Spark job to the span that
  * issued it. Statistics are computed by `run.py` from the two JSON files
  * this writes: `--out` (runs, units, phase walls) and `--trace-out`
  * (spans, jobs and per-span counts).
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cpus <n> --out <file> --trace-out <file>` plus either
  * `--fixture <dir> --dump <dir> --queries <a,..> --gated <b,..>` (queries
  * at the default gates; queries run on both sides of them) or
  * `--etl <manifest.json> --warehouse <dir>`.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The two size gates and the setting that sends every query past them. */
  val GateKeys: Seq[String] = Seq(DistributedRank.GateConf, DedupOps.EagerPublishConf)

  final case class Side(name: String, conf: Option[String])
  val DefaultSide: Side = Side("default", None)
  val ForcedSide: Side = Side("forced", Some("0"))

  // --- clock and spans -----------------------------------------------------

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() / 1e3
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  final case class Span(id: Long, parent: Long, unit: Long, name: String,
      start: Double, var end: Double = -1)

  final class Tracer(spark: SparkSession) {
    val spans = mutable.ArrayBuffer[Span]()
    var traced = false
    private var nextId = 0L

    def span[T](name: String, parent: Long, unit: Long)(body: Span => T): (T, Span) = {
      nextId += 1
      val s = Span(nextId, parent, if (unit < 0) nextId else unit, name, now())
      spans += s
      val sc = spark.sparkContext
      if (traced) {
        sc.setLocalProperty(Layers.SpanKey, s.id.toString)
        sc.setJobDescription(s"perfbench ${s.name} span=${s.id} unit=${s.unit}")
      }
      try (body(s), s)
      finally {
        s.end = now()
        if (traced) {
          sc.setLocalProperty(Layers.SpanKey, null)
          sc.setJobDescription(null)
        }
      }
    }
  }

  // --- entry ---------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    def names(key: String) = opt.get(key).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val plan = names("queries").map(_ -> Seq(DefaultSide)) ++
      names("gated").map(_ -> Seq(DefaultSide, ForcedSide))
    val missing = plan.map(_._1).filterNot(Registry.byName.contains)
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: queries not in Registry.byName: ${missing.mkString(", ")}")
      sys.exit(2)
    }

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = now()
    val tracer = new Tracer(spark)
    val layers = new Layers

    val driver: Driver =
      if (opt.contains("etl")) new EtlDriver(spark, tracer, opt("etl"), opt("warehouse"))
      else new QueryDriver(spark, tracer, opt("fixture"), opt("dump"), plan)

    val warm0 = now()
    val warmErrors = driver.warmUp()
    val warmupS = now() - warm0

    // closed loop: start another run while one more fits in the measuring
    // time, at the mean wall of the runs so far (there is always one run)
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    def loop(budget: Double, traced: Boolean): Unit = {
      tracer.traced = traced
      val t0 = now()
      def done = runs.count(_("traced") == traced)
      while (done == 0 || (now() - t0) * (done + 1) / done <= budget) {
        val rng = new scala.util.Random(seed * 1000003L + runs.size)
        val (units, run) = tracer.span("run", 0, -1)(r => driver.run(r, rng, runs.size))
        runs += Map("index" -> (runs.size: Int), "traced" -> traced, "span" -> run.id,
          "start" -> run.start, "end" -> run.end, "wall_s" -> (run.end - run.start),
          "units" -> units)
      }
    }
    if (trace) {
      loop(seconds / 2, traced = false)
      spark.sparkContext.addSparkListener(layers)
      loop(seconds / 2, traced = true)
      layers.drain()
    } else loop(seconds, traced = false)

    write(opt("out"), Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup" -> Map("session_s" -> (sessionReady - jvmStart), "warmup_s" -> warmupS),
      "warmup_errors" -> warmErrors,
      "warmup_loads" -> driver.warmLoads,
      "runs" -> runs))
    if (trace) write(opt("trace-out"), Map(
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "unit" -> s.unit, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> layers.jobs,
      "span_counts" -> layers.spanCounts.map { case (k, v) => k.toString -> v }))
    spark.stop()
  }

  def write(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(value))

  def message(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"

  // --- workloads -----------------------------------------------------------

  trait Driver {
    /** The untimed first pass; returns one message per failed unit. */
    def warmUp(): Seq[String]
    /** One run; returns one record per unit. */
    def run(runSpan: Span, rng: scala.util.Random, index: Int): Seq[Map[String, Any]]
    def warmLoads: Int = 0
  }

  /** Registry queries over a parquet fixture, each on the sides of the size
    * gates it is listed with. The warm-up pass dumps every result for the
    * DuckDB oracle and remembers its row count; every timed unit must
    * reproduce it.
    */
  final class QueryDriver(spark: SparkSession, tracer: Tracer, fixture: String, dump: String,
      plan: Seq[(String, Seq[Side])]) extends Driver {
    private val rows = mutable.Map[String, Long]()

    private def key(q: String, s: Side) = s"${s.name}/$q"

    private def onSide[T](s: Side)(body: => T): T = {
      GateKeys.foreach(k => s.conf match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      })
      try body finally GateKeys.foreach(spark.conf.unset)
    }

    def warmUp(): Seq[String] = {
      val errors = for ((q, sides) <- plan; s <- sides) yield {
        val out = s"$dump/${s.name}/$q"
        try {
          onSide(s)(Registry.byName(q).run(spark, fixture))
            .coalesce(1).write.mode("overwrite").parquet(out)
          rows(key(q, s)) = spark.read.parquet(out).count()
          None
        } catch { case t: Throwable => Some(s"${key(q, s)}: ${message(t)}") }
      }
      plan.flatMap { case (q, sides) => sides.map(_ -> q) }.groupBy(_._1).foreach {
        case (s, qs) =>
          val oracle = qs.flatMap { case (_, q) => Registry.byName(q).oracle.map(q -> _) }.toMap
          write(s"$dump/${s.name}/oracle_sql.json", oracle)
      }
      errors.flatten
    }

    def run(runSpan: Span, rng: scala.util.Random, index: Int): Seq[Map[String, Any]] =
      rng.shuffle(plan).flatMap { case (q, sides) =>
        val order = if (rng.nextBoolean()) sides.reverse else sides
        order.map(s => unit(runSpan, q, s))
      }

    private def unit(runSpan: Span, q: String, s: Side): Map[String, Any] = {
      val phases = mutable.LinkedHashMap[String, Double]()
      val (outcome, u) = tracer.span(s"query:${key(q, s)}", runSpan.id, -1) { u =>
        def phase[T](name: String)(body: => T): T = {
          val (v, sp) = tracer.span(name, u.id, u.id)(_ => body)
          phases(name) = sp.end - sp.start
          v
        }
        try {
          val n = onSide(s) {
            val df = phase("build")(Registry.byName(q).run(spark, fixture))
            val qe = phase("plan") { val qe = df.queryExecution; qe.executedPlan; qe }
            phase("exec")(SQLExecution.withNewExecutionId(qe, Some("perfbench exec"))(
              qe.toRdd.count()))
          }
          val want = rows.getOrElse(key(q, s), -1L)
          if (n == want) Right(n) else Left(s"rows $n, checked $want")
        } catch { case t: Throwable => Left(message(t)) }
      }
      Map("name" -> q, "side" -> s.name, "span" -> u.id, "wall_s" -> (u.end - u.start),
        "phases" -> phases.toMap, "ok" -> outcome.isRight,
        "error" -> outcome.left.getOrElse(""))
    }
  }

  /** Daily loads of generated weather extracts into a fresh warehouse per
    * run, then the two analytical views. The manifest lists the loads in
    * order; a `ds` may repeat with a later extract (a retry or backfill).
    * Each run leaves its warehouse and its view rows behind for the checker.
    * The warm-up makes the first two loads, which take both paths of the
    * fact upsert (a new table, then a merge into it).
    */
  final class EtlDriver(spark: SparkSession, tracer: Tracer, manifestPath: String,
      warehouse: String) extends Driver {
    private val manifest = json.readTree(new java.io.File(manifestPath))
    private val cities = manifest.get("cities").asInt()
    private val loads: Seq[(String, String)] = {
      val it = manifest.get("loads").elements()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val n = it.next(); b += n.get("ds").asText() -> n.get("path").asText() }
      b.result()
    }
    override val warmLoads = 2

    def warmUp(): Seq[String] = {
      val (units, _) = tracer.span("warmup", 0, -1)(r =>
        pass(r, s"$warehouse/runwarmup", loads.take(warmLoads)))
      units.filter(_("ok") == false).map(u => s"${u("name")}: ${u("error")}")
    }

    def run(runSpan: Span, rng: scala.util.Random, index: Int): Seq[Map[String, Any]] =
      pass(runSpan, s"$warehouse/run$index", loads)

    private def pass(runSpan: Span, root: String, todo: Seq[(String, String)]) = {
      val loaded = todo.zipWithIndex.map { case ((ds, path), i) =>
        unit(runSpan, s"load${i + 1}", "load") {
          val r = Pipeline.run(spark, path, root, ds, cities)
          if (r("loaded") == cities && r("staged") == cities * 14L) None
          else Some(s"loaded ${r("loaded")}, staged ${r("staged")} for $cities cities")
        }
      }
      var read = Map.empty[String, Any]
      val view = unit(runSpan, "views", "view") {
        val fact = Warehouse(spark, root).read("fact_daily_weather")
        val latest = Views.latestWeather(fact).collect()
        val weekly = Views.weeklyTrends(fact, Some(todo.map(_._1).max)).collect()
        read = Map("latest" -> latest.map(r => Seq(r.getString(0), r.get(1).toString)),
          "weekly_cities" -> weekly.length)
        None
      }
      write(s"$root/views.json", read)
      loaded :+ view
    }

    private def unit(runSpan: Span, name: String, phase: String)(
        body: => Option[String]): Map[String, Any] = {
      var wall = 0.0
      val (outcome, u) = tracer.span(s"$phase:$name", runSpan.id, -1) { u =>
        try {
          val (r, p) = tracer.span(phase, u.id, u.id)(_ => body)
          wall = p.end - p.start
          r
        } catch { case t: Throwable => Some(message(t)) }
      }
      Map("name" -> name, "side" -> "default", "span" -> u.id, "wall_s" -> (u.end - u.start),
        "phases" -> Map(phase -> wall), "ok" -> outcome.isEmpty,
        "error" -> outcome.getOrElse(""))
    }
  }
}
