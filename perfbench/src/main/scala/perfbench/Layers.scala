package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo

import scala.collection.mutable

/** Attributes Spark's jobs, stages, tasks and storage blocks to the
  * benchmark's phase spans.
  *
  * The harness tags every call into the engine with the local properties
  * [[Layers.SpanKey]] (the id of the phase span that is open) before it
  * calls, so each `SparkListenerJobStart` carries the span that caused it.
  * Stages map to jobs through the job-start event, tasks map to stages,
  * and RDD blocks map to the stage that computed them, so every count
  * lands on one phase span. The listener only accumulates; [[jobs]] and
  * [[spanCounts]] read the totals once the run has drained.
  */
final class Layers extends SparkListener {
  import Layers._

  private val lock = new Object
  private val jobRecs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.Map[Int, StageAgg]()
  private val rddSpan = mutable.Map[Int, Long]()
  private val blockBytes = mutable.Map[String, (Long, Long)]() // block -> (span, bytes)
  private val execSpan = mutable.Map[Long, Long]()
  private val execSite = mutable.Map[Long, String]()
  private val fileAccums = mutable.Set[Long]()
  private val filesBySpan = mutable.Map[Long, Long]().withDefaultValue(0L)
  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var openJobs = 0

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    touch()
    openJobs += 1
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(-1L)
    val exec = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .map(_.toLong)
    exec.foreach(id => execSpan.getOrElseUpdate(id, span))
    // jobs of one SQL execution share its call site; adaptive query stages
    // are submitted from pool threads whose own call site is meaningless
    val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val where = exec.flatMap(execSite.get).getOrElse(site(result))
    jobRecs(e.jobId) = Job(e.jobId, span, e.time, -1L, ok = false, where)
    e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    touch()
    openJobs -= 1
    jobRecs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    touch()
    val info = e.stageInfo
    val agg = stages.getOrElseUpdate(info.stageId, new StageAgg)
    agg.numTasks = info.numTasks
    agg.submitted = true
    val span = stageJob.get(info.stageId).flatMap(jobRecs.get).map(_.span).getOrElse(-1L)
    info.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    touch()
    val agg = stages.getOrElseUpdate(e.stageId, new StageAgg)
    agg.tasks += 1
    if (!e.taskInfo.successful) agg.failedTasks += 1
    agg.maxTaskMs = math.max(agg.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      agg.runMs += m.executorRunTime
      agg.cpuNs += m.executorCpuTime
      agg.gcMs += m.jvmGCTime
      agg.resultBytes += m.resultSize
      agg.spillBytes += m.diskBytesSpilled
      agg.inputBytes += m.inputMetrics.bytesRead
      agg.outputBytes += m.outputMetrics.bytesWritten
      agg.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    touch()
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val key = info.blockId.name
      if (info.storageLevel.isValid) {
        val span = rddSpan.getOrElse(b.rddId, -1L)
        blockBytes(key) = (span, info.memSize + info.diskSize)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        touch()
        fileMetrics(s.sparkPlanInfo)
        userFrame(s.details).foreach(execSite(s.executionId) = _)
      case s: SparkListenerSQLAdaptiveExecutionUpdate => touch(); fileMetrics(s.sparkPlanInfo)
      case u: SparkListenerDriverAccumUpdates =>
        touch()
        val span = execSpan.getOrElse(u.executionId, -1L)
        u.accumUpdates.foreach { case (id, v) =>
          if (fileAccums.contains(id)) filesBySpan(span) += v
        }
      case _ => ()
    }
  }

  private def fileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => if (m.name == WrittenFiles) fileAccums += m.accumulatorId)
    p.children.foreach(fileMetrics)
  }

  /** Blocks until the listener bus has delivered everything the finished
    * run posted: no job is open and no event arrived for `quietMs`.
    */
  def drain(quietMs: Long = 300, maxMs: Long = 15000): Unit = {
    val t0 = System.nanoTime()
    while ((openJobs > 0 || (System.nanoTime() - lastEventNs) / 1000000 < quietMs) &&
      (System.nanoTime() - t0) / 1000000 < maxMs) Thread.sleep(20)
  }

  /** Per-job totals: the job's own record plus every stage it ran. */
  def jobs: Seq[Map[String, Any]] = lock.synchronized {
    val byJob = stages.toSeq.groupBy { case (sid, _) => stageJob.getOrElse(sid, -1) }
    jobRecs.values.toSeq.map { j =>
      val ss = byJob.getOrElse(j.id, Nil).map(_._2).filter(_.submitted)
      Map(
        "id" -> j.id, "span" -> j.span, "start_ms" -> j.start, "end_ms" -> j.end,
        "ok" -> j.ok, "site" -> j.site,
        "stages" -> ss.size, "single_task_stages" -> ss.count(_.numTasks == 1),
        "tasks" -> ss.map(_.tasks).sum, "failed_tasks" -> ss.map(_.failedTasks).sum,
        "task_ms" -> ss.map(_.runMs).sum, "cpu_ns" -> ss.map(_.cpuNs).sum,
        "gc_ms" -> ss.map(_.gcMs).sum,
        "max_task_ms" -> (if (ss.isEmpty) 0L else ss.map(_.maxTaskMs).max),
        "result_bytes" -> ss.map(_.resultBytes).sum,
        "spill_bytes" -> ss.map(_.spillBytes).sum,
        "input_bytes" -> ss.map(_.inputBytes).sum,
        "output_bytes" -> ss.map(_.outputBytes).sum,
        "shuffle_read_bytes" -> ss.map(_.shuffleReadBytes).sum,
        "shuffle_write_bytes" -> ss.map(_.shuffleWriteBytes).sum)
    }
  }

  /** Counts that belong to a span rather than a job: RDD blocks published
    * (distinct RDDs and their bytes) and files written.
    */
  def spanCounts: Map[Long, Map[String, Long]] = lock.synchronized {
    val pubs = blockBytes.toSeq.groupBy(_._2._1).map { case (span, bs) =>
      val rdds = bs.map { case (k, _) => k.split("_")(1) }.distinct.size.toLong
      span -> Map("publishes" -> rdds, "published_bytes" -> bs.map(_._2._2).sum)
    }
    (pubs.keySet ++ filesBySpan.keySet).map { span =>
      span -> (pubs.getOrElse(span, Map.empty) + ("files_written" -> filesBySpan(span)))
    }.toMap
  }
}

object Layers {
  /** Local property carrying the id of the phase span that issued a job. */
  val SpanKey = "perfbench.span"
  private val WrittenFiles = "number of written files"

  final case class Job(id: Int, span: Long, start: Long, var end: Long, var ok: Boolean,
      site: String)

  final class StageAgg {
    var numTasks = 0
    var submitted = false
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var maxTaskMs = 0L
    var resultBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
  }

  private val Frame = """^\s*(\S+)\((\w+\.(?:scala|java)):(\d+)\)""".r.unanchored
  private val RuntimePackages = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** `File.scala-88` of the first frame outside Spark and the Java and
    * Scala runtimes in a long-form call site (one frame per line).
    */
  def userFrame(stack: String): Option[String] =
    stack.split("\n").iterator.collect {
      case Frame(method, file, line) if !RuntimePackages.exists(method.startsWith) => s"$file-$line"
    }.nextOption()

  /** `count at Warehouse.scala:88` -> `Warehouse.scala-88`: the first frame
    * outside Spark, which Spark records as the stage name.
    */
  def site(stageName: String): String = {
    val at = stageName.lastIndexOf(" at ")
    val s = if (at >= 0) stageName.substring(at + 4) else stageName
    s.trim.replace(':', '-').replaceAll("[^A-Za-z0-9_.-]", "_")
  }
}
