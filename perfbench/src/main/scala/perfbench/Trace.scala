package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One node of the span tree workload → pass → operation → job → stage.
  * Times are epoch milliseconds; `parent` is -1 for the root. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
                 val start: Double, var end: Double)

/** Counters of one traced operation sample (one call into a module's
  * entry point, or one micro-batch of a stream). */
final class Sample(val op: String, val module: String, val pass: Int, val span: Span) {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    Seq("jobs", "stages", "tasks", "single_task_stages", "single_task_stage_s",
      "task_s", "task_gc_s", "task_failures", "shuffle_read_mb", "shuffle_write_mb",
      "spill_mb", "checkpoint_jobs", "scan_mb", "scan_rows", "scan_files", "scan_time_s",
      "join_rows", "batches", "add_batch_s", "planning_s", "wal_commit_s",
      "driver_idle_s", "result_rows").map(_ -> 0.0): _*)
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
}

/** Records spans and per-sample counts from Spark's public listener
  * APIs — SparkListener (jobs, stages, tasks), QueryExecutionListener
  * (executed-plan SQL metrics) and StreamingQueryListener (batch
  * progress). Everything stays in memory until the run ends. Events are
  * attributed to the sample that is open when they are delivered;
  * [[begin]] and [[end]] drain the listener bus first, so no event of an
  * earlier sample, or of an untimed check between samples, can reach the
  * next. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Last reported (state rows, state memory bytes) per stream query. */
  val streamState = mutable.LinkedHashMap.empty[String, (Long, Long)]
  @volatile private var current: Sample = null
  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val MB = 1024.0 * 1024.0

  def span(parent: Int, kind: String, name: String, start: Double): Span = synchronized {
    val s = new Span(spans.size, parent, kind, name, start, Double.NaN)
    spans += s
    s
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Option(current).foreach { s =>
      s.add("jobs", 1)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      if (site.toLowerCase.contains("checkpoint")) s.add("checkpoint_jobs", 1)
      synchronized {
        jobSpans(e.jobId) = span(s.span.id, "job", s"job ${e.jobId} $site", e.time.toDouble)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Option(current).foreach { s =>
      val i = e.stageInfo
      val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield (b - a) / 1e3).getOrElse(0.0)
      s.add("stages", 1)
      if (i.numTasks == 1) { s.add("single_task_stages", 1); s.add("single_task_stage_s", wall) }
      synchronized {
        val parent = stageJob.get(i.stageId).flatMap(jobSpans.get).map(_.id).getOrElse(s.span.id)
        val st = span(parent, "stage", s"stage ${i.stageId}.${i.attemptNumber()} ${i.name}",
          i.submissionTime.getOrElse(0L).toDouble)
        st.end = i.completionTime.getOrElse(0L).toDouble
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(current).foreach { s =>
      s.add("tasks", 1)
      if (!e.taskInfo.successful) s.add("task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        s.add("task_s", m.executorRunTime / 1e3)
        s.add("task_gc_s", m.jvmGCTime / 1e3)
        s.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        s.add("spill_mb", m.diskBytesSpilled / MB)
      }
      s.synchronized { s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
    }
  }

  /** Every node of an executed plan, through adaptive plans, query
    * stages and subqueries; a reused exchange is counted where it ran. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other => Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(current).foreach { s =>
        def metric(n: SparkPlan, k: String): Double = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        nodes(qe.executedPlan).foreach { n =>
          val cls = n.getClass.getSimpleName
          if (cls.startsWith("FileSourceScan")) {
            s.add("scan_mb", metric(n, "filesSize") / MB)
            s.add("scan_rows", metric(n, "numOutputRows"))
            s.add("scan_files", metric(n, "numFiles"))
            s.add("scan_time_s", metric(n, "scanTime") / 1e3)
          } else if (cls.contains("Join") || cls.startsWith("CartesianProduct")) {
            s.add("join_rows", metric(n, "numOutputRows"))
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(current).foreach { s =>
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        s.add("batches", 1)
        s.add("add_batch_s", d("addBatch"))
        s.add("planning_s", d("queryPlanning"))
        s.add("wal_commit_s", d("walCommit") + d("commitOffsets"))
      }
      synchronized {
        streamState(Option(p.name).getOrElse(p.id.toString)) =
          (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def begin(op: String, module: String, pass: Int, parent: Span): Sample = {
    PerfbenchBus.drain(spark.sparkContext)
    val s = new Sample(op, module, pass, span(parent.id, "op", op, System.currentTimeMillis().toDouble))
    current = s
    s
  }

  /** Close `s` at `endMs`, after every event it caused has arrived. */
  def end(s: Sample, endMs: Double, resultRows: Long): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    current = null
    s.span.end = endMs
    s.add("result_rows", resultRows.toDouble)
    s.add("driver_idle_s", idle(s.span.start.toLong, endMs.toLong, s.taskIntervals.toSeq) / 1e3)
    samples += s
  }

  /** Milliseconds of [start, end] during which no task of the sample ran. */
  private def idle(start: Long, end: Long, tasks: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = start
    tasks.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (end - start - covered).toDouble
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)),
    "samples" -> samples.map(s => Map("op" -> s.op, "module" -> s.module, "pass" -> s.pass,
      "wall_s" -> (s.span.end - s.span.start) / 1e3, "counts" -> s.c)),
    "stream_state" -> streamState.map { case (k, (rows, mem)) =>
      k -> Map("state_rows" -> rows, "state_mem_mb" -> mem / MB) })
}
