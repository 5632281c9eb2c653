package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Running totals of what Spark reports through its public interfaces:
  * the scheduler listener (jobs, stages, task metrics), the query
  * execution listener (planning phases, SQL metrics of the executed
  * plan, write commands) and Hadoop's filesystem statistics.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = totals(k) += v

  def snapshot(): Map[String, Double] = synchronized {
    // every long Hadoop keeps per filesystem, summed over filesystems
    val fs = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .flatMap(_.getLongStatistics.asScala)
      .map(s => ("fs." + s.getName, s.getValue.toDouble)).toSeq
    totals.toMap ++ fs.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Milliseconds of [from, until] that no job covered. */
  def uncovered(from: Long, until: Long): Double = synchronized {
    val spans = jobs.map { case (s, e) => (math.max(s, from), math.min(e, until)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = from
    spans.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (until - from - covered).toDouble
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
    add("engine.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("engine.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("engine.tasks", 1)
    if (e.taskInfo.failed) add("engine.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("engine.task_ms", m.executorRunTime)
      add("engine.executor_cpu_s", m.executorCpuTime / 1e9)
      add("engine.gc_s", m.jvmGCTime / 1e3)
      add("engine.scan_bytes", m.inputMetrics.bytesRead)
      add("engine.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("engine.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe)

  private def onQuery(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"planning.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    walk(qe.executedPlan)
  }

  /** Sum the SQL metrics of every operator that ran, following adaptive
    * plans into their final stages and skipping reused exchanges (their
    * work is counted where it ran).
    */
  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case _: ReusedExchangeExec => ()
    case c: CommandResultExec => walk(c.commandPhysicalPlan)
    case _ =>
      def ms(key: String): Double = p.metrics.get(key).map { m =>
        if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble
      }.getOrElse(0.0)
      p match {
        case w: DataWritingCommandExec =>
          add("lifecycle.write_cmds", 1)
          add("lifecycle.files_written", ms("numFiles"))
          add("lifecycle.bytes_written", ms("numOutputBytes"))
        case _: BroadcastExchangeExec =>
          add("op.broadcast_ms", ms("collectTime") + ms("buildTime") + ms("broadcastTime"))
        case _: ShuffledHashJoinExec => add("op.hash_build_ms", ms("buildTime"))
        case _ => ()
      }
      add("op.scan_ms", ms("scanTime"))
      add("op.sort_ms", ms("sortTime"))
      add("op.agg_ms", ms("aggTime"))
      add("op.shuffle_write_ms", ms("shuffleWriteTime"))
      add("op.fetch_wait_ms", ms("fetchWaitTime"))
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
  }
}

/** One timed call. `attrs` holds the counter deltas over the call when
  * tracing is on; spans of one item share `item`.
  */
final case class Span(id: Int, parent: Int, item: Int, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times the benchmark's calls into graft. With tracing off it only reads
  * the clock; with tracing on it also records a span per call, holding
  * the Spark counter deltas over that call. Spans stay in memory until
  * [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val counters = new Counters
  private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var item = 0
  private var parent = -1
  private var lastClosed: Span = _

  def tracing: Boolean = on

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    on = true
  }

  def disable(): Unit = if (on) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    on = false
  }

  /** Run `f` as a new item (one query or one cycle): a root span whose
    * child spans are the layer calls made inside `f`.
    */
  def item[A](name: String)(f: => A): (Try[A], Span) = {
    item += 1
    parent = -1
    val r = Try(layer(name)(f)._1)
    (r, lastClosed)
  }

  /** Run `f` as one layer call of the current item. */
  def layer[A](name: String)(f: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val before =
      if (on) { PerfbenchBus.drain(spark.sparkContext); counters.snapshot() }
      else Map.empty[String, Double]
    val wall0 = System.currentTimeMillis()
    val outer = parent
    parent = id
    val t0 = System.nanoTime()
    // a call that throws still closes its span, so a trace loses no time
    def close(failed: Boolean): Span = {
      val t1 = System.nanoTime()
      parent = outer
      val attrs = if (on) {
        PerfbenchBus.drain(spark.sparkContext)
        val after = counters.snapshot()
        val wall1 = System.currentTimeMillis()
        after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } +
          ("engine.driver_gap_s" -> counters.uncovered(wall0, wall1) / 1e3) +
          ("failed" -> (if (failed) 1.0 else 0.0))
      } else Map.empty[String, Double]
      val s = Span(id, outer, item, name, t0, t1, attrs)
      if (on) spans += s
      lastClosed = s
      s
    }
    val a = try f catch { case e: Throwable => close(failed = true); throw e }
    (a, close(failed = false))
  }

  def recorded: Seq[Span] = spans.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val rows = spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "item" -> s.item, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)
    }
    java.nio.file.Files.writeString(path, Json.write(rows.toSeq))
  }
}
