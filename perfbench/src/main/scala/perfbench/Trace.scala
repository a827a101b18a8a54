package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval in epoch milliseconds. */
final case class Span(name: String, startMs: Double, endMs: Double,
    attrs: Seq[(String, Any)] = Nil) {
  def durMs: Double = endMs - startMs
}

/** Task metrics summed over one stage attempt. */
final class StageAgg {
  var submitMs = Double.NaN
  var completeMs = Double.NaN
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val durations: ArrayBuffer[Long] = ArrayBuffer.empty

  /** Slowest task over the median task; 1 for single-task stages. */
  def skew: Double =
    if (durations.size < 2) 1.0
    else {
      val s = durations.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
}

/** Everything the listener bus delivered between two op boundaries. */
final class OpEvents {
  val jobStart: mutable.Map[Int, Double] = mutable.Map.empty
  val jobExec: mutable.Map[Int, Long] = mutable.Map.empty
  val jobs: ArrayBuffer[Span] = ArrayBuffer.empty
  val stageJob: mutable.Map[Int, Int] = mutable.Map.empty
  val stages: mutable.Map[(Int, Int), StageAgg] = mutable.Map.empty
  val sqlStart: mutable.Map[Long, Double] = mutable.Map.empty
  val sqlExecs: ArrayBuffer[Span] = ArrayBuffer.empty
  /** Per successful QueryExecution: phase name -> ms, plus node counts. */
  val phases: ArrayBuffer[Map[String, Double]] = ArrayBuffer.empty
  val planCounts: ArrayBuffer[(Int, Int, Int)] = ArrayBuffer.empty
  val batches: ArrayBuffer[Span] = ArrayBuffer.empty

  def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg)
}

/** The traced run's listener: a SparkListener for jobs, stages, tasks,
  * SQL executions and streaming progress, and a QueryExecutionListener
  * for Catalyst phase times and plan shapes.
  *
  * Events are attributed by time window, not by job group: the harness
  * drains the bus at each op boundary and takes the buffer, so a job a
  * stream thread submits under its own group still lands in the op
  * that started the stream.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  private var cur = new OpEvents

  def take(): OpEvents = synchronized { val c = cur; cur = new OpEvents; c }

  private def on(f: OpEvents => Unit): Unit =
    if (enabled) synchronized(f(cur))

  override def onJobStart(e: SparkListenerJobStart): Unit = on { c =>
    c.jobStart(e.jobId) = e.time.toDouble
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => c.jobExec(e.jobId) = id.toLong)
    e.stageIds.foreach(s => c.stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = on { c =>
    c.jobStart.remove(e.jobId).foreach { t0 =>
      c.jobs += Span("job", t0, e.time.toDouble, Seq("job_id" -> e.jobId))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = on { c =>
    val i = e.stageInfo
    c.stage(i.stageId, i.attemptNumber()).submitMs =
      i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on { c =>
    val i = e.stageInfo
    val s = c.stage(i.stageId, i.attemptNumber())
    if (s.submitMs.isNaN) s.submitMs = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    s.completeMs = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { c =>
    val m = e.taskMetrics
    if (m != null) {
      val s = c.stage(e.stageId, e.stageAttemptId)
      val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
      s.tasks += 1
      s.durations += dur
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      s.schedMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      on(_.sqlStart(s.executionId) = s.time.toDouble)
    case s: SparkListenerSQLExecutionEnd =>
      on { c =>
        c.sqlStart.remove(s.executionId).foreach { t0 =>
          c.sqlExecs += Span("sql.execution", t0, s.time.toDouble,
            Seq("execution_id" -> s.executionId))
        }
      }
    case p: QueryProgressEvent =>
      on { c =>
        val d = p.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val t0 = java.time.Instant.parse(p.progress.timestamp).toEpochMilli.toDouble
        c.batches += Span("stream.batch", t0, t0 + d.getOrElse("triggerExecution", 0L),
          d.toSeq.sortBy(_._1).map { case (k, v) => s"${k}_ms" -> v } :+
            ("batch_id" -> p.progress.batchId))
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = on { c =>
    c.phases += qe.tracker.phases.map { case (k, p) => k -> p.durationMs.toDouble }
    c.planCounts += Recorder.countNodes(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Recorder {
  /** All physical nodes, looking inside adaptive plans, query stages and
    * subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (shuffle exchanges, broadcast exchanges, sort-merge joins). */
  def countNodes(p: SparkPlan): (Int, Int, Int) = {
    val ns = nodes(p)
    (ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      ns.count(_.isInstanceOf[SortMergeJoinExec]))
  }

  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}

/** Process-wide counters read at op boundaries: Hadoop FileSystem
  * statistics, Spark's file-listing counter, JVM GC and JIT time.
  */
final case class Counters(
    readOps: Long, readBytes: Long, writeOps: Long, writeBytes: Long,
    listedFiles: Long, gcMs: Long, compileMs: Long) {
  def -(o: Counters): Counters = Counters(
    readOps - o.readOps, readBytes - o.readBytes, writeOps - o.writeOps,
    writeBytes - o.writeBytes, listedFiles - o.listedFiles,
    gcMs - o.gcMs, compileMs - o.compileMs)
}

object Counters {
  @SuppressWarnings(Array("deprecation"))
  def now(): Counters = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    Counters(
      fs.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      fs.map(_.getBytesRead).sum,
      fs.map(_.getWriteOps.toLong).sum,
      fs.map(_.getBytesWritten).sum,
      org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      gc, jit)
  }

  /** Heap in use right after the last collection, summed over pools. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** Turns one traced op's harness spans and listener events into the
  * per-layer metrics and the span records of `spans.jsonl`.
  */
object Layers {
  private def sec(ms: Double): Double = ms / 1000.0

  /** Total length of the union of the intervals, in ms. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def metrics(op: Span, children: Seq[Span], ev: OpEvents, d: Counters,
      heapMb: Double, blockBytes: Long, cores: Int): Seq[(String, Double)] = {
    val wallMs = op.durMs
    def child(n: String): Double = children.filter(_.name == n).map(_.durMs).sum
    val stages = ev.stages.values.toSeq
    val phase = (n: String) => ev.phases.map(_.getOrElse(n, 0.0)).sum
    val jobIv = ev.jobs.map(j => (math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs)))
    val taskMs = stages.map(_.runMs).sum.toDouble
    val chunked = children.find(_.name == "etl.convert_chunked")
    val chunkSkew = chunked.map { c =>
      val in = stages.filter(s => s.submitMs >= c.startMs && s.submitMs <= c.endMs)
      if (in.isEmpty) 1.0 else in.maxBy(_.tasks).skew
    }.getOrElse(0.0)
    val batchDur = (k: String) =>
      ev.batches.map(_.attrs.collectFirst { case (`k`, v: Long) => v }.getOrElse(0L)).sum.toDouble
    val parse = child("etl.parse")
    val transform = child("etl.transform")
    val run = child("etl.run")
    Seq(
      "op.wall_s" -> sec(wallMs),
      "op.residual_s" -> sec(wallMs - unionMs(children.map(c => (c.startMs, c.endMs)))),
      "ops.build_s" -> sec(child("ops.build")),
      "ops.build_frac" -> child("ops.build") / wallMs,
      "sql.executions" -> ev.sqlExecs.size.toDouble,
      "catalyst.plan_s" -> sec(child("catalyst.plan")),
      "catalyst.analysis_s" -> sec(phase("analysis")),
      "catalyst.optimizer_s" -> sec(phase("optimization")),
      "catalyst.planning_s" -> sec(phase("planning")),
      "plan.shuffle_exchanges" -> ev.planCounts.map(_._1).sum.toDouble,
      "plan.broadcast_exchanges" -> ev.planCounts.map(_._2).sum.toDouble,
      "plan.sort_merge_joins" -> ev.planCounts.map(_._3).sum.toDouble,
      "sched.jobs" -> ev.jobs.size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> stages.map(_.tasks).sum.toDouble,
      "sched.delay_s" -> sec(stages.map(_.schedMs).sum.toDouble),
      "sched.driver_idle_s" -> sec(wallMs - unionMs(jobIv.toSeq)),
      "exec.task_s" -> sec(taskMs),
      "exec.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> sec(stages.map(_.gcMs).sum.toDouble),
      "exec.deser_s" -> sec(stages.map(_.deserMs).sum.toDouble),
      "exec.util" -> taskMs / (wallMs * cores),
      "exec.skew" -> (if (stages.isEmpty) 1.0 else stages.map(_.skew).max),
      "shuffle.write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> sec(stages.map(_.fetchWaitMs).sum.toDouble),
      "spill.bytes" -> stages.map(_.spill).sum.toDouble,
      "sink.exec_s" -> sec(child("sink.exec")),
      "io.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "io.output_bytes" -> stages.map(_.outputBytes).sum.toDouble,
      "fs.list_files" -> d.listedFiles.toDouble,
      "fs.read_ops" -> d.readOps.toDouble,
      "fs.read_bytes" -> d.readBytes.toDouble,
      "fs.write_ops" -> d.writeOps.toDouble,
      "fs.write_bytes" -> d.writeBytes.toDouble,
      "storage.block_bytes" -> blockBytes.toDouble,
      "stream.batches" -> ev.batches.size.toDouble,
      "stream.trigger_s" -> sec(batchDur("triggerExecution_ms")),
      "stream.add_batch_s" -> sec(batchDur("addBatch_ms")),
      "stream.planning_s" -> sec(batchDur("queryPlanning_ms")),
      "stream.wal_commit_s" -> sec(batchDur("walCommit_ms")),
      "stream.commit_s" -> sec(batchDur("commitOffsets_ms")),
      "etl.parse_s" -> sec(parse),
      "etl.project_s" -> sec(math.max(0.0, transform - parse)),
      "etl.encode_s" -> sec(math.max(0.0, run - transform)),
      "etl.rechunk_s" -> sec(child("etl.rechunk")),
      "etl.convert_chunked_s" -> sec(child("etl.convert_chunked")),
      "etl.chunk_skew" -> chunkSkew,
      "jvm.gc_s" -> sec(d.gcMs.toDouble),
      "jvm.compile_s" -> sec(d.compileMs.toDouble),
      "jvm.heap_after_gc_mb" -> heapMb)
  }

  /** The op, its harness children, and the listener spans, each with a
    * parent: jobs hang off their SQL execution and stages off their job;
    * any other span off the harness child it starts in, else the op.
    */
  def spans(op: Span, children: Seq[Span], ev: OpEvents): Seq[(Span, Int, Int)] = {
    val out = ArrayBuffer[(Span, Int, Int)]((op, 0, -1))
    children.foreach(c => out += ((c, out.size, 0)))
    def parentOf(t: Double): Int =
      children.indexWhere(c => t >= c.startMs && t <= c.endMs) match {
        case -1 => 0
        case i => i + 1
      }
    val jobIdx = mutable.Map[Int, Int]()
    val execIdx = mutable.Map[Long, Int]()
    ev.sqlExecs.sortBy(_.startMs).foreach { s =>
      s.attrs.collectFirst { case ("execution_id", i: Long) => execIdx(i) = out.size }
      out += ((s, out.size, parentOf(s.startMs)))
    }
    ev.jobs.sortBy(_.startMs).foreach { j =>
      val id = j.attrs.collectFirst { case ("job_id", i: Int) => i }.get
      jobIdx(id) = out.size
      val parent = ev.jobExec.get(id).flatMap(execIdx.get).getOrElse(parentOf(j.startMs))
      out += ((j, out.size, parent))
    }
    ev.stages.toSeq.sortBy(_._2.submitMs).foreach { case ((sid, att), s) =>
      if (!s.submitMs.isNaN && !s.completeMs.isNaN) {
        val sp = Span("stage", s.submitMs, s.completeMs, Seq(
          "stage_id" -> sid, "attempt" -> att, "tasks" -> s.tasks,
          "task_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1000000L, "gc_ms" -> s.gcMs,
          "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
          "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes,
          "skew" -> s.skew))
        val parent = ev.stageJob.get(sid).flatMap(jobIdx.get).getOrElse(parentOf(s.submitMs))
        out += ((sp, out.size, parent))
      }
    }
    ev.batches.sortBy(_.startMs).foreach(b => out += ((b, out.size, parentOf(b.startMs))))
    out.toSeq
  }
}
