package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a public graft call, a pass, a set-up. `parent` is
  * the index of the enclosing span in [[Spans.all]] (-1 at top level). */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest by call structure on the driver
  * thread; nothing is written until the run ends. */
object Spans {
  val all = ArrayBuffer.empty[Span]
  private val nanoBase = System.nanoTime()
  private val wallBase = System.currentTimeMillis()

  /** Wall-clock milliseconds of a span timestamp, comparable with the
    * event times Spark's listeners report. */
  def wallMs(ns: Long): Double = wallBase + (ns - nanoBase) / 1e6
  private var open = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    val i = all.size
    all += Span(name, System.nanoTime(), 0L, open.headOption.getOrElse(-1))
    open = i :: open
    try body
    finally {
      open = open.tail
      all(i) = all(i).copy(endNs = System.nanoTime())
    }
  }

  /** Total milliseconds of spans since index `from` named `name` or
    * `name:<detail>`. */
  def ms(name: String, from: Int = 0): Double =
    all.iterator.drop(from).filter(s => s.name == name || s.name.startsWith(name + ":"))
      .map(_.ms).sum
}

/** Counters fed by Spark's public listeners while a traced run is on.
  *
  * Listener events are asynchronous, so [[snapshot]] first drains the
  * listener bus; the drain is what makes traced runs slower than untraced
  * ones, and why the end-to-end metrics come from untraced runs only. */
final class Probe(spark: SparkSession, rawDir: Option[String]) extends AdaptiveSparkPlanHelper {
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val peakTaskMem = new AtomicLong(0L)
  private val reregistrations = new AtomicLong(0L)
  private val jobTimes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  /** Submission times (wall-clock ms) of every job seen so far. */
  def jobStarts: Seq[Long] = jobTimes.asScala.map(_.longValue).toSeq

  private def add(key: String, v: Double): Unit =
    sums.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  private val MB = 1024.0 * 1024.0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      jobTimes.add(e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add("exec.tasks", 1)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.input_mb", m.inputMetrics.bytesRead / MB)
      add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("exec.spill_mb", m.memoryBytesSpilled / MB)
      peakTaskMem.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val bytes = b.memSize + b.diskSize
      if (b.blockId.isRDD && b.storageLevel.isValid && bytes > 0) {
        add("ops.cache_blocks", 1)
        add("ops.cache_put_mb", bytes / MB)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = durationNs / 1e6
      add("exec.action_ms", ms)
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Seq("analysis", "optimization", "planning").contains(phase))
          add(s"plans.${phase}_ms", s.durationMs.toDouble)
      }
      val plan = qe.executedPlan
      add("etl.raw_scans", collectWithCommands(plan) {
        case s: FileSourceScanExec
            if rawDir.exists(r => s.relation.location.rootPaths.exists(_.toString.contains(r))) => 1
      }.sum)
      collectWithCommands(plan) {
        case w: DataWritingCommandExec => w.cmd
      }.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
        .foreach { path =>
          Seq("bronze", "silver", "gold").find(z => path.contains(s"/$z/"))
            .foreach(z => add(s"etl.${z}_ms", ms))
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def collectWithCommands[B](plan: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] =
    collect(plan) { case p => p }.flatMap {
      case c: CommandResultExec => collectWithCommands(c.commandPhysicalPlan)(pf)
      case p => pf.lift(p).toSeq
    }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      add("streaming.rows", p.numInputRows.toDouble)
      val d = p.durationMs.asScala
      Seq("latestOffset" -> "latest_offset_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "triggerExecution" -> "trigger_ms")
        .foreach { case (k, name) => d.get(k).foreach(v => add(s"streaming.$name", v.toDouble)) }
    }
  }

  private val appender = new AbstractAppender("graftbench-reregistrations", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
        reregistrations.incrementAndGet()
  }

  private val sc = spark.sparkContext
  private val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
  private val drainBus = bus.getClass.getMethod("waitUntilEmpty")

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  def stop(): Unit = {
    drainBus.invoke(bus)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
  }

  /** Cumulative counters; per-pass values are differences of two
    * snapshots, except `exec.peak_task_mem_mb`, which [[resetPeak]]
    * restarts. */
  def snapshot(): Map[String, Double] = {
    drainBus.invoke(bus)
    sums.asScala.map { case (k, v) => k -> v.sum }.toMap ++ Map(
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "functions.reregistrations" -> reregistrations.get.toDouble,
      "exec.peak_task_mem_mb" -> peakTaskMem.get / MB)
  }

  def resetPeak(): Unit = peakTaskMem.set(0L)
}
