package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is 0 for a root; `req` groups the spans of
  * one request (a command, a query, a micro-batch). Times are
  * `System.nanoTime` values of this process. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    req: String, start: Long, end: Long) {
  def dur: Long = math.max(0L, end - start)
}

/** Work done by the tasks of one Spark stage. */
final class StageWork {
  var span = 0L
  var batch = -1L
  var stateful = false
  var parents: Seq[Int] = Nil
  var shuffleMap = false
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** One Spark job, attributed to the client span or micro-batch it ran under. */
final case class JobRec(id: Int, span: Long, batch: Long, startMs: Long,
    endMs: Long, name: String, stageIds: Seq[Int])

/** One file-format write command (a store family write or a result write). */
final case class WriteRec(path: String, durNs: Long, files: Long, bytes: Long)

/** One SQL execution's wall interval and plan text (for write spans). */
final case class SqlExec(startMs: Long, endMs: Long, plan: String)

/**
 * Span recorder for the traced run. Everything is recorded from the
 * benchmark's side of the API: client spans around the calls it makes, a
 * `SparkListener` for jobs, stages, tasks and SQL executions (attributed
 * through the `perfbench.span` local property and Spark's own
 * `streaming.sql.batchId` property), a `QueryExecutionListener` for write
 * and scan metrics, and a `StreamingQueryListener` for batch progress.
 * Spans stay in memory until [[writeTo]] at the end of the run.
 *
 * With `enabled = false` nothing is registered and [[span]] only runs its
 * body, so the untraced run measures the program alone.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nextId = new AtomicLong(0L)
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  def msToNs(ms: Long): Long = t0Ns + (ms - t0Ms) * 1000000L

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageWork]()
  val writes = new ConcurrentLinkedQueue[WriteRec]()
  val sqlExecs = new ConcurrentLinkedQueue[SqlExec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val sqlStarts = new ConcurrentHashMap[Long, SqlExec]()
  val scanFiles = new AtomicLong(0L)
  val scanBytes = new AtomicLong(0L)
  val scanPartitions = new AtomicLong(0L)

  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  def current: Long = stack.get.headOption.getOrElse(0L)

  def newId(): Long = nextId.incrementAndGet()

  /** Set at the end of the timed loop: listener events after it (the
    * correctness checks) are not recorded. */
  @volatile private var frozen = false

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Run `body` inside a client span; Spark jobs it starts on this thread
    * are attributed to the span. */
  def span[T](name: String, layer: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack.set(id :: stack.get)
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.span", id.toString)
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, req, start, System.nanoTime()))
        stack.set(stack.get.tail)
        sc.setLocalProperty("perfbench.span",
          if (current == 0L) null else current.toString)
      }
    }

  private object Jobs extends SparkListener {
    private def props(p: java.util.Properties, k: String): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(k)))
    override def onJobStart(e: SparkListenerJobStart): Unit = if (!frozen) {
      val span = props(e.properties, "perfbench.span").map(_.toLong).getOrElse(0L)
      val batch = props(e.properties, "streaming.sql.batchId").map(_.toLong)
        .getOrElse(-1L)
      val name = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)
        .getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, span, batch, e.time, -1L, name,
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (!frozen) {
      val w = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageWork)
      w.span = props(e.properties, "perfbench.span").map(_.toLong).getOrElse(0L)
      w.batch = props(e.properties, "streaming.sql.batchId").map(_.toLong)
        .getOrElse(-1L)
      w.stateful = e.stageInfo.rddInfos.exists(_.name == "StateStoreRDD")
      w.parents = e.stageInfo.parentIds
      w.shuffleMap = org.apache.spark.SparkInternals.writesShuffle(e.stageInfo)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && !frozen) {
        val w = stages.computeIfAbsent(e.stageId, _ => new StageWork)
        w.synchronized {
          w.tasks += 1
          w.cpuNs += m.executorCpuTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _ if frozen => ()
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, SqlExec(s.time, -1L,
          s.physicalPlanDescription))
      case x: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(x.executionId)).foreach(s =>
          sqlExecs.add(s.copy(endMs = x.time)))
      case _ => ()
    }
  }

  private object Plans extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        unwrap(c.commandPhysicalPlan)
      case other => Seq(other)
    }
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = if (!frozen) unwrap(qe.executedPlan).foreach { root =>
      collectWithSubqueries(root) { case w: DataWritingCommandExec => w }
        .foreach { w =>
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              def metric(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
              writes.add(WriteRec(i.outputPath.toString, durationNs,
                metric("numFiles"), metric("numOutputBytes")))
            case _ => ()
          }
        }
      collectWithSubqueries(root) { case s: FileSourceScanExec => s }
        .foreach { s =>
          def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
          scanFiles.addAndGet(metric("numFiles"))
          scanBytes.addAndGet(metric("filesSize"))
          scanPartitions.addAndGet(metric("numPartitions"))
        }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  private object Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (!frozen) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val oldGenAfterGcPeak = new AtomicLong(0L)
  private val gcListener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification,
        hb: Any): Unit = n.getUserData match {
      case cd: javax.management.openmbean.CompositeData
          if !frozen && n.getType == "com.sun.management.gc.notification" =>
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
        val gi = info.getGcInfo
        gi.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if pool.contains("Old") => u.getUsed }
          .foreach(v => oldGenAfterGcPeak.accumulateAndGet(v, math.max(_, _)))
        // GcInfo times are milliseconds since JVM start
        val end = msToNs(jvmStartMs + gi.getEndTime)
        spans.add(Span(newId(), 0L, s"gc:${info.getGcName}", "jvm", "gc",
          end - gi.getDuration * 1000000L, end))
      case _ => ()
    }
  }

  /** Register the listeners (traced run only). */
  def install(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Progress)
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(gcListener, null, null)
      case _ => ()
    }
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.SparkInternals.drain(spark.sparkContext)

  /** Stop recording listener events, once those of the timed loop are in. */
  def freeze(): Unit = { drain(); frozen = true }

  /** Drop everything recorded so far (after set-up, before the timed loop). */
  def reset(): Unit = {
    drain()
    spans.clear(); clearRecords()
    oldGenAfterGcPeak.set(0L)
  }

  /** Record again for a later timed loop of the same run: the listener
    * records of the earlier loop are dropped, its spans and heap peak kept. */
  def resume(): Unit = { drain(); clearRecords(); frozen = false }

  private def clearRecords(): Unit = {
    jobs.clear(); stages.clear(); writes.clear(); sqlExecs.clear()
    progress.clear()
    scanFiles.set(0L); scanBytes.set(0L); scanPartitions.set(0L)
  }

  /** Job spans, parented to the client span or batch span they ran under. */
  def jobSpans(batchParent: Long => Long): Seq[Span] =
    jobs.values.asScala.toSeq.filter(_.endMs >= 0).map { j =>
      val parent = if (j.span != 0L) j.span else batchParent(j.batch)
      Span(newId(), parent, s"job:${j.name}", "spark", s"job-${j.id}",
        msToNs(j.startMs), msToNs(j.endMs))
    }

  /** Write the spans as JSON lines. */
  def writeTo(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":"${s.layer}","req":${Json.str(s.req)},"start_ns":${s.start - t0Ns},"end_ns":${s.end - t0Ns}}""")
    } finally w.close()
  }
}

object Tracer {
  /** Per-layer self time: a span's duration minus its children's, summed
    * by layer. Children that overlap (parallel jobs) are clipped so self
    * time never goes negative. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, (Long, Long, Int)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val total = ss.map(_.dur).sum
      val self = ss.map { s =>
        math.max(0L, s.dur - kids.getOrElse(s.id, Nil).map(_.dur).sum)
      }.sum
      layer -> (total, self, ss.size)
    }
  }
}
