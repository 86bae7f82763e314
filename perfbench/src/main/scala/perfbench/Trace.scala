package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a run, in System.nanoTime. `parent` is 0 for the
  * root. Spark jobs become spans too (named `job`), children of the call
  * span that submitted them. */
final class Span(val id: Long, val parent: Long, val name: String,
                 val start: Long, var end: Long = -1L) {
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e9
}

/** One Spark job, as the listener saw it. Times are epoch milliseconds. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String) {
  var endMs: Long = -1L
  var tasks = 0
}

/** Engine work attributed to one call span, i.e. to one Spark job group. */
final class Work {
  val jobs: ArrayBuffer[JobRec] = ArrayBuffer.empty
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var taskDurMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
}

/** In-memory span recorder plus the two listeners that attribute engine work
  * to spans. Attribution is exact, not by time window: each call span sets
  * its own id as the Spark job group of the calling thread, and the job,
  * stage and SQL-execution events carry that group.
  *
  * While disabled, `span` only runs its body: no group is set and no
  * listener is registered, so an untraced pass runs the program as-is. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var nextId = 0L
  private var stack: List[Span] = Nil
  private var enabled = false

  private val work = new ConcurrentHashMap[Long, Work]()
  private val jobsById = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execGroup = new ConcurrentHashMap[Long, java.lang.Long]()
  // planning ms and span of each finished QueryExecution, keyed by identity
  // and joined in resolvePlans(): the two arrive in separate callbacks
  private val qePlanMs = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val qeGroup = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()

  /** nanoTime of the epoch, to place listener times (epoch ms) on the span clock. */
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNano(ms: Long): Long = nanoAtEpoch + ms * 1000000L

  def workOf(spanId: Long): Work = work.computeIfAbsent(spanId, _ => new Work)

  private def groupOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).filter(work.containsKey)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties).foreach { g =>
      // the result stage is the newest stage of the job; its details hold
      // the call site (the submitting thread's stack)
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val j = new JobRec(e.jobId, e.time, site)
      jobsById.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
      workOf(g).jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobsById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      groupOf(e.properties).foreach { g =>
        stageGroup.put(e.stageInfo.stageId, java.lang.Long.valueOf(g))
        workOf(g).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val w = workOf(g)
        w.tasks += 1
        Option(stageJob.get(e.stageId)).foreach(_.tasks += 1)
        if (e.taskInfo != null) w.taskDurMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          w.taskRunMs += m.executorRunTime
          w.taskCpuNs += m.executorCpuTime
          w.taskGcMs += m.jvmGCTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.recordsRead += m.inputMetrics.recordsRead
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.flatMap(_.toLongOption).filter(work.containsKey)
          .foreach(g => execGroup.put(s.executionId, java.lang.Long.valueOf(g)))
      case e: SparkListenerSQLExecutionEnd =>
        Option(execGroup.remove(e.executionId)).foreach { g =>
          val qe = Bridge.queryExecution(e)
          if (qe != null) qeGroup.synchronized(qeGroup.put(qe, g))
        }
      case _ =>
    }
  }

  /** Planning time of each finished action, read from the action's own
    * QueryExecution (the one that ran, not the DataFrame it was called on). */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qeGroup.synchronized(qePlanMs.put(qe, qe.tracker.phases.values.map(_.durationMs).sum))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Adds the planning time of every QueryExecution seen so far to its span. */
  private def resolvePlans(): Unit = qeGroup.synchronized {
    for ((qe, ms) <- qePlanMs.asScala.toList; g <- Option(qeGroup.get(qe))) {
      workOf(g).planMs += ms
      qePlanMs.remove(qe)
      qeGroup.remove(qe)
    }
  }

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  /** Runs `body` untraced inside a traced run: no listener, no job group. */
  def pause[T](body: => T): T = {
    disable()
    sc.clearJobGroup()
    try body
    finally {
      enable()
      stack.headOption.foreach(p => sc.setJobGroup(p.id.toString, p.name))
    }
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = {
    Bridge.drain(sc)
    resolvePlans()
  }

  /** Runs `body` inside a span named `name`, child of the innermost open
    * span; jobs it submits are attributed to this span. */
  def span[T](name: String)(body: Span => T): T = {
    if (!enabled) return body(null)
    nextId += 1
    val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name, System.nanoTime())
    spans += s
    work.put(s.id, new Work)
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name)
    try body(s)
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** All spans under `root` (inclusive). */
  def subtree(root: Span): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(go).toSeq
    go(root)
  }

  /** Engine work of every span under `root`. */
  def workUnder(root: Span): Seq[Work] =
    subtree(root).flatMap(s => Option(work.get(s.id)))

  /** Turns every recorded job into a `job` span under its call span. Call
    * after the last traced op and `drain()`. */
  def addJobSpans(): Unit = {
    val calls = spans.toList
    for (c <- calls; w <- Option(work.get(c.id)); j <- w.jobs if j.endMs >= 0) {
      nextId += 1
      val s = new Span(nextId, c.id, "job", msToNano(j.startMs), msToNano(j.endMs))
      s.attrs("job_id") = j.id
      s.attrs("tasks") = j.tasks
      s.attrs("call_site") = j.callSite.linesIterator.take(3).mkString(" | ")
      spans += s
    }
  }

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
    (s.end - s.start - Intervals.covered(kids.toSeq)) / 1e9
  }
}

object Intervals {
  /** Total length of the union of `iv` (start, end) pairs. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Splits the wall time of one ETL op between the pipeline's layers by
  * sampling the stacks of the executor task threads every few milliseconds.
  * A tick is shared evenly between the tasks running at that moment, each
  * charged to the layer of the innermost frame that belongs to one; a tick
  * with no task running is the driver's, and goes to `etl.pipeline.s` along
  * with task frames no layer owns. The layer times therefore add up to the
  * op's wall time. */
final class StackSampler(periodMs: Long = 5L) {
  private val mx = ManagementFactory.getThreadMXBean
  private val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  @volatile private var running = false
  private var thread: Thread = _
  private var last = 0L
  private var lastShare: Map[String, Double] = Map("etl.pipeline.s" -> 1.0)
  var samples = 0

  private val markers: Seq[(String, String)] = Seq(
    "graft.functions.Ua" -> "etl.ua_classify.s",
    "java.util.zip." -> "etl.read.s",
    "org.apache.hadoop.io.compress." -> "etl.read.s",
    "org.apache.hadoop.util.LineReader" -> "etl.read.s",
    "org.apache.hadoop.mapreduce.lib.input." -> "etl.read.s",
    "org.apache.hadoop.fs." -> "etl.read.s",
    "org.apache.spark.sql.execution.datasources.HadoopFileLinesReader" -> "etl.read.s",
    "org.apache.spark.sql.execution.datasources.RecordReaderIterator" -> "etl.read.s",
    "org.apache.derby." -> "etl.sink.s",
    "org.apache.spark.sql.execution.datasources.jdbc." -> "etl.sink.s",
    "org.apache.spark.sql.execution.columnar." -> "etl.sink.s",
    "org.apache.spark.storage.memory." -> "etl.sink.s",
    "org.apache.spark.sql.catalyst.expressions.GeneratedClass" -> "etl.parse.s",
    "com.univocity." -> "etl.parse.s",
    "org.apache.spark.sql.catalyst.csv." -> "etl.parse.s",
    "org.apache.spark.sql.catalyst.expressions." -> "etl.parse.s")

  private def layerOf(stack: Array[StackTraceElement]): String =
    stack.iterator.map(_.getClassName).flatMap { c =>
      markers.collectFirst { case (p, l) if c.startsWith(p) => l }
    }.nextOption().getOrElse("etl.pipeline.s")

  /** Charges the time since the last tick to the state the last sample saw. */
  private def tick(now: Long): Unit = {
    lastShare.foreach { case (l, w) => acc(l) += w * (now - last) / 1e9 }
    last = now
  }

  private def sample(): Map[String, Double] = {
    val ids = mx.getAllThreadIds
    val task = mx.getThreadInfo(ids, 0).filter(i => i != null &&
      i.getThreadName.startsWith("Executor task launch worker for task")).map(_.getThreadId)
    val infos = if (task.isEmpty) Array.empty[java.lang.management.ThreadInfo]
                else mx.getThreadInfo(task, 256).filter(_ != null)
    if (infos.isEmpty) Map("etl.pipeline.s" -> 1.0)
    else infos.groupBy(i => layerOf(i.getStackTrace))
      .map { case (l, xs) => l -> xs.length.toDouble / infos.length }
  }

  def start(): Unit = {
    acc.clear()
    samples = 0
    last = System.nanoTime()
    lastShare = Map("etl.pipeline.s" -> 1.0)
    running = true
    thread = new Thread(() => {
      while (running) {
        val share = sample()
        tick(System.nanoTime())
        lastShare = share
        samples += 1
        Thread.sleep(periodMs)
      }
    }, "perfbench-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  /** Stops sampling; returns seconds per layer over the sampled interval. */
  def stop(): Map[String, Double] = {
    running = false
    thread.join()
    tick(System.nanoTime())
    acc.toMap
  }
}
