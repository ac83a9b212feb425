package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer: wall interval on the driver plus the span
  * that caused it (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task-metric totals for the tasks of one span's jobs. */
final class TaskAgg {
  var tasks, runMs, cpuNs, gcMs, inBytes, inRecs, scanRunMs = 0L
  var shufWriteBytes, shufWriteNs, fetchWaitMs, spillBytes = 0L
  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; inRecs += o.inRecs; scanRunMs += o.scanRunMs
    shufWriteBytes += o.shufWriteBytes; shufWriteNs += o.shufWriteNs
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
  }
}

final case class JobRec(jobId: Int, span: Long, startMs: Long) {
  var endMs: Long = startMs
}

/** One finished action as the QueryExecutionListener saw it: planning
  * phase durations and, for writes, the sink's file and byte counts. */
final case class QeRec(atMs: Long, analysisMs: Long, optimizerMs: Long,
    physicalMs: Long, files: Long, bytes: Long)

object Tracer {
  val Prop = "perfbench.span"

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span id: its wall interval minus the part its direct
    * children cover, in nanoseconds. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cov = unionLength(kids.getOrElse(s.id, Nil).map { c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)) })
      s.id -> ((s.endNs - s.startNs) - cov)
    }.toMap
  }
}

/** Spans recorded around the benchmark's calls into the program's layers,
  * kept in memory and written out at the end, plus the Spark-side records
  * attributed to them: a SparkListener (jobs, stages, task metrics), a
  * QueryExecutionListener (planning phases, sink metrics) and a
  * StreamingQueryListener (micro-batches). Jobs carry the active span id as
  * a local property; actions are matched to spans by time, which is exact
  * here because one client thread runs one operation at a time. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageSpan = mutable.Map.empty[Int, Long]
  val stagesBySpan = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  val tasksBySpan = mutable.Map.empty[Long, TaskAgg]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  var streamBatches, streamRows, streamBatchMs = 0L

  def span[A](name: String, layer: String)(body: => A): A = {
    val s = Span(nextId, stack.headOption.fold(0L)(_.id), name, layer,
      System.nanoTime(), System.currentTimeMillis())
    nextId += 1
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .fold(0L)(_.toLong)
      jobs += JobRec(e.jobId, sp, e.time)
      e.stageIds.foreach(stageSpan(_) = sp)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val sp = stageSpan.getOrElse(e.stageInfo.stageId, 0L)
        stagesBySpan(sp) += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val a = tasksBySpan.getOrElseUpdate(
        stageSpan.getOrElse(e.stageId, 0L), new TaskAgg)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecs += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) a.scanRunMs += m.executorRunTime
        a.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shufWriteNs += m.shuffleWriteMetrics.writeTime
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
      val at = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      var files, bytes = 0L
      qe.executedPlan.foreach { p =>
        if (p.metrics.contains("numFiles") && p.metrics.contains("numOutputBytes")) {
          files += p.metrics("numFiles").value
          bytes += p.metrics("numOutputBytes").value
        }
      }
      lock.synchronized {
        qes += QeRec(if (at > 0) at else System.currentTimeMillis(),
          ms("analysis"), ms("optimization"), ms("planning"), files, bytes)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        streamBatches += 1
        streamRows += e.progress.numInputRows
        streamBatchMs += Option(e.progress.durationMs.get("triggerExecution"))
          .fold(0L)(_.longValue)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  // ------------------------------------------------------------ queries

  private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** The span and all its descendants. */
  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def ids(ss: Seq[Span]): Set[Long] = ss.flatMap(subtree).map(_.id).toSet

  def jobsIn(ss: Seq[Span]): Seq[JobRec] = { val i = ids(ss); jobs.filter(j => i(j.span)).toSeq }

  def tasksIn(ss: Seq[Span]): TaskAgg = {
    val i = ids(ss); val a = new TaskAgg
    tasksBySpan.foreach { case (k, v) => if (i(k)) a.add(v) }
    a
  }

  def stagesIn(ss: Seq[Span]): Long = { val i = ids(ss); stagesBySpan.collect { case (k, v) if i(k) => v }.sum }

  /** Actions whose planning ended inside one of the spans' intervals. */
  def qesIn(ss: Seq[Span]): Seq[QeRec] =
    qes.filter(q => ss.exists(s => q.atMs >= s.startMs && q.atMs <= s.endMs)).toSeq

  def planS(ss: Seq[Span]): Double =
    qesIn(ss).map(q => q.analysisMs + q.optimizerMs + q.physicalMs).sum / 1e3

  /** Driver time of each span not covered by any of its jobs, summed. */
  def gapS(ss: Seq[Span]): Double = ss.map { s =>
    val iv = jobsIn(Seq(s)).map(j =>
      (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
    math.max(0L, (s.endMs - s.startMs) - unionLength(iv)) / 1e3
  }.sum

  /** Spans and their self times as JSON, for offline inspection. */
  def dump(path: java.nio.file.Path): Unit = {
    val self = selfTimes(spans.toSeq)
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val bySpanJobs = jobs.groupBy(_.span).map { case (k, v) => k -> v.size }
    val rows = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9},"self_s":${self(s.id) / 1e9},""" +
        s""""jobs":${bySpanJobs.getOrElse(s.id, 0)}}"""
    }
    val layerSelf = spans.groupBy(_.layer).map { case (l, ss) =>
      s"${Json.str(l)}:${ss.map(s => self(s.id)).sum / 1e9}" }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (s"""{"layer_self_s":{${layerSelf.mkString(",")}},""" +
      s""""spans":[\n${rows.mkString(",\n")}\n]}""").getBytes("UTF-8"))
  }
}
