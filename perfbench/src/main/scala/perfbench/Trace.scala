package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one span (or of a whole traced window). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var skippedStages = 0L
  var tasks = 0L
  var taskRetries = 0L
  var taskMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; skippedStages += o.skippedStages
    tasks += o.tasks; taskRetries += o.taskRetries; taskMs += o.taskMs
    schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; inputRows += o.inputRows
  }
}

/** One traced interval: workload > pass or cycle > stage group or statement
  * > query, with a query's plan and execute phases as children. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long)

/** The traced run's recorder. Spans are recorded by the benchmark around
  * its calls into the engine; Spark's own listeners attribute jobs, stages
  * and tasks to the innermost open span through a job local property, and
  * collect every QueryExecution's planning-tracker phases. Everything is
  * kept in memory and written out once, at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Long]
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  private val planMs = new AtomicLong(0L)

  private def counters(span: Long): Counters = bySpan.computeIfAbsent(span, _ => new Counters)
  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      val c = counters(span)
      c.synchronized { c.jobs += 1 }
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
      jobStages.put(e.jobId, e.stageIds)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      submitted.add(e.stageInfo.stageId)
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      c.synchronized { c.stages += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val stagesOfJob = Option(jobStages.remove(e.jobId)).getOrElse(Nil)
      val skipped = stagesOfJob.count(s => !submitted.contains(s))
      if (skipped > 0) {
        val c = counters(stageSpan.getOrDefault(stagesOfJob.head, 0L))
        c.synchronized { c.skippedStages += skipped }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageSpan.getOrDefault(e.stageId, 0L))
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (info.attemptNumber > 0 || e.reason != Success) c.taskRetries += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs.addAndGet(Tracer.planMs(qe))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      planMs.addAndGet(Tracer.planMs(qe))
      ()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Detaches both listeners once every posted event has been delivered. */
  def detach(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Runs `body` inside a new span; Spark work it submits is attributed to
    * the span through the job local property. */
  def span[A](kind: String, name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    open.push(id)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.pop()
      sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
      spans.synchronized { spans += Span(id, parent, kind, name, t0, t1) }
    }
  }

  /** Records an already-measured child interval (a query's plan phase). */
  def record(kind: String, name: String, startNs: Long, endNs: Long): Unit = {
    val parent = open.headOption.getOrElse(0L)
    spans.synchronized { spans += Span(ids.incrementAndGet(), parent, kind, name, startNs, endNs) }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Spark counters summed over spans whose `kind` chain matches `keep`. */
  def countersWhere(keep: Span => Boolean): Counters = {
    val byId = allSpans.map(s => s.id -> s).toMap
    def chain(id: Long): List[Span] = byId.get(id) match {
      case Some(s) => s :: chain(s.parent)
      case None => Nil
    }
    val total = new Counters
    bySpan.asScala.foreach { case (id, c) =>
      if (chain(id).exists(keep)) c.synchronized { total += c }
    }
    total
  }

  def totalCounters: Counters = {
    val total = new Counters
    bySpan.values.asScala.foreach(c => c.synchronized { total += c })
    total
  }

  def totalPlanSeconds: Double = planMs.get() / 1000.0

  /** Self time per span kind: each span's duration minus the part of it
    * that its child spans cover. */
  def selfSecondsByKind: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        math.max(0L, (s.endNs - s.startNs) - covered)
      }.sum / 1e9
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    allSpans.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
    ()
  }
}

object Tracer {
  /** Planning-tracker time of one QueryExecution: parsing, analysis,
    * optimization and physical planning. */
  def planMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(_.durationMs).sum
}
