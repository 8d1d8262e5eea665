package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the calls into the program, plus the listener events Spark
  * reports for them. With `on = false` a span is just its body and no
  * listener is registered, so untraced runs measure the program alone.
  *
  * Spark is lazy, so a span's own wall time covers only the driver side
  * of a call; the traced run therefore tags every job with the innermost
  * open span (a local property, inherited by the threads a streaming
  * query starts) and charges the job's tasks to that span. Everything is
  * kept in memory and written out by [[Main]] when the run ends.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long) {
    var end: Long = 0L
    def seconds: Double = (end - start) / 1e9
  }

  /** Counters for one pass (or for one span within it). */
  final class Agg {
    var jobs, stages, tasks = 0L
    var taskRunMs, taskCpuNs, gcMs, launchMs = 0L
    var shuffleWrite, shuffleRead, shuffleRecords, spillMem, spillDisk = 0L
    var inputBytes, inputRows, scanTaskMs = 0L
    var outputBytes, outputRows, outputFiles = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var queries = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var cacheNow, cachePeak = 0L
    val etlRows = mutable.Map.empty[String, Long]
    val etlReports = mutable.Map.empty[String, Long]
    val triggers = mutable.ArrayBuffer.empty[Map[String, Long]]
    var stateRows, stateBytes, stateCommitMs = 0L
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  @volatile private var pass = 0
  private val byPass = mutable.Map.empty[Int, Agg]
  private val bySpan = mutable.Map.empty[Int, Agg]
  private val stageOwner = new ConcurrentHashMap[Int, (Int, Int)]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Int, Long)]()
  private val rddBlocks = mutable.Map.empty[String, Long]

  private def agg(p: Int): Agg = byPass.synchronized(byPass.getOrElseUpdate(p, new Agg))
  private def spanAgg(s: Int): Agg = bySpan.synchronized(bySpan.getOrElseUpdate(s, new Agg))
  def passAgg(p: Int): Agg = agg(p)

  /** Start pass `p` (the first [[Main.WarmupPasses]] are untimed). Jobs
    * launched from now on carry it. */
  def beginPass(p: Int): Unit = {
    pass = p
    spark.sparkContext.setLocalProperty(PassProp, p.toString)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.length, name, open.headOption.fold(-1)(_.id), pass, System.nanoTime())
      spans += s
      open ::= s
      sc.setLocalProperty(SpanProp, s.id.toString)
      sc.setJobDescription(name)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
        sc.setJobDescription(open.headOption.map(_.name).orNull)
      }
    }

  /** Jobs, tasks and task time charged to span `id` and every span under it. */
  def spanTotals(id: Int): (Long, Long, Long, Long) = {
    val ids = descendants(id)
    bySpan.synchronized {
      val as = ids.flatMap(bySpan.get)
      (as.map(_.jobs).sum, as.map(_.tasks).sum, as.map(_.taskRunMs).sum,
        as.map(_.outputBytes).sum)
    }
  }

  private def descendants(id: Int): Seq[Int] =
    id +: spans.filter(_.parent == id).toSeq.flatMap(s => descendants(s.id))

  /** Wait until every started job has ended and the listener queues have
    * had time to deliver the rest of this pass's events. */
  def drain(): Unit = if (on) {
    val deadline = System.nanoTime() + 5000000000L
    while (!jobStart.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  private def owner(props: java.util.Properties): (Int, Int) =
    if (props == null) (pass, -1)
    else (Option(props.getProperty(PassProp)).fold(pass)(_.toInt),
      Option(props.getProperty(SpanProp)).fold(-1)(_.toInt))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (p, s) = owner(e.properties)
      jobStart.put(e.jobId, (p, s, e.time))
      e.stageIds.foreach(id => stageOwner.putIfAbsent(id, (p, s)))
      agg(p).synchronized(agg(p).jobs += 1)
      if (s >= 0) spanAgg(s).synchronized(spanAgg(s).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = jobStart.remove(e.jobId)
      if (st != null) { val a = agg(st._1); a.synchronized(a.jobSpans += ((st._3, e.time))) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val o = owner(e.properties)
      stageOwner.put(e.stageInfo.stageId, o)
      val a = agg(o._1); a.synchronized(a.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val (p, s) = Option(stageOwner.get(e.stageId)).getOrElse((pass, -1))
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime
        - m.resultSerializationTime - (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
      val targets = Seq(agg(p)) ++ (if (s >= 0) Seq(spanAgg(s)) else Nil)
      targets.foreach { a =>
        a.synchronized {
          a.tasks += 1
          a.taskRunMs += m.executorRunTime
          a.taskCpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.launchMs += m.executorDeserializeTime + delay
          a.taskMs += info.duration
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spillMem += m.memoryBytesSpilled
          a.spillDisk += m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRows += m.inputMetrics.recordsRead
          if (m.inputMetrics.bytesRead > 0) a.scanTaskMs += m.executorRunTime
          a.outputBytes += m.outputMetrics.bytesWritten
          a.outputRows += m.outputMetrics.recordsWritten
          if (m.outputMetrics.bytesWritten > 0) a.outputFiles += 1
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) rddBlocks.synchronized {
        if (b.storageLevel.isValid) rddBlocks(b.blockId.name) = b.memSize
        else rddBlocks.remove(b.blockId.name)
        val a = agg(pass)
        a.cacheNow = rddBlocks.values.sum
        a.cachePeak = math.max(a.cachePeak, a.cacheNow)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).fold(0L)(_.durationMs)
      val a = agg(pass)
      a.synchronized {
        a.queries += 1
        a.analysisMs += ms("analysis")
        a.optimizationMs += ms("optimization")
        a.planningMs += ms("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Micro-batch progress; registered in untraced runs too, because the
    * stream workload's batch time comes from it. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val pr = e.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val a = agg(pass)
      a.synchronized {
        a.triggers += d
        pr.stateOperators.foreach { so =>
          a.stateRows = math.max(a.stateRows, so.numRowsTotal)
          a.stateBytes = math.max(a.stateBytes, so.memoryUsedBytes)
          a.stateCommitMs += so.commitTimeMs
        }
      }
    }
  }

  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    // the program reports an observation once per action that reads it
    // (a cached frame's count arrives again with every later action), so
    // keep the value and count the reports
    graft.etl.EtlMetrics.onMetrics(spark) { (name, rows) =>
      val a = agg(pass)
      a.synchronized {
        a.etlRows(name) = rows
        a.etlReports(name) = a.etlReports.getOrElse(name, 0L) + 1
      }
    }
  }

  /** Driver JVM garbage-collection time so far, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

object Tracer {
  val SpanProp = "perfbench.span"
  val PassProp = "perfbench.pass"
}
