package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Epoch microseconds on the monotonic clock, aligned once with the wall
  * clock so that Spark's millisecond event times and span times compare. */
object Clock {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = base + System.nanoTime() / 1000L
}

/** One call into a graft layer. `name` is `<layer>.<Object>.<op>`; the
  * layer is its first segment. */
final class Span(val id: Int, val name: String, val parent: Int,
    val request: Long, val startUs: Long) {
  var endUs: Long = -1L
  def layer: String = name.takeWhile(_ != '.')
  def wallS: Double = (endUs - startUs) / 1e6
}

/** Counters attached to a span: every Spark event whose time falls inside
  * the span's interval. */
final case class Counters(
    wallS: Double, selfS: Double, jobs: Int, stages: Int, tasks: Long,
    actions: Int, planS: Double, taskS: Double, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, fetchWaitS: Double,
    spillMb: Double, inputMb: Double, inputRecords: Long, outputMb: Double,
    catalogDdl: Int, driverGapS: Double, maxTaskSkew: Double)

final case class StageRec(submitUs: Long, endUs: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long, shufWriteB: Long, shufReadB: Long,
    fetchWaitMs: Long, spillB: Long, inputB: Long, inputRecs: Long,
    outputB: Long, skew: Double)

/** In-memory span recorder plus the listeners that feed it. Spans are cheap
  * (one object per call); the listeners only run while tracing is on, so an
  * untraced run pays nothing. Events are attributed to spans by time after
  * the run, which is exact for a single closed-loop client. Streaming
  * progress comes from the replay workload's own listener, which also
  * times its micro-batches in untraced runs ([[EventReplay]]). */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile private var on = false
  /** The closed-loop client's current request: the cycle index. */
  var request = 0L

  private val jobs = ArrayBuffer[Long]()
  private val stages = ArrayBuffer[StageRec]()
  private val queries = ArrayBuffer[(Long, Double)]()
  private val ddl = ArrayBuffer[Long]()
  private val taskDur = scala.collection.mutable.Map[(Int, Int), ArrayBuffer[Long]]()

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        request, Clock.nowUs)
      spans += s
      stack = s :: stack
      try f finally { s.endUs = Clock.nowUs; stack = stack.tail }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized { jobs += e.time * 1000L }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskDur.synchronized {
      taskDur.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) +=
        e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val durs = taskDur.synchronized {
        taskDur.remove((i.stageId, i.attemptNumber())).getOrElse(ArrayBuffer()).sorted
      }
      val skew = if (durs.isEmpty) 1.0
        else durs.last.toDouble / math.max(1L, durs(durs.length / 2))
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      val rec = StageRec(i.submissionTime.getOrElse(end) * 1000L, end * 1000L,
        i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.inputMetrics.recordsRead,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        skew)
      stages.synchronized { stages += rec }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) Clock.nowUs else phases.map(_.startTimeMs).min * 1000L
      queries.synchronized { queries += ((start, phases.map(_.durationMs).sum / 1000.0)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val catalogListener = new ExternalCatalogEventListener {
    override def onEvent(e: ExternalCatalogEvent): Unit = {
      val n = e.getClass.getSimpleName
      if (!n.endsWith("PreEvent") && (n.startsWith("Create") || n.startsWith("Drop") ||
          n.startsWith("Rename") || n.startsWith("Alter")))
        ddl.synchronized { ddl += Clock.nowUs }
    }
  }

  private def catalog =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.externalCatalog

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    catalog.addListener(catalogListener)
    on = true
  }

  def stop(): Unit = {
    on = false
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    catalog.removeListener(catalogListener)
  }

  /** Counters of the interval [a, b] (µs). */
  def counters(a: Long, b: Long, childIntervals: Seq[(Long, Long)] = Nil): Counters = {
    def in(t: Long) = t >= a && t <= b
    val st = stages.filter(s => in(s.submitUs))
    // time during which at least one stage ran, clipped to the interval
    val busy = union(stages.iterator.map(s => (math.max(a, s.submitUs), math.min(b, s.endUs)))
      .filter(x => x._2 > x._1).toSeq)
    val wall = (b - a) / 1e6
    Counters(
      wallS = wall,
      selfS = wall - union(childIntervals.map(x => (math.max(a, x._1), math.min(b, x._2)))
        .filter(x => x._2 > x._1)) / 1e6,
      jobs = jobs.count(in),
      stages = st.length,
      tasks = st.map(_.tasks.toLong).sum,
      actions = queries.count(q => in(q._1)),
      planS = queries.filter(q => in(q._1)).map(_._2).sum,
      taskS = st.map(_.runMs).sum / 1e3,
      cpuS = st.map(_.cpuNs).sum / 1e9,
      gcS = st.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = st.map(_.shufWriteB).sum / 1e6,
      shuffleReadMb = st.map(_.shufReadB).sum / 1e6,
      fetchWaitS = st.map(_.fetchWaitMs).sum / 1e3,
      spillMb = st.map(_.spillB).sum / 1e6,
      inputMb = st.map(_.inputB).sum / 1e6,
      inputRecords = st.map(_.inputRecs).sum,
      outputMb = st.map(_.outputB).sum / 1e6,
      catalogDdl = ddl.count(in),
      driverGapS = math.max(0.0, wall - busy / 1e6),
      maxTaskSkew = if (st.isEmpty) 1.0 else st.map(_.skew).max)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def counters(s: Span): Counters =
    counters(s.startUs, s.endUs, children(s).map(c => (c.startUs, c.endUs)))

  /** Total length (µs) of a union of intervals. */
  private def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.sortBy(_._1).foreach { case (x, y) =>
      if (x > curB) { if (curB > curA) total += curB - curA; curA = x; curB = y }
      else if (y > curB) curB = y
    }
    if (curB > curA) total += curB - curA
    total
  }
}
