package perfbench

import graft.streaming.EventStream
import java.nio.file.{Files, Path}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One micro-batch's `StreamingQueryProgress`: `durationMs`, input rows
  * and state-store totals. */
final case class ProgressRec(durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateMemB: Long)

/** The only workload that calls `streaming`: seeded out-of-order events
  * replayed through four MemoryStream replays and the file-source session
  * pipeline. Per-micro-batch planning and state-store work dominate, so the
  * op is one micro-batch, timed by its `triggerExecution` progress. */
final class EventReplay(ctx: Ctx) extends Workload {
  private val nEvents = 6000
  private val users = 150
  private val batches = 3
  private val spark = ctx.spark
  private var truth: IndexedSeq[Gen.Event] = IndexedSeq.empty
  private var events: DataFrame = _
  private var feed: Path = _
  private var replays = 0L

  /** Progress of every micro-batch, tagged with the phase it ran in. */
  private val progress = ArrayBuffer[(Boolean, ProgressRec)]()
  private val pending = ArrayBuffer[ProgressRec]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      pending.synchronized {
        pending += ProgressRec(
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
          p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  })

  private final case class Out(op: Long, tag: String, replay: String, value: Any)
  private val outs = ArrayBuffer[Out]()

  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  private def rows(es: Seq[Gen.Event]) = java.util.Arrays.asList(es.map(e =>
    Row(e.id, new java.sql.Timestamp(e.tsUs / 1000), e.user, e.kind, e.value)): _*)

  def generate(rep: Int): Unit = {
    // java.sql.Timestamp(ms) drops sub-millisecond digits; truncate the
    // ground truth the same way so the plain-Scala references match
    truth = Gen.events(ctx.seed, nEvents, users).map(e => e.copy(tsUs = e.tsUs / 1000 * 1000))
    val d = ctx.path(s"inputs/ev$rep")
    spark.createDataFrame(rows(truth), schema).repartition(ctx.cores)
      .write.parquet(d.resolve("events.parquet").toString)
    events = spark.read.parquet(d.resolve("events.parquet").toString)
    // the file-source feed: one parquet file per micro-batch, in time
    // order by name and modification time, then one far-future sentinel
    // per user so every real session closes
    feed = Files.createDirectories(d.resolve("feed"))
    val distinct = truth.groupBy(_.id).map(_._2.head).toSeq.sortBy(_.tsUs)
    val sentinelUs = distinct.last.tsUs + 3L * 3600 * 1000000
    val sentinels = (1L to users).map(u => Gen.Event(-u, sentinelUs, u, "view", 0.0))
    spark.createDataFrame(rows(distinct), schema).select("ts", "user_id", "value")
      .repartitionByRange(batches, col("ts")).write.parquet(d.resolve("chunks").toString)
    spark.createDataFrame(rows(sentinels), schema).select("ts", "user_id", "value")
      .coalesce(1).write.parquet(d.resolve("sentinels").toString)
    def parts(dir: String) = Files.list(d.resolve(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
    (parts("chunks") ++ parts("sentinels")).zipWithIndex.foreach { case (part, i) =>
      val dst = Files.move(part, feed.resolve(f"part$i%03d.parquet"))
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
  }

  def warmUp(): Unit = { runCycle("warm", record = false); flush() }

  def cycle(i: Int): Unit = {
    runCycle(s"${if (ctx.traced) "t" else "u"}$i", record = true)
    flush().foreach(p => ctx.record("op", p.durations.getOrElse("triggerExecution", 0L) / 1e3))
  }

  private def flush(): Seq[ProgressRec] = {
    PerfbenchBus.drain(spark.sparkContext)
    val got = pending.synchronized { val g = pending.toSeq; pending.clear(); g }
    progress ++= got.map(p => (ctx.traced, p))
    got
  }

  def items: Long = replays * truth.length

  private def runCycle(tag: String, record: Boolean): Unit = {
    def replay(name: String)(f: => Any): Unit = {
      if (!record) f
      else ctx.op("replay")(ctx.span(name)(f)).foreach(v => outs += Out(ctx.lastOpId, tag, name, v))
      if (record) replays += 1
    }
    replay("streaming.EventStream.dedupeReplay") {
      val out = EventStream.dedupeReplay(spark, events, Seq("event_id"), batches = batches)
      out.select("event_id").agg(count(lit(1)), sum("event_id")).head().toSeq
    }
    replay("streaming.EventStream.sessionizeTimeoutReplay") {
      EventStream.sessionizeTimeoutReplay(spark, events, batches = batches)
        .select(col("user_id"), col("session_id"), col("n_events"),
          unix_micros(col("session_start"))).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    replay("streaming.EventStream.attributionReplay") {
      EventStream.attributionReplay(spark, events, batches = batches)
        .select("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    replay("streaming.EventStream.incrementalAggReplay") {
      EventStream.incrementalAggReplay(spark, events, batches = batches).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).movePointRight(2).longValueExact()))
        .toMap
    }
    replay("streaming.EventStream.sessionWindowPipeline") {
      val run = ctx.path(s"work/$tag")
      EventStream.sessionWindowPipeline(spark, feed.toString, run.resolve("out").toString,
        run.resolve("ckpt").toString)
      spark.read.parquet(run.resolve("out").toString)
        .select(col("user_id"), unix_micros(col("session_start")), unix_micros(col("session_end")),
          col("n_events"), round(col("total_value") * 100).cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    }
  }

  /** Plain-Scala recomputation of each replay from the generator's events. */
  def check(): Unit = {
    val distinct = truth.groupBy(_.id).map(_._2.head).toSeq
    val gapUs = 1800L * 1000000
    // the MemoryStream replays see the duplicates too; only dedupe and
    // the file pipeline (fed distinct events) drop them
    val byUser = truth.groupBy(_.user).map { case (u, es) => u -> es.map(_.tsUs).sorted }
    val timeoutSessions = byUser.toSeq.flatMap { case (u, ts) =>
      val cuts = ts.indices.filter(i => i == 0 || ts(i) - ts(i - 1) > gapUs)
      cuts.zipWithIndex.map { case (c, k) =>
        val end = if (k + 1 < cuts.length) cuts(k + 1) else ts.length
        (u, k + 1L, (end - c).toLong, ts(c))
      }
    }.toSet
    val clicks = truth.filter(_.kind == "click").groupBy(_.user)
    val attribution = truth.filter(_.kind == "purchase").flatMap { p =>
      clicks.getOrElse(p.user, Nil).filter(c => c.tsUs >= p.tsUs - gapUs && c.tsUs <= p.tsUs)
        .map(c => (p.id, c.id))
    }.toSet
    val agg = truth.groupBy(_.kind).map { case (k, es) =>
      k -> (es.length.toLong, es.map(e => math.round(e.value * 100)).sum)
    }
    // session_window: an event joins the session while ts < last + gap
    val windows = distinct.groupBy(_.user).toSeq.flatMap { case (u, es0) =>
      val es = es0.sortBy(_.tsUs)
      val out = ArrayBuffer[(Long, Long, Long, Long, Long)]()
      var start = es.head.tsUs; var last = start; var n = 0L; var cents = 0L
      es.foreach { e =>
        if (e.tsUs >= last + gapUs) {
          out += ((u, start, last + gapUs, n, cents)); start = e.tsUs; n = 0; cents = 0
        }
        last = math.max(last, e.tsUs); n += 1; cents += math.round(e.value * 100)
      }
      out += ((u, start, last + gapUs, n, cents))
      out
    }.toSet
    outs.foreach { o =>
      val want: Any = o.replay match {
        case "streaming.EventStream.dedupeReplay" => Seq(distinct.length.toLong, distinct.map(_.id).sum)
        case "streaming.EventStream.sessionizeTimeoutReplay" => timeoutSessions
        case "streaming.EventStream.attributionReplay" => attribution
        case "streaming.EventStream.incrementalAggReplay" => agg
        case "streaming.EventStream.sessionWindowPipeline" => windows
      }
      if (o.value != want) {
        val detail = (o.value, want) match {
          case (a: Set[Any] @unchecked, b: Set[Any] @unchecked) =>
            s"${a.size} rows vs ${b.size} expected, e.g. ${(a diff b).take(2)} / ${(b diff a).take(2)}"
          case (a, b) => s"$a vs expected $b"
        }
        ctx.fail(o.op, s"${o.tag}/${o.replay}: $detail".take(400))
      }
    }
  }

  def corrupt(): Unit = if (outs.nonEmpty) outs(0) = outs(0).copy(value = Seq(-1L, -1L))

  private def batchStats(traced: Boolean): Seq[ProgressRec] =
    progress.filter(_._1 == traced).map(_._2).toSeq

  def named(): Map[String, Any] = {
    val bs = batchStats(traced = false).map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)
    val cycles = ctx.samples.getOrElse("cycle", Nil)
    Map("stream.events_per_s" -> 5.0 * truth.length * cycles.length / math.max(1e-9, cycles.sum),
      "stream.batch_p50_s" -> Stats.p50(bs), "stream.batch_tail_s" -> Stats.timing(bs),
      "stream.replay_s" -> Stats.timing(ctx.samples.getOrElse("replay", Nil).toSeq))
  }

  def perLayer(t: Tracer): Map[String, Double] = {
    val cycles = math.max(1, ctx.tracedSamples.getOrElse("cycle", Nil).length)
    def per(name: String) = Layers.byName(t, name).map(_.wallS).sum / cycles
    val ps = batchStats(traced = true)
    def p50(k: String) = Stats.p50(ps.map(_.durations.getOrElse(k, 0L) / 1e3))
    Map(
      "stream.EventStream.dedupe_s" -> per("streaming.EventStream.dedupeReplay"),
      "stream.EventStream.timeout_sessions_s" -> per("streaming.EventStream.sessionizeTimeoutReplay"),
      "stream.EventStream.attribution_s" -> per("streaming.EventStream.attributionReplay"),
      "stream.EventStream.inc_agg_s" -> per("streaming.EventStream.incrementalAggReplay"),
      "stream.EventStream.file_sessions_s" -> per("streaming.EventStream.sessionWindowPipeline"),
      "stream.batch.query_planning_p50_s" -> p50("queryPlanning"),
      "stream.batch.add_batch_p50_s" -> p50("addBatch"),
      "stream.batch.wal_commit_p50_s" -> p50("walCommit"),
      "stream.batch.get_batch_p50_s" -> p50("getBatch"),
      "stream.empty_batch_share" -> ps.count(_.inputRows == 0).toDouble / math.max(1, ps.length),
      "stream.state_rows" -> (if (ps.isEmpty) 0.0 else ps.map(_.stateRows).max.toDouble),
      "stream.state_mem_mb" -> (if (ps.isEmpty) 0.0 else ps.map(_.stateMemB).max / 1e6))
  }
}
