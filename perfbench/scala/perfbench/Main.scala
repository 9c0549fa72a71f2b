package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** One workload: a closed loop of cycles with a single client. */
trait Workload {
  /** Writes the seeded inputs into a fresh directory; called several times
    * so set-up is reported as a median. The last call's inputs are used. */
  def generate(rep: Int): Unit
  /** Untimed iterations that let JIT, codegen and caches settle. */
  def warmUp(): Unit
  /** One cycle of the loop; records op samples through the context. */
  def cycle(i: Int): Unit
  /** Input items processed so far (files, documents, events). */
  def items: Long
  /** Compares every recorded output with its expectation; outside timing. */
  def check(): Unit
  /** Tampers with one recorded output, so the self-test can prove that
    * `check` notices. */
  def corrupt(): Unit
  /** Workload-specific end-to-end metrics under their own names. */
  def named(): Map[String, Any]
  /** Workload-specific per-layer metrics derived from the traced phase. */
  def perLayer(t: Tracer): Map[String, Double]
}

/** Run-wide state shared by the workloads: the session, the tracer, op
  * samples of the current phase and the attempted/failed ledger. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: Path,
    val cores: Int, val tracer: Tracer) {
  var traced = false
  val samples = LinkedHashMap[String, ArrayBuffer[Double]]()
  val tracedSamples = LinkedHashMap[String, ArrayBuffer[Double]]()
  var attempted = 0L
  val failures = ArrayBuffer[String]()
  private val failedOps = scala.collection.mutable.Set[Long]()

  def record(kind: String, s: Double): Unit =
    (if (traced) tracedSamples else samples).getOrElseUpdate(kind, ArrayBuffer()) += s

  /** Times `f` as one attempted operation of `kind`; an exception counts
    * as a failed operation and yields None. */
  def op[T](kind: String)(f: => T): Option[T] = {
    val id = attempted
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      record(kind, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case e: Exception =>
        fail(id, s"$kind #$id threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
    }
  }

  def lastOpId: Long = attempted - 1

  def fail(opId: Long, msg: String): Unit = {
    failedOps += opId
    if (failures.length < 50) failures += msg
  }

  def failed: Long = failedOps.size.toLong
  def failedIds: Seq[Long] = failedOps.toSeq.sorted

  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  def path(p: String): Path = dir.resolve(p)
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def p50(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The highest of p99.9/p99/p95/p90/p75 that has at least ten samples
    * beyond it; with fewer than 40 samples none has, and the tail is the
    * maximum (percentile 100). Never p50: a run whose op count crossed 20
    * would otherwise report its median as its tail. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => xs.length * (1 - p / 100.0) >= 10.0 - 1e-9)
    p match {
      case Some(q) => (pct(xs, q), q)
      case None => (if (xs.isEmpty) Double.NaN else xs.max, 100.0)
    }
  }

  def timing(xs: Seq[Double]): Map[String, Any] = {
    val (t, q) = tail(xs)
    Map("p50" -> p50(xs), "tail" -> t, "tail_pct" -> q, "n" -> xs.length)
  }
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => render(other.toString)
  }
}

object Main {
  private def arg(argv: Array[String], name: String): String = {
    val i = argv.indexOf(s"--$name")
    require(i >= 0 && i + 1 < argv.length, s"missing --$name")
    argv(i + 1)
  }

  def session(dir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", dir.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(dir.resolve("rdd-checkpoints").toString)
    s
  }

  /** The drift anchor: a fixed, seed-independent `lineitem`-shaped
    * group-by, timed just before and just after the measured loops. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 600000, 1, 4)
      .select(pmod(col("id") * 7919, lit(3)).as("l_returnflag"),
        (col("id") % 50 + 1).as("l_quantity"),
        (col("id") % 100000 / 100.0).as("l_extendedprice"))
      .groupBy("l_returnflag")
      .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "workload")
    val seed = arg(argv, "seed").toLong
    val seconds = arg(argv, "seconds").toDouble
    val trace = arg(argv, "trace") == "1"
    val dir = Paths.get(arg(argv, "dir")).toAbsolutePath
    val t0Us = arg(argv, "t0-us").toLong
    val cores = arg(argv, "cores").toInt
    val corrupt = arg(argv, "corrupt") == "1"
    val out = Paths.get(arg(argv, "out"))

    val spark = session(dir, cores)
    val result = LinkedHashMap[String, Any]()
    try {
      val bootS = (Clock.nowUs - t0Us) / 1e6
      val ctx = new Ctx(spark, seed, dir, cores, new Tracer(spark))
      val w: Workload = workload match {
        case "etl_dropfolder" => new EtlDropFolder(ctx)
        case "curation" => new CurationPass(ctx)
        case "event_replay" => new EventReplay(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val genS = (0 until 3).map { i =>
        val t = System.nanoTime(); w.generate(i); (System.nanoTime() - t) / 1e9
      }
      val tw = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - tw) / 1e9
      calibrate(spark) // its first run compiles the plan; time the second
      val calibStart = calibrate(spark)

      def loop(): (Double, Long) = {
        val t = System.nanoTime()
        val items0 = w.items
        var i = 0
        while (i == 0 || (System.nanoTime() - t) / 1e9 < seconds) {
          val c = System.nanoTime()
          ctx.tracer.request = i
          w.cycle(i)
          ctx.record("cycle", (System.nanoTime() - c) / 1e9)
          i += 1
        }
        ((System.nanoTime() - t) / 1e9, w.items - items0)
      }
      val (wall, items) = loop()
      var layers = LinkedHashMap[String, Double]()
      var spans: Seq[Span] = Nil
      if (trace) {
        ctx.traced = true
        ctx.tracer.start()
        loop()
        ctx.tracer.stop()
        spans = ctx.tracer.spans.toSeq
        layers = Layers.derive(ctx, w)
      }
      if (corrupt) w.corrupt()
      w.check()
      val calibEnd = calibrate(spark)
      val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

      val op = ctx.samples.getOrElse("op", ArrayBuffer()).toSeq
      val cyc = ctx.samples.getOrElse("cycle", ArrayBuffer()).toSeq
      result ++= Seq(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "env" -> Map("cores" -> cores,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "spark" -> spark.version, "java" -> System.getProperty("java.version"),
          "host" -> java.net.InetAddress.getLocalHost.getHostName,
          "boot_btime" -> bootTime()),
        "drift_anchor_s" -> Map("start" -> calibStart, "end" -> calibEnd),
        "setup" -> Map("boot_s" -> bootS, "gen_s" -> genS, "warm_s" -> warmS,
          "setup_s" -> (bootS + Stats.p50(genS) + warmS)),
        "timed" -> Map("wall_s" -> wall, "cycles" -> cyc.length, "items" -> items,
          "cycle_p50_s" -> Stats.p50(cyc)),
        "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failed_ops" -> ctx.failedIds,
        "failures" -> ctx.failures.toSeq,
        "end_to_end" -> Map(
          "setup_s" -> (bootS + Stats.p50(genS) + warmS),
          "peak_rss_mb" -> peakRssMb,
          "op_p50_s" -> Stats.p50(op),
          "op_tail_s" -> Stats.tail(op)._1,
          "items_per_s" -> items / wall),
        "op" -> Stats.timing(op),
        "named" -> w.named(),
        "per_layer" -> layers,
        "layer_table" -> Layers.table(ctx, spans))
      if (trace) writeSpans(dir.resolve("spans.jsonl"), spans, ctx.tracer)
    } catch {
      case e: Throwable =>
        result ++= Seq("error" -> (e.toString + "\n" +
          e.getStackTrace.take(12).mkString("\n")))
    } finally {
      Files.writeString(out, Json.render(result))
      spark.stop()
    }
  }

  private def bootTime(): Long =
    try scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("btime")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  private def writeSpans(p: Path, spans: Seq[Span], t: Tracer): Unit = {
    val w = Files.newBufferedWriter(p)
    try spans.foreach { s =>
      val c = t.counters(s)
      w.write(Json.render(LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "request" -> s.request, "start_us" -> s.startUs,
        "end_us" -> s.endUs) ++ Layers.counterMap(c)))
      w.write("\n")
    } finally w.close()
  }
}
