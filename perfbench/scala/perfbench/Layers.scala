package perfbench

import scala.collection.mutable.LinkedHashMap

/** Derives the per-layer metrics and the layer table from a traced phase. */
object Layers {
  /** Top-level layers of graft, named after its packages. */
  val Names = Seq("sources", "model", "operators", "functions", "plans", "streaming")

  /** Every per-layer metric the benchmark prints, in order. A workload
    * that does not exercise a layer reports 0 for it. */
  val Keys: Seq[String] =
    Names.flatMap(l => Seq("wall_s", "jobs", "plan_s", "task_s", "driver_gap_s")
      .map(m => s"layers.$l.$m")) ++
    Seq("trace.coverage", "trace.overhead_share") ++
    Seq("etl.sources.read_s", "etl.TransformEngine.transform_s", "etl.Contract.validate_s",
      "etl.Exporter.write_s", "etl.Combiner.combine_s", "etl.jobs_per_file",
      "etl.plan_s_per_file", "etl.driver_gap_s_per_file") ++
    Seq("Dedup.exact", "Dedup.minhash", "TextAnalysis.quality", "Curation.chunk",
      "Curation.dsir", "Stats.ks", "Stats.gini", "Similarity.knn_batch").map(s => s"curation.${s}_s") ++
    Seq("task_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "executor_busy_share",
      "max_task_skew").map(s => s"curation.$s") ++
    Seq("dedupe", "timeout_sessions", "attribution", "inc_agg", "file_sessions")
      .map(s => s"stream.EventStream.${s}_s") ++
    Seq("stream.batch.query_planning_p50_s", "stream.batch.add_batch_p50_s",
      "stream.batch.wal_commit_p50_s", "stream.batch.get_batch_p50_s",
      "stream.empty_batch_share", "stream.state_rows", "stream.state_mem_mb")

  def counterMap(c: Counters): LinkedHashMap[String, Any] = LinkedHashMap(
    "wall_s" -> c.wallS, "self_s" -> c.selfS, "jobs" -> c.jobs, "stages" -> c.stages,
    "tasks" -> c.tasks, "actions" -> c.actions, "plan_s" -> c.planS, "task_s" -> c.taskS,
    "cpu_s" -> c.cpuS, "gc_s" -> c.gcS, "shuffle_write_mb" -> c.shuffleWriteMb,
    "shuffle_read_mb" -> c.shuffleReadMb, "fetch_wait_s" -> c.fetchWaitS,
    "spill_mb" -> c.spillMb, "input_mb" -> c.inputMb, "input_records" -> c.inputRecords,
    "output_mb" -> c.outputMb, "catalog_ddl" -> c.catalogDdl,
    "driver_gap_s" -> c.driverGapS, "max_task_skew" -> c.maxTaskSkew)

  def sum(cs: Seq[Counters]): Counters = Counters(
    cs.map(_.wallS).sum, cs.map(_.selfS).sum, cs.map(_.jobs).sum, cs.map(_.stages).sum,
    cs.map(_.tasks).sum, cs.map(_.actions).sum, cs.map(_.planS).sum, cs.map(_.taskS).sum,
    cs.map(_.cpuS).sum, cs.map(_.gcS).sum, cs.map(_.shuffleWriteMb).sum,
    cs.map(_.shuffleReadMb).sum, cs.map(_.fetchWaitS).sum, cs.map(_.spillMb).sum,
    cs.map(_.inputMb).sum, cs.map(_.inputRecords).sum, cs.map(_.outputMb).sum,
    cs.map(_.catalogDdl).sum, cs.map(_.driverGapS).sum,
    if (cs.isEmpty) 1.0 else cs.map(_.maxTaskSkew).max)

  /** A span's own share: its counters minus those of its child spans, so
    * that a layer nested inside another (sources inside plans) is charged
    * once. Every field but the skew is additive over disjoint intervals. */
  def exclusive(t: Tracer, s: Span): Counters = {
    val a = t.counters(s)
    val k = sum(t.children(s).map(t.counters(_)))
    Counters(a.selfS, a.selfS, a.jobs - k.jobs, a.stages - k.stages, a.tasks - k.tasks,
      a.actions - k.actions, a.planS - k.planS, a.taskS - k.taskS, a.cpuS - k.cpuS,
      a.gcS - k.gcS, a.shuffleWriteMb - k.shuffleWriteMb, a.shuffleReadMb - k.shuffleReadMb,
      a.fetchWaitS - k.fetchWaitS, a.spillMb - k.spillMb, a.inputMb - k.inputMb,
      a.inputRecords - k.inputRecords, a.outputMb - k.outputMb, a.catalogDdl - k.catalogDdl,
      a.driverGapS - k.driverGapS, a.maxTaskSkew)
  }

  /** Per layer, the exclusive counters of all its spans. */
  def byLayer(t: Tracer, spans: Seq[Span], layer: String): Counters =
    sum(spans.filter(_.layer == layer).map(exclusive(t, _)))

  /** Summed counters of all spans called `name`. */
  def byName(t: Tracer, name: String): Seq[Counters] =
    t.spans.filter(_.name == name).map(t.counters(_)).toSeq

  def derive(ctx: Ctx, w: Workload): LinkedHashMap[String, Double] = {
    val t = ctx.tracer
    val cycles = math.max(1, ctx.tracedSamples.getOrElse("cycle", Nil).length)
    val top = t.spans.filter(_.parent < 0).toSeq
    val out = LinkedHashMap[String, Double]()
    Keys.foreach(k => out(k) = 0.0)
    Names.foreach { l =>
      val c = byLayer(t, t.spans.toSeq, l)
      out(s"layers.$l.wall_s") = c.wallS / cycles
      out(s"layers.$l.jobs") = c.jobs.toDouble / cycles
      out(s"layers.$l.plan_s") = c.planS / cycles
      out(s"layers.$l.task_s") = c.taskS / cycles
      out(s"layers.$l.driver_gap_s") = c.driverGapS / cycles
    }
    val timedCycles = ctx.tracedSamples.getOrElse("cycle", Nil).sum
    out("trace.coverage") = top.map(_.wallS).sum / math.max(1e-9, timedCycles)
    out("trace.overhead_share") =
      Stats.p50(ctx.tracedSamples.getOrElse("cycle", Nil).toSeq) /
        Stats.p50(ctx.samples.getOrElse("cycle", Nil).toSeq) - 1.0
    w.perLayer(t).foreach { case (k, v) =>
      require(out.contains(k), s"per-layer metric $k is not declared in Layers.Keys")
      out(k) = v
    }
    out
  }

  /** Per layer (exclusive, so layer rows add up to the traced wall) and
    * per span name (inclusive): the counters that tag a layer as
    * driver-bound (driver_gap_s over half the wall) or executor-bound. */
  def table(ctx: Ctx, spans: Seq[Span]): Seq[Map[String, Any]] = {
    if (spans.isEmpty) return Nil
    val t = ctx.tracer
    def row(label: String, c: Counters, calls: Int): Map[String, Any] = {
      val busy = if (c.wallS <= 0) 0.0 else c.taskS / (c.wallS * ctx.cores)
      (counterMap(c) ++ Seq("name" -> label, "calls" -> calls,
        "executor_busy_share" -> busy,
        "bound" -> (if (c.driverGapS > 0.5 * c.wallS) "driver" else "executor"))).toMap
    }
    Names.filter(l => spans.exists(_.layer == l))
      .map(l => row(l, byLayer(t, spans, l), spans.count(_.layer == l))) ++
      spans.map(_.name).distinct.map { n =>
        val ss = spans.filter(_.name == n)
        row(n, sum(ss.map(t.counters(_))), ss.length)
      }
  }
}
