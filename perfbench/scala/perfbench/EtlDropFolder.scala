package perfbench

import graft.model.{Template, TemplateCodec}
import graft.operators.{Combiner, Contract, Exporter, HeaderDiff, TransformEngine}
import graft.plans.Pipeline
import graft.sources.TemplateReader
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The paper's own workload: a drop folder of small messy CSV and xlsx
  * files, each taken through `Pipeline.runPipeline` with one template,
  * then the outputs combined with `Combiner.concat` and `Combiner.merge`.
  * Executor work is negligible; per-file time is planning, job submission
  * and commit. */
final class EtlDropFolder(ctx: Ctx) extends Workload {
  private val nFiles = 8
  private val rows = 120
  private val spark = ctx.spark
  private var truth: IndexedSeq[Gen.EtlFile] = IndexedSeq.empty
  private var inputs: Path = _
  private var templateJson = ""

  private final case class FileOut(op: Long, cycle: String, name: String, success: Boolean,
      rowCount: Long, out: Path)
  private final case class CombineOut(op: Long, cycle: String, succeeded: Seq[String],
      sums: Map[String, Double], rows: Long, merged: Long)
  private val fileOuts = ArrayBuffer[FileOut]()
  private val combines = ArrayBuffer[CombineOut]()
  private var processed = 0L

  def generate(rep: Int): Unit = {
    inputs = ctx.path(s"inputs/etl$rep")
    truth = Gen.etlFolder(ctx.seed, inputs, nFiles, rows)
    templateJson = Gen.etlTemplateJson
    Files.writeString(inputs.resolve("drop.df-template.json"), templateJson)
  }

  /** Half the folder (both formats, one quarantined file) compiles every
    * plan shape a full cycle uses. */
  def warmUp(): Unit = runCycle("warm", record = false, take = nFiles / 2)

  def cycle(i: Int): Unit = runCycle(s"${if (ctx.traced) "t" else "u"}$i", record = true)

  def items: Long = processed

  /** `Pipeline.runPipeline`'s stage functions called in its order, each
    * in its own span, so the traced run splits a file's time by layer. */
  private def decomposed(src: Path, t: Template, out: Path, archive: Path,
      quarantine: Path): Pipeline.ProcessResult = ctx.span("plans.Pipeline.runPipeline") {
    val raw = ctx.span("sources.TemplateReader.read")(TemplateReader.read(spark, src, t))
    val (clean, handle) =
      ctx.span("operators.TransformEngine.transform")(TransformEngine.transform(raw, t))
    val validation =
      ctx.span("operators.Contract.validate")(Contract.validate(clean, t, "coerce"))
    val metrics = ctx.span("operators.TransformEngine.metrics")(handle.compute())
    val result0 =
      if (!validation.isValid) Pipeline.ProcessResult(false, "Validation failed.", None,
        validation.rowCount, metrics)
      else Pipeline.ProcessResult(true, "Processing successful.", None,
        validation.data.count(), metrics)
    val failed =
      metrics.get("date_parse_failures").collect { case n: Long => n }.getOrElse(0L) +
      metrics.get("numeric_parse_failures").collect { case n: Long => n }.getOrElse(0L)
    val total = metrics.get("unpivot_after").collect { case (n: Long, _) => n }.getOrElse(0L)
    val result =
      if (result0.success && total > 0 && failed.toDouble / total > 0.1)
        result0.copy(success = false, message = "Quarantine threshold exceeded")
      else result0
    if (result.success) {
      val df = validation.data
      val (missing, extra) = ctx.span("operators.HeaderDiff.check")(
        HeaderDiff.check(df.columns.toSeq, t, false, false))
      ctx.span("operators.Exporter.write") {
        Exporter.writeParquet(df, out)
        Exporter.writeValidationReport(
          out.resolveSibling(out.getFileName.toString + ".validation.txt"),
          result.metrics ++ Map("missing_vs_template" -> missing.mkString(","),
            "extra_vs_template" -> extra.mkString(","), "rows_out" -> result.rowCount))
      }
      ctx.span("operators.Exporter.archive")(Exporter.archive(src, archive))
      result.copy(outputPath = Some(out.toString))
    } else {
      ctx.span("operators.Exporter.quarantine")(Exporter.quarantine(src, result.message,
        quarantine))
      result
    }
  }

  private def runFile(src: Path, t: Template, cdir: Path, traced: Boolean): Pipeline.ProcessResult = {
    val out = cdir.resolve("out").resolve(src.getFileName.toString + ".parquet")
    if (traced) decomposed(src, t, out, cdir.resolve("archive"), cdir.resolve("quarantine"))
    else Pipeline.runPipeline(spark, src, t, out, cdir.resolve("archive"),
      cdir.resolve("quarantine"))
  }

  private def stage(cdir: Path, take: Int = nFiles): Seq[Path] = {
    val in = Files.createDirectories(cdir.resolve("in"))
    truth.take(take).map { f =>
      Files.copy(inputs.resolve(f.name), in.resolve(f.name), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def runCycle(tag: String, record: Boolean, take: Int = nFiles): Unit = {
    val cdir = ctx.path(s"work/$tag")
    val files = stage(cdir, take)
    val t = ctx.span("model.TemplateCodec.parse")(TemplateCodec.parse(templateJson))
    val outs = files.map { src =>
      val r =
        if (record) ctx.op("op")(runFile(src, t, cdir, ctx.traced))
        else Some(runFile(src, t, cdir, traced = false))
      processed += (if (record) 1 else 0)
      r.foreach { res =>
        if (record) fileOuts += FileOut(ctx.lastOpId, tag, src.getFileName.toString,
          res.success, res.rowCount, cdir.resolve("out").resolve(src.getFileName.toString + ".parquet"))
      }
      (src.getFileName.toString, r)
    }
    val ok = outs.collect { case (n, Some(r)) if r.success => (n, r.outputPath.get) }
    require(ok.nonEmpty, "no file of the drop folder succeeded: " +
      outs.map { case (n, r) => s"$n: ${r.map(_.message)}" }.mkString("; "))
    def combine(): CombineOut = ctx.span("operators.Combiner.combine") {
      val frames: Seq[DataFrame] = ok.map(o => spark.read.parquet(o._2))
      val cat = Combiner.concat(frames)
      val agg = cat.groupBy("article_sku")
        .agg(sum("sales_amount").as("s"), count(lit(1)).as("n")).collect()
      val merged = Combiner.merge(frames.take(2), Seq("article_sku", "report_date")).count()
      CombineOut(-1, tag, ok.map(_._1), agg.map(r => r.getString(0) -> r.getDouble(1)).toMap,
        agg.map(_.getLong(2)).sum, merged)
    }
    if (record) ctx.op("combine")(combine()).foreach(c => combines += c.copy(op = ctx.lastOpId))
    else combine()
  }

  def check(): Unit = {
    val byName = truth.map(f => f.name -> f).toMap
    fileOuts.foreach { o =>
      val f = byName(o.name)
      if (o.success == f.quarantined)
        ctx.fail(o.op, s"${o.cycle}/${o.name}: success=${o.success}, expected quarantine=${f.quarantined}")
      else if (o.success && o.rowCount != f.rows.toLong * f.goodMonths.length)
        ctx.fail(o.op, s"${o.cycle}/${o.name}: ${o.rowCount} rows, expected ${f.rows * f.goodMonths.length}")
    }
    combines.foreach { c =>
      val good = c.succeeded.map(byName)
      val expect = good.flatMap(_.sums.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val rowsExpected = good.map(f => f.rows.toLong * f.goodMonths.length).sum
      val mergedExpected = good.take(2) match {
        case Seq(a, b) => (a.sums.keySet & b.sums.keySet).size.toLong *
          (a.goodMonths.toSet & b.goodMonths.toSet).size
        case Seq(a) => a.rows.toLong * a.goodMonths.length
        case _ => 0L
      }
      val badSku = expect.find { case (k, cents) =>
        c.sums.get(k).forall(v => math.abs(v * 100 - cents) > 0.5)
      }
      if (c.succeeded.length != truth.count(!_.quarantined))
        ctx.fail(c.op, s"${c.cycle}: ${c.succeeded.length} files succeeded")
      else if (c.rows != rowsExpected || c.sums.size != expect.size)
        ctx.fail(c.op, s"${c.cycle}: combined ${c.rows} rows / ${c.sums.size} skus, expected $rowsExpected / ${expect.size}")
      else if (badSku.isDefined)
        ctx.fail(c.op, s"${c.cycle}: sales_amount of ${badSku.get._1} is ${c.sums.get(badSku.get._1)}, expected ${badSku.get._2 / 100.0}")
      else if (c.merged != mergedExpected)
        ctx.fail(c.op, s"${c.cycle}: merge gave ${c.merged} rows, expected $mergedExpected")
    }
    // The traced phase composes the stages itself; its outputs must equal
    // runPipeline's on the same files, or the per-layer split is skewed.
    val traced = fileOuts.filter(_.cycle.startsWith("t")).groupBy(_.name).map(_._2.head)
    if (traced.nonEmpty) {
      val cdir = ctx.path("work/reference")
      val files = stage(cdir)
      val t = TemplateCodec.parse(templateJson)
      traced.foreach { o =>
        val ref = runFile(files.find(_.getFileName.toString == o.name).get, t, cdir, traced = false)
        def digest(p: Path) = spark.read.parquet(p.toString)
          .select(sum(pmod(xxhash64(col("*")), lit(2147483647L))), count(lit(1))).head().toString
        if (ref.success != o.success || ref.rowCount != o.rowCount ||
            (o.success && digest(o.out) != digest(java.nio.file.Paths.get(ref.outputPath.get))))
          ctx.fail(o.op, s"${o.cycle}/${o.name}: staged composition differs from runPipeline")
      }
    }
  }

  def corrupt(): Unit =
    if (combines.nonEmpty) {
      val c = combines.head
      val (k, v) = c.sums.head
      combines(0) = c.copy(sums = c.sums.updated(k, v + 1.0))
    }

  def named(): Map[String, Any] = {
    val files = ctx.samples.getOrElse("op", Nil).toSeq
    Map("etl.files_per_s" -> files.length / math.max(1e-9, ctx.samples("cycle").sum),
      "etl.file_p50_s" -> Stats.p50(files), "etl.file_tail_s" -> Stats.timing(files),
      "etl.combine_p50_s" -> Stats.p50(ctx.samples.getOrElse("combine", Nil).toSeq))
  }

  def perLayer(t: Tracer): Map[String, Double] = {
    val files = math.max(1, t.spans.count(_.name == "plans.Pipeline.runPipeline"))
    def perFile(name: String) = Layers.byName(t, name).map(_.wallS).sum / files
    val pipe = Layers.sum(Layers.byName(t, "plans.Pipeline.runPipeline"))
    val comb = Layers.byName(t, "operators.Combiner.combine")
    Map(
      "etl.sources.read_s" -> perFile("sources.TemplateReader.read"),
      "etl.TransformEngine.transform_s" ->
        (perFile("operators.TransformEngine.transform") + perFile("operators.TransformEngine.metrics")),
      "etl.Contract.validate_s" -> perFile("operators.Contract.validate"),
      "etl.Exporter.write_s" -> (perFile("operators.Exporter.write") +
        perFile("operators.Exporter.archive") + perFile("operators.Exporter.quarantine")),
      "etl.Combiner.combine_s" -> Stats.mean(comb.map(_.wallS)),
      "etl.jobs_per_file" -> pipe.jobs.toDouble / files,
      "etl.plan_s_per_file" -> pipe.planS / files,
      "etl.driver_gap_s_per_file" -> pipe.driverGapS / files)
  }
}
