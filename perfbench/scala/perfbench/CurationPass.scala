package perfbench

import graft.functions.{Curation, TextAnalysis}
import graft.operators.{Dedup, Similarity, Stats => GStats}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** The data-volume workload: one LLM-data curation pass per cycle over a
  * seeded corpus with planted exact and near duplicates, embeddings with
  * planted near-copies, and an event log. Executor- and shuffle-bound;
  * each step is one timed op. */
final class CurationPass(ctx: Ctx) extends Workload {
  private val nDocs = 4000
  private val nVecs = 1500
  private val nEvents = 50000
  private val nQueries = 16
  private val spark = ctx.spark
  private var corpus: Gen.Corpus = _
  private var vecs: IndexedSeq[Gen.Vec] = IndexedSeq.empty
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var events: DataFrame = _
  private var passes = 0L
  private var inputDir = ctx.dir

  /** One recorded output per step per pass. */
  private final case class Out(op: Long, pass: String, step: String, value: Any)
  private val outs = ArrayBuffer[Out]()

  def generate(rep: Int): Unit = {
    val d = ctx.path(s"inputs/cur$rep")
    inputDir = d
    corpus = Gen.corpus(ctx.seed, nDocs)
    vecs = Gen.vectors(ctx.seed, nVecs)._1
    val ev = Gen.events(ctx.seed, nEvents, users = 5000)
    spark.createDataFrame(
      java.util.Arrays.asList(corpus.docs.map(x =>
        Row(x.id, x.text, x.lang, x.source, x.text.length.toLong)): _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .repartition(ctx.cores).write.parquet(d.resolve("documents.parquet").toString)
    spark.createDataFrame(java.util.Arrays.asList(vecs.map(x => Row(x.id, x.v.toSeq, x.label)): _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, false)), StructField("label", IntegerType))))
      .repartition(ctx.cores).write.parquet(d.resolve("embeddings.parquet").toString)
    spark.createDataFrame(java.util.Arrays.asList(ev.map(e => Row(e.id, e.user, e.kind, e.value)): _*),
      StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))))
      .repartition(ctx.cores).write.parquet(d.resolve("events.parquet").toString)
    docs = spark.read.parquet(d.resolve("documents.parquet").toString)
    emb = spark.read.parquet(d.resolve("embeddings.parquet").toString)
    events = spark.read.parquet(d.resolve("events.parquet").toString)
  }

  def warmUp(): Unit = pass("warm", record = false)

  def cycle(i: Int): Unit = pass(s"${if (ctx.traced) "t" else "u"}$i", record = true)

  def items: Long = passes * nDocs

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(df.columns.map(col): _*),
      lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def pass(tag: String, record: Boolean): Unit = {
    def step(name: String)(f: => Any): Unit =
      if (!record) f
      else ctx.op("op")(ctx.span(name)(f)).foreach(v => outs += Out(ctx.lastOpId, tag, name, v))
    step("operators.Dedup.exactDedup") {
      val r = Dedup.exactDedup(docs, "doc_id", "text")
        .agg(count(lit(1)), sum("doc_id"), sum("dup_count")).head()
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    step("functions.TextAnalysis.quality") {
      val q = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      q.groupBy("lang_id").agg(count(lit(1)),
          sum(pmod(xxhash64(col("doc_id"), col("quality")), lit(2147483647L))))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    step("operators.Dedup.minhashNearDups") {
      Dedup.minhashNearDups(docs, "doc_id", "text").select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    step("functions.Curation.chunkDocuments") {
      val r = Curation.chunkDocuments(docs, "doc_id", "text")
        .agg(count(lit(1)), sum("chunk_tokens")).head()
      Seq(r.getLong(0), r.getLong(1))
    }
    step("functions.Curation.dsirSelect") {
      digest(Curation.dsirSelect(docs, "doc_id", "text", col("source") === "src0"))
    }
    step("operators.Stats.ksTest") {
      val r = GStats.ksTest(docs, "n_chars", "source", "src0", "src1").head()
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    step("operators.Stats.giniConcentration") {
      val r = GStats.giniConcentration(events, "user_id").head()
      Seq(r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    step("operators.Similarity.bruteForceTopKBatch") {
      Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < nQueries), "vec_id", 10)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }
    if (record) passes += 1
  }

  /** Plain-Scala recomputations from the generator's own data. The steps
    * that are plain SQL are also recomputed by DuckDB after the run
    * (check_curation.py), from the facts written here. */
  def check(): Unit = {
    val docsById = corpus.docs.map(d => d.id -> d).toMap
    def words(t: String) = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").split(" ").filter(_.nonEmpty)
    def shingles(t: String): Set[String] = words(t).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    def jaccard(a: Long, b: Long) = {
      val (x, y) = (shingles(docsById(a).text), shingles(docsById(b).text))
      (x & y).size.toDouble / (x | y).size
    }
    val langs = corpus.docs.groupBy { d =>
      val ws = words(d.text)
      val hits = TextAnalysis.LangMarkers.map { case (l, ms) => ws.count(ms.contains) -> l }
      hits.foldLeft((0, "und")) { case ((bs, bl), (s, l)) => if (s > bs) (s, l) else (bs, bl) }._2
    }.map { case (l, ds) => l -> ds.length.toLong }
    val exactKnn = (0L until nQueries).map { q =>
      val qv = vecs(q.toInt).v
      q -> vecs.map(v => v.id -> Gen.cosine(v.v, qv)).sortBy(x => (-x._2, x._1)).take(10)
    }.toMap
    val first = scala.collection.mutable.Map[String, Any]()
    outs.foreach { o =>
      def bad(msg: String) = ctx.fail(o.op, s"${o.pass}/${o.step}: $msg")
      // every pass must reproduce the first pass's output exactly
      first.get(o.step) match {
        case Some(v) if v != o.value => bad("differs from the first pass")
        case None => first(o.step) = o.value
        case _ =>
      }
      (o.step, o.value) match {
        case ("operators.Dedup.exactDedup", Seq(n: Long, _, total: Long)) =>
          if (n != nDocs - corpus.exactCopies || total != nDocs)
            bad(s"$n groups over $total docs, expected ${nDocs - corpus.exactCopies} over $nDocs")
        case ("functions.TextAnalysis.quality", m: Map[_, _]) =>
          val got = m.asInstanceOf[Map[String, (Long, Long)]].map { case (k, v) => k -> v._1 }
          if (got != langs) bad(s"language counts $got, expected $langs")
        case ("operators.Dedup.minhashNearDups", pairs: Set[_]) =>
          val ps = pairs.asInstanceOf[Set[(Long, Long)]]
          val found = corpus.nearPairs.count { case (a, b) => ps.contains((math.min(a, b), math.max(a, b))) }
          if (found < 0.95 * corpus.nearPairs.length)
            bad(s"found $found of ${corpus.nearPairs.length} planted near-duplicate pairs")
          ps.find { case (a, b) => jaccard(a, b) < 0.8 }
            .foreach(p => bad(s"pair $p has Jaccard ${jaccard(p._1, p._2)} < 0.8"))
        case ("functions.Curation.dsirSelect", (n: Long, _)) =>
          if (n != 100) bad(s"$n rows, expected 100")
        case ("operators.Similarity.bruteForceTopKBatch", m: Map[_, _]) =>
          val got = m.asInstanceOf[Map[Long, Set[Long]]]
          exactKnn.foreach { case (q, top) =>
            val want = top.map(_._1).toSet
            // ids whose cosine ties the 10th within float error may swap
            val edge = top.last._2
            val diff = got.getOrElse(q, Set.empty[Long]) diff want
            if (got.getOrElse(q, Set.empty[Long]).size != 10 || diff.exists { id =>
                math.abs(Gen.cosine(vecs(id.toInt).v, vecs(q.toInt).v) - edge) > 1e-6 })
              bad(s"query $q: top-10 ${got.get(q)} differs from exact $want")
          }
        case _ =>
      }
    }
    val facts = first.filter { case (step, _) => Set("operators.Dedup.exactDedup",
      "functions.Curation.chunkDocuments", "operators.Stats.ksTest",
      "operators.Stats.giniConcentration").contains(step) }
    val opOf = outs.groupBy(_.step).map { case (s, os) => s -> os.head.op }
    Files.writeString(ctx.path("curation_facts.json"), Json.render(Map(
      "facts" -> facts, "inputs" -> inputDir.toString,
      "ops" -> opOf)))
  }

  def corrupt(): Unit = {
    val i = outs.indexWhere(_.step == "operators.Dedup.exactDedup")
    if (i >= 0) outs(i) = outs(i).copy(value = Seq(-1L, 0L, 0L))
  }

  def named(): Map[String, Any] = Map(
    "curation.pass_s" -> Stats.timing(ctx.samples.getOrElse("cycle", Nil).toSeq),
    "curation.step_s" -> Stats.timing(ctx.samples.getOrElse("op", Nil).toSeq))

  def perLayer(t: Tracer): Map[String, Double] = {
    val passesT = math.max(1, ctx.tracedSamples.getOrElse("cycle", Nil).length)
    def per(name: String) = Layers.byName(t, name).map(_.wallS).sum / passesT
    val all = Layers.sum(t.spans.filter(_.parent < 0).map(t.counters(_)).toSeq)
    val wall = ctx.tracedSamples.getOrElse("cycle", Nil).sum
    Map(
      "curation.Dedup.exact_s" -> per("operators.Dedup.exactDedup"),
      "curation.Dedup.minhash_s" -> per("operators.Dedup.minhashNearDups"),
      "curation.TextAnalysis.quality_s" -> per("functions.TextAnalysis.quality"),
      "curation.Curation.chunk_s" -> per("functions.Curation.chunkDocuments"),
      "curation.Curation.dsir_s" -> per("functions.Curation.dsirSelect"),
      "curation.Stats.ks_s" -> per("operators.Stats.ksTest"),
      "curation.Stats.gini_s" -> per("operators.Stats.giniConcentration"),
      "curation.Similarity.knn_batch_s" -> per("operators.Similarity.bruteForceTopKBatch"),
      "curation.task_s" -> all.taskS / passesT,
      "curation.cpu_s" -> all.cpuS / passesT,
      "curation.gc_s" -> all.gcS / passesT,
      "curation.shuffle_write_mb" -> all.shuffleWriteMb / passesT,
      "curation.spill_mb" -> all.spillMb / passesT,
      "curation.executor_busy_share" -> all.taskS / math.max(1e-9, wall * ctx.cores),
      "curation.max_task_skew" -> all.maxTaskSkew)
  }
}
