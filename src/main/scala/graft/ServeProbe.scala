package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only serve-path profiler (optimization guide §1): decompose the
  * cascade / hybrid-serve queries into their operator steps under the
  * bench session shape and report wall seconds + JOB COUNT per step —
  * the measurement behind the r16 serve-phase job-count work (the serve
  * wall at sf0.1 is dominated by fixed per-job driver cost, so jobs ARE
  * the unit of optimization, not task time).
  *
  * {{{ sbt "runMain graft.ServeProbe <sfDir> x278" }}}
  */
object ServeProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ServeProbe <sfDir> <x278|x284|x286>")
    val sfDir = args(0)
    val which = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def step(name: String)(f: => Unit): Unit = {
      Thread.sleep(300)
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"STEP $name%-28s ${dt}%7.2fs jobs=${jobs.get() - j0}")
    }

    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    import graft.operators.{Retrieval, Similarity}
    which match {
      case "x278" | "x284" =>
        val tbl = s"graft_probe_${which}_postings"
        val corpus = d.filter(col("doc_id") >= 5)
        step("buildPostingsIndex") {
          Retrieval.buildPostingsIndex(corpus, "doc_id", "text", tbl) }
        step("buildPositionalIndex") {
          Retrieval.buildPositionalIndex(corpus, "doc_id", "text",
            s"${tbl}_pos") }
        step("buildImpactBounds") { Retrieval.buildImpactBounds(spark, tbl) }
        if (which == "x284")
          step("buildBlockMax") {
            Retrieval.buildBlockMax(spark, tbl, nBlocks = 16) }
        step("cascadeTopK+count") {
          Retrieval.cascadeTopK(spark, tbl, d.filter(col("doc_id") < 5),
              "doc_id", "text", k = 5, candN = 20, window = 3)
            .orderBy("query_id", "rank").count() }
        step("cascadeTopK 2nd") {
          Retrieval.cascadeTopK(spark, tbl, d.filter(col("doc_id") < 5),
              "doc_id", "text", k = 5, candN = 20, window = 3)
            .orderBy("query_id", "rank").count() }
      case "x286" =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val feedS = java.nio.file.Files
          .createTempDirectory("graft_probe_feed_s").toString
        step("build: sparse stream") {
          d.filter(col("doc_id") >= 5 && col("doc_id") % 5 =!= 4)
            .repartition(4).write.mode("overwrite").parquet(feedS)
          Retrieval.fileStreamIndexIngest(spark, feedS, "doc_id", "text",
            "graft_probe_x286_postings", boundsBlocks = 16) }
        val feedD = java.nio.file.Files
          .createTempDirectory("graft_probe_feed_d").toString
        step("build: dense stream") {
          emb.select(col("vec_id"), col("label"), col("embedding"))
            .filter(col("vec_id") >= 5 && col("vec_id") % 5 =!= 4)
            .repartition(4).write.mode("overwrite").parquet(feedD)
          Similarity.fileStreamIvfIngest(spark, feedD, "vec_id", "label",
            "embedding", "graft_probe_x286_ivf")
          Similarity.buildIvfCodes(spark, "graft_probe_x286_ivf", "vec_id",
            "label", "embedding") }
        step("serve: bmwTopK") {
          Retrieval.bmwTopK(spark, "graft_probe_x286_postings",
              d.filter(col("doc_id") < 3), "doc_id", "text", k = 20)
            .localCheckpoint(eager = true) }
        step("serve: bmwTopK 2nd") {
          Retrieval.bmwTopK(spark, "graft_probe_x286_postings",
              d.filter(col("doc_id") < 3), "doc_id", "text", k = 20)
            .localCheckpoint(eager = true) }
        step("serve: ivfQuantBatch") {
          Similarity.ivfTopKQuantizedBatch(spark, "graft_probe_x286_ivf",
              "vec_id", "label", "embedding",
              emb.filter(col("vec_id") < 3), "vec_id", k = 20, nprobe = 3,
              rescore = 30)
            .localCheckpoint(eager = true) }
        step("serve: ivfQuantBatch 2nd") {
          Similarity.ivfTopKQuantizedBatch(spark, "graft_probe_x286_ivf",
              "vec_id", "label", "embedding",
              emb.filter(col("vec_id") < 3), "vec_id", k = 20, nprobe = 3,
              rescore = 30)
            .localCheckpoint(eager = true) }
        step("serve: full fused") {
          val sparse = Retrieval.bmwTopK(spark, "graft_probe_x286_postings",
              d.filter(col("doc_id") < 3), "doc_id", "text", k = 20)
            .select(col("query_id"), col("doc_id").as("item"), col("rank"))
          val dense = Similarity.ivfTopKQuantizedBatch(spark,
              "graft_probe_x286_ivf", "vec_id", "label", "embedding",
              emb.filter(col("vec_id") < 3), "vec_id", k = 20, nprobe = 3,
              rescore = 30)
            .select(col("query_id"), col("vec_id").as("item"), col("rank"))
          Retrieval.rrfFuse(Seq(sparse, dense), "query_id", "item", "rank",
              kRrf = 60, topK = 10)
            .localCheckpoint(eager = true) }
      case other => sys.error(s"unknown probe target $other")
    }
    spark.stop()
  }
}
