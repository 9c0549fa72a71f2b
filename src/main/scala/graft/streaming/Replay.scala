package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The one loop behind every replay harness: a bounded input is fed to a
  * streaming query as an ordered list of steps, with `processAllAvailable`
  * after each, so a replay's oracle checks the state path and not only the
  * batch plan.
  *
  * Each replay declares its [[State]] and its [[Flush]]; the session confs
  * follow from those two values alone, and every key is put back exactly as
  * it was (an unset key comes back unset) however the replay ends:
  *
  * {{{
  *   state      flush      shuffle.partitions  no-data batches  state store
  *   Stateless  any        unchanged           unchanged        unchanged
  *   Hdfs       Sentinels  8                   off              unchanged
  *   Hdfs       Watermark  8                   unchanged (on)   unchanged
  *   RocksDb    any        4                   unchanged (on)   RocksDB, changelog checkpointing
  * }}}
  *
  *  - 8 and 4 partitions: a stateful operator commits one state store per
  *    shuffle partition per micro-batch, a fixed cost that does not shrink
  *    with the data, so a small replay at the session default pays it many
  *    times over per batch. Results do not depend on the partition count.
  *  - No-data batches off under `Sentinels`: the no-data batch Spark runs
  *    after each data batch replans and emits nothing when every final
  *    emission comes from a data step; the four sentinel-flushed replays ran
  *    in 0.54-0.78× the time without them.
  *  - Left on under `Watermark`: a window is emitted by the batch AFTER the
  *    one that moved the watermark past it, and after the last step only a
  *    no-data batch can run. Turning them off for x106 lost 13 sessions.
  *  - Left on for `RocksDb`: its replays measured 1.7-2.2× slower with them
  *    off. transformWithState runs only on RocksDB, and changelog
  *    checkpointing makes each commit upload only its delta.
  */
private[graft] object Replay {

  sealed trait State
  case object Stateless extends State
  case object Hdfs extends State
  case object RocksDb extends State

  sealed trait Flush
  /** Every final emission comes from a data step. */
  case object Sentinels extends Flush
  /** Emission needs the no-data batch that follows the last watermark move. */
  case object Watermark extends Flush

  private def confs(state: State, flush: Flush): Seq[(String, String)] = {
    val partitions = "spark.sql.shuffle.partitions"
    state match {
      case Stateless => Nil
      case Hdfs => (partitions -> "8") +: (if (flush == Sentinels)
        Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") else Nil)
      case RocksDb => Seq(partitions -> "4",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true")
    }
  }

  /** Run `body` under the confs of (`state`, `flush`). The prior state is
    * read from `getAll`, which lists only explicitly set keys: `getOption`
    * reports a registered key's default when it is unset. */
  def withConfs[T](spark: SparkSession, state: State, flush: Flush)(body: => T): T = {
    val set = confs(state, flush)
    val prev = spark.conf.getAll
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally set.foreach { case (k, _) =>
      prev.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Collect a replay input with the [[EventStream.ReplayInputMaxRows]]
    * guard: the LIMIT rides into the collect job itself (no extra counting
    * pass), and one row past the cap proves the overflow. */
  def collectBounded[T](ds: Dataset[T], helper: String, maxRows: Int): Array[T] = {
    val cap = EventStream.ReplayInputMaxRows
    require(maxRows >= 1 && maxRows <= cap,
      s"$helper: maxRows=$maxRows out of [1, $cap]")
    val arr = ds.limit(maxRows + 1).collect()
    require(arr.length <= maxRows,
      s"$helper: replay input exceeds maxRows=$maxRows rows. Replay " +
        "harnesses materialize their bounded input on the driver to feed " +
        "micro-batches (verification use); route large streams through " +
        "the production entry point (a pure streaming plan) instead.")
    arr
  }

  def memoryStream[T: Encoder](spark: SparkSession): MemoryStream[T] = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[T]
  }

  /** Steps feeding `mem`: `rows` in order as `batches` data steps of
    * ⌈n/batches⌉ rows, then one step per sentinel batch. */
  def feed[T](mem: MemoryStream[T], rows: Array[T], batches: Int,
      sentinels: Seq[T]*): Seq[() => Any] = {
    val size = math.max(1, math.ceil(rows.length.toDouble / batches).toInt)
    (rows.grouped(size).map(_.toSeq) ++ sentinels)
      .map(b => () => mem.addData(b)).toSeq
  }

  /** Where a finished replay left its results: the memory sink's table
    * (none for a `foreachBatch` replay) and the checkpoint, whose state the
    * `statestore` source reads back. */
  final case class Ran(name: String, ckpt: String)

  /** Build `query` and start it into a memory sink, or into `sink` when
    * given, under the confs of (`state`, `flush`); run `steps` in order,
    * each followed by `processAllAvailable`; stop the query. */
  def run(spark: SparkSession, label: String, state: State, flush: Flush,
      steps: Seq[() => Any], sink: Option[(DataFrame, Long) => Unit] = None)(
      query: => DataFrame): Ran = {
    val name = label + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = java.nio.file.Files.createTempDirectory(label + "_ckpt").toString
    withConfs(spark, state, flush) {
      val writer = query.writeStream.queryName(name)
        .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt)
      val q = sink.fold(writer.format("memory"))(writer.foreachBatch(_)).start()
      try steps.foreach { step => step(); q.processAllAvailable() }
      finally q.stop()
    }
    Ran(name, ckpt)
  }
}
