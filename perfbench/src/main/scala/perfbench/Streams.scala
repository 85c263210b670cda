package perfbench

import graft.Tables
import graft.pipeline.Packing
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.sql.Timestamp
import scala.collection.mutable

/** The `event_stream` workload. One feeder thread replays the events
  * through `EventStreams.dedupStream` and `EventStreams.sessionizeStream`
  * and the documents through `Packing.packStream`, in fixed-size
  * MemoryStream batches, on queries that stay up for the whole run. An
  * operation sample is one micro-batch: `addData` until the batch has
  * been processed. Replay r shifts every timestamp by r table spans (plus
  * the session gap) and every document id by r id spans, so the
  * watermark and the packer's cursors keep moving.
  *
  * Checks, after each stream's replay and outside the timed batches:
  *  - dedup emits exactly the batch distinct-content count per replay
  *    (content is tagged with the replay, and the watermark delay is one
  *    shift, so no replay's state is evicted before it ends);
  *  - sessionize emits the batch `sessionize` session count per replay,
  *    less one still-open session per user in the first replay;
  *  - pack emits one row per non-empty document, and in the first replay
  *    exactly the rows of the batch `Packing.chunkPack`. */
final class Streams(spark: SparkSession, dir: String, ops: Seq[Op], corrupt: Option[String])
    extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val eventBatch = 5000
  private val docBatch = 500
  private val gapMs = 3600000L
  private val budget = 2048
  private val shards = 32

  private val events: Array[(Long, Long, Double)] = Tables.events(spark, dir)
    .select(col("user_id").cast("long"), col("eps_us").cast("long"), col("value").cast("double"))
    .as[(Long, Long, Double)].collect().sortBy(e => (e._2, e._1))
  private val docs: Array[(Long, String)] = Tables.documents(spark, dir)
    .select(col("doc_id").cast("long"), col("text")).as[(Long, String)].collect().sortBy(_._1)
  private val dayUs = 86400L * 1000000L
  private val shiftUs =
    ((events.last._2 - events.head._2 + gapMs * 1000L) / dayUs + 1) * dayUs
  private val idShift = docs.last._1 + 1

  // batch counterparts of the three streams
  private val staticEvents = Tables.events(spark, dir)
  // dropDuplicatesWithinWatermark is stream-only; its batch meaning is dropDuplicates
  private val distinctPerReplay = staticEvents
    .withColumn("content", col("value").cast("string")).dropDuplicates("content").count()
  private val sessionsPerReplay = EventStreams.sessionize(staticEvents, gapMs).count()
  private val users = events.map(_._1).distinct.length.toLong
  private def batchPack: DataFrame =
    Packing.chunkPack(Tables.documents(spark, dir), "doc_id", "text", budget, shards)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("tok_start"),
        col("seq_first"), col("seq_last"))
  private val packedPerReplay = batchPack.count()

  private val dedupIn = MemoryStream[(Timestamp, Long, Double, Int)]
  private val sessionIn = MemoryStream[(Long, Long, Double)]
  private val packIn = MemoryStream[(Long, String)]

  private def start(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode("append").start()

  private val queries: Map[String, StreamingQuery] = Map(
    "dedup_stream" -> start(EventStreams.dedupStream(
      dedupIn.toDF().toDF("ts", "user_id", "value", "r")
        .withColumn("content", concat_ws(":", col("r"), col("value"))),
      "content", "ts", watermark = s"${shiftUs / 1000000L} seconds"), "pb_dedup_stream"),
    "sessionize_stream" -> start(EventStreams.sessionizeStream(
      sessionIn.toDF().toDF("user_id", "eps_us", "value"), gapMs), "pb_sessionize_stream"),
    "pack_stream" -> start(Packing.packStream(
      packIn.toDF().toDF("doc_id", "text"), "doc_id", "text", budget, shards), "pb_pack_stream"))

  private val emitted = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private var replay = 0
  private val feedS = mutable.ArrayBuffer.empty[Double]

  /** The rows `op` should emit in replay `r`. */
  private def expectedRows(op: String, r: Int): Long = op match {
    case "dedup_stream" => distinctPerReplay
    case "sessionize_stream" => if (r == 0) sessionsPerReplay - users else sessionsPerReplay
    case "pack_stream" => packedPerReplay
  }

  /** Feed one replay of `op`'s input, timing each micro-batch; returns
    * the check's error, if any. */
  private def feed(op: Op, rec: Option[Recorder]): (Int, Double, Option[String]) = {
    val r = replay
    val q = queries(op.name)
    val batches: Seq[() => Unit] = op.name match {
      case "dedup_stream" => events.grouped(eventBatch).toSeq.map { b => () =>
        dedupIn.addData(b.toIndexedSeq.map { case (u, e, v) =>
          (new Timestamp((e + r * shiftUs) / 1000L), u, v, r) }) }
      case "sessionize_stream" => events.grouped(eventBatch).toSeq.map { b => () =>
        sessionIn.addData(b.toIndexedSeq.map { case (u, e, v) => (u, e + r * shiftUs, v) }) }
      case "pack_stream" => docs.grouped(docBatch).toSeq.map { b => () =>
        packIn.addData(b.toIndexedSeq.map { case (id, t) => (id + r * idShift, t) }) }
    }
    val t0 = System.nanoTime()
    batches.foreach { add =>
      def body: Long = { add(); q.processAllAvailable(); 0L }
      rec match {
        case Some(rc) => rc.timed(op)(body)(_ => None)
        case None => body
      }
    }
    val fed = (System.nanoTime() - t0) / 1e9
    val total = spark.table(q.name).count()
    val got = total - emitted(op.name) + (if (corrupt.contains(op.name)) 1 else 0)
    emitted(op.name) = total
    val want = expectedRows(op.name, r)
    (batches.length, fed, if (got == want) None else Some(s"emitted $got rows, batch counterpart gives $want"))
  }

  /** Untimed replays before the timed ones, all count-checked and the
    * first also row-checked. Replay 1 is the first to close sessions and
    * evict dedup state, and the micro-batch path keeps getting faster for
    * some twenty batches per stream, so the timed replays run in the
    * steady state. */
  private val warmupReplays = 3

  def verify(): Map[String, Any] = {
    val errors = mutable.LinkedHashMap.empty[String, Option[String]]
    for (r <- 0 until warmupReplays) {
      ops.foreach { op =>
        val (_, _, err) = feed(op, None)
        val rowErr = if (r > 0 || op.name != "pack_stream") None else {
          val streamed = spark.table("pb_pack_stream")
          val diff = streamed.exceptAll(batchPack).count() + batchPack.exceptAll(streamed).count()
          if (diff == 0) None else Some(s"$diff rows differ from Packing.chunkPack")
        }
        errors(op.name) = errors.getOrElse(op.name, None).orElse(err).orElse(rowErr)
      }
      replay += 1
    }
    ops.map { op =>
      op.name -> (errors(op.name) match {
        case None => Map("rows" -> expectedRows(op.name, 0))
        case Some(e) => Map("error" -> e)
      })
    }.toMap
  }

  def pass(rec: Recorder): Unit = {
    var fed = 0.0
    ops.foreach { op =>
      val (n, secs, err) = feed(op, Some(rec))
      fed += secs
      err.foreach(rec.fail(op, n, _))
    }
    feedS += fed
    replay += 1
  }

  override def extra: Map[String, Any] = {
    val res = Map(
      "rows_per_replay" -> (2L * events.length + docs.length),
      "feed_s" -> feedS.toSeq,
      "event_batch" -> eventBatch, "doc_batch" -> docBatch,
      "replays" -> replay)
    queries.values.foreach(_.stop())
    res
  }
}
