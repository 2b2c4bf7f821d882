package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** The reference-equivalent end-to-end consumer (SURVEY §7.2-5): shardsim
  * source → payload decode → per-key stateful counts → idempotent
  * foreachBatch parquet sink, with observable progress.
  *
  * Reference mapping:
  *  - masterLoop / controlLoop (src/Kinesis/Coordination.hs:81-112)
  *    → Spark's MicroBatchExecution trigger loop;
  *  - runWorker per shard (src/Kinesis/Coordination.hs:300-337)
  *    → one task per ShardSimInputPartition, each reading a group of
  *    shards; a batch plans one partition per
  *    `ShardSim.MinRecordsPerPartition` records, at most one per shard and
  *    at most `numPartitions`, so a small batch runs as one task;
  *  - Redis checkpoint (src/Kinesis/Redis.hs) → offset/commit WAL under
  *    `checkpointLocation` (exactly-once, stronger than the reference's
  *    max-acked-seq at-least-once);
  *  - Processor callback (src/Kinesis/Coordination.hs:53) → foreachBatch;
  *  - stats counter + 30s reporter (src/Kinesis/Coordination.hs:92-94)
  *    → StreamingQueryListener progress events.
  */
object ConsumeApp {

  /** Payload schema of the fixture's `data` JSON (FIXTURES.md §2.1). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("ts_us", LongType),
    StructField("props", StringType)))

  /** Decoded stream: shardsim records with the payload parsed into columns
    * (the step the reference never does — recordData stays opaque there). */
  def decodedStream(spark: SparkSession, shardDir: String,
      maxRecordsPerBatch: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream.format("graft.sources.shardsim.ShardSimProvider")
      .options(extraOptions)
    maxRecordsPerBatch.foreach(n => reader.option("maxRecordsPerBatch", n))
    reader.load(shardDir)
      .withColumn("payload", from_json(col("data"), payloadSchema))
      .select(col("shardId"), col("sequenceNumber"),
        col("approximateArrivalTimestamp"),
        col("payload.event_id"), col("payload.user_id"),
        col("payload.event_type"), col("payload.value"),
        timestamp_micros(col("payload.ts_us")).as("ts"))
      // data-quality counters, published per micro-batch through
      // StreamingQueryProgress.observedMetrics (no extra pass: observe()
      // piggybacks on the existing scan)
      .observe("decode",
        count(lit(1)).as("rows"),
        count(when(col("event_id").isNull, 1)).as("decode_failures"),
        approx_count_distinct(col("user_id")).as("approx_users"))
  }

  /** Run the consumer: decode → append raw decoded records to parquet
    * (idempotent per batch id) and maintain per-type running counts.
    * Returns the started query; callers stop it / await termination. */
  def run(spark: SparkSession, shardDir: String, outDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      maxRecordsPerBatch: Option[Long] = None): StreamingQuery = {
    val decoded = decodedStream(spark, shardDir, maxRecordsPerBatch)
    decoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // parquet append keyed by batch dir → replays overwrite, not dup
        batch.write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
  }

  /** The reference's per-record Processor contract
    * (src/Kinesis/Coordination.hs:53,58-75) mapped onto Spark's other sink
    * shape, ForeachWriter: `open(partition, epoch)` ≈ worker start,
    * `process(record)` ≈ the Processor callback, `close` ≈ the `Nothing`
    * end-of-stream flush token. Output files are keyed (epoch, partition)
    * and truncated on open, so an epoch replay after a crash overwrites
    * instead of duplicating — the per-record-ack idempotence analog.
    *
    * Exactly-once caveat: truncate-on-open only covers partitions the
    * replay re-plans. If a replayed epoch planned FEWER partitions than the
    * crashed attempt, a stale high-numbered part file from the dead
    * attempt could survive. The shardsim source plans a batch's partition
    * count from its (start, end) offsets alone, which the offset WAL
    * replays unchanged, so a replay re-plans every partition id and this
    * holds here (which shards share a partition may differ, but every
    * file is rewritten). A production ForeachWriter sink should still
    * stage per-epoch output and commit it atomically (or use foreachBatch,
    * whose batch-dir overwrite has no such edge). */
  class TsvRecordWriter(dir: String)
      extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
    @transient private var w: java.io.BufferedWriter = _
    override def open(partitionId: Long, epochId: Long): Boolean = {
      val p = java.nio.file.Paths.get(dir, f"epoch=$epochId%05d-part=$partitionId%05d.tsv")
      java.nio.file.Files.createDirectories(p.getParent)
      w = java.nio.file.Files.newBufferedWriter(p,
        java.nio.charset.StandardCharsets.UTF_8,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      true
    }
    override def process(r: org.apache.spark.sql.Row): Unit =
      w.write(s"${r.getAs[String]("shardId")}\t${r.getAs[String]("sequenceNumber")}\t${r.getAs[Long]("event_id")}\n")
    override def close(errorOrNull: Throwable): Unit = if (w != null) w.close()
  }

  /** Run the consumer through the ForeachWriter sink (per-record contract)
    * instead of foreachBatch (per-batch contract). */
  def runForeach(spark: SparkSession, shardDir: String, outDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      maxRecordsPerBatch: Option[Long] = None): StreamingQuery =
    decodedStream(spark, shardDir, maxRecordsPerBatch).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreach(new TsvRecordWriter(outDir))
      .start()

  /** Progress reporter — the analog of the reference's live-stats counter
    * (src/Kinesis/Coordination.hs:92-94,336). */
  class ProgressCounter extends StreamingQueryListener {
    @volatile var totalRows: Long = 0L
    @volatile var decodeFailures: Long = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      totalRows += e.progress.numInputRows
      Option(e.progress.observedMetrics.get("decode")).foreach { m =>
        decodeFailures += m.getAs[Long]("decode_failures")
      }
      println(s"[consume] batch=${e.progress.batchId} rows=${e.progress.numInputRows} total=$totalRows")
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val Array(shardDir, outDir, checkpointDir) = args.take(3)
    val spark = graft.core.Sessions.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val counter = new ProgressCounter
    spark.streams.addListener(counter)
    val q = run(spark, shardDir, outDir, checkpointDir)
    q.awaitTermination()
    println(s"[consume] done, total=${counter.totalRows}")
    spark.stop()
  }
}
