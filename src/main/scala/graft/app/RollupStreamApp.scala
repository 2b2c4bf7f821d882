package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.RollupOps

/** Streaming twin of q118's incremental aggregate maintenance, on the
  * exactly-once chassis IngestDedupApp established: each micro-batch
  * writes ITS OWN rollup + presence directory (`batch_id=N`, overwrite
  * mode — a WAL replay of batch N overwrites the same directory with
  * the same deterministic bytes, so maintenance commutes with replay
  * and nothing double-counts), and the read path merges on read —
  * count/sum/min/max by their monoids, distinct users collapsing
  * across batch directories inside the same countDistinct. Compaction
  * of old batch directories into one is the q77 planner's job; the
  * report is correct with or without it.
  *
  * Exactly-once here needs NO dedup state: the per-batch directory IS
  * the idempotence mechanism (contrast with the admission dedup app,
  * which needs the strict batch-id cut for its read-your-history
  * corpus; a rollup reads only per-batch outputs, never itself).
  */
object RollupStreamApp {

  /** Payload schema of an event record's `data` JSON (`ts_us` = event
    * time in epoch micros). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Decoded event stream off the shardsim source. */
  def eventStream(spark: SparkSession, shardDir: String,
      maxRecordsPerBatch: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream
      .format("graft.sources.shardsim.ShardSimProvider")
      .options(extraOptions)
    maxRecordsPerBatch.foreach(n => reader.option("maxRecordsPerBatch", n))
    reader.load(shardDir)
      .withColumn("payload", from_json(col("data"), eventSchema))
      .select(col("payload.event_id").as("event_id"),
        timestamp_micros(col("payload.ts_us")).as("ts"),
        col("payload.user_id").as("user_id"),
        col("payload.event_type").as("event_type"),
        col("payload.value").as("value"))
  }

  def run(spark: SparkSession, shardDir: String, rollupDir: String,
      checkpointDir: String,
      maxRecordsPerBatch: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty): StreamingQuery =
    eventStream(spark, shardDir, maxRecordsPerBatch, extraOptions)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        RollupOps.dailyRollup(batch)
          .write.mode("overwrite")
          .parquet(s"$rollupDir/rollup/batch_id=$batchId")
        RollupOps.userPresence(batch)
          .write.mode("overwrite")
          .parquet(s"$rollupDir/presence/batch_id=$batchId")
        // the q65 swap maintained alongside: one fixed-size HLL row per
        // (day, type) per batch — at 100 TB the exact presence table is
        // dropped and this sidecar IS the distinct-user state (it
        // replays idempotently like the others: same batch, same bytes)
        RollupOps.approxPresence(batch)
          .write.mode("overwrite")
          .parquet(s"$rollupDir/presence_hll/batch_id=$batchId")
        ()
      }
      .start()

  /** Lists batch directories through Hadoop's FileSystem API, so the
    * rollup dir can live on any supported filesystem (HDFS/S3/local) —
    * java.io.File listing only works locally and returns null elsewhere,
    * silently emptying the report. A missing parent directory (no batch
    * ever committed) is still a legal empty report; anything else
    * surfaces as the FileSystem's own exception. */
  private def readAll(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (!fs.exists(path)) Array.empty[String]
      else fs.listStatus(path)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .map(_.getPath.toString).sorted
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs.toIndexedSeq: _*)
  }

  private val rollupSchema: StructType = StructType(Seq(
    StructField("day", DateType), StructField("event_type", StringType),
    StructField("n_events", LongType), StructField("sum_value", DoubleType),
    StructField("min_value", DoubleType), StructField("max_value", DoubleType)))
  private val presenceSchema: StructType = StructType(Seq(
    StructField("day", DateType), StructField("event_type", StringType),
    StructField("user_id", LongType)))

  /** Merge-on-read report over every maintained batch directory. */
  def report(spark: SparkSession, rollupDir: String): DataFrame =
    RollupOps.rollupReport(
      RollupOps.mergeAll(
        readAll(spark, s"$rollupDir/rollup", rollupSchema)),
      readAll(spark, s"$rollupDir/presence", presenceSchema))

  private val hllSchema: StructType = StructType(Seq(
    StructField("day", DateType), StructField("event_type", StringType),
    StructField("user_sk", BinaryType)))

  /** The 100 TB read path: estimated distinct users from the HLL
    * sidecar, merged across batch directories by sketch union. */
  def approxUsers(spark: SparkSession, rollupDir: String): DataFrame =
    RollupOps.approxUsers(
      RollupOps.mergeApproxPresence(
        readAll(spark, s"$rollupDir/presence_hll", hllSchema)))
      .orderBy("day", "event_type")
}
