package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.llm.{GraphAnnOps, SimilarityOps}

/** Exactly-once STREAMING ingest for the ANN index family — the q160
  * posture applied to embeddings. [[SimilarityOps.appendToTrainedIvfIndex]]
  * (and its PQ/int8 siblings) are flat bucketed APPENDS: correct for a
  * batch pipeline that runs each append once, and exactly wrong under a
  * streaming WAL, where a replayed foreachBatch would append the same
  * batch twice. This app lands each micro-batch as its own
  * `annDir/batch_id=N` partition — vectors assigned under the STORED
  * model inside the batch — so a WAL replay OVERWRITES the same
  * directory idempotently (the IngestDedupApp corpus contract, same
  * checkpoint-binding guard, same read-time takedown log). Serving
  * unions the landed partitions through the tombstones and probes with
  * the standard trained-IVF machinery; the model is immutable state —
  * re-clustering is a rebuild, exactly the writeTrainedIvfIndex
  * contract.
  *
  * 100 TB shape: each batch partition is cid-tagged at write, so a
  * compaction job can fold cold partitions into the bucketed serve
  * layout (`writeParquetBucketed`) whenever partition count grows past
  * the planner's comfort — the LSM story: streams land row-grouped by
  * arrival, maintenance re-sorts by access path. */
object AnnIngestApp {

  /** Payload schema of a vector record's `data` JSON. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def vecStream(spark: SparkSession, shardDir: String,
      maxRecordsPerBatch: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream
      .format("graft.sources.shardsim.ShardSimProvider")
      .options(extraOptions)
    maxRecordsPerBatch.foreach(n => reader.option("maxRecordsPerBatch", n))
    reader.load(shardDir)
      .withColumn("payload", from_json(col("data"), vecSchema))
      .select(col("payload.vec_id").as("vec_id"),
        col("payload.embedding").as("embedding"))
  }

  private def batchDirs(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.toString).sorted
  }

  /** Train and persist the index model BEFORE streaming (parquet under
    * `annDir/model` — the stream assigns against it; it never
    * retrains). Sampled trainer by default: the ingest posture is
    * exactly the 100 TB regime the cap exists for. */
  def trainModel(spark: SparkSession, annDir: String, em: DataFrame,
      cap: Int = 100000): Unit =
    SimilarityOps.kmeansCentroidsSampled(em, cap)
      .write.mode("overwrite").parquet(s"$annDir/model")

  def model(spark: SparkSession, annDir: String): DataFrame =
    spark.read.parquet(s"$annDir/model")

  /** Start the ingest stream: per micro-batch, assign under the stored
    * model and land `annDir/batch_id=N` idempotently. */
  def run(spark: SparkSession, shardDir: String, annDir: String,
      checkpointDir: String, maxRecordsPerBatch: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty,
      rebind: Boolean = false): StreamingQuery = {
    graft.streaming.CheckpointBinding.bind(spark, annDir, checkpointDir,
      rebind, batchDirs(spark, annDir).nonEmpty)
    val m = model(spark, annDir).localCheckpoint()
    vecStream(spark, shardDir, maxRecordsPerBatch, extraOptions)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // cq rides the same partition: int8 encode is a pure projection
        // (SimilarityOps.int8Encode), so quantized serving gets the
        // exactly-once discipline for free instead of a second landing
        SimilarityOps.int8Encode(SimilarityOps.assignUnderModel(batch, m))
          .select(col("vec_id"), col("embedding"), col("cid"), col("cq"))
          .write.mode("overwrite").parquet(s"$annDir/batch_id=$batchId")
      }
      .start()
  }

  /** Read-time takedown: append ids to `annDir/takedown` — landed
    * batch partitions are immutable WAL state, removal applies at
    * serve (the IngestDedupApp / TakedownOps tombstone posture;
    * replayed appends distinct-fold at read). */
  def takedown(spark: SparkSession, annDir: String, ids: DataFrame): Unit =
    ids.select(col("vec_id")).write.mode("append")
      .parquet(s"$annDir/takedown")

  /** The live index: union of landed batch partitions minus the
    * takedown log. Rows carry (vec_id, embedding, cid, cq) — full
    * precision and the int8 sidecar land together. */
  def index(spark: SparkSession, annDir: String): DataFrame = {
    val dirs = batchDirs(spark, annDir)
    val base =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(vecSchema.fields ++ Seq(StructField("cid", LongType),
            StructField("cq", ArrayType(
              org.apache.spark.sql.types.ByteType)))))
      else spark.read.parquet(dirs: _*)
    val tomb = new org.apache.hadoop.fs.Path(s"$annDir/takedown")
    if (tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(tomb))
      base.join(
        broadcast(spark.read.parquet(s"$annDir/takedown").distinct()),
        Seq("vec_id"), "left_anti")
    else base
  }

  /** Serve kNN from the landed index with the standard trained-IVF
    * probe machinery. */
  def serve(spark: SparkSession, annDir: String,
      queryIds: Seq[Long] = SimilarityOps.QueryIds): DataFrame = {
    val idx = index(spark, annDir)
    SimilarityOps.requireLiveQueries(idx, queryIds, annDir)
    SimilarityOps.knnIvfTrained(idx, model(spark, annDir), queryIds)
  }

  /** int8-tier serving from the SAME landed partitions: candidates
    * score from the cq sidecar column that streamed in with them —
    * the quantized tier inherits exactly-once and takedown for free
    * (no re-encode, no second landing). */
  def serveInt8(spark: SparkSession, annDir: String,
      queryIds: Seq[Long] = SimilarityOps.QueryIds): DataFrame = {
    val idx = index(spark, annDir)
    SimilarityOps.requireLiveQueries(idx, queryIds, annDir)
    val q = idx.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    SimilarityOps.knnInt8From(
      idx.select(col("vec_id"), col("cid"), col("cq")), q,
      model(spark, annDir))
  }

  // ------------------------------------------------------------------
  // Graph-tier streaming ingest (the r19 parity gap: appendToGraphIndex
  // existed only as a batch call — a WAL replay of its flat appends
  // would double-wire every edge)
  // ------------------------------------------------------------------

  private def batchIdOf(dir: String): Long =
    dir.split("batch_id=").last.toLong

  /** Bootstrap the graph tier BEFORE streaming (the [[trainModel]]
    * analog): NN-descent over the initial corpus lands under
    * `annDir/graph/{vectors,edges,entries}` — immutable state the
    * stream walks against and extends, never rebuilds. */
  def bootstrapGraph(spark: SparkSession, annDir: String, em: DataFrame,
      degree: Int = GraphAnnOps.GraphDegree,
      rounds: Int = GraphAnnOps.GraphRounds,
      salts: Int = GraphAnnOps.GraphSalts,
      entryIds: Seq[Long] = SimilarityOps.CentroidIds): Unit = {
    val v = em.select(col("vec_id"), col("embedding"))
    GraphAnnOps.nnDescentEdges(v, degree, rounds, salts)
      .write.mode("overwrite").parquet(s"$annDir/graph/edges")
    v.write.mode("overwrite").parquet(s"$annDir/graph/vectors")
    em.filter(col("vec_id").isin(entryIds: _*)).select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$annDir/graph/entries")
  }

  /** Graph state BEFORE micro-batch `batchId`: bootstrap plus every
    * landed partition with a SMALLER batch id. This is what makes the
    * per-batch landing idempotent under WAL replay — prior partitions
    * are immutable and later ones cannot exist when batch N replays
    * (the WAL admits N+1 only after N commits), so recomputing batch
    * N's edges reads exactly the state the original attempt read. */
  private def graphStateBefore(spark: SparkSession, annDir: String,
      sub: String, batchId: Long): DataFrame = {
    val prior = batchDirs(spark, s"$annDir/$sub")
      .filter(d => batchIdOf(d) < batchId)
    val base = spark.read.parquet(s"$annDir/graph/" +
      (if (sub == "gbatch") "vectors" else "edges"))
    if (prior.isEmpty) base
    else base.unionByName(spark.read.parquet(prior: _*))
  }

  private def storedEntryIds(spark: SparkSession,
      annDir: String): Seq[Long] =
    spark.read.parquet(s"$annDir/graph/entries")
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Start the graph-tier ingest stream: per micro-batch, each new
    * vector beam-walks the PRIOR graph state for its `degree` nearest
    * neighbors (O(|batch|·beam·degree·hops), the appendToGraphIndex
    * cost shape) and lands `annDir/gbatch/batch_id=N` (vectors) +
    * `annDir/gedges/batch_id=N` (both edge directions, FULL-precision
    * cosines) idempotently — a WAL replay overwrites the same
    * directories with the same recomputed content.
    *
    * Entry points are the UNFILTERED bootstrap entries by design: the
    * takedown log applies at read time ([[serveGraph]]), and an
    * ingest that consulted it would make a replayed batch walk from
    * different entries than its original attempt — breaking the
    * idempotence this landing exists for. */
  def runGraph(spark: SparkSession, shardDir: String, annDir: String,
      checkpointDir: String, degree: Int = GraphAnnOps.GraphDegree,
      beam: Int = GraphAnnOps.GraphBeam,
      hops: Int = GraphAnnOps.GraphHops,
      maxRecordsPerBatch: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty,
      rebind: Boolean = false): StreamingQuery = {
    graft.streaming.CheckpointBinding.bind(spark, s"$annDir/gbatch",
      checkpointDir, rebind,
      batchDirs(spark, s"$annDir/gbatch").nonEmpty)
    val entries = storedEntryIds(spark, annDir)
    vecStream(spark, shardDir, maxRecordsPerBatch, extraOptions)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val priorV = graphStateBefore(spark, annDir, "gbatch", batchId)
          .localCheckpoint()
        val priorE = graphStateBefore(spark, annDir, "gedges", batchId)
          .localCheckpoint()
        val nb = batch.select(col("vec_id"), col("embedding"))
          .localCheckpoint()
        val found = GraphAnnOps.knnGraphFromRaw(priorE, priorV,
            nb.select(col("vec_id").as("qid"), col("embedding").as("qe")),
            k = degree, beam = beam, hops = hops, entryIds = entries)
          .select(col("qid").as("src"), col("neighbor").as("dst"),
            col("cos"))
        val newEdges = found.unionByName(found.select(
            col("dst").as("src"), col("src").as("dst"), col("cos")))
          .localCheckpoint()
        nb.write.mode("overwrite")
          .parquet(s"$annDir/gbatch/batch_id=$batchId")
        newEdges.write.mode("overwrite")
          .parquet(s"$annDir/gedges/batch_id=$batchId")
      }
      .start()
  }

  private def takedownIds(spark: SparkSession,
      annDir: String): Option[DataFrame] = {
    val tomb = new org.apache.hadoop.fs.Path(s"$annDir/takedown")
    if (tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(tomb))
      Some(spark.read.parquet(s"$annDir/takedown").distinct())
    else None
  }

  /** Serve graph-ANN kNN from the landed state: bootstrap ∪ batch
    * partitions, through the SHARED read-time takedown log (vectors by
    * id; edges die at EITHER endpoint; entry points re-filtered —
    * serving never reads a taken-down float). Default budget is the
    * log₂(N)-scaled one (GraphAnnOps.scaledBeam/scaledHops); explicit
    * beam/hops override. */
  def serveGraph(spark: SparkSession, annDir: String,
      queryIds: Seq[Long] = SimilarityOps.QueryIds, k: Int = 5,
      beam: Int = 0, hops: Int = 0): DataFrame = {
    val allV = graphStateBefore(spark, annDir, "gbatch", Long.MaxValue)
    val allE = graphStateBefore(spark, annDir, "gedges", Long.MaxValue)
    val (liveV, liveE, liveEntries) = takedownIds(spark, annDir) match {
      case Some(tomb) =>
        val t = broadcast(tomb)
        (allV.join(t, Seq("vec_id"), "left_anti"),
          allE.join(t.withColumnRenamed("vec_id", "src"), Seq("src"),
              "left_anti")
            .join(t.withColumnRenamed("vec_id", "dst"), Seq("dst"),
              "left_anti"),
          spark.read.parquet(s"$annDir/graph/entries")
            .join(t, Seq("vec_id"), "left_anti")
            .collect().map(_.getLong(0)).toSeq.sorted)
      case None => (allV, allE, storedEntryIds(spark, annDir))
    }
    require(liveEntries.nonEmpty,
      s"every graph entry point of $annDir is tombstoned; re-bootstrap " +
        "entries before serving")
    SimilarityOps.requireLiveQueries(liveV, queryIds, annDir)
    lazy val n = liveV.count()
    val b = if (beam > 0) beam else GraphAnnOps.scaledBeam(n)
    val h = if (hops > 0) hops else GraphAnnOps.scaledHops(n)
    val q = liveV.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    GraphAnnOps.knnGraphFrom(liveE, liveV, q, k, b, h, liveEntries)
  }
}
