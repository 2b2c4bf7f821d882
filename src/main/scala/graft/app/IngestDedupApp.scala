package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming ingest dedup — the exactly-once consumer (ConsumeApp) fused
  * with the incremental near-dup index (DedupOps.incrementalNearDup): each
  * shardsim micro-batch of documents is admitted against the corpus
  * accepted so far, and only non-duplicate docs are appended.
  *
  * Exactly-once composition: accepted docs land in a per-batch directory
  * (`batch_id=N`, overwrite mode), and the corpus visible to batch N is the
  * union of directories with id < N only. A replayed batch therefore
  * (a) overwrites its own partial output instead of duplicating it, and
  * (b) never sees its own crashed attempt's writes as "existing corpus" —
  * without the strictly-earlier cut, a batch that committed its sink write
  * but crashed before the offset commit would, on replay, treat every one
  * of its own docs as already-known and admit nothing (losing the batch).
  *
  * At 100 TB the per-batch corpus read stays cheap because
  * incrementalNearDup only joins the batch-side inverted index against the
  * corpus index — O(|batch| × overlap), never O(|corpus|²) — and a real
  * deployment maintains the corpus shingle index as its own bucketed table
  * rather than re-deriving it per batch (the same computed-once posture as
  * SimilarityOps.writeLshIndex).
  */
object IngestDedupApp {

  /** Payload schema of a document record's `data` JSON. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Decoded doc stream off the shardsim source. */
  def docStream(spark: SparkSession, shardDir: String,
      maxRecordsPerBatch: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream
      .format("graft.sources.shardsim.ShardSimProvider")
      .options(extraOptions)
    maxRecordsPerBatch.foreach(n => reader.option("maxRecordsPerBatch", n))
    reader.load(shardDir)
      .withColumn("payload", from_json(col("data"), docSchema))
      .select(col("payload.doc_id").as("doc_id"),
        col("payload.text").as("text"))
  }

  /** Lists `batch_id=N` children through Hadoop's FileSystem API (the
    * RollupStreamApp lesson: java.io.File only works locally and
    * returns null elsewhere, silently emptying the corpus). A missing
    * parent is a legal empty frame. */
  private def batchDirs(spark: SparkSession, dir: String,
      beforeBatch: Option[Long] = None): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .filter(s => beforeBatch.forall(b =>
        s.getPath.getName.stripPrefix("batch_id=").toLong < b))
      .map(_.getPath.toString).sorted
  }

  private def readBatches(spark: SparkSession, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)
    else spark.read.schema(docSchema).parquet(dirs: _*)

  /** The maintained corpus: union of per-batch accepted-doc directories
    * with batch id strictly below `beforeBatch` (all of them when absent),
    * minus the takedown log. The strict cut is the replay-safety half of
    * the exactly-once story — see the class doc. */
  def corpus(spark: SparkSession, corpusDir: String,
      beforeBatch: Option[Long] = None): DataFrame =
    liveDocs(spark, corpusDir,
      readBatches(spark, batchDirs(spark, corpusDir, beforeBatch)))

  /** Corpus-level takedown: append ids to the `corpusDir/takedown` log.
    * Batch dirs are immutable WAL-replayed state, so removal applies at
    * READ time: [[corpus]] and [[indexFrames]] serve through the log
    * (the TakedownOps tombstone posture), and [[refreshKeepers]]
    * re-elects orphaned clusters via DedupOps.takedownKeepers. The
    * chosen semantics: taken-down CONTENT leaves every read path, so a
    * re-arriving near-dup of removed content is admitted FRESH — the
    * corpus no longer contains what it would have near-dupped against
    * (Round17bOpsSpec pins both directions). The ID itself stays dead
    * forever: a re-DELIVERED tombstoned doc_id may land in a batch dir
    * (admission sees it as fresh — the live corpus no longer holds it)
    * but every read path keeps excluding it, which is the
    * right-to-be-forgotten direction: same content under the same id
    * cannot resurface through replay (also pinned). Append-only and
    * replay-idempotent: ids are distinct-folded at read, double-appends
    * are harmless. */
  def takedown(spark: SparkSession, corpusDir: String,
      ids: DataFrame): Unit =
    ids.select(col("doc_id")).distinct()
      .write.mode("append").parquet(s"$corpusDir/takedown")

  /** The takedown log, if any takedown ever ran against this corpus. */
  def takedownLog(spark: SparkSession,
      corpusDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$corpusDir/takedown")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).distinct())
    else None
  }

  private def liveDocs(spark: SparkSession, corpusDir: String,
      df: DataFrame): DataFrame =
    takedownLog(spark, corpusDir).fold(df)(t =>
      df.join(broadcast(t), Seq("doc_id"), "left_anti"))

  private def dirBatchId(d: String): Long =
    d.split("batch_id=").last.toLong

  /** Land the q160 serve-index rows for one ACCEPTED batch — postings /
    * per-doc shingle counts / df deltas, each under
    * `corpusDir/index/<frame>/batch_id=N`. Derived from the LANDED
    * batch parquet (never the in-flight frame), written inside the
    * same foreachBatch that wrote the batch dir, with the same
    * per-batch-id overwrite: a WAL replay rewrites both, so the index
    * can never double-count a re-delivered batch — the idempotence the
    * flat q160 `append` tables cannot give a replaying stream. */
  private def writeBatchIndex(spark: SparkSession, corpusDir: String,
      batchId: Long): Unit = {
    val docs = spark.read.schema(docSchema)
      .parquet(s"$corpusDir/batch_id=$batchId")
    val hs = graft.llm.DedupOps.shingleHashes(docs)
      .withColumn("n_total", size(col("hs")))
    val postings = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    postings.write.mode("overwrite")
      .parquet(s"$corpusDir/index/postings/batch_id=$batchId")
    hs.select(col("doc_id"), col("n_total")).write.mode("overwrite")
      .parquet(s"$corpusDir/index/docn/batch_id=$batchId")
    postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite")
      .parquet(s"$corpusDir/index/df/batch_id=$batchId")
  }

  /** The q160 index frames covering every corpus batch < `beforeBatch`,
    * or None when the index is absent/incomplete for that range (a
    * legacy corpus, or index dirs from a crashed pre-WAL-commit write
    * whose batch the stream then never re-delivered — impossible under
    * the run() ordering, but the guard makes the fallback loud-safe:
    * admission falls back to the direct corpus re-shingle rather than
    * silently missing pairs). */
  private def indexFrames(spark: SparkSession, corpusDir: String,
      beforeBatch: Option[Long])
      : Option[(DataFrame, DataFrame, DataFrame)] = {
    val corpusIds = batchDirs(spark, corpusDir, beforeBatch)
      .map(dirBatchId).toSet
    if (corpusIds.isEmpty) return None
    val frames = Seq("postings", "docn", "df").map { f =>
      batchDirs(spark, s"$corpusDir/index/$f", beforeBatch)
    }
    if (frames.exists(_.map(dirBatchId).toSet != corpusIds)) None
    else {
      val post = spark.read.parquet(frames(0): _*)
      val docn = spark.read.parquet(frames(1): _*)
      val dfRows = spark.read.parquet(frames(2): _*)
      takedownLog(spark, corpusDir) match {
        case None => Some((post, docn, dfRows))
        case Some(t) =>
          // the incrementalNearDupServe tombstone shape: postings/docn
          // anti-join the broadcast log; the df deltas gain NEGATIVE
          // rows derived from the tombstoned docs' own postings (the
          // consumer sums df delta rows already) — nothing persisted,
          // replays can't double-subtract
          val tb = broadcast(t)
          Some((post.join(tb, Seq("doc_id"), "left_anti"),
            docn.join(tb, Seq("doc_id"), "left_anti"),
            dfRows.unionByName(
              post.join(tb, Seq("doc_id"), "left_semi")
                .groupBy(col("h")).agg((-count(lit(1))).as("df")))))
      }
    }
  }

  /** Batches that fail the gate land here (per batch id, overwrite —
    * replay-idempotent by the same argument as the corpus dirs). */
  def quarantine(spark: SparkSession, corpusDir: String): DataFrame =
    readBatches(spark, batchDirs(spark, s"$corpusDir/quarantine"))

  /** Docs the eval-set guard rejected land here — ROW-level routing
    * (unlike the batch-level `quarantine`), because contamination is a
    * per-document property: one leaked benchmark copy should not block
    * its clean batchmates. Same per-batch overwrite idempotence. */
  def contaminated(spark: SparkSession, corpusDir: String): DataFrame =
    readBatches(spark, batchDirs(spark, s"$corpusDir/contaminated"))

  /** Docs the DSIR score guard rejected land here — ROW-level routing
    * like `contaminated/` (target-likeness is a per-document property).
    * Same per-batch overwrite idempotence. */
  def lowValue(spark: SparkSession, corpusDir: String): DataFrame =
    readBatches(spark, batchDirs(spark, s"$corpusDir/lowvalue"))

  /** Docs the LM perplexity guard rejected land here — ROW-level
    * routing (fluency is a per-document property). Same per-batch
    * overwrite idempotence. */
  def lowQuality(spark: SparkSession, corpusDir: String): DataFrame =
    readBatches(spark, batchDirs(spark, s"$corpusDir/lowquality"))

  /** The streaming twin of q135/PipelineApp's decontamination stage:
    * admitted docs sharing ≥ `minFrac` of their shingles with the fixed
    * `evalDocs` benchmark set are routed to `contaminated/` instead of
    * the corpus. The verdict is a pure function of (batch content,
    * eval set), so WAL replay reaches the same routing — the gate
    * commutes with exactly-once like the constraint and drift gates.
    * Scale shape: the eval side collapses to one distinct shingle-hash
    * set (broadcast-able by the operator's premise); each micro-batch
    * streams through one hash join — never a pair space, and the
    * corpus-so-far is not touched. */
  final case class EvalGuard(evalDocs: DataFrame, minFrac: Double = 0.1)

  /** The streaming twin of q141's selection cut: admitted docs whose
    * DSIR log importance against the STORED `weights` model
    * ([[graft.llm.TextOps.dsirWeightTable]], trained offline on a
    * blessed corpus) falls below `minLogw` are routed to `lowvalue/`
    * instead of the corpus — row-level, like the eval guard: one
    * off-target doc should not block its batchmates. The model is
    * frozen at guard construction (collected once — ≤ buckets+1 rows by
    * construction) and the score is a pure projection of the row's own
    * text, so WAL replay reaches the same routing. */
  final case class ScoreGuard(weights: Map[Long, Double],
      minLogw: Double, buckets: Int = 512) {
    // Without the b = -1 smoothing sentinel, dsirLogwExpr scores any
    // doc with an unseen bucket as NULL logw — failing BOTH routing
    // filters and silently dropping the row from corpus AND lowvalue/.
    // The companion apply validates via collectWeights; direct
    // construction must not be able to lose rows.
    require(weights.contains(-1L),
      "ScoreGuard weights must include the -1 unseen-bucket sentinel " +
        "(build via dsirWeightTable / collectWeights)")
  }
  object ScoreGuard {
    def apply(weights: DataFrame, minLogw: Double): ScoreGuard =
      ScoreGuard(graft.llm.TextOps.collectWeights(weights), minLogw)
  }

  /** CCNet-style LM perplexity gate — the LIVE form of the q176 tail
    * cut: each admitted doc scores its NLL under a STORED q102
    * reference LM (the `<table>_bigrams`/`_vocab` delta tables, frozen
    * before the stream starts) and rows above `maxNll` route to
    * `lowquality/`. Scoring is a batch-side join against
    * vocabulary-scale catalog tables (the admitBatchServed posture —
    * the reference corpus is never rescanned), a pure function of
    * batch content and fixed model state, so WAL replay reaches the
    * same routing. Docs too short to form a bigram have no defined
    * NLL and PASS (a length rule is the q70 gate's job, not the LM's).
    * The model keeps its exact-unlearning contract while serving the
    * gate: takedown against the reference corpus decrements the same
    * tables this guard reads. */
  final case class LmGuard(table: String, maxNll: Double,
      addK: Double = 0.5)

  /** A per-batch drift gate: the batch's `value` distribution is scored
    * against the k-row `ref` profile
    * ([[graft.operators.ProfileOps.refBucketCounts]] of the blessed
    * snapshot) and the batch is quarantined when total PSI exceeds
    * `maxPsi` (0.2 = the credit-scoring-canon "investigate" line) OR —
    * when `maxJs` is set — total JS divergence exceeds it (the bounded
    * complement, comparable across columns; both divergences assemble
    * from ONE conditional-count pass over the batch joined to the same
    * stored profile). Like the Q40 constraint gate, the verdict is a
    * pure function of batch content and fixed reference state, so a WAL
    * replay reaches the same verdict — drift gating commutes with
    * exactly-once. */
  /** `segment`/`segRef`/`maxSegPsi` arm the SEGMENTED sweep (q103): the
    * batch is additionally scored per segment against a
    * [[graft.operators.ProfileOps.segmentedRefCounts]] profile and
    * quarantined when ANY segment's PSI exceeds the line — the mix-shift
    * case (one segment drifting up while another drifts down) cancels in
    * the aggregate divergences and ONLY this arm catches it. */
  case class DriftGate(ref: DataFrame, value: org.apache.spark.sql.Column,
      lo: Double, hi: Double, k: Int, maxPsi: Double = 0.2,
      maxJs: Option[Double] = None,
      segment: Option[org.apache.spark.sql.Column] = None,
      segRef: Option[DataFrame] = None,
      maxSegPsi: Option[Double] = None)

  /** Run the deduping consumer over everything currently in the shard
    * fixture. Returns the started query; callers await/stop it.
    *
    * `gate` is the Q40 constraint suite applied to each micro-batch BEFORE
    * admission (the deequ assert-before-ingest posture fused into the
    * exactly-once loop): a batch with any failing constraint is routed
    * whole to `quarantine/batch_id=N` instead of the corpus. `driftGate`
    * sits beside it: the same quarantine routing when the batch's value
    * distribution drifts past the PSI line — constraints catch broken
    * batches, drift catches subtly WRONG ones (a crawl that silently
    * switched domains passes every null/length check). `evalGuard` is
    * the third arm: per-ROW decontamination of each admitted batch
    * against a fixed benchmark set (one leaked eval copy routes to
    * `contaminated/`, its clean batchmates still land). `scoreGuard` is
    * the fourth: per-ROW DSIR importance scoring against a stored
    * weight model — off-target docs route to `lowvalue/`. `lmGuard` is
    * the fifth: per-ROW NLL under a stored reference bigram LM (the
    * CCNet cut, live) — disfluent docs route to `lowquality/`. All verdicts are
    * pure functions of the batch content, so a WAL replay reaches the
    * same verdict and overwrites the same directory — gating commutes
    * with exactly-once. The verdict collects are driver-side by design:
    * foreachBatch IS the sink's orchestration point, and the verdicts are
    * |constraints| and 1 rows. */
  def run(spark: SparkSession, shardDir: String, corpusDir: String,
      checkpointDir: String, threshold: Double = 0.8,
      maxRecordsPerBatch: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty,
      gate: Seq[graft.operators.QualityOps.Check] = Nil,
      driftGate: Option[DriftGate] = None,
      evalGuard: Option[EvalGuard] = None,
      scoreGuard: Option[ScoreGuard] = None,
      lmGuard: Option[LmGuard] = None,
      rebind: Boolean = false): StreamingQuery = {
    bindCheckpoint(spark, corpusDir, checkpointDir, rebind)
    // The lmGuard reference model is FROZEN for the stream's lifetime
    // (the gate scores against a trained LM, it never learns from the
    // stream) — snapshot the net view of the delta tables ONCE here
    // instead of re-running two delta-table aggregates inside every
    // micro-batch. localCheckpoint materializes eagerly; replay
    // semantics are unchanged because the model is frozen either way.
    val lmModel = lmGuard.map { g =>
      val cnt = spark.table(s"${g.table}_bigrams")
        .groupBy(col("bgh"), col("w1h"))
        .agg(sum(col("c12")).as("c12")).filter(col("c12") > 0)
        .localCheckpoint()
      val voc = spark.table(s"${g.table}_vocab")
        .groupBy(col("th")).agg(sum(col("c")).as("c"))
        .filter(col("c") > 0).agg(count(lit(1)).as("v"))
        .localCheckpoint()
      (g, cnt, voc)
    }
    docStream(spark, shardDir, maxRecordsPerBatch, extraOptions).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // every arm reads the batch (the gate verdicts, admission and the
        // routed writes run as separate plans): cache it so the source is
        // read and decoded once per batch, not once per plan
        batch.persist()
        try {
          val rejected = (gate.nonEmpty &&
            graft.operators.QualityOps.check(batch, gate)
              .collect().exists(_.getInt(2) == 0)) ||
            driftGate.exists { g =>
              val cur = batch.select(g.value.as("_v"))
              val psiTripped = graft.operators.ProfileOps
                .psiAgainstRef(cur, "_v", g.ref, g.lo, g.hi, g.k)
                .agg(sum(col("psi_term")).as("psi")).collect()
                .headOption.exists(_.getDouble(0) > g.maxPsi)
              def jsTripped = g.maxJs.exists { m =>
                graft.operators.ProfileOps
                  .jsAgainstRef(cur, "_v", g.ref, g.lo, g.hi, g.k)
                  .agg(sum(col("js_term")).as("js")).collect()
                  .headOption.exists(_.getDouble(0) > m)
              }
              def segTripped = (g.segment, g.segRef, g.maxSegPsi) match {
                case (Some(segc), Some(sref), Some(m)) =>
                  val segCounts = batch
                    .select(g.value.as("_v"), segc.as("segment"))
                    .filter(col("_v").isNotNull && col("segment").isNotNull)
                    .groupBy(col("segment"), graft.operators.ProfileOps
                      .psiBucket(col("_v"), g.lo, g.hi, g.k).as("bucket"))
                    .agg(count(lit(1)).as("n_cur"))
                  // only gate on segments the batch actually carries: a
                  // reference segment with zero current rows would smooth
                  // (+0.5/bucket) into a fake uniform distribution and
                  // quarantine small batches for data they don't contain
                  val refPresent = sref.join(
                    segCounts.select(col("segment")).distinct(),
                    Seq("segment"), "left_semi")
                  graft.operators.ProfileOps
                    .segmentedPsiFromCounts(
                      refPresent.join(segCounts, Seq("segment", "bucket"),
                        "full"),
                      g.k)
                    .agg(max(col("psi")).as("m")).collect()
                    .headOption.exists(r => !r.isNullAt(0) && r.getDouble(0) > m)
                case _ => false
              }
              psiTripped || jsTripped || segTripped
            }
          if (rejected)
            batch.select(col("doc_id"), col("text"))
              .write.mode("overwrite")
              .parquet(s"$corpusDir/quarantine/batch_id=$batchId")
          else {
            // steady state: admission served from the per-batch index
            // frames (no corpus re-shingle); direct path only for the
            // empty/legacy-corpus cases the guard rejects
            val accepted = indexFrames(spark, corpusDir,
                beforeBatch = Some(batchId)) match {
              case Some((post, docn, dfRows)) =>
                graft.llm.DedupOps.admitBatchServed(
                  post, docn, dfRows, batch, threshold)
              case None =>
                graft.llm.DedupOps.admitBatch(
                  corpus(spark, corpusDir, beforeBatch = Some(batchId)),
                  batch, threshold)
            }
            val admitted = evalGuard match {
              case Some(g) =>
                // row-level routing: contaminated ids are a small frame by
                // the guard's premise; both writes are batch-scale jobs
                val bad = graft.llm.DedupOps
                  .contamination(accepted, g.evalDocs, minFrac = g.minFrac)
                  .select(col("doc_id"))
                accepted.join(bad, Seq("doc_id"), "left_semi")
                  .select(col("doc_id"), col("text"))
                  .write.mode("overwrite")
                  .parquet(s"$corpusDir/contaminated/batch_id=$batchId")
                accepted.join(bad, Seq("doc_id"), "left_anti")
              case None => accepted
            }
            val valued = scoreGuard match {
              case Some(g) =>
                // pure-projection score — no join, no state; below-line
                // rows route like the contamination arm
                val scored = admitted.withColumn("_logw",
                  graft.llm.TextOps.dsirLogwExpr(col("text"), g.weights,
                    g.buckets))
                scored.filter(col("_logw") < g.minLogw)
                  .select(col("doc_id"), col("text"))
                  .write.mode("overwrite")
                  .parquet(s"$corpusDir/lowvalue/batch_id=$batchId")
                scored.filter(col("_logw") >= g.minLogw).drop("_logw")
              case None => admitted
            }
            val fluent = lmModel match {
              case Some((g, cnt, voc)) =>
                // net model view snapshot taken once at run() entry (the
                // scoreUnderStoredLm read path), scored per batch row
                val nll = graft.llm.TextOps.perDocNll(
                    valued.withColumn("lang", lit("und")), cnt, voc, g.addK)
                  .select(col("doc_id"), col("nll"))
                val scored = valued.join(nll, Seq("doc_id"), "left")
                scored.filter(col("nll") > g.maxNll)
                  .select(col("doc_id"), col("text"))
                  .write.mode("overwrite")
                  .parquet(s"$corpusDir/lowquality/batch_id=$batchId")
                scored.filter(col("nll").isNull || col("nll") <= g.maxNll)
                  .drop("nll")
              case None => valued
            }
            fluent.select(col("doc_id"), col("text"))
              .write.mode("overwrite").parquet(s"$corpusDir/batch_id=$batchId")
            writeBatchIndex(spark, corpusDir, batchId)
          }
        } finally batch.unpersist()
      }
      .start()
  }

  /** Fail loudly when a DIFFERENT checkpoint targets an existing corpus:
    * batch dirs are keyed by the stream's WAL batch id, so a fresh
    * checkpoint restarts ids at 0 and silently OVERWRITES landed batches
    * — corpus corruption with no error (the per-batch-id overwrite is
    * exactly right for the same checkpoint's replays and exactly wrong
    * for any other stream). A one-line marker file binds the corpus to
    * its checkpoint path at first run; later runs must present the same
    * path. Pinned in ShardSimSourceSpec.
    *
    * Paths are compared FILESYSTEM-QUALIFIED (`fs.makeQualified`), not as
    * raw strings: a relative `checkpointDir` resolves against the
    * default-FS working directory, so "ckpt" from two working directories
    * is two physically different checkpoints (raw-string compare would
    * pass the guard and corrupt), while "/x" vs "file:/x" is ONE
    * checkpoint (raw-string compare would refuse a legitimate resume).
    * Markers written by older builds are re-qualified on read, so
    * pre-existing bindings keep resuming.
    *
    * A MISSING marker over a corpus that already has landed batch dirs is
    * also a refusal (unless `rebind=true`): the corpus predates the guard
    * (or its marker was lost), and silently adopting whatever checkpoint
    * is presented would hand exactly the overwrite this guard exists to
    * stop to every pre-guard corpus. `rebind` is the explicit operator
    * override for "this IS the original checkpoint, re-mark it". */
  private def bindCheckpoint(spark: SparkSession, corpusDir: String,
      checkpointDir: String, rebind: Boolean = false): Unit =
    graft.streaming.CheckpointBinding.bind(spark, corpusDir,
      checkpointDir, rebind, batchDirs(spark, corpusDir).nonEmpty)

  /** OPTIONAL keeper-table maintenance — [[graft.llm.DedupOps.mergeKeepers]]
    * wired into the ingest loop, closing the last full-recompute in it
    * (admission was already incremental; a keeper REFRESH re-ran CC over
    * the whole corpus graph — at 100 TB with daily batches, the most
    * expensive recurring job in the pipeline). Maintains generational
    * snapshots `corpusDir/keepers/upto=N` = the keeper table over all
    * accepted batches ≤ N:
    *
    *  - no prior snapshot → bootstrap with one full CC run;
    *  - prior snapshot upto=U → ONE incremental merge of every batch in
    *    (U, max] against it: batch-scale pair discovery
    *    ([[graft.llm.DedupOps.incrementalNearDup]] — O(|new| × overlap))
    *    plus a batch-scale contracted-graph CC, never a corpus-graph
    *    fixpoint.
    *
    * Generational overwrite (never read-modify-write of one directory):
    * a replayed refresh rewrites the same `upto=N` snapshot idempotently
    * and always reads a STRICTLY older generation — the same
    * exactly-once posture as the batch directories. Incremental ≡ full
    * modulo df-cap drift: shingle caps are computed over the corpus as
    * of each run, so a shingle crossing the cap between runs can retire
    * candidate pairs a from-scratch run would also retire — the
    * documented [[graft.llm.DedupOps.admitBatch]] caveat, inherited.
    * Returns the snapshot id written (-1 when there are no batches). */
  def refreshKeepers(spark: SparkSession, corpusDir: String,
      threshold: Double = 0.8): Long = {
    val dirs = batchDirs(spark, corpusDir)
    if (dirs.isEmpty) return -1L
    def idOf(d: String) = d.split("batch_id=").last.toLong
    val target = dirs.map(idOf).max
    val kroot = s"$corpusDir/keepers"
    val kpath = new org.apache.hadoop.fs.Path(kroot)
    val fs = kpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior =
      if (!fs.exists(kpath)) None
      else fs.listStatus(kpath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("upto="))
        // a refresh that crashes mid-write leaves upto=N WITHOUT its
        // _SUCCESS commit marker; unlike batch dirs (which the stream
        // replays and rewrites) nothing re-delivers a keeper snapshot,
        // so consuming the partial as the merge base would propagate
        // the corruption into every later generation — skip
        // uncommitted dirs and fall back to the next-older committed
        // one (or full bootstrap when none exists)
        .filter(s => fs.exists(
          new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
        .map(_.getPath.getName.stripPrefix("upto=").toLong)
        .filter(_ < target).sorted.lastOption
    def fullKeepers(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"))
        .join(graft.llm.DedupOps.connectedComponents(
          graft.llm.DedupOps.jaccardPairs(docs)
            .filter(col("jac") >= threshold).select("d1", "d2")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("keeper"), col("doc_id")).as("keeper"))
    val updated = prior match {
      case Some(u) =>
        val stored = spark.read.parquet(s"$kroot/upto=$u")
        val newDocs = readBatches(spark,
          dirs.filter(d => idOf(d) > u && idOf(d) <= target))
        // pair discovery from the per-batch index frames when they
        // cover the prior corpus (the run() steady state); direct
        // corpus re-shingle otherwise — identical pair semantics
        val newPairs = indexFrames(spark, corpusDir,
            beforeBatch = Some(u + 1)) match {
          case Some((post, docn, dfRows)) =>
            graft.llm.DedupOps.incrementalNearDupFromIndex(
              post, docn, dfRows, newDocs, threshold)
          case None =>
            graft.llm.DedupOps.incrementalNearDup(
              corpus(spark, corpusDir, beforeBatch = Some(u + 1)),
              newDocs, threshold)
        }
        graft.llm.DedupOps.mergeKeepers(stored,
          newPairs.select("d1", "d2"), newDocs.select(col("doc_id")))
      case None =>
        fullKeepers(corpus(spark, corpusDir, beforeBatch = Some(target + 1)))
    }
    // a takedown between snapshots leaves tombstoned rows in the stored
    // merge base (and possibly in newDocs); the final re-election both
    // removes them and re-points their orphaned cluster members —
    // a no-op when the log is empty or already applied (corpus() and
    // the bootstrap path read through the log)
    val live = takedownLog(spark, corpusDir)
      .map(t => graft.llm.DedupOps.takedownKeepers(updated, t))
      .getOrElse(updated)
    live.write.mode("overwrite").parquet(s"$kroot/upto=$target")
    target
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: IngestDedupApp <shardDir> <corpusDir> " +
        "<checkpointDir> [evalDocsParquet]")
      sys.exit(2)
    }
    val Array(shardDir, corpusDir, checkpointDir) = args.take(3)
    val spark = graft.core.Sessions.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // optional 4th arg: a (doc_id, text) parquet of the benchmark/eval
    // set switches on the row-level decontamination guard
    val guard = args.lift(3).map(dir =>
      EvalGuard(spark.read.parquet(dir).select(col("doc_id"), col("text"))))
    val q = run(spark, shardDir, corpusDir, checkpointDir,
      gate = Seq(graft.operators.QualityOps.complete("doc_id"),
        graft.operators.QualityOps.complete("text")),
      evalGuard = guard)
    q.awaitTermination()
    println(s"[ingest-dedup] corpus docs=${corpus(spark, corpusDir).count()} " +
      s"quarantined=${quarantine(spark, corpusDir).count()} " +
      s"contaminated=${contaminated(spark, corpusDir).count()}")
    spark.stop()
  }
}
