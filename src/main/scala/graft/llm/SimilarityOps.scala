package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over embedding tables —
  * SURVEY.md §2b Q24.
  *
  * Library surface: every operator is `DataFrame => DataFrame` over a frame
  * with `(vec_id: long, embedding: array<float>[, label])` columns; the
  * `(SparkSession, dir)` registry entries at the bottom adapt the fixture
  * tables.
  *
  * Algorithms (public literature): random-hyperplane LSH — Charikar
  * (STOC 2002); IVF (inverted-file / cell-probe) search — Jégou et al.,
  * "Product quantization for nearest neighbor search" (TPAMI 2011), here
  * without the PQ compression step.
  *
  * Baseline: brute-force cosine top-k — the query side is tiny (fixed ids)
  * and broadcast, so the scan side streams once with no shuffle until the
  * per-query top-k (window over qid). At 100 TB this is the standard
  * "broadcast the queries, mapPartitions the corpus" shape.
  *
  * Scale path: random-hyperplane LSH (sign bits of seeded projections) —
  * the corpus is bucketed once ([[lshBuckets]], a cheap narrow map; at
  * cluster scale persisted / written out bucketed so query batches reuse
  * it), queries probe their own bucket plus all buckets within
  * `maxHamming` bit flips, and only candidates are scored. Approximate ⇒
  * no SQL oracle (rows-only check); LlmOpsSpec asserts recall ≥ 0.8
  * against the brute-force baseline at the default probe budget.
  */
object SimilarityOps {
  type QFn = (SparkSession, String) => DataFrame

  val QueryIds: Seq[Long] = Seq(0L, 100L, 250L)

  /** Serve-call guard (the [[hybridRrfServe]] posture, applied to every
    * ANN serve entry point): a query id that was taken down — or never
    * indexed — must FAIL the serve, not silently vanish from the
    * results. One pointed |queryIds|-row lookup; serve calls are
    * eager by contract, never registry plans. */
  private[graft] def requireLiveQueries(live: DataFrame,
      queryIds: Seq[Long], what: String): Unit = {
    val want = queryIds.distinct
    val have = live.filter(col("vec_id").isin(want: _*))
      .select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val missing = want.filterNot(have)
    require(missing.isEmpty,
      s"query vectors ${missing.mkString(", ")} are not in the live " +
        s"index $what (taken down or never indexed); refusing to serve " +
        "with silently-dropped queries — pick live query vectors or " +
        "embed out-of-index queries and use the *With direct paths.")
  }

  private val TopK = 5
  private val Dim = 64
  // 6 planes → 64 buckets: sized so the small test corpora keep ~8+
  // vectors per bucket; at larger corpus sizes raise toward log2(n/target).
  private val NumPlanes = 6

  /** Radius cap: buckets beyond this hamming distance from the query's own
    * are never probed, whatever the budget. The test corpus is
    * near-isotropic — the hardest case for hyperplane LSH, since neighbors
    * barely correlate in sign patterns — so hitting the asserted 0.8
    * recall needs radius 3; clustered real-world embeddings concentrate
    * neighbors at radius 0–1. */
  val DefaultMaxHamming = 3

  /** Candidate budget: probing stops (per query) once the probed buckets'
    * cumulative corpus count crosses this fraction of the corpus, so the
    * scanned fraction is bounded BY CONSTRUCTION — it no longer depends on
    * how occupancy happens to spread over buckets. Buckets are probed in
    * ascending hamming order (nearest first), which is where neighbors
    * concentrate, so the budget cuts the cost tail, not the recall head.
    * The isotropic test corpus (the worst case) needs 0.65 for recall
    * ≥ 0.8 — measured: 0.35→0.60–0.67, 0.50→0.60–0.73, 0.65→0.80–0.87
    * across sf0.001/0.01/0.1 — so the default pays what that recall
    * costs on such data and says so; clustered real embeddings reach the
    * same recall at a far smaller fraction, so lower this knob
    * aggressively on real corpora. LlmOpsSpec asserts recall ≥ 0.8 AND
    * scanned fraction ≤ budget+overshoot at 20× scale. */
  val DefaultCandidateFraction = 0.65

  /** Deterministic random hyperplanes (scala.util.Random LCG is spec-fixed). */
  lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(1234)
    Array.fill(NumPlanes, Dim)(rnd.nextGaussian())
  }

  private def topk(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Brute-force cosine top-k for fixed query vectors. */
  def knnBrute(em: DataFrame, queryIds: Seq[Long] = QueryIds,
      k: Int = TopK): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val q = em.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = em.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
    topk(scored, k)
  }

  /** LSH bucket id = sign bits of the vector against the seeded planes.
    * Each plane projection is the native vec_dot fold (identical IEEE
    * sequence as the replaced aggregate(zip_with(cast·mul)) HOF — the
    * sign cut cannot move), so bucketing a corpus runs |planes| codegen
    * folds per row instead of |planes| interpreted lambda chains. */
  private def bucketExpr(e: Column): Column = {
    val bits = planes.zipWithIndex.map { case (p, j) =>
      val dot = call_function("vec_dot", e, typedlit(p.toSeq))
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The bucketed corpus: one narrow pass adding the LSH `bucket` column.
    * At 100 TB this is computed once and persisted (or written out
    * bucketed by `bucket` — [[writeLshIndex]]) so every query batch reuses
    * it — the query path never re-derives corpus buckets. */
  def lshBuckets(em: DataFrame): DataFrame =
    em.withColumn("bucket", bucketExpr(col("embedding")))

  /** Persist the LSH index as a bucketed catalog table: the plane
    * projections run exactly once at write time, and the bucketed layout
    * means any later bucket-keyed join/agg over the index is co-located.
    * Query it with [[knnLshIndexed]]`(spark.table(table), …)` — the plan
    * contains no plane arithmetic and no corpus-side exchange. */
  def writeLshIndex(em: DataFrame, table: String, nBuckets: Int = 8): Unit =
    graft.sources.FileIO.writeParquetBucketed(
      lshBuckets(em), table, nBuckets, "bucket", Seq("bucket"))

  /** Incrementally extend a persisted LSH index ([[writeLshIndex]]) with a
    * new batch: the SAME seeded planes bucket the new vectors (plane seeds
    * are library constants, so yesterday's files and today's agree on
    * bucket ids), and the batch appends into the table's existing bucket
    * layout — index maintenance cost is O(|batch|), never a corpus
    * rebuild. AnnIndexSpec asserts knnLshIndexed over (index ∪ batch)
    * answers identically to an index rebuilt from scratch. Mirrors the
    * q23_dedup_incremental posture on the ANN side. */
  def appendToLshIndex(newBatch: DataFrame, table: String,
      nBuckets: Int = 8): Unit =
    graft.sources.FileIO.appendParquetBucketed(
      lshBuckets(newBatch), table, nBuckets, "bucket", Seq("bucket"))

  /** The budgeted probe set: per query, every bucket within `maxHamming`
    * bit flips of its own, annotated with the bucket's corpus count
    * (`bsz`) and kept in ascending-hamming order only while the cumulative
    * count of already-kept buckets is under `candidateFraction` of the
    * corpus (the crossing bucket is still probed — overshoot-by-one, the
    * same convention as the mixture budget). Bucket sizes come from a
    * 2^planes-row histogram and the corpus total rides in-plan as a
    * broadcast scalar, so constructing this fires no driver action.
    * Takes the ALREADY-bucketed (and cached) corpus — callers swap it into
    * CacheOnce exactly once; a second swap under the same tag would
    * unpersist the shared handle and forfeit the reuse across the
    * histogram, query lookup, and corpus join.
    * Columns: qid, qe, probe, ham, bsz, corpus_n. */
  private def lshProbes(indexed: DataFrame, queryIds: Seq[Long],
      maxHamming: Int, candidateFraction: Double): DataFrame = {
    val sizes = indexed.groupBy(col("bucket")).agg(count(lit(1)).as("bsz"))
    val total = sizes.agg(sum(col("bsz")).as("corpus_n"))
    val masks = (0 until (1 << NumPlanes))
      .map(m => (m.toLong, java.lang.Integer.bitCount(m)))
      .filter(_._2 <= maxHamming)
      .map { case (m, h) => struct(lit(m).as("mask"), lit(h).as("ham")) }
    val probes = indexed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("bucket").as("qb"), explode(array(masks: _*)).as("mh"))
      .select(col("qid"), col("qe"),
        col("qb").bitwiseXOR(col("mh.mask")).as("probe"),
        col("mh.ham").as("ham"))
    probes
      .join(broadcast(sizes), col("probe") === col("bucket"), "left")
      .withColumn("bsz", coalesce(col("bsz"), lit(0L)))
      .drop("bucket")
      .crossJoin(broadcast(total))
      .withColumn("cum_start",
        sum(col("bsz")).over(Window.partitionBy(col("qid"))
          .orderBy(col("ham"), col("probe"))) - col("bsz"))
      .filter(col("cum_start") < col("corpus_n") * candidateFraction)
      .drop("cum_start")
  }

  /** Per-query probe cost of [[knnLsh]]'s plan: buckets probed, candidates
    * scanned, and the scanned fraction of the corpus — the artifact the
    * scale assertion reads (LlmOpsSpec pins recall ≥ 0.8 AND scanned
    * fraction ≤ the budget). */
  def lshProbeStats(em: DataFrame, queryIds: Seq[Long] = QueryIds,
      maxHamming: Int = DefaultMaxHamming,
      candidateFraction: Double = DefaultCandidateFraction): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val indexed = graft.core.CacheOnce.swap("ann-lsh-buckets", lshBuckets(em))
    lshProbes(indexed, queryIds, maxHamming, candidateFraction)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("buckets_probed"),
        sum(col("bsz")).as("candidates"),
        first(col("corpus_n")).as("corpus_n"))
      .withColumn("scan_frac", col("candidates") / col("corpus_n"))
      .orderBy("qid")
  }

  /** LSH-bucketed ANN with budgeted multi-probe: a query scores only
    * vectors in buckets within `maxHamming` bit flips of its own, visiting
    * buckets nearest-first and stopping at a `candidateFraction` scan
    * budget — cost is bounded by construction, recall degrades from the
    * far tail where true neighbors are rarest. */
  def knnLsh(em: DataFrame, queryIds: Seq[Long] = QueryIds, k: Int = TopK,
      maxHamming: Int = DefaultMaxHamming,
      candidateFraction: Double = DefaultCandidateFraction): DataFrame = {
    // One swap per call: the cached handle feeds the histogram, the
    // query-side lookup, and the corpus join below (ADVICE r7: a second
    // swap under the same tag unpersisted the shared plan).
    val indexed = graft.core.CacheOnce.swap("ann-lsh-buckets", lshBuckets(em))
    knnLshIndexed(indexed, queryIds, k, maxHamming, candidateFraction)
  }

  /** The oracle-checkable form of q24's LSH path: AGGREGATE recall of
    * [[knnLsh]] against the [[knnBrute]] ground truth (|lsh ∩ brute| /
    * |brute| over all query–neighbor pairs — the SAME semantic
    * LlmOpsSpec's recall bound uses; a per-query floor is the wrong
    * contract for budgeted multi-probe, where one far-tail query may
    * legitimately dip while the operator's guarantee holds). Emits only
    * the engine-agnostic verdict: query count and `recall_ok` = 1 iff
    * aggregate recall ≥ `minRecall`. The DuckDB twin emits the same
    * count and a literal 1, so the driver's rows+schema+hash compare
    * passes EXACTLY WHEN the recall bound holds — a bounded oracle for
    * an approximate operator (both sides are deterministic: the planes
    * are seeded, the probe order is fixed). The raw top-k surface stays
    * public as [[knnLsh]], spec-bounded in LlmOpsSpec. */
  def knnLshRecallAudit(em: DataFrame, queryIds: Seq[Long] = QueryIds,
      k: Int = TopK, minRecall: Double = 0.8): DataFrame = {
    val truth = knnBrute(em, queryIds, k).select(col("qid"), col("neighbor"))
    val hits = truth.join(
      knnLsh(em, queryIds, k).select(col("qid"), col("neighbor")),
      Seq("qid", "neighbor"), "left_semi")
    truth.agg(countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("_total"))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("_hit"))))
      .select(col("n_queries"),
        (col("_hit") >= lit(minRecall) * col("_total")).cast("int")
          .as("recall_ok"))
  }
  val knnLshRecallSql: String =
    s"""SELECT count(DISTINCT vec_id) AS n_queries, 1 AS recall_ok
       |FROM embeddings
       |WHERE vec_id IN (${QueryIds.mkString(", ")})""".stripMargin

  /** [[knnLsh]] against an ALREADY-bucketed index frame — typically
    * `spark.table(t)` after [[writeLshIndex]], or the cached in-session
    * index. The plan touches only the stored `bucket` column (no plane
    * arithmetic) and the corpus side joins the broadcast probe set with no
    * exchange — AnnIndexSpec pins both properties. */
  def knnLshIndexed(indexed: DataFrame, queryIds: Seq[Long] = QueryIds,
      k: Int = TopK, maxHamming: Int = DefaultMaxHamming,
      candidateFraction: Double = DefaultCandidateFraction): DataFrame = {
    GraftFunctions.register(indexed.sparkSession)
    val kept = lshProbes(indexed, queryIds, maxHamming, candidateFraction)
      .select(col("qid"), col("qe"), col("probe"))
    val scored = indexed.join(broadcast(kept), col("bucket") === col("probe"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
    topk(scored, k)
  }

  /** IVF-style ANN: a fixed, deterministic set of centroid vectors (taken
    * from the corpus by id — a seeded k-means would converge to
    * data-dependent floats that no SQL oracle could reproduce), every
    * corpus vector assigned to its nearest centroid, queries probing their
    * `nProbe` nearest centroid lists.
    *
    * 100 TB shape: [[ivfAssign]] is a cheap broadcast-centroids map over
    * the corpus done once (in a real deployment persisted + bucketed by
    * cid); a query then touches nProbe/nCentroids of the data instead of
    * all of it. Fully deterministic ⇒ exact DuckDB oracle, unlike the LSH
    * variant. */
  val CentroidIds: Seq[Long] = Seq(3L, 33L, 66L, 99L, 132L, 165L, 198L, 231L)
  private[llm] val NProbe = 3

  private def nearestCentroid(src: DataFrame, cents: DataFrame, idCol: String,
      eCol: String, keep: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("ccos").desc, col("cid").asc)
    src.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(s"cosine_sim(ce, $eCol)"))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= keep)
  }

  /** The IVF index: corpus with each vector's nearest-centroid `cid`. */
  def ivfAssign(em: DataFrame, centroidIds: Seq[Long] = CentroidIds): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val cents = em.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    nearestCentroid(em, cents, "vec_id", "embedding", 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** Persist the IVF index as a catalog table bucketed by `cid`: the
    * corpus-wide nearest-centroid assignment (the expensive
    * crossJoin + per-vector window) runs exactly once at write time.
    * Query with [[knnIvfIndexed]]`(spark.table(table), …)`. */
  def writeIvfIndex(em: DataFrame, table: String, nBuckets: Int = 8,
      centroidIds: Seq[Long] = CentroidIds): Unit =
    graft.sources.FileIO.writeParquetBucketed(
      ivfAssign(em, centroidIds), table, nBuckets, "cid", Seq("cid"))

  /** Incrementally extend a persisted IVF index ([[writeIvfIndex]]): new
    * vectors assign against the INDEX'S OWN centroid rows (by id — the
    * centroid set is immutable once written, exactly like the LSH planes),
    * then append into the cid-bucketed layout. O(|batch| × |centroids|)
    * work; the corpus-wide assignment never reruns. Centroid drift /
    * re-clustering is a rebuild, by design — the same contract as
    * Faiss-style IVF (Jégou et al. 2011). */
  def appendToIvfIndex(newBatch: DataFrame, table: String,
      nBuckets: Int = 8, centroidIds: Seq[Long] = CentroidIds): Unit = {
    val spark = newBatch.sparkSession
    GraftFunctions.register(spark)
    val cents = spark.table(table)
      .filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      // a tiny (|centroids|-row) frame read from the very table the append
      // writes into — pin it before the insert opens the table for write
      .localCheckpoint()
    val assigned = nearestCentroid(newBatch, cents, "vec_id", "embedding", 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
    graft.sources.FileIO.appendParquetBucketed(
      assigned, table, nBuckets, "cid", Seq("cid"))
  }

  def knnIvf(em: DataFrame, queryIds: Seq[Long] = QueryIds, k: Int = TopK,
      nProbe: Int = NProbe, centroidIds: Seq[Long] = CentroidIds): DataFrame =
    knnIvfIndexed(ivfAssign(em, centroidIds), queryIds, k, nProbe, centroidIds)

  /** [[knnIvf]] against an ALREADY-assigned index frame — typically
    * `spark.table(t)` after [[writeIvfIndex]]. Centroid vectors and query
    * vectors are both tiny id-filtered lookups against the index itself
    * (every vector, centroids included, is an index row), so the only
    * remaining per-query work is the nProbe-centroid ranking and the
    * probe-list scoring join; the corpus-wide assignment window (an
    * exchange on vec_id) never reappears — AnnIndexSpec pins that. */
  def knnIvfIndexed(assigned: DataFrame, queryIds: Seq[Long] = QueryIds,
      k: Int = TopK, nProbe: Int = NProbe,
      centroidIds: Seq[Long] = CentroidIds): DataFrame = {
    GraftFunctions.register(assigned.sparkSession)
    val cents = assigned.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val q = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probes = nearestCentroid(q, cents, "qid", "qe", nProbe)
      .select(col("qid"), col("qe"), col("cid"))
    val scored = assigned.select("vec_id", "embedding", "cid")
      .join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
    topk(scored, k)
  }

  /** Spherical k-means — Lloyd iterations with cosine assignment and
    * mean-vector update (Dhillon & Modha, Machine Learning 42, 2001): the
    * clustering step that trains IVF centroids from data (vs
    * [[ivfAssign]]'s fixed seed rows) and balances topic composition of a
    * training mix. Deterministic by construction: seeds are fixed corpus
    * rows, assignment ties break by cid, and every updated centroid
    * component is rounded to 6 dp and narrowed to float, so the model
    * STATE — not just the output — is bit-identical across engines (the
    * FIXTURES.md §3 rounding posture applied to model parameters; the
    * oracle replays the same rounded floats).
    *
    * Scale shape per iteration: assignment broadcasts k·d floats against
    * one corpus scan (the corpus itself never shuffles for assignment);
    * the update posexplodes to (cid, pos, v) triples whose map-side
    * partial average collapses the shuffle to k·d rows per partition.
    * `iters` is a fixed small constant — production k-means caps
    * iterations, and a convergence test would cost a driver action per
    * iteration for nothing at these counts. */
  /** Assignment as a PURE MAP: the k (cid, centroid) pairs collapse to a
    * one-row struct array broadcast in-plan, and each vector picks its
    * argmax-cosine centroid with an array HOF — no join, no window, and
    * crucially no per-vector shuffle (a row_number-over-vec_id
    * formulation ships one pruned row per vector through an exchange
    * EVERY iteration; this ships k·d floats once). Ties break to the
    * smallest cid via the struct ordering (cos, −cid). */
  private def argmaxCentroid(em: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(collect_list(struct(col("cid"), col("ce"))).as("cts"))
    em.crossJoin(broadcast(packed))
      .withColumn("_best", array_max(expr(
        "transform(cts, c -> struct(cosine_sim(c.ce, embedding) AS cos," +
          " -c.cid AS negcid))")))
      .select(col("vec_id"), col("embedding"),
        (-col("_best.negcid")).as("cid"), col("_best.cos").as("ccos"))
  }

  def kmeansCentroids(em: DataFrame, centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    var cents = em.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    for (_ <- 1 to iters) {
      cents = argmaxCentroid(em, cents)
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        // +1e-9 before round: the FIXTURES.md §3 boundary nudge — without
        // it a summation-order ulp can land a mean on the other side of a
        // .5-at-the-7th-decimal boundary and flip one centroid component,
        // which then cascades through every subsequent assignment
        .agg(round(avg(col("v").cast("double")) + lit(1e-9), 6).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("ce"))
    }
    cents
  }

  /** q56 registry entry: the corpus clustered under [[kmeansCentroids]] —
    * per-vector final assignment (vec_id, cid, cos). */
  def kmeansAssign(em: DataFrame, centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    val cents = kmeansCentroids(em, centroidIds, iters)
    argmaxCentroid(em, cents)
      .select(col("vec_id"), col("cid"), round(col("ccos"), 4).as("cos"))
      .orderBy("vec_id")
  }

  private[llm] val KmeansIters = 2

  /** The documented 100 TB swap for the Lloyd trainer (the one
    * remaining full-corpus-per-iteration loop under the trained-IVF /
    * SemDeDup stack): a k-means model is statistics over the data
    * DISTRIBUTION, and past a few hundred thousand vectors additional
    * rows refine centroids far below the quantization error the model
    * already carries — so the trainer caps its input at a
    * DETERMINISTIC hash-sample of `cap` vectors (top-cap by
    * xxhash64(vec_id), vec_id tie-break — no rand(), so replay, resume
    * and cross-engine verification all hold; the fixed seed rows are
    * always retained so c0 exists at any cap) while ASSIGNMENT stays
    * full-corpus. cap ≥ N degenerates to exact full Lloyd
    * (Round18OpsSpec pins bit-identical centroids — means round to
    * 6dp, so set-equality of inputs suffices). Every default entry
    * point stays exact for oracle compatibility; this is the swap a
    * 100 TB run makes, with the measured quality delta and train walls
    * in BASELINE §x. */
  def kmeansCentroidsSampled(em: DataFrame, cap: Int = 100000,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    val seeds = em.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id"), col("embedding"))
    val sampled = em.filter(!col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(math.max(cap - centroidIds.size, 0))
    // materialize the sample ONCE, re-parallelized: a lazy
    // orderBy().limit() lands on a single partition AND re-runs its
    // TakeOrdered inside every Lloyd iteration (measured: the sampled
    // trainer was SLOWER than full Lloyd at 100× before this). The
    // checkpoint is cap-bounded rows — trainer-internal state, not a
    // registry-plan action (this function backs writeTrainedIvfIndex-
    // class model fits, which are eager by contract anyway).
    val trainSet = sampled.unionByName(seeds)
      .repartition(em.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    kmeansCentroids(trainSet, centroidIds, iters)
  }

  /** The trained-IVF assignment frame: the corpus labeled by its nearest
    * TRAINED k-means centroid (vs [[ivfAssign]]'s raw seed rows) —
    * train → index → serve, composed from [[kmeansCentroids]]. */
  def trainedIvfAssign(em: DataFrame, centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame =
    argmaxCentroid(em, kmeansCentroids(em, centroidIds, iters))
      .select(col("vec_id"), col("embedding"), col("cid"))

  /** Serving-side assignment under a STORED model (no training): label
    * `em` with its nearest centroid from the model table — the function
    * both the appender and any "assign a fresh batch" caller share. */
  def assignUnderModel(em: DataFrame, model: DataFrame): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    argmaxCentroid(em, model.select(col("cid"), col("ce")))
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** Persist a TRAINED IVF index: the k-means model (a |k|-row
    * (cid, ce) table — the part [[writeIvfIndex]] doesn't need because
    * its centroids are corpus rows) lands as `<table>_model`, and the
    * corpus assignment under that model lands cid-bucketed as `<table>`.
    * Training and the corpus-wide assignment run exactly once, at write
    * time; [[knnIvfTrained]] and [[appendToTrainedIvfIndex]] read the
    * stored model — AnnIndexSpec pins the append/probe round-trip against
    * a same-model direct assignment and that the probe plan contains no
    * posexplode (the training update shuffle) and no corpus exchange. At
    * 100 TB this is the Faiss-style contract (Jégou et al. 2011): the
    * model is small immutable state, re-clustering is a rebuild. */
  def writeTrainedIvfIndex(em: DataFrame, table: String, nBuckets: Int = 8,
      centroidIds: Seq[Long] = CentroidIds, iters: Int = KmeansIters): Unit = {
    GraftFunctions.register(em.sparkSession)
    // fresh generation: the previous generation's tombstones don't apply
    graft.sources.FileIO.dropTableAndLocation(em.sparkSession,
      s"${table}_deletes")
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    graft.sources.FileIO.dropTableAndLocation(em.sparkSession, s"${table}_model")
    model.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_model")
    // Seed provenance: the model's centroids DERIVE FROM these corpus
    // vectors (at iters=0 they ARE verbatim copies) — recording them is
    // what lets [[retainedSeedAudit]] surface, and
    // [[scrubIndexModelOnTakedown]] repair, a takedown that hits a seed.
    writeSeedRoles(em.sparkSession, table, "centroid",
      em.filter(col("vec_id").isin(centroidIds: _*))
        .select(col("vec_id")))
    writeMeta(em.sparkSession, table,
      Map("nbuckets" -> nBuckets.toLong, "iters" -> iters.toLong))
    graft.sources.FileIO.writeParquetBucketed(
      argmaxCentroid(em, model)
        .select(col("vec_id"), col("embedding"), col("cid")),
      table, nBuckets, "cid", Seq("cid"))
  }

  /** Persist/merge build parameters for `table` as `<table>_meta`
    * (key, val) rows — the scrub's source of truth for rebuild
    * parameters: rebuilding with caller-supplied defaults would
    * silently re-bucket or re-train an index built with non-default
    * values. Metadata-scale (a handful of rows). */
  private[llm] def writeMeta(spark: SparkSession, table: String,
      entries: Map[String, Long]): Unit = {
    import spark.implicits._
    val fresh = entries.toSeq.toDF("key", "val")
    val all =
      if (spark.catalog.tableExists(s"${table}_meta"))
        spark.table(s"${table}_meta")
          .filter(!col("key").isin(entries.keys.toSeq: _*))
          .unionByName(fresh).localCheckpoint()
      else fresh.localCheckpoint()
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_meta")
    all.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_meta")
  }

  private[llm] def readMeta(spark: SparkSession,
      table: String): Map[String, Long] =
    if (spark.catalog.tableExists(s"${table}_meta"))
      spark.table(s"${table}_meta").collect()
        .map(r => r.getAs[String]("key") -> r.getAs[Long]("val")).toMap
    else Map.empty

  /** Rewrite the `<table>_seeds` provenance table for one `role`,
    * keeping other roles' rows (the table is seed-scale). */
  private[llm] def writeSeedRoles(spark: SparkSession, table: String,
      role: String, ids: DataFrame): Unit = {
    val fresh = ids.select(col("vec_id").cast("long").as("vec_id"))
      .withColumn("role", lit(role))
    val all =
      if (spark.catalog.tableExists(s"${table}_seeds"))
        spark.table(s"${table}_seeds").filter(col("role") =!= role)
          .unionByName(fresh).localCheckpoint()
      else fresh.localCheckpoint()
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_seeds")
    all.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_seeds")
  }

  /** Extend a trained IVF index: assign the new batch against the STORED
    * model and append into the cid-bucketed layout — O(|batch| · k), the
    * corpus never reassigns, the model never retrains. */
  def appendToTrainedIvfIndex(newBatch: DataFrame, table: String,
      nBuckets: Int = 8): Unit = {
    val spark = newBatch.sparkSession
    GraftFunctions.register(spark)
    val model = spark.table(s"${table}_model").localCheckpoint()
    graft.sources.FileIO.appendParquetBucketed(
      argmaxCentroid(newBatch, model)
        .select(col("vec_id"), col("embedding"), col("cid")),
      table, nBuckets, "cid", Seq("cid"))
  }

  /** Tombstone a set of vectors out of a trained IVF index: ids append
    * to the `<table>_deletes` side table; nothing in the cid-bucketed
    * index rewrites. [[liveTrainedIvfIndex]] serves the index with the
    * tombstones anti-joined out (they are metadata-scale and broadcast),
    * and [[compactTrainedIvfIndex]] folds them in when their share
    * justifies the rewrite — the LSM-style delete contract every
    * immutable-layout store uses: deletes are O(|deletes|) appends at
    * write time, one broadcast anti-join at read time, and reclaimed in
    * bulk, never via in-place bucket surgery. Deletes do NOT retrain
    * the model (same immutability contract as append — re-clustering is
    * a rebuild). AnnIndexSpec pins delete-then-query ≡ a same-model
    * index built without the vectors, before AND after compaction.
    *
    * CAVEAT — model artifacts: if a deleted id is a recorded SEED
    * (`<table>_seeds`), its exact float values remain embedded in the
    * `_model` / `_pqcodebook` artifacts until
    * [[scrubIndexModelOnTakedown]] runs; [[retainedSeedAudit]] reports
    * the exposure. */
  def deleteFromTrainedIvfIndex(spark: SparkSession, table: String,
      ids: Seq[Long]): Unit = {
    import spark.implicits._
    val df = ids.toDF("vec_id")
    if (spark.catalog.tableExists(s"${table}_deletes"))
      df.write.mode("append").format("parquet")
        .saveAsTable(s"${table}_deletes")
    else df.write.format("parquet").saveAsTable(s"${table}_deletes")
  }

  /** The live view of a trained IVF index under its tombstones. */
  def liveTrainedIvfIndex(spark: SparkSession, table: String): DataFrame = {
    val idx = spark.table(table)
    if (spark.catalog.tableExists(s"${table}_deletes"))
      idx.join(broadcast(spark.table(s"${table}_deletes").distinct()),
        Seq("vec_id"), "left_anti")
    else idx
  }

  /** Fold tombstones into the layout: rewrite the cid-bucketed table
    * from the live view (assignments and model are untouched — rows only
    * leave) and drop the tombstone table.
    *
    * The `_deletes` table is SHARED with any quantized sidecars
    * (`_pq`, `_int8`), so they MUST fold their tombstones in the same
    * compaction — dropping the shared table with a sidecar still dirty
    * would resurrect every deleted row in quantized serving. This
    * function therefore rewrites whichever sidecars exist before the
    * drop; AnnIndexSpec pins post-compaction exclusion for each. */
  def compactTrainedIvfIndex(spark: SparkSession, table: String,
      nBuckets: Int = 8): Unit = {
    val live = liveTrainedIvfIndex(spark, table).localCheckpoint()
    if (spark.catalog.tableExists(s"${table}_pq")) {
      val livePq = livePqCodes(spark, table).localCheckpoint()
      graft.sources.FileIO.writeParquetBucketed(
        livePq, s"${table}_pq", nBuckets, "cid", Seq("cid"))
    }
    if (spark.catalog.tableExists(s"${table}_rpq")) {
      val liveR = liveResidualPqCodes(spark, table).localCheckpoint()
      graft.sources.FileIO.writeParquetBucketed(
        liveR, s"${table}_rpq", nBuckets, "cid", Seq("cid"))
    }
    if (spark.catalog.tableExists(s"${table}_int8")) {
      val liveI8 = liveInt8Codes(spark, table).localCheckpoint()
      graft.sources.FileIO.writeParquetBucketed(
        liveI8, s"${table}_int8", nBuckets, "cid", Seq("cid"))
    }
    graft.sources.FileIO.writeParquetBucketed(
      live, table, nBuckets, "cid", Seq("cid"))
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_deletes")
  }

  /** Per-role seed retention under the index's tombstones: how many of
    * the model/codebook SEED vectors — whose float values the
    * `<table>_model` centroids (verbatim at iters=0) and
    * `<table>_pqcodebook` slices embed — belong to taken-down ids.
    * `seeds_retained > 0` means the takedown's data is still serving
    * queries THROUGH the model artifacts even though its index rows
    * are tombstoned; [[scrubIndexModelOnTakedown]] is the repair. The
    * compliance dry-run companion to TakedownOps.takedownAudit's
    * `ivf_model` / `pq_codebook` rows. */
  def retainedSeedAudit(spark: SparkSession, table: String): DataFrame = {
    val seeds = spark.table(s"${table}_seeds")
    val gone =
      if (spark.catalog.tableExists(s"${table}_deletes"))
        spark.table(s"${table}_deletes").distinct()
      else seeds.filter(lit(false)).select(col("vec_id"))
    seeds.join(broadcast(gone.withColumn("_g", lit(1))),
        Seq("vec_id"), "left")
      .groupBy(col("role"))
      .agg(count(lit(1)).as("seeds_total"),
        sum(when(col("_g").isNotNull, 1L).otherwise(0L))
          .as("seeds_retained"))
      .orderBy(col("role"))
  }

  /** Takedown parity for the VERBATIM-EMBEDDING model artifacts — the
    * one place [[deleteFromTrainedIvfIndex]]'s tombstone contract is
    * not enough. Tombstones remove index ROWS, but three persisted
    * artifacts embed exact copies/slices of their SEED vectors: the
    * `_model` centroids (verbatim at iters=0; seed-derived always),
    * the `_pqcodebook` entries (verbatim slices by construction, and a
    * trained codebook's dead cells retain their prior — also verbatim
    * — centers), and nothing in the delete path touches them. So a
    * takedown that hits a seed id leaves that vector's exact floats
    * serving every subsequent query.
    *
    * This call closes the gap: if any tombstoned id is in the recorded
    * seed set (`<table>_seeds`), it RE-ELECTS replacement seeds
    * deterministically (survivors keep their place; each lost seed is
    * replaced by the smallest live vec_id not already a seed — no
    * rand(), so replay and the spec's rebuild-equivalence hold) and
    * REBUILDS the model artifacts from the live view: retrain +
    * re-assign the base index, then re-derive whichever quantized
    * sidecars exist (`_pq` re-encodes under the re-elected codebook,
    * `_int8` re-encodes under the new assignment). Cost is explicit —
    * O(corpus) like any rebuild (codes are corpus-scale to recompute;
    * the contract trades that for exactness) — and the no-seed-hit
    * case returns without touching anything, so routine takedowns stay
    * O(|deletes|). AnnIndexSpec pins scrub ≡ an index rebuilt without
    * the vectors, and that no artifact retains the gone floats. */
  def scrubIndexModelOnTakedown(spark: SparkSession, table: String,
      nBuckets: Int = 8, iters: Int = KmeansIters): Unit = {
    if (!spark.catalog.tableExists(s"${table}_deletes")) return
    // pre-provenance index: no recorded seeds means nothing verbatim
    // to scrub — the tombstone contract alone covers it
    if (!spark.catalog.tableExists(s"${table}_seeds")) return
    val gone = spark.table(s"${table}_deletes").distinct()
      .collect().map(_.getLong(0)).toSet
    val seeds = spark.table(s"${table}_seeds").collect()
      .map(r => (r.getAs[String]("role"), r.getAs[Long]("vec_id")))
    val centSeeds = seeds.collect { case ("centroid", id) => id }.toSeq
    val cbSeeds = seeds.collect { case ("codebook", id) => id }.toSeq
    val rcbSeeds = seeds.collect { case ("rcodebook", id) => id }.toSeq
    if (!(centSeeds ++ cbSeeds ++ rcbSeeds).exists(gone)) return
    // Rebuild parameters come from the RECORDED build metadata when
    // present (an index built with non-default nBuckets/iters must not
    // silently re-bucket or re-train differently); the arguments are
    // the pre-metadata fallback.
    val meta = readMeta(spark, table)
    val nb = meta.getOrElse("nbuckets", nBuckets.toLong).toInt
    val it = meta.getOrElse("iters", iters.toLong).toInt
    val live = liveTrainedIvfIndex(spark, table)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val hadPq = spark.catalog.tableExists(s"${table}_pq")
    val hadRpq = spark.catalog.tableExists(s"${table}_rpq")
    val hadI8 = spark.catalog.tableExists(s"${table}_int8")
    val pqSub = meta.get("pq_subspaces").map(_.toInt).getOrElse(
      if (hadPq)
        spark.table(s"${table}_pqcodebook")
          .agg(max(col("s"))).collect().head.getInt(0) + 1
      else PqSubspaces)
    val rpqSub = meta.get("rpq_subspaces").map(_.toInt).getOrElse(
      if (hadRpq)
        spark.table(s"${table}_rpqcodebook")
          .agg(max(col("s"))).collect().head.getInt(0) + 1
      else PqSubspaces)
    val rpqIters =
      meta.getOrElse("rpq_train_iters", KmeansIters.toLong).toInt
    // FAIL-CLOSED ordering: drop the stale sidecars BEFORE the base
    // rebuild drops the shared `_deletes`. A failure between the base
    // rebuild and the sidecar re-derivation must leave the sidecars
    // ABSENT (serve calls error pointedly), never present-but-stale —
    // stale codes include tombstoned vectors and slices under the old
    // codebook, with no tombstones left to filter them.
    if (hadPq) {
      graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_pq")
      graft.sources.FileIO.dropTableAndLocation(spark,
        s"${table}_pqcodebook")
    }
    if (hadRpq) {
      graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_rpq")
      graft.sources.FileIO.dropTableAndLocation(spark,
        s"${table}_rpqcodebook")
    }
    if (hadI8)
      graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_int8")
    // writeTrainedIvfIndex drops the tombstones (fresh generation) —
    // correct here because `live` already excludes them, and the
    // sidecar rewrites below re-derive from the new base table.
    writeTrainedIvfIndex(live, table, nb,
      reElectSeeds(live, centSeeds, gone), it)
    if (hadPq)
      writePqCodes(spark, table, pqSub,
        reElectSeeds(live, cbSeeds, gone), nb)
    if (hadRpq)
      writeResidualPqCodes(spark, table, rpqSub,
        reElectSeeds(live, rcbSeeds, gone), nb, rpqIters)
    if (hadI8) writeInt8Codes(spark, table, nb)
  }

  /** Deterministic seed re-election: survivors stay; each lost seed is
    * replaced by the smallest live id outside the set (a TopK-pushdown
    * sort-limit, never a full collect). */
  private def reElectSeeds(live: DataFrame, current: Seq[Long],
      gone: Set[Long]): Seq[Long] = {
    val survivors = current.filterNot(gone)
    val lost = current.size - survivors.size
    if (lost == 0) current
    else {
      val excluded = survivors ++ gone
      val replacements = live
        .filter(!col("vec_id").isin(excluded.toSeq: _*))
        .select(col("vec_id")).orderBy(col("vec_id"))
        .limit(lost).collect().map(_.getLong(0)).toSeq
      require(replacements.size == lost,
        s"cannot re-elect $lost seed(s): only ${replacements.size} " +
          "live non-seed vectors remain")
      (survivors ++ replacements).sorted
    }
  }

  /** [[knnIvfIndexed]] for a trained index: identical probe shape, but
    * centroids come from the model table rather than id-filtered corpus
    * rows. Probes broadcast; the corpus side streams unshuffled. */
  def knnIvfTrained(assigned: DataFrame, model: DataFrame,
      queryIds: Seq[Long] = QueryIds, k: Int = TopK,
      nProbe: Int = NProbe): DataFrame =
    ivfTrainedTopkFor(assigned, model,
      assigned.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      k, nProbe)

  /** The trained-IVF probe/score core for an arbitrary `(qid, qe)` query
    * frame — shared by [[knnIvfTrained]] (id-filtered queries) and the
    * q139 recall audit (a modulus-sampled query set). */
  private[llm] def ivfTrainedTopkFor(assigned: DataFrame, model: DataFrame,
      q: DataFrame, k: Int, nProbe: Int): DataFrame = {
    GraftFunctions.register(assigned.sparkSession)
    val probes = nearestCentroid(q, model.select(col("cid"), col("ce")),
        "qid", "qe", nProbe)
      .select(col("qid"), col("qe"), col("cid"))
    val scored = assigned.select("vec_id", "embedding", "cid")
      .join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
    topk(scored, k)
  }

  /** Per-label centroids: element-wise mean over the embedding column via
    * posexplode → (label, pos) partial/final average → scalar summaries
    * (dim, L2 norm, head components). The explode shuffles (label, pos,
    * value) triples — at 100 TB this is the standard dimension-parallel
    * reduction for centroid/IVF training, with map-side partial
    * aggregation keeping the shuffle at |labels|·dim rows. */
  def labelCentroids(em: DataFrame): DataFrame = {
    val comp = em
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v").cast("double")).as("m"))
    comp.groupBy(col("label"))
      .agg(count(lit(1)).as("dim"),
        round(sqrt(sum(col("m") * col("m"))), 4).as("l2"),
        round(sum(when(col("pos") < 8, col("m")).otherwise(0.0)), 4).as("head_sum"))
      .orderBy("label")
  }

  // ------------------------------------------------------------------
  // Oracle SQL
  // ------------------------------------------------------------------

  val knnBruteSql: String =
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |    (acc, v) -> acc + v)) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM n
       |  WHERE vec_id IN (${QueryIds.mkString(", ")})),
       |scored AS (
       |  SELECT q.qid, n.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(q.qe)),
       |        i -> CAST(q.qe[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE))),
       |      (acc, v) -> acc + v) / (q.qnrm * n.nrm) AS cos
       |  FROM q, n WHERE n.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT qid, rnk, vec_id AS neighbor, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin

  /** DuckDB cosine between two list columns (sequential double fold —
    * the same evaluation order as the CosineSimilarity expression). */
  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(generate_series(1, len($a)),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (acc, v) -> acc + v)
       | / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |     list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |     (acc, v) -> acc + v))
       |  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |     list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |     (acc, v) -> acc + v))))""".stripMargin

  val knnIvfSql: String =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |asg AS (SELECT vec_id, embedding, cid FROM (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("c.ce", "e.embedding")} DESC, c.cid) AS crn
       |  FROM embeddings e, c) t WHERE crn = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |  WHERE vec_id IN (${QueryIds.mkString(", ")})),
       |probes AS (SELECT qid, qe, cid FROM (
       |  SELECT q.qid, q.qe, c.cid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("c.ce", "q.qe")} DESC, c.cid) AS crn
       |  FROM q, c) t WHERE crn <= $NProbe),
       |scored AS (
       |  SELECT p.qid, a.vec_id, ${cosSql("p.qe", "a.embedding")} AS cos
       |  FROM probes p JOIN asg a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.qid),
       |r AS (SELECT qid, vec_id, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT qid, rnk, vec_id AS neighbor, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin

  /** One Lloyd assignment CTE: nearest centroid of `cents` per vector. */
  private def kmeansAssignCte(cents: String, out: String): String =
    s"""$out AS (SELECT vec_id, embedding, cid FROM (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("c.ce", "e.embedding")} DESC, c.cid) AS crn
       |  FROM embeddings e, $cents c) t WHERE crn = 1)""".stripMargin

  /** One centroid-update CTE: element-wise mean, rounded to 6 dp and
    * narrowed to float — the same model-state canonicalization the Spark
    * path applies. */
  private def kmeansUpdateCte(asg: String, out: String): String =
    s"""$out AS (SELECT cid,
       |  list_transform(list(m ORDER BY i), x -> CAST(x AS FLOAT)) AS ce
       |  FROM (SELECT a.cid, g.i,
       |      round(avg(CAST(a.embedding[g.i] AS DOUBLE)) + 1e-9, 6) AS m
       |    FROM $asg a, UNNEST(generate_series(1, len(a.embedding))) AS g(i)
       |    GROUP BY a.cid, g.i) t GROUP BY cid)""".stripMargin

  val kmeansSql: String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |f AS (
       |  SELECT e.vec_id, c.cid, ${cosSql("c.ce", "e.embedding")} AS cos,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("c.ce", "e.embedding")} DESC, c.cid) AS crn
       |  FROM embeddings e, c$KmeansIters c)
       |SELECT vec_id, cid, round(cos, 4) AS cos
       |FROM f WHERE crn = 1 ORDER BY vec_id""".stripMargin
  }

  /** q86 — semantic dedup via centroid blocking (the SemDeDup shape,
    * Abbas et al. '23, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): train spherical k-means centroids
    * ([[kmeansCentroids]] — the q56 model), assign every vector to its
    * cluster, generate candidate pairs WITHIN a cluster only, and verify
    * each candidate by exact cosine ≥ `threshold`. This is the
    * LABEL-FREE embedding near-dup path: q23_dedup_embedding blocks on a
    * trusted label column; when no label exists, the learned clustering
    * IS the blocking, pruning the pair space from C(N,2) to Σ_c C(n_c,2)
    * at the cost of k·d broadcast floats per assignment pass.
    *
    * Scale shape: training + assignment are the q56 plan (corpus never
    * shuffles for assignment); the candidate stage shuffles each vector
    * ONCE on its cid, and the per-cluster self-join is quadratic only in
    * cluster size — the knob is k (SemDeDup uses k ≈ √N; a skewed
    * cluster is split by raising k or re-clustering that cluster alone).
    * Blocking-mirrored oracle (the q23_dedup_embedding_lsh precedent):
    * the SQL twin replays the SAME deterministic Lloyd iterations and
    * within-cluster pairing, so both engines see identical candidates. */
  def semanticDedup(em: DataFrame, threshold: Double = SemDedupThreshold,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame =
    semanticPairs(em, threshold, centroidIds, iters)
      .select(col("v1"), col("v2"), col("cid"),
        round(col("cos"), 4).as("cos"))
      .orderBy("v1", "v2")

  /** Sub-blocks per side of the within-cluster self-join. The join's
    * equi-key without them is `cid` alone — |clusters| = 8 key groups,
    * so at most 8 tasks carry the WHOLE pair compute whatever the
    * cluster size: the 100× stress point measured one straggler task
    * computing C(25k,2) ≈ 312 M cosines single-threaded for ~28 min
    * while 31 cores idled. With S sub-blocks the key becomes
    * (cid, sa, sb) — 8·S² groups — for an S× replication of each side
    * through the shuffle: the classic triangular self-join
    * decomposition, pair SET unchanged (each unordered pair lands in
    * exactly one (sub(v1), sub(v2)) block; v1 < v2 still dedups). */
  private val PairSubBlocks = 4

  /** The blocked ε-neighbor pair stage shared by q86/q87/q138: candidate
    * pairs WITHIN a learned cluster, verified by exact cosine ≥
    * `threshold`. Unrounded `cos` — callers round at their output edge. */
  private[graft] def semanticPairs(em: DataFrame, threshold: Double,
      centroidIds: Seq[Long], iters: Int): DataFrame = {
    // NOT persisted, deliberately (measured this round): the two
    // fan-out sides below evaluate the assignment concurrently inside
    // one job, so a lazy persist only adds block-lock serialization on
    // the shared partitions (q86's task_sec ROSE with it) — the
    // expensive Lloyd subtree underneath is already shared through its
    // broadcast exchange, and the per-side remainder is one scan+argmax
    // projection
    val asg = trainedIvfAssign(em, centroidIds, iters)
    val S = PairSubBlocks
    // every row fans out S ways per side: the A copy keyed by its own
    // sub-block × each partner block j, the B copy by each partner
    // block i × its own sub-block — partition (cid, i, j) then holds
    // exactly the A rows with sub = i and B rows with sub = j
    val a = asg.select(col("cid"), col("vec_id").as("v1"),
        col("embedding").as("e1"))
      .withColumn("_sa", pmod(xxhash64(col("v1")), lit(S.toLong)).cast("int"))
      .withColumn("_j", explode(sequence(lit(0), lit(S - 1))))
    val b = asg.select(col("cid").as("_cid2"), col("vec_id").as("v2"),
        col("embedding").as("e2"))
      .withColumn("_sb", pmod(xxhash64(col("v2")), lit(S.toLong)).cast("int"))
      .withColumn("_i", explode(sequence(lit(0), lit(S - 1))))
    a.join(b, col("cid") === col("_cid2") && col("_sa") === col("_i")
        && col("_j") === col("_sb") && col("v1") < col("v2"))
      .withColumn("cos", expr("cosine_sim(e1, e2)"))
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), col("cid"), col("cos"))
  }

  /** Same posture as [[CosineThreshold]]: low enough that the synthetic
    * corpus yields pairs, >1e-4 from every pair's cosine (no
    * float-boundary hazard — checked in AnnIndexSpec). */
  private val SemDedupThreshold = 0.4

  val semanticDedupSql: String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |p AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2, a.cid,
       |    ${cosSql("a.embedding", "b.embedding")} AS cos
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |SELECT v1, v2, cid, round(cos, 4) AS cos
       |FROM p WHERE cos >= $SemDedupThreshold ORDER BY v1, v2""".stripMargin
  }

  /** q87 — the SemDeDup END PRODUCT: the corpus pruned to one canonical
    * representative per semantic cluster. [[semanticDedup]] emits the
    * audit-grade pair list; this collapses those pairs with the same
    * distributed connected-components machinery the text path uses
    * ([[graft.llm.DedupOps.connectedComponents]] — min-label iteration,
    * O(1) plan depth via localCheckpoint, loud non-convergence) and
    * labels EVERY vector: `keeper` = the min vec_id of its semantic
    * component (itself when unpaired), `is_keeper` = the row survives
    * pruning. Train → pair → resolve, all label-free — the embedding
    * mirror of q23_dedup_keeper/q23_dedup_corpus. Same recursive-CTE
    * oracle pattern as q23_dedup_keeper, over the q86 blocking-mirrored
    * pair set. */
  def semanticKeeper(em: DataFrame, threshold: Double = SemDedupThreshold,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    val pairs = semanticDedup(em, threshold, centroidIds, iters)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val cc = graft.llm.DedupOps.connectedComponents(pairs)
      .withColumnRenamed("doc_id", "vec_id")
    em.select(col("vec_id"))
      .join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("keeper"), col("vec_id")).as("keeper"))
      .withColumn("is_keeper", (col("vec_id") === col("keeper")).cast("int"))
      .orderBy("vec_id")
  }

  val semanticKeeperSql: String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE c0 AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |np AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $SemDedupThreshold),
       |edges AS (SELECT v1 AS src, v2 AS dst FROM np
       |  UNION ALL SELECT v2, v1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |k AS (SELECT src AS vec_id, least(src, min(dst)) AS keeper
       |  FROM reach GROUP BY src)
       |SELECT e.vec_id, COALESCE(k.keeper, e.vec_id) AS keeper,
       |  CASE WHEN COALESCE(k.keeper, e.vec_id) = e.vec_id
       |    THEN 1 ELSE 0 END AS is_keeper
       |FROM embeddings e LEFT JOIN k ON k.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  /** q137 — centroid silhouette audit (Rousseeuw 1987, "Silhouettes: a
    * graphical aid to the interpretation and validation of cluster
    * analysis", J. Comput. Appl. Math. 20, simplified to the centroid
    * form): for every vector, cohesion a = cosine distance (1 − cos) to
    * its OWN label centroid and separation b = distance to the nearest
    * OTHER label centroid; silhouette s = (b − a) / max(a, b) ∈ [−1, 1].
    * Per label: member count, mean and min silhouette, and how many
    * members sit NEGATIVE (closer to a foreign centroid than their own —
    * the mislabel / cluster-collapse review queue). This is the cluster-
    * QUALITY gate the label-blocked dedup (q23_dedup_embedding) and the
    * per-label ANN paths assume but nothing verified: a label whose mean
    * silhouette ≈ 0 gives blocking no purchase, and a large n_neg says
    * the label column disagrees with the geometry (q100 audits pointwise
    * neighbor labels; this audits the label PARTITION itself).
    *
    * Centroid form, not the classic pairwise form, by design: pairwise
    * a/b is O(N²·d) — a non-starter — while centroids make the audit one
    * |labels|·d model (the q24_label_centroids reduction) broadcast back
    * over a single corpus pass, the q104 train-small/score-wide shape.
    * Model state is canonicalized exactly like the q56 kmeans centroids
    * (per-dimension mean rounded to 6 dp, narrowed to float) so both
    * engines score against bit-identical centroids; the distances
    * themselves then agree bitwise (the cosine_sim numeric contract) and
    * only the mean aggregate needs the FIXTURES.md rounding guard.
    *
    * Scale shape: centroid fit is posexplode → (label, pos) partial
    * average — shuffle |labels|·d rows; scoring is a one-row broadcast
    * crossJoin evaluated per vector with array HOFs (no join, no
    * per-vector shuffle); the final aggregate is |labels| groups. */
  def silhouetteAudit(em: DataFrame): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val cents = em
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      // +1e-9 before round: the kmeansCentroids boundary nudge (a
      // summation-order ulp must not flip a 6th-decimal mean component)
      .agg(round(avg(col("v").cast("double")) + lit(1e-9), 6).as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("float")).as("ce"))
    val packed = cents
      .agg(collect_list(struct(col("label").as("clabel"), col("ce"))).as("cts"))
    val ab = Tables.fanout(em).crossJoin(broadcast(packed))
      .select(col("label"),
        (lit(1.0) - expr("array_max(transform(filter(cts, " +
          "c -> c.clabel = label), c -> cosine_sim(c.ce, embedding)))"))
          .as("a"),
        (lit(1.0) - expr("array_max(transform(filter(cts, " +
          "c -> c.clabel != label), c -> cosine_sim(c.ce, embedding)))"))
          .as("b"))
    ab.select(col("label"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil"),
        (col("b") < col("a")).cast("long").as("neg"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("sil")) + lit(1e-9), 4).as("mean_sil"),
        round(min(col("sil")) + lit(1e-9), 4).as("min_sil"),
        sum(col("neg")).as("n_neg"))
      // |labels|-bounded output: one-partition sort, no sampling job
      .coalesce(1).sortWithinPartitions("label")
  }

  val silhouetteSql: String =
    s"""WITH cdim AS (SELECT label AS clabel, g.i AS pos,
       |    round(avg(CAST(embedding[g.i] AS DOUBLE)) + 1e-9, 6) AS m
       |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
       |  GROUP BY label, g.i),
       |cent AS (SELECT clabel,
       |    list_transform(list(m ORDER BY pos), x -> CAST(x AS FLOAT)) AS ce
       |  FROM cdim GROUP BY clabel),
       |sc AS (SELECT e.vec_id, e.label, c.clabel,
       |    ${cosSql("c.ce", "e.embedding")} AS cos
       |  FROM embeddings e, cent c),
       |ab AS (SELECT vec_id, label,
       |    1.0 - max(CASE WHEN clabel = label THEN cos END) AS a,
       |    1.0 - max(CASE WHEN clabel <> label THEN cos END) AS b
       |  FROM sc GROUP BY vec_id, label),
       |s AS (SELECT label, (b - a) / greatest(a, b) AS sil,
       |    CASE WHEN b < a THEN 1 ELSE 0 END AS neg FROM ab)
       |SELECT label, count(*) AS n,
       |  round(avg(sil) + 1e-9, 4) AS mean_sil,
       |  round(min(sil) + 1e-9, 4) AS min_sil,
       |  CAST(sum(neg) AS BIGINT) AS n_neg
       |FROM s GROUP BY label ORDER BY label""".stripMargin

  /** q138 — DBSCAN density clustering (Ester et al., KDD 1996) over the
    * blocked ε-neighbor graph: a vector is CORE iff it has ≥ `minPts`
    * neighbors at cosine ≥ `threshold` (neighbors, not counting itself —
    * one less than the classic point-count convention), clusters are the
    * connected components of the core–core subgraph labeled by min
    * vec_id, BORDER points are non-core vectors adjacent to a core
    * (assigned the smallest adjacent core's cluster — a deterministic
    * refinement of the classic first-toucher rule), everything else is
    * NOISE. Output: per-cluster core/border/total counts plus one
    * `cluster = -1` noise row. Density clustering is the label-free
    * structure audit k-means can't give: k-means invents k convex cells
    * whatever the data; DBSCAN reports how many dense regions EXIST,
    * how big they are, and how much of the corpus is unclusterable —
    * the topic-discovery / outlier-mining shape over embeddings.
    *
    * Scale shape: the ε-graph is the SHARED blocked pair stage
    * ([[semanticPairs]] — learned-centroid blocking prunes C(N,2) to
    * Σ_c C(n_c,2); never all-pairs), cached once for its three
    * consumers (degrees, core–core edges, border adjacency). Degrees
    * are one edge-scale count; the core set is node-scale and joins via
    * shuffle_hash (a corpus-scale core set can never broadcast); the
    * fixpoint is the same O(log diameter) pointer-jumping CC the text
    * dedup path runs (edges checkpointed once, label-scale exchanges
    * only). Blocking-mirrored oracle (the q86 precedent): the SQL twin
    * replays the same Lloyd iterations, pair set, and recursive CC.
    * Threshold sits where the blocked graph has cores at every test SF
    * (0.4 leaves max-degree 1 at sf0.01); cross-engine safety comes
    * from the bit-identical cosine contract, not boundary margin. */
  def dbscanClusters(em: DataFrame, threshold: Double = DbscanThreshold,
      minPts: Int = DbscanMinPts, centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters, maxIters: Int = 15): DataFrame = {
    val pairs = graft.core.CacheOnce.swap("dbscan-pairs",
      semanticPairs(em, threshold, centroidIds, iters).select("v1", "v2"))
    val core = graft.core.CacheOnce.swap("dbscan-core",
      pairs.select(explode(array(col("v1"), col("v2"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= minPts).select("id"))
    val coreEdges = pairs
      .join(core.withColumnRenamed("id", "v1").hint("shuffle_hash"),
        Seq("v1"), "left_semi")
      .join(core.withColumnRenamed("id", "v2").hint("shuffle_hash"),
        Seq("v2"), "left_semi")
    val cc = graft.llm.DedupOps.connectedComponents(
        coreEdges.select(col("v1").as("d1"), col("v2").as("d2")), maxIters)
      .select(col("doc_id").as("id"), col("keeper").as("lab"))
    // a core with no core neighbor is a singleton cluster of its own id
    // (CC only labels endpoints of core–core edges)
    val coreLab = cc.unionByName(
      core.join(cc.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("lab")))
    // border: non-core endpoint adjacent to a core — both orientations
    // from ONE evaluation of the cached pair frame
    val dirs = pairs.select(explode(array(
        struct(col("v1").as("a"), col("v2").as("b")),
        struct(col("v2").as("a"), col("v1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    // min adjacent core label per NODE first, core-ness filtered after:
    // the former dirs-anti-core ran the anti-join at edge scale (one
    // whole 2·|pairs| exchange); aggregating first shrinks the anti-join
    // input to node scale for the identical result (coreLab covers
    // exactly the core set, so the min is over the same neighbor rows)
    val border = dirs
      .join(coreLab.withColumnRenamed("id", "b").hint("shuffle_hash"),
        Seq("b"))
      .groupBy(col("a").as("id")).agg(min(col("lab")).as("lab"))
      .join(core.hint("shuffle_hash"), Seq("id"), "left_anti")
    // ONE rollup pass over the assignment union replaces the former
    // three-arm tail (cached assign + per-cluster agg + em anti-join
    // noise count — 3 extra jobs incl. the cache materialization): the
    // rollup's grand-total row carries n_assigned, and noise is just
    // |em| − n_assigned (core and border id sets are disjoint by
    // construction, so assign ids are distinct) with |em| a broadcast
    // scalar off the parquet count. Empty-assign degenerates correctly:
    // rollup of an empty frame still emits the grand-total row, so the
    // noise row survives with n_total = |em|.
    val assign = coreLab.withColumn("role", lit(1))
      .unionByName(border.withColumn("role", lit(2)))
    val total = broadcast(em.agg(count(lit(1)).as("em_total")))
    assign.rollup(col("lab"))
      .agg(sum(when(col("role") === 1, 1L).otherwise(0L)).as("nc"),
        sum(when(col("role") === 2, 1L).otherwise(0L)).as("nb"),
        count(lit(1)).as("na"),
        grouping(col("lab")).as("g"))
      .crossJoin(total)
      .select(
        when(col("g") === 1, lit(-1L)).otherwise(col("lab")).as("cluster"),
        when(col("g") === 1, lit(0L)).otherwise(col("nc")).as("n_core"),
        when(col("g") === 1, lit(0L)).otherwise(col("nb")).as("n_border"),
        when(col("g") === 1, col("em_total") - col("na"))
          .otherwise(col("na")).as("n_total"))
      // cluster count is data-dependent (not dim-bounded): a
      // distributed sort, unlike the one-partition q137 output
      .orderBy("cluster")
  }

  /** 0.4 (the q86 threshold) leaves the blocked graph with max degree 1
    * at sf0.01 — no cores at any minPts ≥ 2; 0.32 yields cores, borders
    * AND noise at all three test SFs (measured degree spectrum). */
  val DbscanThreshold = 0.32
  val DbscanMinPts = 3

  /** `np` is MATERIALIZED: it is referenced four times (deg, ce, dirs
    * ×2) and sits on top of the unrolled Lloyd chain — inlined, DuckDB
    * re-runs that chain per reference and the sf0.1 oracle runs minutes
    * instead of ~1 s. */
  def dbscanSql(threshold: Double = DbscanThreshold,
      minPts: Int = DbscanMinPts): String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE c0 AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |np AS MATERIALIZED (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $threshold),
       |deg AS (SELECT id, count(*) AS c FROM
       |  (SELECT v1 AS id FROM np UNION ALL SELECT v2 FROM np)
       |  GROUP BY id),
       |core AS (SELECT id FROM deg WHERE c >= $minPts),
       |ce AS (SELECT v1, v2 FROM np
       |  WHERE v1 IN (SELECT id FROM core) AND v2 IN (SELECT id FROM core)),
       |edges AS (SELECT v1 AS src, v2 AS dst FROM ce
       |  UNION ALL SELECT v2, v1 FROM ce),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cclab AS (SELECT src AS id, least(src, min(dst)) AS lab
       |  FROM reach GROUP BY src),
       |corelab AS (SELECT id, lab FROM cclab
       |  UNION ALL
       |  SELECT id, id FROM core WHERE id NOT IN (SELECT id FROM cclab)),
       |dirs AS (SELECT v1 AS a, v2 AS b FROM np
       |  UNION ALL SELECT v2, v1 FROM np),
       |border AS (SELECT d.a AS id, min(cl.lab) AS lab
       |  FROM dirs d JOIN corelab cl ON d.b = cl.id
       |  WHERE d.a NOT IN (SELECT id FROM core) GROUP BY d.a),
       |assign AS (SELECT id, lab, 1 AS role FROM corelab
       |  UNION ALL SELECT id, lab, 2 FROM border),
       |clus AS (SELECT lab AS cluster,
       |  CAST(sum(CASE WHEN role = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
       |  CAST(sum(CASE WHEN role = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_border,
       |  count(*) AS n_total FROM assign GROUP BY lab),
       |noise AS (SELECT CAST(-1 AS BIGINT) AS cluster,
       |  CAST(0 AS BIGINT) AS n_core, CAST(0 AS BIGINT) AS n_border,
       |  (SELECT count(*) FROM embeddings
       |   WHERE vec_id NOT IN (SELECT id FROM assign)) AS n_total)
       |SELECT cluster, n_core, n_border, n_total FROM clus
       |UNION ALL SELECT cluster, n_core, n_border, n_total FROM noise
       |ORDER BY cluster""".stripMargin
  }

  /** q139 — measured ANN recall@k (the standard ANN evaluation protocol,
    * e.g. Jégou et al. '11 §V report recall@R against exhaustive search):
    * for a deterministic modulus-sampled query set, the exact brute-force
    * cosine top-k is the ground truth and the TRAINED-IVF path
    * ([[kmeansCentroids]] model, `nProbe` probe lists — the production
    * serving shape) is the system under test; per query, how many of the
    * true k neighbors the index returned, the recall fraction, and a
    * pass flag (`n_hit ≥ minHits` — integer-valued on both engines, no
    * float boundary). This turns the spec-level "recall ≥ 0.8 on the
    * fixture" assertion into a first-class MEASURED audit a user runs
    * against their own corpus before trusting the blocked path — the
    * recall/cost trade is the whole point of IVF, and an untested nProbe
    * is a silent quality cliff (the q120 PQ audit's companion on the
    * routing side).
    *
    * Scale shape: the audit's cost knob is the sample modulus — ground
    * truth is O(|sample|·N·d) by construction (that is what "exhaustive
    * ground truth" means; Jégou's protocol samples queries for exactly
    * this reason), evaluated as one broadcast of the sampled queries
    * against a single unshuffled corpus scan, map-side top-k via the
    * rank window's WindowGroupLimit. The candidate side rides the
    * trained-index serving path unchanged (broadcast probes, no corpus
    * exchange). Output is |sample| rows — distributed sort, since the
    * sample scales with the corpus. */
  def annRecallAudit(em: DataFrame, k: Int = TopK, nProbe: Int = NProbe,
      sampleMod: Long = 50L, sampleRes: Long = 7L, minHits: Int = 3,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val q = em.filter(col("vec_id") % sampleMod === sampleRes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = topk(em.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)")), k)
      .select(col("qid"), col("neighbor"))
    // k-row model; localCheckpoint so training runs once, not once per
    // consumer (the q100 pattern — corpus assignment + probe ranking
    // both read it, and lazy composition would re-train inside both)
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    val cand = ivfTrainedTopkFor(assignUnderModel(em, model), model, q,
        k, nProbe)
      .select(col("qid"), col("neighbor"))
    val hits = truth.join(cand, Seq("qid", "neighbor"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    q.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / k + lit(1e-9), 4))
      .withColumn("ok", (col("n_hit") >= minHits).cast("int"))
      .orderBy("qid")
  }

  def annRecallSql(k: Int = TopK, nProbe: Int = NProbe,
      sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3): String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id % $sampleMod = $sampleRes),
       |t AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id) AS rnk
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid) x WHERE rnk <= $k),
       |p AS (SELECT qid, qe, cid FROM (
       |  SELECT q.qid, q.qe, c.cid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("c.ce", "q.qe")} DESC, c.cid) AS crn
       |  FROM q, c$KmeansIters c) x WHERE crn <= $nProbe),
       |cand AS (SELECT qid, vec_id FROM (
       |  SELECT p.qid, a.vec_id,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY ${cosSql("p.qe", "a.embedding")} DESC, a.vec_id) AS rnk
       |  FROM p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid) x
       |  WHERE rnk <= $k),
       |h AS (SELECT t.qid, count(*) AS n_hit FROM t
       |  JOIN cand c ON t.qid = c.qid AND t.vec_id = c.vec_id
       |  GROUP BY t.qid)
       |SELECT q.qid, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  round(coalesce(h.n_hit, 0) / CAST($k AS DOUBLE) + 1e-9, 4)
       |    AS recall,
       |  CAST(coalesce(h.n_hit, 0) >= $minHits AS INT) AS ok
       |FROM q LEFT JOIN h ON q.qid = h.qid ORDER BY q.qid""".stripMargin
  }

  /** q159 — the nProbe→recall TUNING CURVE (q139 answers "what is the
    * recall at the shipped nProbe"; this answers "which nProbe clears
    * the bar, and what does each step cost"): one sweep over
    * nProbe = 1..`maxProbe` emitting, per level, mean recall@k against
    * the exhaustive truth, total/mean scored candidates (the serving
    * cost), and an integer-arithmetic pass flag against `minRecall` —
    * the measured curve that either names the config clearing the bar
    * or proves the index cannot on this data (q139 measured 0.67–0.72
    * at nProbe 3/8 on the isotropic fixture; the curve makes the
    * remediation decision one table read).
    *
    * Scale shape: the sweep is NOT maxProbe reruns. Ground truth is
    * computed once (the q139 arm, O(|sample|·N·d) by definition of
    * exhaustive truth). On the candidate side every (query, candidate)
    * cosine is scored ONCE with the probe rank `crn` of the list that
    * admitted it; because probe lists NEST (level p's pool = level
    * p−1's ∪ list p), exploding p over crn..maxProbe reconstructs
    * every level's pool from that single scored frame — the explode
    * multiplies slim (qid, vec_id, cos, crn) rows, never re-touches
    * embeddings, and is bounded by the truth arm's own cost. Model
    * training runs once (localCheckpoint, the q139/q100 pattern). */
  def annProbeCurve(em: DataFrame, k: Int = TopK, maxProbe: Int = 0,
      sampleMod: Long = 50L, sampleRes: Long = 7L,
      minRecall: Double = 0.8, centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val pMax =
      if (maxProbe <= 0) centroidIds.size
      else math.min(maxProbe, centroidIds.size)
    val bar = math.round(minRecall * 10000)
    val q = em.filter(col("vec_id") % sampleMod === sampleRes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = topk(em.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)")), k)
      .select(col("qid"), col("neighbor"))
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    // rank EVERY centroid per query — the serving path ranks the same
    // list and truncates at nProbe; here the truncation is the knob
    val probeRank = q.crossJoin(broadcast(model))
      .withColumn("crn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(expr("cosine_sim(ce, qe)").desc, col("cid"))))
      .filter(col("crn") <= pMax)
      .select(col("qid"), col("qe"), col("cid"), col("crn"))
    val scoredOnce = assignUnderModel(em, model)
      .join(broadcast(probeRank), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("cosine_sim(qe, embedding)").as("cos"), col("crn"))
    val levels = scoredOnce
      .withColumn("p", explode(sequence(col("crn"), lit(pMax))))
    // scanned as a separate map-side-aggregated groupBy, NOT a count
    // window sharing the rank window's exchange (tried this round and
    // REVERTED): the shared-exchange formulation measured flat-to-worse
    // in a clean same-window A/B (8.4–8.8 → 8.8–10.0 task_sec) — the
    // added whole-partition count pass over the sorted pool cost what
    // the saved second pool evaluation bought
    val ranked = levels.withColumn("rnk",
      row_number().over(Window.partitionBy(col("qid"), col("p"))
        .orderBy(col("cos").desc, col("vec_id"))))
    val scanned = levels.groupBy(col("qid"), col("p"))
      .agg(count(lit(1)).as("n_scored"))
    val hits = ranked.filter(col("rnk") <= k)
      .join(truth, ranked("qid") === truth("qid")
        && col("vec_id") === col("neighbor"), "left_semi")
      .groupBy(col("qid"), col("p")).agg(count(lit(1)).as("n_hit"))
    val grid = q.select(col("qid")).crossJoin(
      em.sparkSession.range(1, pMax + 1)
        .select(col("id").cast("int").as("p")))
    grid.join(scanned, Seq("qid", "p"), "left")
      .join(hits, Seq("qid", "p"), "left")
      .select(col("qid"), col("p"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_hit")).as("hits_total"),
        round(sum(col("n_hit")).cast("double")
          / (lit(k) * count(lit(1))) + lit(1e-9), 4).as("mean_recall"),
        sum(col("n_scored")).as("scanned_total"),
        round(sum(col("n_scored")).cast("double")
          / count(lit(1)) + lit(1e-9), 2).as("mean_scanned"),
        // integer arithmetic on both engines: recall*10⁴ vs bar*k*n —
        // no float boundary can flip the verdict
        (sum(col("n_hit")) * 10000L
          >= lit(bar) * k * count(lit(1))).cast("int").as("ok"))
      .select(col("p").as("nprobe"), col("n_queries"), col("hits_total"),
        col("mean_recall"), col("scanned_total"), col("mean_scanned"),
        col("ok"))
      .orderBy("nprobe")
  }

  def annProbeCurveSql(k: Int = TopK, maxProbe: Int = 8,
      sampleMod: Long = 50L, sampleRes: Long = 7L,
      minRecall: Double = 0.8): String = {
    val bar = math.round(minRecall * 10000)
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id % $sampleMod = $sampleRes),
       |t AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id) AS rnk
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid) x WHERE rnk <= $k),
       |pr AS (SELECT qid, qe, cid, crn FROM (
       |  SELECT q.qid, q.qe, c.cid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("c.ce", "q.qe")} DESC, c.cid) AS crn
       |  FROM q, c$KmeansIters c) x WHERE crn <= $maxProbe),
       |sc1 AS MATERIALIZED (SELECT p.qid, a.vec_id,
       |    ${cosSql("p.qe", "a.embedding")} AS cos, p.crn
       |  FROM pr p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid),
       |lv AS MATERIALIZED (SELECT qid, vec_id, cos,
       |    unnest(generate_series(crn, $maxProbe)) AS p FROM sc1),
       |rk AS (SELECT qid, p, vec_id,
       |    row_number() OVER (PARTITION BY qid, p
       |      ORDER BY cos DESC, vec_id) AS rnk FROM lv),
       |sc AS (SELECT qid, p, count(*) AS n_scored FROM lv GROUP BY qid, p),
       |h AS (SELECT r.qid, r.p, count(*) AS n_hit FROM rk r
       |  JOIN t ON t.qid = r.qid AND t.vec_id = r.vec_id
       |  WHERE r.rnk <= $k GROUP BY r.qid, r.p),
       |grid AS (SELECT q.qid, pp.p FROM q,
       |  generate_series(1, $maxProbe) pp(p)),
       |pq AS (SELECT g.qid, g.p,
       |    coalesce(sc.n_scored, 0) AS n_scored,
       |    coalesce(h.n_hit, 0) AS n_hit
       |  FROM grid g
       |  LEFT JOIN sc ON sc.qid = g.qid AND sc.p = g.p
       |  LEFT JOIN h ON h.qid = g.qid AND h.p = g.p)
       |SELECT p AS nprobe, count(*) AS n_queries,
       |  CAST(sum(n_hit) AS BIGINT) AS hits_total,
       |  round(sum(n_hit) / CAST($k * count(*) AS DOUBLE) + 1e-9, 4)
       |    AS mean_recall,
       |  CAST(sum(n_scored) AS BIGINT) AS scanned_total,
       |  round(sum(n_scored) / CAST(count(*) AS DOUBLE) + 1e-9, 2)
       |    AS mean_scanned,
       |  CAST(sum(n_hit) * 10000 >= $bar * $k * count(*) AS INT) AS ok
       |FROM pq GROUP BY p ORDER BY nprobe""".stripMargin
  }

  /** q100 — kNN label-agreement audit (the confident-learning / kNN
    * label-noise shape, Northcutt et al. '21): for EVERY vector, find its
    * top-k cosine neighbors and score what share carry the same label;
    * report per label the mean agreement and how many members fall below
    * `suspectBelow` — the mislabel review queue. A label whose agreement
    * sits at chance (1/|labels|) is noise or isn't separable in this
    * embedding space; a tight label with a few low-agreement members is
    * a curation queue of exactly those members.
    *
    * Scale shape: all-queries brute force is O(N²·d) — a non-starter —
    * so neighbors come from the TRAINED IVF index (q56 centroids): the
    * corpus assigns once (broadcast k·d floats), each vector probes its
    * `nProbe` nearest clusters, and the candidate stage is ONE
    * (cid, salt)-keyed join — cost Σ (probes into c) × |c| ≈
    * nProbe·N²/k, divided by the centroid count. The salt fanout exists
    * because cid alone has only k distinct values (parallelism k); the
    * compute knob is the centroid count itself — SemDeDup's k ≈ √N makes
    * the candidate cost ≈ nProbe·N^1.5 — and this fixture's fixed 8
    * seeds are the small-k worst case, which the salt keeps parallel
    * anyway. Arrays are projected away before the top-k window. Fully
    * deterministic blocking ⇒ the oracle replays the same Lloyd
    * iterations and probe ranking (the q86 blocking-mirrored precedent —
    * NOT a weaker rows-only check). Per-vector agreement is an exact
    * small rational (sums of 0/1 doubles), so the suspect threshold
    * compares identical doubles on both engines. */
  /** Salt fanout for the q100 candidate join (see inline note). */
  private val SaltBuckets = 32

  def knnLabelAgreement(em: DataFrame, k: Int = TopK, nProbe: Int = NProbe,
      centroidIds: Seq[Long] = CentroidIds, iters: Int = KmeansIters,
      suspectBelow: Double = 0.4): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    // k-rows model; localCheckpoint so training runs once, not once per
    // consumer (assignment + probe ranking both read it)
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    val asg = argmaxCentroid(em, model)
      .join(em.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("embedding"), col("label"), col("cid"))
    val a = graft.core.CacheOnce.swap("knn-label-asg", asg)
    val q = a.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      col("label").as("qlabel"))
    val probes = nearestCentroid(q, model.select(col("cid"), col("ce")),
        "qid", "qe", nProbe)
      .select(col("qid"), col("qe"), col("qlabel"), col("cid"))
    // The candidate join has only |centroids| distinct keys — with a
    // fixed small k that caps parallelism at k tasks regardless of
    // cluster size, and the first 20× capture paid 440 s for it.
    // Salting.saltedJoin fans the cid key out: corpus rows take one of
    // `SaltBuckets` deterministic salts, each probe replicates across
    // all of them — k×SaltBuckets join cells, same logical output. The
    // probe-side duplication is |queries|·nProbe·SaltBuckets slim rows.
    // Arrays are dropped BEFORE the top-k window: sorting |candidates|
    // rows that still carry two d-float vectors is the memory bill, not
    // the cosine arithmetic (the other half of that 440 s).
    val scored = graft.core.Salting
      .saltedJoin(a, probes, Seq("cid"), "vec_id", SaltBuckets)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        expr("cosine_sim(qe, embedding)").as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val perVec = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy(col("qid"), col("qlabel"))
      .agg(avg(when(col("label") === col("qlabel"), lit(1.0))
        .otherwise(lit(0.0))).as("agree"))
    // left-join back to the full assignment table: a vector whose
    // probed clusters hold no other vector (singleton under nProbe)
    // has NO candidates and would silently vanish from the audit —
    // yet an isolated point is a prime mislabel candidate. They count
    // in n_vecs and surface in n_unscored; avg/suspect stay over the
    // scored population.
    a.select(col("vec_id").as("qid"), col("label").as("qlabel"))
      .join(perVec.select(col("qid"), col("agree")), Seq("qid"), "left")
      .groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("agree")) + lit(1e-9), 4).as("avg_agreement"),
        sum(when(col("agree") < suspectBelow, 1L).otherwise(0L))
          .as("n_suspect"),
        sum(when(col("agree").isNull, 1L).otherwise(0L))
          .as("n_unscored"))
      .orderBy("label")
  }

  /** Same parameters as [[knnLabelAgreement]] (SQL builder/operator
    * parity): a caller auditing with a non-default k/nProbe/threshold
    * keeps a comparable oracle. Centroid seeds and iteration count stay
    * the module's pinned model constants on both sides. */
  def knnLabelAgreementSql(k: Int = TopK, nProbe: Int = NProbe,
      suspectBelow: Double = 0.4): String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |a AS (SELECT g.vec_id, g.embedding, g.cid, e.label
       |  FROM asg g JOIN embeddings e ON e.vec_id = g.vec_id),
       |probes AS (SELECT vec_id AS qid, qe, qlabel, cid FROM (
       |  SELECT a.vec_id, a.embedding AS qe, a.label AS qlabel, c.cid,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${cosSql("c.ce", "a.embedding")} DESC, c.cid) AS crn
       |  FROM a, c$KmeansIters c) t WHERE crn <= $nProbe),
       |scored AS (
       |  SELECT p.qid, p.qlabel, n.vec_id, n.label,
       |    ${cosSql("p.qe", "n.embedding")} AS cos
       |  FROM probes p JOIN a n ON n.cid = p.cid
       |  WHERE n.vec_id <> p.qid),
       |r AS (SELECT qid, qlabel, label,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
       |    AS rnk
       |  FROM scored),
       |pv AS (SELECT qid,
       |    avg(CASE WHEN label = qlabel THEN CAST(1 AS DOUBLE)
       |      ELSE CAST(0 AS DOUBLE) END) AS agree
       |  FROM r WHERE rnk <= $k GROUP BY qid),
       |av AS (SELECT a.vec_id AS qid, a.label AS qlabel, pv.agree
       |  FROM a LEFT JOIN pv ON pv.qid = a.vec_id)
       |SELECT qlabel AS label, count(*) AS n_vecs,
       |  round(avg(agree) + 1e-9, 4) AS avg_agreement,
       |  CAST(sum(CASE WHEN agree < $suspectBelow THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_suspect,
       |  CAST(sum(CASE WHEN agree IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unscored
       |FROM av GROUP BY qlabel ORDER BY label""".stripMargin
  }

  /** q104 — per-label diagonal-covariance Mahalanobis outlier audit: fit
    * per-dimension (mean, variance) per label, score every vector by
    * d² = Σᵢ (xᵢ−μᵢ)²/(σᵢ²+ε), and report per label the score
    * distribution plus the count above `threshold` — the distributional
    * complement to q100: kNN agreement catches points whose NEIGHBORS
    * disagree; this catches points far from their OWN label's mass even
    * when no near neighbor exists to vote. Diagonal covariance is the
    * standard at-scale compromise (a full d×d inverse per label doesn't
    * distribute and overfits small labels); under it E[d²] = d for
    * in-distribution points, so the default gate is the χ²-style
    * d + 3·√(2d) (≈ 98 at d = 64).
    *
    * Scale shape: the model fit is the q24_label_centroids reduction —
    * posexplode to (label, pos) cells that collapse map-side to
    * |labels|·d rows; the |labels|-row (mus, s2s) model table then
    * BROADCASTS back and scoring is a pure expression fold per vector
    * (no shuffle). Model components round to 6 dp before scoring (the
    * q56 model-state canonicalization) so the d² fold is
    * engine-deterministic. */
  def mahalanobisOutliers(em: DataFrame, eps: Double = 1e-6,
      threshold: Double = 98.0): DataFrame = {
    val comp = em
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"), col("v").cast("double").as("v"))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")) + lit(1e-9), 6).as("mu"),
        round(var_pop(col("v")) + lit(1e-9), 6).as("s2"))
    val model = comp.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mu"),
        col("s2")))).as("ms"))
      .select(col("label"), expr("transform(ms, x -> x.mu)").as("mus"),
        expr("transform(ms, x -> x.s2)").as("s2s"))
    em.join(broadcast(model), "label")
      .withColumn("d2", expr(
        s"""aggregate(sequence(0, size(embedding) - 1),
           | CAST(0.0 AS DOUBLE),
           | (acc, i) -> acc + pow(CAST(embedding[i] AS DOUBLE) - mus[i], 2)
           |   / (s2s[i] + $eps))""".stripMargin))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("d2")) + lit(1e-9), 4).as("avg_d2"),
        round(max(col("d2")) + lit(1e-9), 4).as("max_d2"),
        sum(when(col("d2") > threshold, 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("label")
  }

  def mahalanobisOutliersSql(eps: Double = 1e-6,
      threshold: Double = 98.0): String =
    s"""WITH c AS (SELECT label, g.i AS pos,
       |    round(avg(CAST(embedding[g.i] AS DOUBLE)) + 1e-9, 6) AS mu,
       |    round(var_pop(CAST(embedding[g.i] AS DOUBLE)) + 1e-9, 6) AS s2
       |  FROM embeddings,
       |    UNNEST(generate_series(1, len(embedding))) AS g(i)
       |  GROUP BY 1, 2),
       |m AS (SELECT label, list(mu ORDER BY pos) AS mus,
       |    list(s2 ORDER BY pos) AS s2s FROM c GROUP BY label),
       |d AS (SELECT e.vec_id, e.label,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(e.embedding)),
       |        i -> pow(CAST(e.embedding[i] AS DOUBLE) - m.mus[i], 2)
       |          / (m.s2s[i] + $eps))),
       |      (acc, v) -> acc + v) AS d2
       |  FROM embeddings e JOIN m USING (label))
       |SELECT label, count(*) AS n_vecs,
       |  round(avg(d2) + 1e-9, 4) AS avg_d2,
       |  round(max(d2) + 1e-9, 4) AS max_d2,
       |  CAST(sum(CASE WHEN d2 > $threshold THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers
       |FROM d GROUP BY label ORDER BY label""".stripMargin

  /** q64 — int8 symmetric scalar quantization audit: quantize each
    * embedding to 8-bit integers with a per-vector scale (q = ⌊x/amax·127
    * + ½⌋, the absmax scheme every vector store and LLM.int8-style kernel
    * uses), dequantize, and report per-label reconstruction error (RMSE,
    * worst component, mean scale). The decision table for "can this
    * corpus serve ANN from int8" — 4× memory/IO off the 100 TB embedding
    * column — read BEFORE flipping the index build.
    *
    * Entirely expression-level array HOFs (transform/zip_with/aggregate)
    * over one scan; the only exchange is the |labels|-row final rollup.
    * Determinism: math in double, rounding via ⌊v+½⌋ (identical in both
    * engines — no banker's-rounding divergence), fold order left-to-right
    * on both sides, and amax = |x| max is exact. Zero vectors carry no
    * scale and are excluded. */
  def quantizeAudit(em: DataFrame): DataFrame = {
    val x = transform(col("embedding"), e => e.cast("double"))
    em.select(col("label"), x.as("_x"))
      .withColumn("_amax", array_max(expr("transform(_x, e -> abs(e))")))
      .filter(col("_amax") > 0)
      .withColumn("_dq", expr(
        "transform(_x, e -> floor(e / _amax * 127.0 + 0.5) * _amax / 127.0)"))
      .withColumn("_rmse", sqrt(
        expr("aggregate(zip_with(_x, _dq, (a, b) -> a - b)," +
          " CAST(0.0 AS DOUBLE), (acc, e) -> acc + e * e)") / size(col("_x"))))
      .withColumn("_maxe", array_max(expr(
        "transform(zip_with(_x, _dq, (a, b) -> a - b), e -> abs(e))")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("_rmse")) + lit(1e-9), 6).as("avg_rmse"),
        round(max(col("_maxe")) + lit(1e-9), 6).as("max_abs_err"),
        round(avg(col("_amax")) + lit(1e-9), 4).as("avg_amax"))
      .orderBy("label")
  }
  val quantizeAuditSql: String =
    """WITH x AS (SELECT label,
      |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xs
      |  FROM embeddings),
      |m AS (SELECT label, xs,
      |    list_max(list_transform(xs, e -> abs(e))) AS amax FROM x),
      |d AS (SELECT label, amax,
      |    list_transform(xs,
      |      e -> e - floor(e / amax * 127.0 + 0.5) * amax / 127.0) AS errs
      |  FROM m WHERE amax > 0),
      |e AS (SELECT label, amax,
      |    sqrt(list_sum(list_transform(errs, e -> e * e)) / len(errs))
      |      AS rmse,
      |    list_max(list_transform(errs, e -> abs(e))) AS maxe FROM d)
      |SELECT label, count(*) AS n_vecs,
      |  round(avg(rmse) + 1e-9, 6) AS avg_rmse,
      |  round(max(maxe) + 1e-9, 6) AS max_abs_err,
      |  round(avg(amax) + 1e-9, 4) AS avg_amax
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  /** q120 — product-quantization audit (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — the
    * codebook compression every at-scale embedding store runs): the
    * vector splits into `subspaces` contiguous slices, each slice
    * assigns to its nearest codebook entry (codebook = the SAME slices
    * of the fixed seed vectors — deterministic, the q24_knn_ivf
    * precedent, so the oracle replays assignment exactly), and the
    * audit reports per (subspace, code) the population and mean squared
    * reconstruction error. Dead codes (missing rows) and fat codes
    * (population ≫ N/k) say the codebook misfits the data BEFORE anyone
    * serves distances off it; the mse column is the quantization-error
    * budget PQ-compressed search pays. The scalar-int8 complement is
    * q64; this is the vector-codebook story.
    *
    * Scale shape: |subspaces| slim slice rows per vector, codebook
    * broadcast, argmin via a (vec, subspace) window AFTER the arrays
    * are projected away (the q100 lesson); output is |subspaces|·|codes|
    * rows. All arithmetic is double-cast before subtraction so both
    * engines fold identical IEEE sequences. */
  def pqAudit(em: DataFrame, subspaces: Int = 8,
      codebookIds: Seq[Long] = CentroidIds): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val spark = em.sparkSession
    import spark.implicits._
    // pq_encode_err2 (functions/PqEncode.scala): the last encode-shaped
    // window retired — the per-(vector, subspace) argmin now runs as one
    // codegen projection against the packed one-row codebook, and only
    // |corpus|·subspaces slim (s, code, err2) rows reach the single
    // groupBy exchange (the N·S·K broadcast fan-out plus the (vec_id, s)
    // window exchange are gone). Bit-identity: the expression's per-slice
    // fold IS sq_dist's, and slots are dense rank of code id ascending,
    // so its lower-slot-wins tie rule reproduces the window's
    // (err2 ASC, code ASC) ordering exactly.
    val wanted = codebookIds.toDF("vec_id")
    val cb = em.join(broadcast(wanted), "vec_id")
      .select(col("vec_id").as("code"), col("embedding").as("cbv"))
      .withColumn("slot", row_number().over(Window.orderBy("code")) - 1)
    val cbs = pqSliceRows(cb, "slot", "cbv", "cv", subspaces)
    val model = broadcast(packedCodebook(cbs).crossJoin(
      cb.groupBy().agg(expr(
        "transform(array_sort(collect_list(struct(slot, code)))," +
          " x -> x.code)").as("cbcodes"))))
    em.select(col("vec_id"), col("embedding")).crossJoin(model)
      .withColumn("_e", expr(s"pq_encode_err2(embedding, cbflat, $subspaces)"))
      .select(col("cbcodes"),
        posexplode(expr("arrays_zip(_e.codes, _e.errs)")).as(Seq("s", "z")))
      .select(col("s"),
        element_at(col("cbcodes"), col("z.codes") + 1).as("code"),
        col("z.errs").as("err2"))
      .groupBy(col("s").as("subspace"), col("code"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("err2")) + lit(1e-9), 4).as("mse"))
      .orderBy("subspace", "code")
  }
  def pqAuditSql(subspaces: Int = 8,
      codebookIds: Seq[Long] = CentroidIds): String = {
    val err2 =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(generate_series(1, len(sv)),
        |      i -> (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
        |         * (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))),
        |    (a, v) -> a + v)""".stripMargin
    s"""WITH cb AS (SELECT vec_id AS code, embedding AS cbv
       |  FROM embeddings WHERE vec_id IN (${codebookIds.mkString(", ")})),
       |sub AS (SELECT vec_id, t.s,
       |    list_slice(embedding, t.s * (len(embedding) // $subspaces) + 1,
       |      (t.s + 1) * (len(embedding) // $subspaces)) AS sv
       |  FROM embeddings, generate_series(0, ${subspaces - 1}) t(s)),
       |cbs AS (SELECT code, t.s,
       |    list_slice(cbv, t.s * (len(cbv) // $subspaces) + 1,
       |      (t.s + 1) * (len(cbv) // $subspaces)) AS cv
       |  FROM cb, generate_series(0, ${subspaces - 1}) t(s)),
       |scored AS (SELECT sub.vec_id, sub.s, cbs.code, $err2 AS err2
       |  FROM sub JOIN cbs ON cbs.s = sub.s),
       |asg AS (SELECT s, code, err2 FROM (
       |  SELECT s, code, err2, row_number() OVER (
       |    PARTITION BY vec_id, s ORDER BY err2, code) AS rn
       |  FROM scored) WHERE rn = 1)
       |SELECT s AS subspace, code, count(*) AS n_vecs,
       |  round(avg(err2) + 1e-9, 4) AS mse
       |FROM asg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val labelCentroidsSql: String =
    """WITH c AS (
      |  SELECT label, i - 1 AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
      |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
      |  GROUP BY label, i),
      |s AS (SELECT label, count(*) AS dim,
      |  round(sqrt(sum(m * m)), 4) AS l2,
      |  round(sum(CASE WHEN pos < 8 THEN m ELSE 0.0 END), 4) AS head_sum
      |  FROM c GROUP BY label)
      |SELECT label, dim, l2, head_sum FROM s ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // Registry adapters (fixture tables → library calls)
  // ------------------------------------------------------------------

  /** q95 — per-dimension embedding profile: count/mean/stddev/min/max
    * for every coordinate of the vector column. The embedding-health
    * gate before any ANN/cluster step: a dead dimension (σ ≈ 0) means a
    * truncated or mis-exported model; a mean far off 0 breaks
    * cosine-vs-dot assumptions; a dimension whose range dwarfs the rest
    * dominates every distance. Same role q37 plays for tabular columns,
    * for the array column the tabular profiler can't see.
    *
    * Scale shape: posexplode fans each vector into d rows, but the
    * aggregation is hash-grouped on `dim` with map-side partial
    * combine — each task collapses to ≤ d cells before the exchange, so
    * the shuffle is |tasks| × d rows and the output d rows, independent
    * of corpus size. */
  def embeddingProfile(em: DataFrame): DataFrame =
    Tables.fanout(em)
      .select(posexplode(col("embedding")).as(Seq("p", "x")))
      .select((col("p") + 1).as("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim"))
      // the + 0.0 AFTER round is the FIXTURES.md negative-zero guard: a
      // near-zero mean rounds to -0.0 in DuckDB but +0.0 here (caught at
      // the sf0.1 sweep — means at 2000 vectors are ~1e-9)
      .agg(count(col("x")).as("n"),
        (round(avg(col("x")) + lit(1e-9), 4) + lit(0.0)).as("mean"),
        (round(stddev_samp(col("x")) + lit(1e-9), 4) + lit(0.0)).as("sd"),
        (round(min(col("x")) + lit(1e-9), 4) + lit(0.0)).as("min"),
        (round(max(col("x")) + lit(1e-9), 4) + lit(0.0)).as("max"))
      .orderBy("dim")

  val embeddingProfileSql: String =
    """SELECT dim, count(x) AS n,
      |  round(avg(x) + 1e-9, 4) + 0.0 AS mean,
      |  round(stddev_samp(x) + 1e-9, 4) + 0.0 AS sd,
      |  round(min(x) + 1e-9, 4) + 0.0 AS min,
      |  round(max(x) + 1e-9, 4) + 0.0 AS max
      |FROM (SELECT unnest(generate_series(1, len(embedding))) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings)
      |GROUP BY dim ORDER BY dim""".stripMargin

  /** q147 — embedding spectral audit: the top covariance eigenvalue and
    * its explained-variance share, by power iteration on the exact d×d
    * covariance model. The anisotropy number behind every cosine-space
    * decision (Mu & Viswanath '18 "All-but-the-Top"): a corpus whose
    * top direction carries a large share of total variance has a
    * dominant common component — cosine similarities saturate, IVF cells
    * elongate, and centering/whitening is indicated; explained ≈ 1/d is
    * the healthy isotropic answer. Complements q95 (per-dimension
    * marginals can all look healthy while one diagonal direction
    * dominates — exactly what the off-diagonal covariance sees).
    *
    * Scale shape: one corpus pass fans each vector into its d(d+1)/2
    * upper-triangle second-moment cells via a pure HOF generate, and
    * the aggregate map-side-combines to ≤ tasks × d(d+1)/2 slim rows —
    * the d²-bounded MODEL is the only thing that crosses the wire (the
    * q48 one-wide-agg lesson, shaped for an array column). Means ride a
    * d-cell posexplode pass. Both collects are model-scale (hub-list
    * class); the power iteration runs on the driver's d×d matrix —
    * microseconds, no cluster round-trips per step (a per-iteration
    * distributed matvec would pay 50 job launches to multiply a 64×64
    * matrix). */
  def spectralAudit(em: DataFrame, iters: Int = 50,
      sampleMod: Int = 1): DataFrame = {
    // The d²/2 fan-out is the honest cost of an EXACT covariance and
    // measures linear in N (100× stress: 21 s for 200k vectors); at
    // true corpus scale set sampleMod > 1 — a deterministic
    // vec_id-modulus subsample estimates the same spectrum at
    // 1/sampleMod the fan-out (the registry entry keeps 1 so the
    // oracle checks the exact statistic).
    val spark = em.sparkSession
    val em0 =
      if (sampleMod <= 1) em
      else em.filter(pmod(col("vec_id"), lit(sampleMod)) === 0)
    // loud empty guard: .head() on an empty table would surface as a
    // bare NoSuchElementException from deep inside the operator
    val d = em0.select(size(col("embedding"))).limit(1).collect()
      .headOption
      .getOrElse(throw new IllegalArgumentException(
        "spectralAudit: embeddings table is empty (after sampleMod " +
          s"filter $sampleMod) — nothing to audit"))
      .getInt(0)
    val pairArr = flatten(transform(sequence(lit(0), lit(d - 1)), i =>
      transform(sequence(i, lit(d - 1)), j =>
        struct(i.as("i"), j.as("j"),
          (element_at(col("embedding"), i + 1).cast("double") *
            element_at(col("embedding"), j + 1).cast("double")).as("v")))))
    val smom = Tables.fanout(em0)
      .select(explode(pairArr).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(sum(col("p.v")).as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val meanRows = Tables.fanout(em0)
      .select(posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy(col("p"))
      .agg(sum(col("x").cast("double")).as("m"), count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    val n = meanRows.head._2._2
    val mu = Array.tabulate(d)(i => meanRows(i)._1 / n)
    val c = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      smom((a, b)) / n - mu(i) * mu(j)
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    // an all-constant (or all-zero) table has a zero covariance matrix:
    // the first matvec norm is 0 and every later step divides 0/0 into
    // NaN — short-circuit to the (0, 0, 0) spectrum instead of iterating
    val zeroTrace = (0 until d).forall(i =>
      (0 until d).forall(j => math.abs(c(i)(j)) < 1e-300))
    if (!zeroTrace) for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / norm)
    }
    val lambda1 = (0 until d).map(i =>
      (0 until d).map(j => v(i) * c(i)(j) * v(j)).sum).sum
    val trace = (0 until d).map(i => c(i)(i)).sum
    val explained = if (zeroTrace) 0.0 else lambda1 / trace
    import spark.implicits._
    Seq((d.toLong, n,
      math.round((trace + 1e-9) * 1e4) / 1e4,
      math.round((lambda1 + 1e-9) * 1e4) / 1e4,
      math.round((explained + 1e-9) * 1e4) / 1e4))
      .toDF("d", "n", "trace", "lambda1", "explained")
  }
  def spectralAuditSql(d: Int = 64, iters: Int = 50): String = {
    // MATERIALIZED per step is load-bearing (the q138 lesson, squared):
    // v_t is referenced twice by level t+1 (the matvec and the norm
    // subquery), so inlining doubles the tree per step — 2^iters
    // expansion — where materialization keeps each step one 64-row scan
    val steps = (1 to iters).map { t =>
      s"""w$t AS MATERIALIZED (SELECT c.i, sum(c.v * p.x) AS x FROM cov c
         |  JOIN v${t - 1} p ON p.i = c.j GROUP BY c.i),
         |v$t AS MATERIALIZED (SELECT i,
         |    x / sqrt((SELECT sum(x * x) FROM w$t)) AS x
         |  FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH sm AS MATERIALIZED (SELECT ii.i AS i, jj.j AS j,
       |    sum(CAST(embedding[ii.i] AS DOUBLE)
       |      * CAST(embedding[jj.j] AS DOUBLE)) AS s
       |  FROM embeddings, generate_series(1, $d) ii(i),
       |    generate_series(1, $d) jj(j)
       |  GROUP BY 1, 2),
       |mu AS MATERIALIZED (SELECT ii.i AS i,
       |    sum(CAST(embedding[ii.i] AS DOUBLE)) AS m
       |  FROM embeddings, generate_series(1, $d) ii(i) GROUP BY 1),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
       |cov AS MATERIALIZED (SELECT sm.i, sm.j,
       |    sm.s / nn.n - (ma.m / nn.n) * (mb.m / nn.n) AS v
       |  FROM sm, nn
       |  JOIN mu ma ON ma.i = sm.i JOIN mu mb ON mb.i = sm.j),
       |v0 AS (SELECT ii.i AS i, 1.0 / sqrt($d) AS x
       |  FROM generate_series(1, $d) ii(i)),
       |$steps,
       |lam AS (SELECT sum(v1.x * c.v * v2.x) AS l FROM cov c
       |  JOIN v$iters v1 ON v1.i = c.i JOIN v$iters v2 ON v2.i = c.j),
       |tr AS (SELECT sum(v) AS t FROM cov WHERE i = j)
       |SELECT CAST($d AS BIGINT) AS d, nn.n AS n,
       |  round(tr.t + 1e-9, 4) AS trace,
       |  round(lam.l + 1e-9, 4) AS lambda1,
       |  round(lam.l / tr.t + 1e-9, 4) AS explained
       |FROM nn, lam, tr""".stripMargin
  }

  // ------------------------------------------------------------------
  // q163 — hybrid retrieval: reciprocal-rank fusion of the lexical
  // (BM25) and dense (embedding-cosine) arms
  // ------------------------------------------------------------------

  /** q163 — hybrid retrieval via reciprocal-rank fusion (Cormack,
    * Clarke & Büttcher, SIGIR 2009): run the lexical arm (BM25 over the
    * corpus, TextOps.bm25's exact algebra) and the dense arm
    * (brute-cosine against a query vector) independently to `armK`
    * results each, then fuse by rrf(d) = Σ_arms 1/(rrfK + rank_arm(d))
    * — the standard rank-level combiner that needs no score
    * calibration between arms. vec_id ≡ doc_id (TESTDATA contract).
    *
    * Scale shape: each arm is already top-K-bounded by its own
    * distributed plan (BM25's scan-filtered postings +
    * TakeOrderedAndProject; cosine's broadcast-query scan + heap
    * top-K), so the fusion join and re-rank run on 2·armK rows —
    * driver-trivial whatever the corpus size. At serving scale the two
    * arms come from their persisted indexes (q157 postings / trained
    * IVF) — the rank algebra is identical, which is why the oracle is
    * the direct form. Output: top `topN` fused docs with both arm
    * ranks (0 = absent from that arm's top-K). */
  def hybridRrf(docs: DataFrame, em: DataFrame, terms: Seq[String],
      queryVecId: Long = 0L, armK: Int = 20, topN: Int = 10,
      rrfK: Int = 60): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val q = em.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"))
    rrfFuse(TextOps.bm25(docs, terms, topN = armK),
      denseArmTop(em, q, armK), armK, topN, rrfK)
  }

  /** The dense arm: brute-cosine top-K of the (broadcast) query vector
    * over a vector frame — corpus scan + TakeOrderedAndProject heap,
    * never a global sort. */
  private def denseArmTop(em: DataFrame, q: DataFrame,
      armK: Int): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    em.crossJoin(broadcast(q))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      .orderBy(col("cos").desc, col("vec_id")).limit(armK)
  }

  /** The RRF combiner over two already-top-K-bounded arms: `bmTop`
    * (doc_id, score, …) and `annTop` (vec_id, cos, …). Shared by the
    * direct form ([[hybridRrf]]) and the persisted-index form
    * ([[hybridRrfServe]]) — identical rank algebra is what makes
    * serve ≡ direct assertable. Both windows run on ≤ armK rows. */
  private def rrfFuse(bmTop: DataFrame, annTop: DataFrame, armK: Int,
      topN: Int, rrfK: Int): DataFrame = {
    val bmRank = bmTop
      .withColumn("bm25_rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"),
        col("bm25_rank").cast("long").as("bm25_rank"))
    val annRank = annTop
      .withColumn("ann_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"),
        col("ann_rank").cast("long").as("ann_rank"))
    bmRank.join(annRank, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("bm25_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK) + col("ann_rank")), lit(0.0)),
        6))
      .select(col("doc_id"), col("rrf"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
        coalesce(col("ann_rank"), lit(0L)).as("ann_rank"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(topN)
  }

  /** Hybrid retrieval served ENTIRELY from persisted state: the lexical
    * arm from the q157 BM25 postings/doclen tables (through their
    * takedown tombstones), the dense arm from the trained-IVF index's
    * live rows (through its `_deletes`) with the query vector looked up
    * IN the index — no corpus re-tokenize, no re-embedding, and one
    * logical takedown against both indexes disappears from the fused
    * answer (Round17bOpsSpec pins serve ≡ direct and the takedown
    * propagation end-to-end). The dense arm scans the index exactly
    * (full probe) so serve ≡ direct is row-identical; swap in the
    * nProbe-bounded probe path when the recall trade is wanted —
    * [[annProbeCurve]] (q159) is the tuning artifact for that call.
    *
    * The query vector must EXIST in the live index: if `queryVecId` was
    * taken down (or never indexed), the dense arm would silently come
    * back empty and the fusion would degrade to lexical-only — a
    * takedown of the query doc invisibly changing result semantics. We
    * fail loudly instead (one 1-row lookup; this is a serve call, not a
    * registry plan). Callers with an out-of-index query should embed it
    * and fuse via [[hybridRrf]]-style arms directly. */
  def hybridRrfServe(spark: SparkSession, bm25Table: String,
      ivfTable: String, terms: Seq[String], queryVecId: Long = 0L,
      armK: Int = 20, topN: Int = 10, rrfK: Int = 60): DataFrame = {
    val live = liveTrainedIvfIndex(spark, ivfTable)
    val q = live.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"))
    require(q.limit(1).count() == 1L,
      s"query vector $queryVecId is not in the live index $ivfTable " +
        "(taken down or never indexed); refusing to serve a silently " +
        "lexical-only fusion — pick a live query vector.")
    val tomb = TakedownOps.takedownIds(spark, bm25Table)
    val bmTop = TextOps.bm25FromIndex(
      TakedownOps.liveRows(spark.table(s"${bm25Table}_postings"), tomb),
      TakedownOps.liveRows(spark.table(s"${bm25Table}_doclen"), tomb),
      terms, topN = armK)
    rrfFuse(bmTop, denseArmTop(live.select(col("vec_id"),
      col("embedding")), q, armK), armK, topN, rrfK)
  }

  /** q163 fixture: a lexical query whose terms and the dense query
    * vector (vec 0) pull DIFFERENT top sets, so the fusion exercises
    * one-arm-only rows on both sides. */
  val HybridTerms: Seq[String] = Seq("vector", "join", "sort")

  def hybridRrfSql(terms: Seq[String] = HybridTerms,
      queryVecId: Long = 0L, armK: Int = 20, topN: Int = 10,
      rrfK: Int = 60): String =
    s"""WITH ${TextOps.bm25SqlCtes(terms)},
       |bm AS (${TextOps.bm25SqlSelect(armK)}),
       |bmr AS (SELECT doc_id,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS br FROM bm),
       |qv AS (SELECT embedding AS qe FROM embeddings
       |  WHERE vec_id = $queryVecId),
       |ann AS (SELECT em.vec_id,
       |    ${cosSql("qv.qe", "em.embedding")} AS cos
       |  FROM embeddings em, qv),
       |at AS (SELECT vec_id, cos FROM ann
       |  ORDER BY cos DESC, vec_id LIMIT $armK),
       |ar AS (SELECT vec_id AS doc_id,
       |  row_number() OVER (ORDER BY cos DESC, vec_id) AS ar FROM at),
       |f AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id, b.br, a.ar
       |  FROM bmr b FULL OUTER JOIN ar a ON a.doc_id = b.doc_id),
       |g AS (SELECT doc_id,
       |    round(coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + br), 0.0)
       |      + coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + ar), 0.0), 6)
       |      AS rrf,
       |    CAST(coalesce(br, 0) AS BIGINT) AS bm25_rank,
       |    CAST(coalesce(ar, 0) AS BIGINT) AS ann_rank FROM f)
       |SELECT doc_id, rrf, bm25_rank, ann_rank FROM g
       |ORDER BY rrf DESC, doc_id LIMIT $topN""".stripMargin

  // ------------------------------------------------------------------
  // q166 — semantic decontamination (the embedding-level twin of the
  // q135/q136 shingle-level pair)
  // ------------------------------------------------------------------

  /** q166 — semantic contamination: training vectors whose cosine to
    * ANY eval/benchmark vector exceeds `tau` — the embedding-level
    * decontamination modern model reports run ALONGSIDE n-gram overlap
    * (paraphrased eval items share no 5-gram but sit next to their
    * source in embedding space; q135/q136 cover the lexical half).
    * Same id-split convention as q135 (eval = top 1/10 of ids).
    *
    * Scale shape: the eval set is SMALL by definition (benchmarks are
    * thousands of items, the corpus is billions), so the right plan is
    * brute broadcast — eval vectors ship to every task, the training
    * side streams through ONE scan with no shuffle before the output
    * filter; cost is |corpus|·|eval| dot products, embarrassingly
    * parallel, zero pair-space materialization. If the eval side ever
    * outgrows a broadcast, the centroid-blocked [[semanticDedup]]
    * machinery is the fallback — blocking trades recall for cost,
    * which is why it is NOT the default for a compliance check.
    *
    * The broadcast stays BOUNDED BY CONSTRUCTION: the fixture's eval
    * split is "top 1/10 of ids", which grows linearly with the corpus
    * and would eventually blow the broadcast that the "eval is small"
    * argument assumes away. `evalCap` closes the gap — the eval side is
    * the first `evalCap` ids at/above the cut (a real benchmark set is
    * a fixed table and never hits it; the cap defends the synthetic
    * split). 100k × 64 floats ≈ 26 MB — broadcast-safe. The SAME cap
    * predicate is threaded into [[semanticContaminationSql]], so
    * Spark and the oracle stay engine-identical even in the regime
    * where the cap binds — a compliance check must never silently
    * diverge from its audit replay. A lazy filter, not a count —
    * registry laziness holds. */
  def semanticContamination(em: DataFrame, tau: Double = 0.4,
      evalCap: Long = SemanticContaminationEvalCap): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val cut = em.agg(
      floor(max(col("vec_id")) * 9 / 10).cast("long").as("_cut"))
    val tagged = em.crossJoin(broadcast(cut))
    val train = tagged.filter(col("vec_id") < col("_cut"))
      .select(col("vec_id").as("train_id"), col("embedding").as("te"))
    val eval0 = tagged.filter(col("vec_id") >= col("_cut") &&
        col("vec_id") - col("_cut") < evalCap)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ee"))
    train.crossJoin(broadcast(eval0))
      .withColumn("cos", expr("cosine_sim(te, ee)"))
      .filter(col("cos") >= tau)
      .select(col("train_id"), col("eval_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** The q23_embedding_near_dup threshold convention: the synthetic
    * fixture's cross-split cosines top out near 0.51, so 0.4 exercises
    * non-empty contamination sets at every SF (20 / 6 / 162 pairs). */
  val SemanticContaminationTau = 0.4

  /** Broadcast bound on the synthetic eval split (Scaladoc at
    * [[semanticContamination]]); shared with the oracle SQL below. */
  val SemanticContaminationEvalCap = 100000L

  val semanticContaminationSql: String =
    s"""WITH cut AS (SELECT (max(vec_id) * 9) // 10 AS c FROM embeddings),
       |tr AS (SELECT vec_id AS train_id, embedding AS te
       |  FROM embeddings, cut WHERE vec_id < c),
       |ev AS (SELECT vec_id AS eval_id, embedding AS ee
       |  FROM embeddings, cut WHERE vec_id >= c
       |    AND vec_id - c < $SemanticContaminationEvalCap)
       |SELECT train_id, eval_id,
       |  round(${cosSql("tr.te", "ev.ee")}, 4) AS cos
       |FROM tr, ev
       |WHERE ${cosSql("tr.te", "ev.ee")} >= $SemanticContaminationTau
       |ORDER BY train_id, eval_id""".stripMargin

  // ------------------------------------------------------------------
  // q171 — PQ-coded ANN serving (asymmetric distance + exact re-rank)
  // ------------------------------------------------------------------

  private val PqSubspaces = 8
  /** Exact-re-rank tail = PqRerank·k ADC candidates per query. */
  private val PqRerank = 4

  /** Slice vectors into `subspaces` contiguous sub-vectors — one slim
    * (id, s, slice) row each (the q120 shape, factored out for reuse by
    * the codebook, the encoder, and the query-side distance tables). */
  private def pqSliceRows(df: DataFrame, idCol: String, vec: String,
      out: String, subspaces: Int): DataFrame =
    df.withColumn("s", explode(sequence(lit(0), lit(subspaces - 1))))
      .withColumn("_w", expr(s"size($vec) DIV $subspaces"))
      .withColumn(out, expr(s"slice($vec, s * _w + 1, _w)"))
      .select(col(idCol), col("s"), col(out))

  /** The PQ codebook: per subspace, the slices of the fixed seed
    * vectors (deterministic, the q120/q24_knn_ivf convention — the
    * oracle replays assignment exactly), addressed by dense SLOT (rank
    * of seed id ascending) so stored codes are direct array indexes
    * into the query's distance table. `cn2` = ‖slice‖², the piece the
    * reconstructed-vector norm sums over. */
  private def pqCodebookOf(em: DataFrame, subspaces: Int,
      codebookIds: Seq[Long]): DataFrame = {
    val spark = em.sparkSession
    import spark.implicits._
    val wanted = codebookIds.toDF("vec_id")
    // Slot = dense rank over the ids actually PRESENT in em (matching
    // the oracle's `row_number() OVER (ORDER BY vec_id) - 1` over the
    // same filtered rows) — a requested id absent from the corpus must
    // not leave a gap, or the flat s*K+slot distance-table indexing
    // silently reads the wrong entries. K rows, broadcast-sized; the
    // unpartitioned window is over the codebook, never the corpus.
    val cb = em.join(broadcast(wanted), "vec_id")
      .select(col("vec_id"), col("embedding").as("cbv"))
      .withColumn("slot",
        row_number().over(Window.orderBy("vec_id")) - 1)
      .select(col("slot"), col("cbv"))
    pqSliceRows(cb, "slot", "cbv", "cv", subspaces)
      .withColumn("cn2", expr(
        """aggregate(cv, CAST(0 AS DOUBLE),
          |  (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""".stripMargin))
  }

  /** Encode vectors against a codebook: per subspace the nearest
    * (L2², slot-ascending tie) codebook slice — one output row per
    * vector, `codes` = the slot per subspace in s-order plus `rnorm`
    * = √Σ_s ‖c_{s,code}‖², the reconstructed-vector norm ADC divides
    * by. Both arrays rebuild through FIXED s-order folds (array_sort
    * over (s,·) structs), never a groupBy float sum — ADC scores feed
    * a rank cut, so they must be bit-identical across engines and
    * retries, and unordered float addition is not. */
  def pqEncode(vecs: DataFrame, cb: DataFrame,
      subspaces: Int = PqSubspaces): DataFrame =
    pqEncodeKeyed(vecs.select(col("vec_id"), col("embedding")), cb,
      subspaces, Seq("vec_id"))

  /** [[pqEncode]] over an ALREADY-ASSIGNED frame, carrying `cid`
    * through the encode aggregation (cid is per-vector, so grouping by
    * (vec_id, cid) is free) — the index builders use this instead of
    * encode-then-join-assignment, which paid one extra corpus shuffle
    * for a column the input already had. */
  def pqEncodeAssigned(assigned: DataFrame, cb: DataFrame,
      subspaces: Int = PqSubspaces): DataFrame =
    pqEncodeKeyed(
      assigned.select(col("vec_id"), col("cid"), col("embedding")), cb,
      subspaces, Seq("vec_id", "cid"))

  /** Pack a (s, slot, cv) codebook into ONE broadcastable row holding
    * the flattened (s-major, slot-minor, double-widened — exact for
    * float slices) array [[graft.functions.PqEncode]] indexes: K·S
    * model-scale rows in, one row out. The deterministic (s, slot)
    * struct sort fixes the layout; the float→double cast is exact, so
    * the per-slice folds see the identical operands the broadcast-join
    * form saw. Codes are positions in that layout, so every subspace must
    * hold the same dense slots 0..K-1: in the (s, slot)-sorted list, entry
    * i must be slot i mod K, with K = entries / distinct subspaces. A
    * ragged codebook would shift every later subspace's offsets and yield
    * wrong codes, so it fails the query instead. */
  private def packedCodebook(cb: DataFrame): DataFrame =
    cb.groupBy().agg(expr(
        "array_sort(collect_list(struct(s, slot," +
          " transform(cv, e -> CAST(e AS DOUBLE)) AS cv)))").as("_cb"))
      .select(expr(
        """CASE WHEN size(_cb) > 0 AND NOT forall(
          |    sequence(0, size(_cb) - 1),
          |    i -> _cb[i].slot = i % (size(_cb) DIV size(array_distinct(_cb.s))))
          |  THEN raise_error('pq codebook: every subspace must hold the same dense slots 0..K-1')
          |  ELSE flatten(transform(_cb, x -> x.cv)) END""".stripMargin).as("cbflat"))

  private def pqEncodeKeyed(vecs: DataFrame, cb: DataFrame,
      subspaces: Int, keys: Seq[String]): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    // pq_encode (functions/PqEncode.scala): the whole argmin as one
    // codegen expression against the packed broadcast codebook — the
    // explode→join→window→groupBy form materialized N·subspaces·K rows
    // through two exchanges for a per-row computation (guide §2.4);
    // bit-identical folds, so the codes and rnorm cannot move. Raw PQ's
    // rnorm term ‖c_s‖² is the residual fold with a zero base vector
    // ((0.0 + x)·(0.0 + x) ≡ x·x bit-for-bit).
    vecs.crossJoin(broadcast(packedCodebook(cb)))
      .withColumn("_enc", expr(
        s"pq_encode(embedding, array_repeat(CAST(0.0 AS DOUBLE)," +
          s" size(embedding)), cbflat, $subspaces)"))
      .select(keys.map(col) ++ Seq(col("_enc.codes").as("codes"),
        col("_enc.rnorm").as("rnorm")): _*)
  }

  /** The ADC stage (Jégou '11 §IV "asymmetric distance computation"):
    * probe `nProbe` cells and score every candidate's APPROXIMATE
    * cosine from its codes — per candidate the work is `subspaces`
    * table lookups over slim int arrays, never the d-float embedding.
    * The query side is model-scale and broadcast: per query one flat
    * distance table `dt` (dot(q_s, c_{s,slot}) sorted by (s, slot), so
    * code lookups are direct `element_at` index arithmetic) and the
    * exact query norm. approx_cos = Σ_s dt[s·K + code_s] /
    * (‖q‖·rnorm). Keeps the top `rerank·k` per query by (adc DESC,
    * vec_id) — the tail the exact re-ranker refines. */
  private def pqAdcTail(codes: DataFrame, cb: DataFrame, model: DataFrame,
      q: DataFrame, k: Int, nProbe: Int, rerank: Int,
      subspaces: Int): DataFrame = {
    val probes = nearestCentroid(q, model.select(col("cid"), col("ce")),
        "qid", "qe", nProbe)
      .select(col("qid"), col("cid"))
    // vec_dot (functions/VecDot.scala): identical left-to-right fold
    // as the aggregate(zip_with(...)) HOFs it replaces — see the
    // expression's numeric contract
    val qdots = pqSliceRows(q.select(col("qid").as("vec_id"), col("qe")),
        "vec_id", "qe", "qv", subspaces)
      .join(broadcast(cb), "s")
      .withColumn("dot", expr("vec_dot(qv, cv)"))
    val qdt = qdots.groupBy(col("vec_id").as("qid"))
      .agg(expr("transform(array_sort(collect_list(struct(s, slot, dot)))," +
        " x -> x.dot)").as("dt"))
    val qn = q.select(col("qid"),
      sqrt(expr("vec_dot(qe, qe)")).as("qnorm"))
    val qside = probes.join(qdt, "qid").join(qn, "qid")
    // pq_adc = the native-codegen form of the s-ordered
    // aggregate(zip_with(...)) fold — bit-identical result, ~2× on the
    // serving inner loop (see graft.functions.PqAdc)
    codes.join(broadcast(qside), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc",
        expr("pq_adc(codes, dt)") / (col("qnorm") * col("rnorm")))
      .withColumn("adcrnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("adc").desc, col("vec_id"))))
      .filter(col("adcrnk") <= k * rerank)
      .select(col("qid"), col("vec_id"), col("cid"), col("adcrnk"))
  }

  /** Exact re-rank of the ADC tail: fetch the tail's FULL vectors (a
    * rerank·k-per-query pointed lookup, the only place full precision
    * is paid) and take the true-cosine top-k. */
  private def pqRerankTail(tail: DataFrame, full: DataFrame, q: DataFrame,
      k: Int): DataFrame =
    topk(tail.join(full, "vec_id").join(broadcast(q), "qid")
      .withColumn("cos", expr("cosine_sim(qe, embedding)")), k)

  /** In-session PQ-served kNN (the composition [[knnPqServe]] runs from
    * persisted tables) — AnnIndexSpec pins serve ≡ this under a shared
    * model. */
  def knnPq(em: DataFrame, queryIds: Seq[Long] = QueryIds, k: Int = TopK,
      nProbe: Int = NProbe, rerank: Int = PqRerank,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = CentroidIds,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    knnPqWith(em, model, pqCodebookOf(em, subspaces, codebookIds),
      queryIds, k, nProbe, rerank, subspaces)
  }

  /** [[knnPq]] under EXPLICIT (stored) model + codebook frames — the
    * model-pinned reference arm AnnIndexSpec compares the persisted
    * serve path against (the trained-IVF "same-model direct" pattern:
    * append/delete never retrain, so equivalence is always stated
    * under a shared model, never across two trainings). */
  def knnPqWith(em: DataFrame, model: DataFrame, cb: DataFrame,
      queryIds: Seq[Long] = QueryIds, k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank, subspaces: Int = PqSubspaces): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val codes = pqEncodeAssigned(assignUnderModel(em, model), cb,
      subspaces)
    val q = em.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    pqRerankTail(pqAdcTail(codes, cb, model, q, k, nProbe, rerank,
      subspaces), em.select(col("vec_id"), col("embedding")), q, k)
  }

  /** q171 — the PQ serving tier's recall audit (the q139 protocol with
    * the ADC+re-rank path as the system under test): the q159 curve
    * proved scanned-CANDIDATE count is the IVF cost lever; PQ cuts the
    * per-candidate BYTES instead — candidates score from `subspaces`
    * small ints (+1 norm) rather than d floats, a ~32× read-volume cut
    * at d=64, and only the rerank·k tail ever touches full precision.
    * Per query: the ADC-only top-k hits (what pure compressed serving
    * would return), the re-ranked hits (the shipped path), recall, and
    * the integer pass flag.
    *
    * Measured finding (sf0.1, the q159 convention of recording what
    * the audit actually says): the isotropic fixture is PQ's WORST
    * case — with no cluster structure the 8×8 codebook's quantization
    * error swamps the signal and ADC ranking is near-uninformative
    * (mean recall 0.19 at tail=4k, rising ~linearly in the tail:
    * 0.27 @ 8k, 0.48 @ 32k, and exactly the full-precision IVF
    * recall 0.67 once the tail covers the probed cells — the
    * rerank→∞ ≡ [[knnIvfTrained]] identity AnnIndexSpec pins). On
    * real clustered embeddings ADC concentrates where the data does;
    * on data like this the audit correctly reports that PQ serving
    * would be a recall cliff and the full-precision path (q139/q159)
    * is the right call — which is precisely the decision this audit
    * exists to put a number on. */
  def annPqRecallAudit(em: DataFrame, k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank, sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3, subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = CentroidIds,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val q = em.filter(col("vec_id") % sampleMod === sampleRes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = topk(em.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)")), k)
      .select(col("qid"), col("neighbor"))
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    val cb = pqCodebookOf(em, subspaces, codebookIds)
    val codes = pqEncodeAssigned(assignUnderModel(em, model), cb,
      subspaces)
    // rerank·k·|q| slim rows, TWO consumers (the re-rank arm and the
    // ADC-only arm) — without the checkpoint each re-evaluated the
    // whole corpus-scale encode+ADC+window subtree (the q172 lesson;
    // the audit is ModelEager already)
    val tail = pqAdcTail(codes, cb, model, q, k, nProbe, rerank, subspaces)
      .localCheckpoint()
    val fin = pqRerankTail(tail, em.select(col("vec_id"), col("embedding")),
        q, k)
      .select(col("qid"), col("neighbor"))
    val adcTop = tail.filter(col("adcrnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"))
    def hitsOf(c: DataFrame, out: String): DataFrame =
      truth.join(c, Seq("qid", "neighbor"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as(out))
    q.select(col("qid"))
      .join(hitsOf(adcTop, "n_hit_adc"), Seq("qid"), "left")
      .join(hitsOf(fin, "n_hit"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit_adc"), lit(0L)).as("n_hit_adc"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / k + lit(1e-9), 4))
      .withColumn("ok", (col("n_hit") >= minHits).cast("int"))
      .orderBy("qid")
  }

  def annPqRecallSql(k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank, sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3, subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = CentroidIds): String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    val err2 =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(generate_series(1, len(sv)),
        |      i -> (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
        |         * (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))),
        |    (a, v) -> a + v)""".stripMargin
    val dot =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(generate_series(1, len(qv)),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))),
        |    (a, v) -> a + v)""".stripMargin
    def sumsq(v: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform($v, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))),
         |    (a, v) -> a + v)""".stripMargin
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id % $sampleMod = $sampleRes),
       |t AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id) AS rnk
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid) x WHERE rnk <= $k),
       |cb0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS slot,
       |    embedding AS cbv FROM embeddings
       |  WHERE vec_id IN (${codebookIds.mkString(", ")})),
       |cbn AS MATERIALIZED (SELECT slot, g.s,
       |    list_slice(cbv, g.s * (len(cbv) // $subspaces) + 1,
       |      (g.s + 1) * (len(cbv) // $subspaces)) AS cv
       |  FROM cb0, generate_series(0, ${subspaces - 1}) g(s)),
       |cbn2 AS (SELECT slot, s, cv,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (a, v) -> a + v) AS cn2 FROM cbn),
       |sub AS (SELECT vec_id, g.s,
       |    list_slice(embedding, g.s * (len(embedding) // $subspaces) + 1,
       |      (g.s + 1) * (len(embedding) // $subspaces)) AS sv
       |  FROM embeddings, generate_series(0, ${subspaces - 1}) g(s)),
       |enc0 AS (SELECT vec_id, s, slot, cn2 FROM (
       |  SELECT sub.vec_id, sub.s, cbn2.slot, cbn2.cn2,
       |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |      ORDER BY $err2, cbn2.slot) AS rn
       |  FROM sub JOIN cbn2 ON cbn2.s = sub.s) x WHERE rn = 1),
       |enc AS MATERIALIZED (SELECT vec_id,
       |    list(slot ORDER BY s) AS codes,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(cn2 ORDER BY s)), (a, v) -> a + v)) AS rnorm
       |  FROM enc0 GROUP BY vec_id),
       |p AS (SELECT qid, cid FROM (
       |  SELECT q.qid, c.cid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("c.ce", "q.qe")} DESC, c.cid) AS crn
       |  FROM q, c$KmeansIters c) x WHERE crn <= $nProbe),
       |qsub AS (SELECT qid, g.s,
       |    list_slice(qe, g.s * (len(qe) // $subspaces) + 1,
       |      (g.s + 1) * (len(qe) // $subspaces)) AS qv
       |  FROM q, generate_series(0, ${subspaces - 1}) g(s)),
       |qd AS (SELECT qid, qsub.s AS s, slot, $dot AS dot
       |  FROM qsub JOIN cbn ON cbn.s = qsub.s),
       |qdt AS (SELECT qid, list(dot ORDER BY s, slot) AS dt
       |  FROM qd GROUP BY qid),
       |qn AS (SELECT qid, sqrt(${sumsq("qe")}) AS qnorm FROM q),
       |adc AS (SELECT p.qid, a.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, $subspaces),
       |        i -> dt[(i - 1) * (len(dt) // $subspaces)
       |                + enc.codes[i] + 1])),
       |      (a2, v) -> a2 + v) / (qn.qnorm * enc.rnorm) AS adc
       |  FROM p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid
       |  JOIN enc ON enc.vec_id = a.vec_id
       |  JOIN qdt ON qdt.qid = p.qid
       |  JOIN qn ON qn.qid = p.qid),
       |tail AS MATERIALIZED (SELECT qid, vec_id, adcrnk FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc DESC, vec_id) AS adcrnk FROM adc) x
       |  WHERE adcrnk <= ${k * rerank}),
       |fin AS (SELECT qid, vec_id FROM (
       |  SELECT tl.qid, tl.vec_id,
       |    row_number() OVER (PARTITION BY tl.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, tl.vec_id)
       |      AS rnk
       |  FROM tail tl JOIN embeddings e ON e.vec_id = tl.vec_id
       |  JOIN q ON q.qid = tl.qid) x WHERE rnk <= $k),
       |ha AS (SELECT t.qid, count(*) AS n_hit_adc FROM t
       |  JOIN tail tl ON tl.qid = t.qid AND tl.vec_id = t.vec_id
       |  WHERE tl.adcrnk <= $k GROUP BY t.qid),
       |hf AS (SELECT t.qid, count(*) AS n_hit FROM t
       |  JOIN fin f ON f.qid = t.qid AND f.vec_id = t.vec_id
       |  GROUP BY t.qid)
       |SELECT q.qid,
       |  CAST(coalesce(ha.n_hit_adc, 0) AS BIGINT) AS n_hit_adc,
       |  CAST(coalesce(hf.n_hit, 0) AS BIGINT) AS n_hit,
       |  round(coalesce(hf.n_hit, 0) / CAST($k AS DOUBLE) + 1e-9, 4)
       |    AS recall,
       |  CAST(coalesce(hf.n_hit, 0) >= $minHits AS INT) AS ok
       |FROM q LEFT JOIN ha ON ha.qid = q.qid
       |LEFT JOIN hf ON hf.qid = q.qid ORDER BY q.qid""".stripMargin
  }

  /** Persist PQ codes BESIDE a trained-IVF index (Jégou '11's IVFADC
    * layout): `<table>_pq` = (vec_id, cid, codes, rnorm), cid-bucketed
    * like the base — `subspaces` small ints + one float per vector
    * instead of d floats, the ~32× serve-scan cut at d=64 — plus the
    * persisted `<table>_pqcodebook`. Shares the base index's `_model`
    * AND its `_deletes`: one logical takedown tombstones the
    * full-precision rows and the codes together (the q162 contract —
    * AnnIndexSpec pins serve-through-tombstones before and after
    * compaction). */
  def writePqCodes(spark: SparkSession, ivfTable: String,
      subspaces: Int = PqSubspaces, codebookIds: Seq[Long] = CentroidIds,
      nBuckets: Int = 8): Unit = {
    GraftFunctions.register(spark)
    val idx = spark.table(ivfTable)
    val cb = pqCodebookOf(idx.select(col("vec_id"), col("embedding")),
      subspaces, codebookIds).localCheckpoint()
    graft.sources.FileIO.dropTableAndLocation(spark, s"${ivfTable}_pqcodebook")
    cb.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${ivfTable}_pqcodebook")
    // codebook entries are VERBATIM slices of these corpus vectors —
    // seed provenance feeds the takedown audit + scrub (Scaladoc at
    // [[scrubIndexModelOnTakedown]])
    writeSeedRoles(spark, ivfTable, "codebook",
      idx.filter(col("vec_id").isin(codebookIds: _*))
        .select(col("vec_id")).distinct())
    writeMeta(spark, ivfTable, Map("pq_subspaces" -> subspaces.toLong))
    graft.sources.FileIO.writeParquetBucketed(
      pqEncodeAssigned(idx, cb, subspaces)
        .select(col("vec_id"), col("cid"), col("codes"), col("rnorm")),
      s"${ivfTable}_pq", nBuckets, "cid", Seq("cid"))
  }

  /** Extend the PQ side for an appended batch: encode under the STORED
    * codebook + model — O(|batch|), the codebook never retrains (same
    * immutability contract as the model; re-fitting is a rebuild). */
  def appendToPqCodes(newBatch: DataFrame, ivfTable: String,
      subspaces: Int = PqSubspaces, nBuckets: Int = 8): Unit = {
    val spark = newBatch.sparkSession
    GraftFunctions.register(spark)
    val model = spark.table(s"${ivfTable}_model").localCheckpoint()
    val cb = spark.table(s"${ivfTable}_pqcodebook").localCheckpoint()
    graft.sources.FileIO.appendParquetBucketed(
      pqEncodeAssigned(assignUnderModel(newBatch, model), cb, subspaces)
        .select(col("vec_id"), col("cid"), col("codes"), col("rnorm")),
      s"${ivfTable}_pq", nBuckets, "cid", Seq("cid"))
  }

  /** PQ rows under the base index's SHARED tombstones. */
  def livePqCodes(spark: SparkSession, ivfTable: String): DataFrame = {
    val pq = spark.table(s"${ivfTable}_pq")
    if (spark.catalog.tableExists(s"${ivfTable}_deletes"))
      pq.join(broadcast(spark.table(s"${ivfTable}_deletes").distinct()),
        Seq("vec_id"), "left_anti")
    else pq
  }

  /** Compact PQ codes AND the base index together — the PQ rewrite must
    * run before [[compactTrainedIvfIndex]] drops the shared `_deletes`
    * table, so the combined form is the only safe entry point. */
  def compactPqIvfIndex(spark: SparkSession, ivfTable: String,
      nBuckets: Int = 8): Unit =
    // compactTrainedIvfIndex now folds EVERY quantized sidecar before
    // dropping the shared tombstones; this alias survives for callers
    compactTrainedIvfIndex(spark, ivfTable, nBuckets)

  /** PQ-served kNN from the persisted tables: ADC over `<table>_pq`
    * (slim codes, tombstone-filtered), exact re-rank of the tail
    * against the base index's full vectors.
    *
    * The re-rank fetch is a POINTED read, not a corpus join: the tail
    * is rerank·k·|queries| rows by construction, so it collects
    * (driver-side, metadata-scale — this is a serve call, the
    * hybridRrfServe posture) and the full vectors come back through a
    * `cid IN (probed cells)` + `vec_id IN (tail)` filter — the first
    * predicate bucket-prunes the cid-bucketed base table, the second
    * pushes to parquet row groups. Without this, the re-rank scanned
    * the entire full-precision table and erased the ADC scan's byte
    * savings (measured: the f=1000 pq serve paid its base-table scan
    * twice). */
  def knnPqServe(spark: SparkSession, ivfTable: String,
      queryIds: Seq[Long] = QueryIds, k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank, subspaces: Int = PqSubspaces): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val live = liveTrainedIvfIndex(spark, ivfTable)
    requireLiveQueries(live, queryIds, ivfTable)
    val q = live.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val tailRows = pqAdcTail(livePqCodes(spark, ivfTable),
      spark.table(s"${ivfTable}_pqcodebook"),
      spark.table(s"${ivfTable}_model"), q, k, nProbe, rerank, subspaces)
      .collect()
    val tail = tailRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("qid", "vec_id")
    val tailIds = tailRows.map(_.getLong(1)).distinct.toSeq
    val tailCids = tailRows.map(_.getLong(2)).distinct.toSeq
    val fetched = live
      .filter(col("cid").isin(tailCids: _*) &&
        col("vec_id").isin(tailIds: _*))
      .select(col("vec_id"), col("embedding"))
    pqRerankTail(tail, fetched, q, k)
  }

  // ------------------------------------------------------------------
  // q180 — RESIDUAL-coded PQ (IVFADC proper, Jégou '11 §III)
  // ------------------------------------------------------------------

  /** q180's default residual codebook seeds: 64 entries per subspace
    * (ids 7·1..7·64, present at every test SF). Residual quantization
    * earns its keep through codebook SIZE — the within-cell jitter it
    * codes needs more entries than the 8 coarse cells do (production
    * IVFADC uses K=256); measured at n=2000: K=8 → K=64 lifts recall
    * 0.33 → 0.60 clustered, 0.21 → 0.34 isotropic, both ≫ raw PQ's
    * 0.11/0.15. Encode cost is K-linear per (vector, subspace) —
    * the explicit trade. */
  val PqResidualCodebookIds: Seq[Long] = (1 to 64).map(_ * 7L)

  /** ADAPTIVE residual-codebook seeds (r19 item 6): the measured
    * K-curve (0.082 → 0.256 → 0.443 clustered recall at K=8/64/256,
    * monotone and unsaturated at 50k — BASELINE §y) says codebook size
    * is the residual tier's dominant recall lever and K=256 is the
    * production point; the fixed 64-id list existed only because the
    * smallest test SF has 500 ids. This derives K from the corpus —
    * K = min(256, max(64, N/8)) — and takes the first K multiples of
    * 7 PRESENT (ascending; the cross-engine-replayable generalization
    * of the static list, which it equals whenever K=64). Encode cost
    * stays K-linear per (vector, subspace) — the explicit trade.
    * Driver-side cost: one count + a K-row collect (model-scale). */
  def adaptiveResidualCodebookIds(em: DataFrame): Seq[Long] = {
    val n = em.count()
    val k = math.min(256L, math.max(64L, n / 8)).toInt
    val ids = em.filter(col("vec_id") % 7 === 0 && col("vec_id") >= 7)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(k)
      .collect().map(_.getLong(0)).toSeq
    require(ids.size >= 8,
      s"corpus has only ${ids.size} multiples of 7 — too few for a " +
        "residual codebook (need >= 8)")
    ids
  }

  /** Assigned vectors with their residual rv = v − c(v), the vector the
    * residual quantizer codes. Double-precision throughout — the
    * float-float subtraction is exact in double on both engines. */
  private def residualFrame(assigned: DataFrame, model: DataFrame)
      : DataFrame =
    assigned.join(broadcast(model.select(col("cid"), col("ce"))), "cid")
      .withColumn("rv", expr(
        """zip_with(embedding, ce,
          |  (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"""
          .stripMargin))

  /** Residual codebook: per subspace the residual slices of the seed
    * vectors (dense slot over present ids — the q171 convention). The
    * difference from [[pqCodebookOf]] is WHAT gets sliced: the seeds'
    * residuals, so codebook entries live in the space the codes
    * discriminate — around each cell's centroid, not in the raw
    * ambient space. */
  def pqResidualCodebookOf(em: DataFrame, model: DataFrame,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds): DataFrame =
    residualCodebookFrom(
      residualFrame(
        assignUnderModel(em.filter(col("vec_id").isin(codebookIds: _*)),
          model), model),
      subspaces, codebookIds)

  /** [[pqResidualCodebookOf]] over a PRE-BUILT residual frame
    * (vec_id, …, rv) — the seam the OPQ arm rotates through. */
  private def residualCodebookFrom(rf: DataFrame, subspaces: Int,
      codebookIds: Seq[Long]): DataFrame = {
    val seeds = rf.filter(col("vec_id").isin(codebookIds: _*))
      .withColumn("slot",
        row_number().over(Window.orderBy("vec_id")) - 1)
    pqSliceRows(seeds.select(col("slot"), col("rv")), "slot", "rv",
      "cv", subspaces)
  }

  /** Residual encode: per subspace the nearest residual-codebook slice
    * (L2², slot-ascending tie) — codes index the RESIDUAL codebook;
    * `rnorm` = ‖c(v) + r̂(v)‖, the reconstructed norm ADC divides by
    * (per-s partial ‖ce_s + cv_s‖² folded in fixed s-order, the
    * bit-identical-fold rule every rank cut rides on). This is what
    * fixes the clustered collapse BASELINE §y measures for raw-vector
    * PQ: cluster-mates share a cell, so their raw slices quantize to
    * the same slot and ADC is cluster-constant — their RESIDUALS are
    * the within-cluster jitter, exactly what this codebook spans. */
  def pqResidualEncode(assigned: DataFrame, model: DataFrame,
      cb: DataFrame, subspaces: Int = PqSubspaces): DataFrame =
    pqResidualEncodeFrom(residualFrame(assigned, model), cb, subspaces)

  /** [[pqResidualEncode]] over a PRE-BUILT residual frame
    * (vec_id, cid, rv, ce) — the OPQ seam. */
  private def pqResidualEncodeFrom(rf: DataFrame, cb: DataFrame,
      subspaces: Int): DataFrame = {
    GraftFunctions.register(rf.sparkSession)
    // pq_encode (functions/PqEncode.scala): argmin + the ‖ce_s + c_s‖²
    // rnorm fold as one codegen expression against the packed broadcast
    // codebook — replaces the explode→join→window→groupBy pipeline that
    // shuffled N·subspaces·K rows twice (guide §2.4). Bit-identical
    // left-to-right folds (the sq_dist contract), so neither the codes
    // nor any downstream ADC rank cut can move.
    rf.crossJoin(broadcast(packedCodebook(cb)))
      .withColumn("_enc", expr(s"pq_encode(rv, ce, cbflat, $subspaces)"))
      .select(col("vec_id"), col("cid"),
        col("_enc.codes").as("codes"), col("_enc.rnorm").as("rnorm"))
  }

  /** q180 — the q171 recall audit with RESIDUAL coding as the system
    * under test: approx_cos(q, v) = (dot(q, c(v)) + Σ_s dt[s·K+code_s])
    * / (‖q‖·‖c(v)+r̂(v)‖) — the per-(query, cell) centroid dot `qc` is
    * nProbe rows per query (broadcast-scale), the residual distance
    * table `dt` is the same flat per-query layout [[pqAdcTail]] builds,
    * and the inner loop is the SAME native `pq_adc` expression (the
    * numerator just gains a per-cell constant). Same tail + exact
    * re-rank contract as q171. */
  def annPqResidualRecallAudit(em: DataFrame, k: Int = TopK,
      nProbe: Int = NProbe, rerank: Int = PqRerank, sampleMod: Long = 50L,
      sampleRes: Long = 7L, minHits: Int = 3,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    residualAuditUnder(em, model,
      pqResidualCodebookOf(em, model, subspaces, codebookIds)
        .localCheckpoint(),
      k, nProbe, rerank, sampleMod, sampleRes, minHits, subspaces)
  }

  /** The residual-ADC QUERY SIDE (broadcast-scale, shared by the
    * audits and the persisted serve path): per query the `nProbe`
    * probed cells with their per-(query, cell) centroid dot `qc` — the
    * per-cell constant residual ADC adds that raw-slice ADC lacks —
    * the flat residual distance table `dt` (dot(q_s, cv_{s,slot})
    * sorted by (s, slot)) and the exact query norm. */
  private def residualQSide(q: DataFrame, model: DataFrame, cb: DataFrame,
      nProbe: Int, subspaces: Int, qForDt: DataFrame = null): DataFrame = {
    // vec_dot: the native fold twin of the replaced
    // aggregate(zip_with(...)) HOFs — identical IEEE sequence
    val probes = nearestCentroid(q, model.select(col("cid"), col("ce")),
        "qid", "qe", nProbe)
      .withColumn("qc", expr("vec_dot(qe, ce)"))
      .select(col("qid"), col("cid"), col("qc"))
    // the dt slices come from `qForDt` when given (the OPQ arm's
    // ROTATED queries — probes/qc/qnorm always use the original space)
    val qdt = pqSliceRows(Option(qForDt).getOrElse(q)
        .select(col("qid").as("vec_id"), col("qe")),
        "vec_id", "qe", "qv", subspaces)
      .join(broadcast(cb), "s")
      .withColumn("dot", expr("vec_dot(qv, cv)"))
      .groupBy(col("vec_id").as("qid"))
      .agg(expr("transform(array_sort(collect_list(struct(s, slot, dot)))," +
        " x -> x.dot)").as("dt"))
    val qn = q.select(col("qid"),
      sqrt(expr("vec_dot(qe, qe)")).as("qnorm"))
    probes.join(qdt, "qid").join(qn, "qid")
  }

  /** The residual-ADC tail cut: approx_cos = (qc + pq_adc(codes, dt))
    * / (‖q‖·rnorm) over the probed cells' codes, top rerank·k per
    * query by (adc DESC, vec_id) — same native `pq_adc` fold as the
    * raw tier, the numerator just gains the per-cell constant. */
  private def residualAdcTail(codes: DataFrame, qside: DataFrame,
      k: Int, rerank: Int): DataFrame =
    codes.join(broadcast(qside), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc",
        (col("qc") + expr("pq_adc(codes, dt)"))
          / (col("qnorm") * col("rnorm")))
      .withColumn("adcrnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("adc").desc, col("vec_id"))))
      .filter(col("adcrnk") <= k * rerank)
      .select(col("qid"), col("vec_id"), col("cid"), col("adcrnk"))

  /** The residual-ADC serve + audit under EXPLICIT model and codebook —
    * shared by the static (q180) and trained (q181) arms. */
  private def residualAuditUnder(em: DataFrame, model: DataFrame,
      cb: DataFrame, k: Int, nProbe: Int, rerank: Int, sampleMod: Long,
      sampleRes: Long, minHits: Int, subspaces: Int,
      rot: Option[Array[Array[Double]]] = None): DataFrame = {
    val q = em.filter(col("vec_id") % sampleMod === sampleRes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = topk(em.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)")), k)
      .select(col("qid"), col("neighbor"))
    // the OPQ arm rotates the residual frame (rv AND ce — the algebra
    // note at [[annPqResidualOpqRecallAudit]]) and the dt-side queries;
    // probes/qc/qnorm/truth/re-rank stay in the original space
    val rf0 = residualFrame(assignUnderModel(em, model), model)
    val rf = rot.map(r => rf0
        .withColumn("rv", matvecCol(r, col("rv")))
        .withColumn("ce", matvecCol(r, col("ce"))))
      .getOrElse(rf0)
    val codes = pqResidualEncodeFrom(rf, cb, subspaces)
    val qRot = rot.map(r =>
      q.select(col("qid"), matvecCol(r, col("qe")).as("qe"))).orNull
    // rerank·k·|q| slim rows, TWO consumers (re-rank arm + ADC-only
    // arm) — the checkpoint stops each from re-evaluating the whole
    // corpus-scale residual-encode+ADC+window subtree (the q172
    // lesson; the audits are ModelEager already)
    val tail = residualAdcTail(codes,
      residualQSide(q, model, cb, nProbe, subspaces, qForDt = qRot),
      k, rerank)
      .localCheckpoint()
    val fin = pqRerankTail(tail,
        em.select(col("vec_id"), col("embedding")), q, k)
      .select(col("qid"), col("neighbor"))
    val adcTop = tail.filter(col("adcrnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"))
    def hitsOf(c: DataFrame, out: String): DataFrame =
      truth.join(c, Seq("qid", "neighbor"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as(out))
    q.select(col("qid"))
      .join(hitsOf(adcTop, "n_hit_adc"), Seq("qid"), "left")
      .join(hitsOf(fin, "n_hit"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit_adc"), lit(0L)).as("n_hit_adc"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / k + lit(1e-9), 4))
      .withColumn("ok", (col("n_hit") >= minHits).cast("int"))
      .orderBy("qid")
  }

  /** The residual-PQ pipeline CTEs shared by the q180/q181 audit
    * oracles and the q182 serve oracle: k-means model, residuals,
    * residual codebook (static or `trainIters` Lloyd rounds), encode,
    * query side with the qc term, ADC, and the rerank·k `tail` — ends
    * ready for a caller-appended final stage. `qWhere` picks the query
    * set (modulus sample for the audits, fixed ids for serve). */
  private def residualPipelineCtes(qWhere: String, k: Int, nProbe: Int,
      rerank: Int, subspaces: Int, codebookIds: Seq[Long],
      trainIters: Int, adaptiveK: Boolean = false,
      opqPowerIters: Int = 0, d: Int = 64): String = {
    // the OPQ arm reroutes the codebook/encode residuals through the
    // ROTATED frame and the dt slices through the rotated queries
    val resRef = if (opqPowerIters > 0) "resr" else "res"
    val qdtRef = if (opqPowerIters > 0) "qrot" else "q"
    // the adaptive seed set replays [[adaptiveResidualCodebookIds]]:
    // first min(256, max(64, N/8)) multiples of 7 present, ascending
    val cbPick =
      if (adaptiveK)
        s"""(SELECT vec_id, rv FROM $resRef
           |  WHERE vec_id % 7 = 0 AND vec_id >= 7
           |  ORDER BY vec_id
           |  LIMIT (SELECT least(256, greatest(64, count(*) // 8))
           |         FROM embeddings))""".stripMargin
      else
        s"""(SELECT vec_id, rv FROM $resRef
           |  WHERE vec_id IN (${codebookIds.mkString(", ")}))"""
          .stripMargin
    val cbRef = if (trainIters == 0) "cbn" else s"rqc$trainIters"
    val err2Of = (cvRef: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, len(sub.sv)),
         |      i -> (CAST(sub.sv[i] AS DOUBLE) - CAST($cvRef[i] AS DOUBLE))
         |         * (CAST(sub.sv[i] AS DOUBLE)
         |            - CAST($cvRef[i] AS DOUBLE)))),
         |    (a, v) -> a + v)""".stripMargin
    val trainCtes = if (trainIters == 0) "" else {
      val its = (1 to trainIters).map { it =>
        s"""rqa$it AS (SELECT s, slot, sv FROM (
           |  SELECT sub.s, rqc${it - 1}.slot, sub.sv,
           |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
           |      ORDER BY ${err2Of(s"rqc${it - 1}.cv")}, rqc${it - 1}.slot)
           |      AS rn
           |  FROM sub JOIN rqc${it - 1} ON rqc${it - 1}.s = sub.s) x
           |  WHERE rn = 1),
           |rqu$it AS (SELECT s, slot, list(m ORDER BY pos) AS nv FROM (
           |  SELECT s, slot, g.i AS pos,
           |    round(avg(CAST(sv[g.i] AS DOUBLE)) + 1e-9, 6) AS m
           |  FROM rqa$it, UNNEST(generate_series(1, len(sv))) AS g(i)
           |  GROUP BY s, slot, g.i) y GROUP BY s, slot),
           |rqc$it AS MATERIALIZED (SELECT p.s, p.slot,
           |    coalesce(u.nv, p.cv) AS cv
           |  FROM rqc${it - 1} p LEFT JOIN rqu$it u
           |    ON u.s = p.s AND u.slot = p.slot)""".stripMargin
      }.mkString(",\n")
      s",\nrqc0 AS (SELECT slot, s, cv FROM cbn),\n$its"
    }
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    val dot =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(generate_series(1, len(qv)),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))),
        |    (a, v) -> a + v)""".stripMargin
    def sumsq(v: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform($v, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))),
         |    (a, v) -> a + v)""".stripMargin
    // matvec under the rounded rotation — FIXED j-order fold + the 6dp
    // canonical rounding (the twin of the Spark side's matvecCol)
    def rotVec(vRef: String) =
      s"""list_transform(generate_series(1, $d), i ->
         |      round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(generate_series(1, $d), jj ->
         |          rmat.rows[i][jj] * CAST($vRef[jj] AS DOUBLE))),
         |        (a, v2) -> a + v2) + 1e-9, 6))""".stripMargin
    // the OPQ eigen + Householder + rotation CTE block (q183): replays
    // opqRotationFrom step for step — residual second moment, per-
    // direction power chains with deflation (u rounded 6dp BEFORE
    // deflating), the z chain, R built by applying each H to the
    // identity, rounded 6dp, then the rotated residual/query frames
    val opqCtes = if (opqPowerIters == 0) "" else {
      val nS = subspaces
      val wW = d / nS
      val chains = (1 to nS).map { m =>
        val steps = (1 to opqPowerIters).map { t =>
          s"""pw${m}_$t AS MATERIALIZED (SELECT c.i, sum(c.v * p.x) AS x
             |  FROM cov$m c JOIN pv${m}_${t - 1} p ON p.i = c.j
             |  GROUP BY c.i),
             |pv${m}_$t AS MATERIALIZED (SELECT i,
             |    x / sqrt((SELECT sum(x * x) FROM pw${m}_$t)) AS x
             |  FROM pw${m}_$t)""".stripMargin
        }.mkString(",\n")
        s"""pv${m}_0 AS (SELECT ii.i AS i, 1.0 / sqrt($d) AS x
           |  FROM generate_series(1, $d) ii(i)),
           |$steps,
           |u$m AS MATERIALIZED (SELECT i,
           |    round((CASE WHEN (SELECT sum(x) FROM pv${m}_$opqPowerIters)
           |        + 1e-9 < 0 THEN -x ELSE x END) + 1e-9, 6) AS x
           |  FROM pv${m}_$opqPowerIters),
           |lam$m AS (SELECT sum(u1.x * c.v * u2.x) AS l FROM cov$m c
           |  JOIN u$m u1 ON u1.i = c.i JOIN u$m u2 ON u2.i = c.j),
           |cov${m + 1} AS MATERIALIZED (SELECT c.i, c.j,
           |    c.v - (SELECT l FROM lam$m) * u1.x * u2.x AS v
           |  FROM cov$m c JOIN u$m u1 ON u1.i = c.i
           |  JOIN u$m u2 ON u2.i = c.j)""".stripMargin
      }.mkString(",\n")
      val zChains = (1 to nS).map { m =>
        val t = (m - 1) * wW + 1
        val apps = (1 until m).map { j =>
          val vin = if (j == 1) s"u$m" else s"ws${m}_${j - 1}"
          s"""ws${m}_$j AS MATERIALIZED (SELECT v.i,
             |    v.x - ((SELECT sum(z.x * v2.x) FROM z$j z
             |            JOIN $vin v2 ON v2.i = z.i) * 2
             |           / (SELECT sum(x * x) FROM z$j)) * z2.x AS x
             |  FROM $vin v JOIN z$j z2 ON z2.i = v.i)""".stripMargin
        }.mkString(",\n")
        val src = if (m == 1) s"u$m" else s"ws${m}_${m - 1}"
        val head = if (apps.isEmpty) "" else s"$apps,\n"
        s"""${head}z$m AS MATERIALIZED (SELECT i,
           |    round(x + (CASE WHEN i = $t THEN
           |      (CASE WHEN (SELECT x FROM $src WHERE i = $t) >= -1e-9
           |        THEN 1.0 ELSE -1.0 END) ELSE 0.0 END) + 1e-9, 6)
           |      AS x
           |  FROM $src)""".stripMargin
      }.mkString(",\n")
      val rSteps = (1 to nS).map { m =>
        val prev = if (m == 1) "rid" else s"rr${m - 1}"
        s"""zr$m AS MATERIALIZED (SELECT r.j, sum(z.x * r.v) AS sv
           |  FROM z$m z JOIN $prev r ON r.i = z.i GROUP BY r.j),
           |rr$m AS MATERIALIZED (SELECT r.i, r.j,
           |    r.v - (zr.sv * 2 / (SELECT sum(x * x) FROM z$m)) * z2.x
           |      AS v
           |  FROM $prev r JOIN zr$m zr ON zr.j = r.j
           |  JOIN z$m z2 ON z2.i = r.i)""".stripMargin
      }.mkString(",\n")
      s""",
         |mom AS MATERIALIZED (SELECT ii.i AS i, jj.j AS j,
         |    sum(rv[ii.i] * rv[jj.j]) / (SELECT count(*) FROM res) AS v
         |  FROM res, generate_series(1, $d) ii(i),
         |    generate_series(1, $d) jj(j)
         |  GROUP BY 1, 2),
         |cov1 AS MATERIALIZED (SELECT i, j, v FROM mom),
         |$chains,
         |$zChains,
         |rid AS (SELECT ii.i AS i, jj.j AS j,
         |    CASE WHEN ii.i = jj.j THEN 1.0 ELSE 0.0 END AS v
         |  FROM generate_series(1, $d) ii(i),
         |    generate_series(1, $d) jj(j)),
         |$rSteps,
         |rrot AS MATERIALIZED (SELECT i, j, round(v + 1e-9, 6) AS v
         |  FROM rr$nS),
         |rmat AS MATERIALIZED (SELECT list(rw ORDER BY i) AS rows FROM (
         |  SELECT i, list(v ORDER BY j) AS rw FROM rrot GROUP BY i)),
         |resr AS MATERIALIZED (SELECT vec_id, cid,
         |    ${rotVec("rv")} AS rv,
         |    ${rotVec("ce")} AS ce
         |  FROM res, rmat),
         |qrot AS MATERIALIZED (SELECT qid,
         |    ${rotVec("qe")} AS qe
         |  FROM q, rmat)""".stripMargin
    }
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |res AS MATERIALIZED (SELECT a.vec_id, a.cid,
       |    list_transform(generate_series(1, len(a.embedding)),
       |      i -> CAST(a.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
       |      AS rv,
       |    c.ce AS ce
       |  FROM asg a JOIN c$KmeansIters c ON c.cid = a.cid),
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE $qWhere)$opqCtes,
       |cb0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS slot,
       |    rv AS cbv FROM $cbPick),
       |cbn AS MATERIALIZED (SELECT slot, g.s,
       |    list_slice(cbv, g.s * (len(cbv) // $subspaces) + 1,
       |      (g.s + 1) * (len(cbv) // $subspaces)) AS cv
       |  FROM cb0, generate_series(0, ${subspaces - 1}) g(s)),
       |sub AS MATERIALIZED (SELECT vec_id, cid, g.s,
       |    list_slice(rv, g.s * (len(rv) // $subspaces) + 1,
       |      (g.s + 1) * (len(rv) // $subspaces)) AS sv,
       |    list_slice(ce, g.s * (len(ce) // $subspaces) + 1,
       |      (g.s + 1) * (len(ce) // $subspaces)) AS cev
       |  FROM $resRef, generate_series(0, ${subspaces - 1}) g(s))$trainCtes,
       |enc0 AS (SELECT vec_id, cid, s, slot, n2 FROM (
       |  SELECT sub.vec_id, sub.cid, sub.s, $cbRef.slot,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(sub.cev)),
       |        i -> (CAST(sub.cev[i] AS DOUBLE)
       |              + CAST($cbRef.cv[i] AS DOUBLE))
       |           * (CAST(sub.cev[i] AS DOUBLE)
       |              + CAST($cbRef.cv[i] AS DOUBLE)))),
       |      (a, v) -> a + v) AS n2,
       |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |      ORDER BY ${err2Of(s"$cbRef.cv")}, $cbRef.slot) AS rn
       |  FROM sub JOIN $cbRef ON $cbRef.s = sub.s) x WHERE rn = 1),
       |enc AS MATERIALIZED (SELECT vec_id, cid,
       |    list(slot ORDER BY s) AS codes,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(n2 ORDER BY s)), (a, v) -> a + v)) AS rnorm
       |  FROM enc0 GROUP BY vec_id, cid),
       |p AS (SELECT qid, cid, qc FROM (
       |  SELECT q.qid, c.cid,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(q.qe)),
       |        i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))),
       |      (a, v) -> a + v) AS qc,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("c.ce", "q.qe")} DESC, c.cid) AS crn
       |  FROM q, c$KmeansIters c) x WHERE crn <= $nProbe),
       |qsub AS (SELECT qid, g.s,
       |    list_slice(qe, g.s * (len(qe) // $subspaces) + 1,
       |      (g.s + 1) * (len(qe) // $subspaces)) AS qv
       |  FROM $qdtRef, generate_series(0, ${subspaces - 1}) g(s)),
       |qd AS (SELECT qid, qsub.s AS s, slot, $dot AS dot
       |  FROM qsub JOIN $cbRef ON $cbRef.s = qsub.s),
       |qdt AS (SELECT qid, list(dot ORDER BY s, slot) AS dt
       |  FROM qd GROUP BY qid),
       |qn AS (SELECT qid, sqrt(${sumsq("qe")}) AS qnorm FROM q),
       |adc AS (SELECT p.qid, enc.vec_id,
       |    (p.qc + list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, $subspaces),
       |        i -> dt[(i - 1) * (len(dt) // $subspaces)
       |                + enc.codes[i] + 1])),
       |      (a2, v) -> a2 + v)) / (qn.qnorm * enc.rnorm) AS adc
       |  FROM p JOIN enc ON enc.cid = p.cid AND enc.vec_id <> p.qid
       |  JOIN qdt ON qdt.qid = p.qid
       |  JOIN qn ON qn.qid = p.qid),
       |tail AS MATERIALIZED (SELECT qid, vec_id, adcrnk FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc DESC, vec_id) AS adcrnk FROM adc) x
       |  WHERE adcrnk <= ${k * rerank})""".stripMargin
  }

  /** `trainIters` > 0 inserts the per-subspace residual Lloyd CTEs
    * (the q173 pattern over residual slices, DOUBLE means — the q181
    * oracle); 0 is the static q180 book. */
  def annPqResidualRecallSql(k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank, sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3, subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      trainIters: Int = 0, adaptiveK: Boolean = false): String = {
    val core = residualPipelineCtes(
      s"vec_id % $sampleMod = $sampleRes", k, nProbe, rerank, subspaces,
      codebookIds, trainIters, adaptiveK)
    s"$core,\n${residualAuditTailSql(k, minHits)}"
  }

  /** q183's oracle: the q181 pipeline with the OPQ rotation CTEs
    * injected (`powerIters` > 0 replays the driver's eigen chain,
    * Householder construction and rotated frames CTE-for-CTE). */
  def annPqResidualOpqRecallSql(k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank, sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3, subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      trainIters: Int = KmeansIters, adaptiveK: Boolean = false,
      powerIters: Int = OpqPowerIters): String = {
    val core = residualPipelineCtes(
      s"vec_id % $sampleMod = $sampleRes", k, nProbe, rerank, subspaces,
      codebookIds, trainIters, adaptiveK, opqPowerIters = powerIters)
    s"$core,\n${residualAuditTailSql(k, minHits)}"
  }

  /** The shared audit tail: exact truth, re-ranked tail, ADC-only and
    * final hit counts, per-query recall + pass flag. */
  private def residualAuditTailSql(k: Int, minHits: Int): String =
    s"""t AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id)
       |      AS rnk
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid) x WHERE rnk <= $k),
       |fin AS (SELECT qid, vec_id FROM (
       |  SELECT tl.qid, tl.vec_id,
       |    row_number() OVER (PARTITION BY tl.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, tl.vec_id)
       |      AS rnk
       |  FROM tail tl JOIN embeddings e ON e.vec_id = tl.vec_id
       |  JOIN q ON q.qid = tl.qid) x WHERE rnk <= $k),
       |ha AS (SELECT t.qid, count(*) AS n_hit_adc FROM t
       |  JOIN tail tl ON tl.qid = t.qid AND tl.vec_id = t.vec_id
       |    AND tl.adcrnk <= $k GROUP BY t.qid),
       |h AS (SELECT t.qid, count(*) AS n_hit FROM t
       |  JOIN fin f ON f.qid = t.qid AND f.vec_id = t.vec_id
       |  GROUP BY t.qid)
       |SELECT q.qid,
       |  CAST(coalesce(ha.n_hit_adc, 0) AS BIGINT) AS n_hit_adc,
       |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  round(coalesce(h.n_hit, 0) / CAST($k AS DOUBLE) + 1e-9, 4)
       |    AS recall,
       |  CAST(coalesce(h.n_hit, 0) >= $minHits AS INT) AS ok
       |FROM q LEFT JOIN ha ON ha.qid = q.qid
       |LEFT JOIN h ON h.qid = q.qid ORDER BY q.qid""".stripMargin

  /** q182's oracle: the same residual pipeline, final stage = the
    * serve answer itself — exact re-rank of the rerank·k tail, top-k
    * rows (qid, rnk, neighbor, cos) with [[topk]]'s 4dp rounding. */
  def knnResidualPqSql(queryIds: Seq[Long] = QueryIds, k: Int = TopK,
      nProbe: Int = NProbe, rerank: Int = PqRerank,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      trainIters: Int = KmeansIters, adaptiveK: Boolean = false): String = {
    val core = residualPipelineCtes(
      s"vec_id IN (${queryIds.mkString(", ")})", k, nProbe, rerank,
      subspaces, codebookIds, trainIters, adaptiveK)
    s"""$core
       |SELECT qid, rnk, vec_id AS neighbor,
       |  round(cos, 4) AS cos FROM (
       |  SELECT tl.qid, tl.vec_id,
       |    ${cosSql("q.qe", "e.embedding")} AS cos,
       |    row_number() OVER (PARTITION BY tl.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, tl.vec_id)
       |      AS rnk
       |  FROM tail tl JOIN embeddings e ON e.vec_id = tl.vec_id
       |  JOIN q ON q.qid = tl.qid) x WHERE rnk <= $k
       |ORDER BY qid, rnk""".stripMargin
  }

  // ------------------------------------------------------------------
  // q181 — TRAINED residual codebook (per-subspace Lloyd over residuals)
  // ------------------------------------------------------------------

  /** Per-subspace Lloyd over the RESIDUAL slices (the q173 trainer
    * applied in residual space): init = the static residual codebook
    * (iters=0 degenerates to q180's book), each round re-centers every
    * (s, slot) cell on the residual slices it attracts, dead cells
    * retain their prior centers (uniform dt indexing, the q173 rule).
    * Means stay DOUBLE (residual space is double end-to-end; the q173
    * float narrowing was the raw codebook's storage canonicalization)
    * but keep the same 6dp+nudge rounding so both engines walk
    * identical codebooks. localCheckpoint per iteration — model-scale
    * rows, bounded plan depth (the q173 note). */
  def pqTrainResidualCodebook(em: DataFrame, model: DataFrame,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    trainResidualCodebookFrom(
      residualFrame(assignUnderModel(em, model), model),
      subspaces, codebookIds, iters)
  }

  /** [[pqTrainResidualCodebook]] over a PRE-BUILT residual frame —
    * the OPQ seam (train the book on ROTATED residuals). */
  private def trainResidualCodebookFrom(rf: DataFrame, subspaces: Int,
      codebookIds: Seq[Long], iters: Int): DataFrame = {
    var cb = residualCodebookFrom(rf, subspaces, codebookIds)
      .select(col("s"), col("slot"), col("cv"))
    // NOT checkpointed: a localCheckpoint here (tried at 100×-scale)
    // measured inside the run-to-run noise band — the per-iteration
    // re-derivation is a broadcast join + projection, cheaper than
    // storing and re-reading the N·subspaces slice frame
    val rvs = rf.select(col("vec_id"), col("rv"))
    for (_ <- 1 to iters) {
      // assign via the native pq_encode argmin (zero-base: only codes
      // are consumed) — same winners as the sq_dist window it replaces,
      // with no N·subspaces·K join/window exchange (guide §2.4); the
      // winning slices re-derive from codes by position
      // ONE posexplode with derived (s, slot, pos) keys — the q173
      // trainer's fusion (same groups, same row-major arrival order →
      // bit-identical partial means); rv is double end-to-end here
      val updated = rvs.crossJoin(broadcast(packedCodebook(cb)))
        .withColumn("codes", expr(
          s"pq_encode(rv, array_repeat(CAST(0.0 AS DOUBLE), size(rv))," +
            s" cbflat, $subspaces).codes"))
        .withColumn("_w", expr(s"size(rv) DIV $subspaces"))
        .select(col("codes"), col("_w"),
          posexplode(col("rv")).as(Seq("p0", "v")))
        .select(expr("CAST(p0 DIV _w AS INT)").as("s"),
          expr("codes[CAST(p0 DIV _w AS INT)]").as("slot"),
          expr("p0 % _w").as("pos"), col("v"))
        .groupBy(col("s"), col("slot"), col("pos"))
        .agg(round(avg(col("v")) + lit(1e-9), 6).as("m"))
        .groupBy(col("s"), col("slot"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("nv"))
      cb = cb.withColumnRenamed("cv", "pv")
        .join(updated, Seq("s", "slot"), "left")
        .select(col("s"), col("slot"),
          coalesce(col("nv"), col("pv")).as("cv"))
        .localCheckpoint()
    }
    cb
  }

  /** q181 — the q180 audit under the TRAINED residual codebook: the
    * codebook is the only change, so the recall delta IS the training
    * dividend in residual space. */
  def annPqResidualTrainedRecallAudit(em: DataFrame, k: Int = TopK,
      nProbe: Int = NProbe, rerank: Int = PqRerank, sampleMod: Long = 50L,
      sampleRes: Long = 7L, minHits: Int = 3,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    residualAuditUnder(em, model,
      pqTrainResidualCodebook(em, model, subspaces, codebookIds, iters)
        .localCheckpoint(),
      k, nProbe, rerank, sampleMod, sampleRes, minHits, subspaces)
  }

  // ------------------------------------------------------------------
  // q183 — OPQ-style rotation for residual PQ (Ge et al. '13
  // "Optimized Product Quantization", the eigenvalue-allocation
  // initialization OPQ-P): rotate residual space so the top energy
  // directions land ONE PER SUBSPACE before slicing — balanced
  // per-subspace variance is what the independent subquantizers
  // assume, and contiguous slicing of anisotropic residuals violates
  // it. The rotation is a chain of `subspaces` Householder
  // reflections built from power-iteration+deflation eigenvectors of
  // the residual second-moment matrix (the q147 driver-side eigen
  // precedent): H_m maps energy direction m onto subspace m's first
  // coordinate, and because eigenvectors are orthogonal each H fixes
  // the targets already placed (the QR-via-Householder argument).
  //
  // Cross-engine exactness: every trained artifact (u_m, z_m, and the
  // final R) is canonicalized at 6dp (+1e-9 nudge, HALF_UP — the
  // codebook-rounding convention), and every ROTATED vector is
  // rounded the same way, so both engines quantize bit-identical
  // inputs; the iterative float linear algebra only has to agree to
  // ~1e-7, which 20 fixed iterations of the same recurrence on
  // second moments that differ at ~1e-12 comfortably does.
  // ------------------------------------------------------------------

  /** Power-iteration count for the OPQ eigen chain — fixed, replayed
    * verbatim by the oracle (convergence quality tunes recall, not
    * correctness: both engines walk the same 20 steps). */
  val OpqPowerIters = 20

  /** 6dp HALF_UP with the +1e-9 nudge — the driver-side twin of the
    * Spark/DuckDB `round(x + 1e-9, 6)` canonicalization. */
  private def round6(x: Double): Double =
    BigDecimal(x + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Train the OPQ rotation from a residual frame: exact d×d residual
    * second moment (the q147 upper-triangle fan-out — the d²-bounded
    * MODEL is all that crosses the wire), `subspaces` rounds of
    * driver-side power iteration + deflation, then the Householder
    * chain. Returns R (rounded 6dp), R·v = H_s(…H_1(v)). */
  private[graft] def opqRotationFrom(rf: DataFrame,
      subspaces: Int = PqSubspaces,
      powerIters: Int = OpqPowerIters): Array[Array[Double]] = {
    val res = rf.select(col("rv"))
    val d = res.select(size(col("rv"))).limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "opqRotationFrom: empty residual frame")).getInt(0)
    require(d % subspaces == 0,
      s"opqRotationFrom: d=$d not divisible by subspaces=$subspaces")
    // upper_products (functions/UpperProducts.scala): the d²/2 per-row
    // products as one codegen expression instead of an interpreted
    // nested-transform struct fan-out; position p ↔ (i, j) with i ≤ j
    // in (i asc, j asc) order. The groupBy(pos) sum partial-aggregates
    // map-side exactly as the (i, j) groupBy did — sum order was
    // already partition-nondeterministic, absorbed by the 20-iteration
    // power chain + 6dp canonicalization downstream (the documented
    // ~1e-12 tolerance).
    GraftFunctions.register(rf.sparkSession)
    val cells = res
      .select(posexplode(expr("upper_products(rv)")).as(Seq("p", "v")))
      .groupBy(col("p"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
    val n = cells.head.getLong(2)
    val mm = Array.ofDim[Double](d, d)
    // invert the flattened upper-triangle position back to (i, j)
    val rowStart = Array.tabulate(d)(i => i * d - i * (i - 1) / 2 - i)
    cells.foreach { r =>
      val p = r.getInt(0)
      var i = 0
      while (i + 1 < d && rowStart(i + 1) + i + 1 <= p) i += 1
      val j = p - rowStart(i)
      val v = r.getDouble(1) / n
      mm(i)(j) = v
      mm(j)(i) = v
    }
    val us = (0 until subspaces).map { _ =>
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 1 to powerIters) {
        val w = Array.tabulate(d)(i =>
          (0 until d).map(j => mm(i)(j) * v(j)).sum)
        val norm = math.sqrt(w.map(x => x * x).sum)
        v = if (norm > 0) w.map(_ / norm) else w
      }
      // sign + 6dp canonicalization BEFORE deflation: both engines
      // deflate with the identical (rounded) direction
      val flip = if (v.sum + 1e-9 < 0) -1.0 else 1.0
      val u = v.map(x => round6(flip * x))
      val lam = (0 until d).map(i =>
        (0 until d).map(j => u(i) * mm(i)(j) * u(j)).sum).sum
      for (i <- 0 until d; j <- 0 until d) mm(i)(j) -= lam * u(i) * u(j)
      u
    }
    def applyH(v: Array[Double], z: Array[Double]): Array[Double] = {
      val zz = z.foldLeft(0.0)((a, x) => a + x * x)
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += z(i) * v(i); i += 1 }
      val coef = dot * 2.0 / zz
      Array.tabulate(v.length)(i => v(i) - coef * z(i))
    }
    val w = d / subspaces
    val zs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    us.zipWithIndex.foreach { case (u, mi) =>
      val ws = zs.foldLeft(u)((v, z) => applyH(v, z))
      val t = mi * w
      // the stability sign choice (z = x + sign(x_t)·e_t), nudged so
      // a near-zero pivot cannot flip between engines
      val sign = if (ws(t) >= -1e-9) 1.0 else -1.0
      val z = ws.clone()
      z(t) += sign
      zs += z.map(round6)
    }
    val cols = Array.tabulate(d) { j =>
      val e = Array.fill(d)(0.0)
      e(j) = 1.0
      zs.foldLeft(e)((v, z) => applyH(v, z))
    }
    Array.tabulate(d, d)((i, j) => round6(cols(j)(i)))
  }

  /** Apply a driver-trained rotation to an array column: per output
    * coordinate one FIXED-ORDER fold over the matching R row, then the
    * 6dp canonical rounding — both engines quantize identical inputs,
    * so the encode argmin cannot move. */
  private def matvecCol(r: Array[Array[Double]], v: Column): Column =
    // mat_vec6 (functions/MatVec6.scala): the d² multiply-add fold +
    // 6dp rounding as one codegen expression — the HOF form ran an
    // interpreted lambda per element (N·d² evals over the corpus, the
    // round-20 sweep's flagged interpreted hot path). Identical
    // j-order fold and round(x + 1e-9, 6), pinned by MatVecSpec.
    call_function("mat_vec6", lit(r.flatten), v)

  /** q183 — the q181 audit under the OPQ rotation: rotate the residual
    * frame (rv AND ce) and the queries' dt slices, train the residual
    * book in ROTATED space, and run the same ADC + exact-re-rank
    * protocol. Algebra: v ≈ c + Rᵀr̂ with r̂ coded in rotated space, so
    * dot(q, v) ≈ qᵀc + (Rq)ᵀr̂ (qc unchanged, dt from rotated q) and
    * ‖c + Rᵀr̂‖ = ‖Rc + r̂‖ (rnorm's per-subspace fold over ROTATED
    * ce) — the standard pipeline runs verbatim on the rotated frame.
    * The recall delta over q181 is the allocation dividend. */
  def annPqResidualOpqRecallAudit(em: DataFrame, k: Int = TopK,
      nProbe: Int = NProbe, rerank: Int = PqRerank, sampleMod: Long = 50L,
      sampleRes: Long = 7L, minHits: Int = 3,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters,
      powerIters: Int = OpqPowerIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    val rf = residualFrame(assignUnderModel(em, model), model)
      .localCheckpoint()
    val r = opqRotationFrom(rf, subspaces, powerIters)
    val rfRot = rf
      .withColumn("rv", matvecCol(r, col("rv")))
      .withColumn("ce", matvecCol(r, col("ce")))
      .localCheckpoint()
    val cb = trainResidualCodebookFrom(rfRot, subspaces, codebookIds,
      iters).localCheckpoint()
    residualAuditUnder(em, model, cb, k, nProbe, rerank, sampleMod,
      sampleRes, minHits, subspaces, rot = Some(r))
  }

  // ------------------------------------------------------------------
  // q182 — the PERSISTED residual-PQ serving tier (IVFADC shipped):
  // the `_pq` sidecar contract grown to the coding scheme the §y audit
  // measures as the deploy-regime fix (raw-slice PQ is cluster-
  // constant — 0.005 recall@5 clustered at 50k; residual coding with
  // the trained book reaches 0.26–0.33). Same table conventions:
  // `<table>_rpq` (vec_id, cid, codes, rnorm) cid-bucketed,
  // `<table>_rpqcodebook` (s, slot, cv), seeds role `rcodebook`,
  // SHARED `_deletes`, folded by the combined compaction.
  // ------------------------------------------------------------------

  /** Persist residual-PQ codes beside a trained-IVF index. The stored
    * codebook is the TRAINED residual book by default (`trainIters` =
    * KmeansIters — q181's measured production point; 0 stores q180's
    * static book). Codes quantize v − c(v); `rnorm` = ‖c(v) + r̂(v)‖. */
  def writeResidualPqCodes(spark: SparkSession, ivfTable: String,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      nBuckets: Int = 8, trainIters: Int = KmeansIters): Unit = {
    GraftFunctions.register(spark)
    val idx = spark.table(ivfTable)
    val em = idx.select(col("vec_id"), col("embedding"))
    val model = spark.table(s"${ivfTable}_model").localCheckpoint()
    val cb = pqTrainResidualCodebook(em, model, subspaces, codebookIds,
      trainIters).localCheckpoint()
    graft.sources.FileIO.dropTableAndLocation(spark,
      s"${ivfTable}_rpqcodebook")
    cb.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${ivfTable}_rpqcodebook")
    // the residual book derives from these corpus vectors' residuals
    // (and a trained book's dead cells retain the verbatim-residual
    // priors) — provenance feeds retainedSeedAudit + the scrub
    writeSeedRoles(spark, ivfTable, "rcodebook",
      idx.filter(col("vec_id").isin(codebookIds: _*))
        .select(col("vec_id")).distinct())
    writeMeta(spark, ivfTable, Map(
      "rpq_subspaces" -> subspaces.toLong,
      "rpq_train_iters" -> trainIters.toLong))
    graft.sources.FileIO.writeParquetBucketed(
      pqResidualEncode(idx, model, cb, subspaces)
        .select(col("vec_id"), col("cid"), col("codes"), col("rnorm")),
      s"${ivfTable}_rpq", nBuckets, "cid", Seq("cid"))
  }

  /** Extend the residual-PQ side for an appended batch: assign under
    * the STORED model, encode under the STORED residual book —
    * O(|batch|·K), the book never retrains (re-fitting is a rebuild). */
  def appendToResidualPqCodes(newBatch: DataFrame, ivfTable: String,
      nBuckets: Int = 8): Unit = {
    val spark = newBatch.sparkSession
    GraftFunctions.register(spark)
    val model = spark.table(s"${ivfTable}_model").localCheckpoint()
    val cb = spark.table(s"${ivfTable}_rpqcodebook").localCheckpoint()
    val subspaces = readMeta(spark, ivfTable)
      .get("rpq_subspaces").map(_.toInt)
      .getOrElse(cb.agg(max(col("s"))).collect().head.getInt(0) + 1)
    graft.sources.FileIO.appendParquetBucketed(
      pqResidualEncode(assignUnderModel(newBatch, model), model, cb,
          subspaces)
        .select(col("vec_id"), col("cid"), col("codes"), col("rnorm")),
      s"${ivfTable}_rpq", nBuckets, "cid", Seq("cid"))
  }

  /** Residual-PQ rows under the base index's SHARED tombstones. */
  def liveResidualPqCodes(spark: SparkSession,
      ivfTable: String): DataFrame = {
    val rpq = spark.table(s"${ivfTable}_rpq")
    if (spark.catalog.tableExists(s"${ivfTable}_deletes"))
      rpq.join(broadcast(spark.table(s"${ivfTable}_deletes").distinct()),
        Seq("vec_id"), "left_anti")
    else rpq
  }

  /** Residual-PQ-served kNN from the persisted tables — the
    * [[knnPqServe]] contract (slim-code ADC scan, pointed exact
    * re-rank) with the residual scheme's qc term in the fold. */
  def knnResidualPqServe(spark: SparkSession, ivfTable: String,
      queryIds: Seq[Long] = QueryIds, k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val live = liveTrainedIvfIndex(spark, ivfTable)
    requireLiveQueries(live, queryIds, ivfTable)
    val q = live.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cb = spark.table(s"${ivfTable}_rpqcodebook")
    val subspaces = readMeta(spark, ivfTable)
      .get("rpq_subspaces").map(_.toInt)
      .getOrElse(cb.agg(max(col("s"))).collect().head.getInt(0) + 1)
    val tailRows = residualAdcTail(liveResidualPqCodes(spark, ivfTable),
      residualQSide(q, spark.table(s"${ivfTable}_model"), cb, nProbe,
        subspaces), k, rerank)
      .collect()
    val tail = tailRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("qid", "vec_id")
    val tailIds = tailRows.map(_.getLong(1)).distinct.toSeq
    val tailCids = tailRows.map(_.getLong(2)).distinct.toSeq
    val fetched = live
      .filter(col("cid").isin(tailCids: _*) &&
        col("vec_id").isin(tailIds: _*))
      .select(col("vec_id"), col("embedding"))
    pqRerankTail(tail, fetched, q, k)
  }

  /** In-session residual-PQ serve under EXPLICIT model + residual book
    * — the model-pinned direct arm AnnIndexSpec compares the persisted
    * path against, and q182's registry form. */
  def knnResidualPqWith(em: DataFrame, model: DataFrame, cb: DataFrame,
      queryIds: Seq[Long] = QueryIds, k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank, subspaces: Int = PqSubspaces): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val codes = pqResidualEncode(assignUnderModel(em, model), model, cb,
      subspaces)
    val q = em.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    pqRerankTail(
      residualAdcTail(codes,
        residualQSide(q, model, cb, nProbe, subspaces), k, rerank),
      em.select(col("vec_id"), col("embedding")), q, k)
  }

  /** q182 — the residual-PQ serve composition (train → trained residual
    * book → encode → residual ADC → exact re-rank) for the fixed query
    * set: the SHIPPED serving path's answers, hash-checked. The
    * persisted-table twin ([[writeResidualPqCodes]] → [[knnResidualPqServe]])
    * is pinned ≡ this by AnnIndexSpec (the q160/q157 convention). */
  def knnResidualPq(em: DataFrame, queryIds: Seq[Long] = QueryIds,
      k: Int = TopK, nProbe: Int = NProbe, rerank: Int = PqRerank,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = PqResidualCodebookIds,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    knnResidualPqWith(em, model,
      pqTrainResidualCodebook(em, model, subspaces, codebookIds, iters)
        .localCheckpoint(),
      queryIds, k, nProbe, rerank, subspaces)
  }

  // ------------------------------------------------------------------
  // q174 — retrieval-quality metrics (P@k / MRR / nDCG)
  // ------------------------------------------------------------------

  /** q174 — the standard IR evaluation battery over the production
    * serving path: the q139 family audits how well the INDEX
    * approximates exhaustive cosine search; this audits whether what
    * the index returns is RELEVANT — precision@k, MRR and binary-gain
    * nDCG@k per query (Järvelin & Kekäläinen '02 for nDCG; the triple
    * every retrieval eval files), with relevance = "shares the query's
    * label" (the fixture's ground truth; swap the relevance join for a
    * qrels table in production). The system under test is the
    * trained-IVF serve shape (same model, same probes as q139).
    *
    * nDCG uses ln-ratio DCG (1/log₂(i+1) = ln2/ln(i+1), folded as
    * ln(2)/ln(i+1) on both engines — identical IEEE sequences); IDCG
    * caps at min(k, R) where R = the query's corpus-wide relevant
    * count minus self — a query whose label has fewer than k members
    * can still score 1.0, which is the point of the normalization.
    *
    * Scale shape: the serve arm is the standard broadcast-probe scan;
    * per-label corpus counts are a |labels|-row broadcast; the metric
    * arithmetic is a per-(query,rank) projection folded to |sample|
    * rows.
    *
    * Fixture note: the synthetic labels are independent of the
    * embedding geometry, so measured P@5 ≈ chance (0.095 at sf0.1,
    * ~1/|labels|) — correct behavior, and exactly what this audit
    * exists to catch in a real store: an embedding space whose nearest
    * neighbors are NOT semantically relevant serves retrieval no
    * better than random, whatever its ANN recall says. */
  def retrievalMetrics(em: DataFrame, k: Int = TopK, nProbe: Int = NProbe,
      sampleMod: Long = 50L, sampleRes: Long = 7L,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val q = em.filter(col("vec_id") % sampleMod === sampleRes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    val retrieved = ivfTrainedTopkFor(assignUnderModel(em, model), model,
        q.select(col("qid"), col("qe")), k, nProbe)
      .join(em.select(col("vec_id").as("neighbor"), col("label")),
        "neighbor")
      .join(q.select(col("qid"), col("qlabel")), "qid")
      .withColumn("rel", (col("label") === col("qlabel")).cast("int"))
    val perQ = retrieved.groupBy(col("qid"))
      .agg(sum(col("rel")).as("n_rel_at_k"),
        min(when(col("rel") === 1, col("rnk"))).as("first_rel"),
        sum(col("rel").cast("double")
          * (log(lit(2.0)) / log(col("rnk").cast("double") + 1.0)))
          .as("dcg"))
    // R per query: corpus-wide same-label count minus the query itself
    val labelCounts = em.groupBy(col("label")).agg(count(lit(1)).as("lc"))
    val ideal = q.join(broadcast(labelCounts),
        col("qlabel") === col("label"))
      .select(col("qid"), least(lit(k), col("lc") - 1).as("r"))
      // IDCG(r) = Σ_{i=1..r} ln2/ln(i+1), folded in rank order
      .withColumn("idcg", expr(
        """aggregate(sequence(1, CAST(r AS INT)), CAST(0 AS DOUBLE),
          |  (a, i) -> a + ln(2.0) / ln(CAST(i AS DOUBLE) + 1.0))"""
          .stripMargin))
    q.select(col("qid"))
      .join(perQ, Seq("qid"), "left")
      .join(ideal, Seq("qid"))
      .select(col("qid"),
        coalesce(col("n_rel_at_k"), lit(0L)).as("n_rel_at_k"),
        round(coalesce(col("n_rel_at_k"), lit(0L)).cast("double") / k
          + lit(1e-9), 4).as("p_at_k"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0))
          + lit(1e-9), 4).as("mrr"),
        round(when(col("idcg") > 0,
            coalesce(col("dcg"), lit(0.0)) / col("idcg"))
          .otherwise(lit(0.0)) + lit(1e-9), 4).as("ndcg"))
      .orderBy("qid")
  }

  def retrievalMetricsSql(k: Int = TopK, nProbe: Int = NProbe,
      sampleMod: Long = 50L, sampleRes: Long = 7L): String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |q AS MATERIALIZED (SELECT e.vec_id AS qid, e.embedding AS qe,
       |    e.label AS qlabel
       |  FROM embeddings e WHERE e.vec_id % $sampleMod = $sampleRes),
       |p AS (SELECT qid, qe, cid FROM (
       |  SELECT q.qid, q.qe, c.cid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("c.ce", "q.qe")} DESC, c.cid) AS crn
       |  FROM q, c$KmeansIters c) x WHERE crn <= $nProbe),
       |ret AS (SELECT qid, vec_id, rnk FROM (
       |  SELECT p.qid, a.vec_id,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY ${cosSql("p.qe", "a.embedding")} DESC, a.vec_id) AS rnk
       |  FROM p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid) x
       |  WHERE rnk <= $k),
       |rel AS (SELECT r.qid, r.rnk,
       |    CAST(e.label = q.qlabel AS INT) AS rel
       |  FROM ret r JOIN embeddings e ON e.vec_id = r.vec_id
       |  JOIN q ON q.qid = r.qid),
       |perq AS (SELECT qid, sum(rel) AS n_rel_at_k,
       |    min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
       |    sum(CAST(rel AS DOUBLE)
       |      * (ln(2.0) / ln(CAST(rnk AS DOUBLE) + 1.0))) AS dcg
       |  FROM rel GROUP BY qid),
       |lc AS (SELECT label, count(*) AS lc FROM embeddings GROUP BY label),
       |ideal AS (SELECT q.qid,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(
       |        generate_series(1, least($k, CAST(lc.lc - 1 AS INT))),
       |        i -> ln(2.0) / ln(CAST(i AS DOUBLE) + 1.0))),
       |      (a, v) -> a + v) AS idcg
       |  FROM q JOIN lc ON lc.label = q.qlabel)
       |SELECT q.qid,
       |  CAST(coalesce(perq.n_rel_at_k, 0) AS BIGINT) AS n_rel_at_k,
       |  round(coalesce(perq.n_rel_at_k, 0) / CAST($k AS DOUBLE) + 1e-9, 4)
       |    AS p_at_k,
       |  round(coalesce(1.0 / perq.first_rel, 0.0) + 1e-9, 4) AS mrr,
       |  round(CASE WHEN ideal.idcg > 0
       |      THEN coalesce(perq.dcg, 0.0) / ideal.idcg ELSE 0.0 END
       |    + 1e-9, 4) AS ndcg
       |FROM q LEFT JOIN perq ON perq.qid = q.qid
       |JOIN ideal ON ideal.qid = q.qid ORDER BY q.qid""".stripMargin
  }

  // ------------------------------------------------------------------
  // q173 — trained PQ codebook (per-subspace Lloyd — real PQ)
  // ------------------------------------------------------------------

  /** Train the PQ codebook per subspace with Lloyd iterations in slice
    * space (Jégou '11 §II trains k-means per subquantizer; q171's
    * static seed-slice codebook is the untrained init). Init = the
    * seed rows' slices (the q171/q120 convention, so iters = 0
    * degenerates to the static codebook exactly); each iteration
    * assigns every vector's slice to its nearest codebook slice (L2²,
    * slot tie-break) and re-centers each (s, slot) cell on the mean
    * slice. Means round to 6dp + the FIXTURES boundary nudge and cast
    * to float — the [[kmeansCentroids]] determinism convention, so the
    * DuckDB oracle replays the exact same codebook. A cell that loses
    * every member RETAINS its previous center (standard k-means dead-
    * cell handling — and load-bearing here: the ADC distance table is
    * flat-indexed s·K+slot, so every subspace must keep a uniform K;
    * a silently shrunk subspace would corrupt neighboring lookups).
    * The q120 audit remains the tool that surfaces dead/fat cells.
    *
    * Scale shape: per iteration, one slim (id, s, slice) scan against
    * a broadcast |S|·|K| codebook and one (s, slot, pos) mean — the
    * same dimension-parallel reduction as Lloyd, S× narrower per row.
    * Codebook training obeys the same cap lever as
    * [[kmeansCentroidsSampled]] at 100 TB (train on a sample, encode
    * the corpus). */
  def pqTrainCodebook(em: DataFrame, subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    var cb = pqCodebookOf(em, subspaces, codebookIds)
      .select(col("s"), col("slot"), col("cv"))
    val vecs = em.select(col("vec_id"), col("embedding"))
    for (_ <- 1 to iters) {
      // assign via the native pq_encode argmin (zero-base: only codes
      // are consumed) — same winners as the sq_dist window it replaces,
      // with no N·subspaces·K join/window exchange (guide §2.4)
      // ONE posexplode over the full vector with derived (s, slot, pos)
      // keys — the former explode(sequence)+slice step allocated S
      // slice arrays per row and ran a second generator just to
      // re-posexplode them. Same groups (s = p0 DIV w, pos = p0 MOD w),
      // same per-key arrival order (row-major both ways) → the partial
      // means are bit-identical, not merely rounded-identical.
      val updated = vecs.crossJoin(broadcast(packedCodebook(cb)))
        .withColumn("codes", expr(
          s"pq_encode(embedding, array_repeat(CAST(0.0 AS DOUBLE)," +
            s" size(embedding)), cbflat, $subspaces).codes"))
        .withColumn("_w", expr(s"size(embedding) DIV $subspaces"))
        .select(col("codes"), col("_w"),
          posexplode(col("embedding")).as(Seq("p0", "v")))
        .select(expr("CAST(p0 DIV _w AS INT)").as("s"),
          expr("codes[CAST(p0 DIV _w AS INT)]").as("slot"),
          expr("p0 % _w").as("pos"), col("v"))
        .groupBy(col("s"), col("slot"), col("pos"))
        .agg(round(avg(col("v").cast("double")) + lit(1e-9), 6).as("m"))
        .groupBy(col("s"), col("slot"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m").cast("float")).as("nv"))
      // checkpoint per iteration (S·K rows — model-scale): a lazily
      // unrolled chain would re-derive every PRIOR iteration inside
      // each new assign pass — quadratic corpus re-scans in iters.
      // The trainer is already construction-eager by contract.
      cb = cb.withColumnRenamed("cv", "pv")
        .join(updated, Seq("s", "slot"), "left")
        .select(col("s"), col("slot"),
          coalesce(col("nv"), col("pv")).as("cv"))
        .localCheckpoint()
    }
    cb.withColumn("cn2", expr(
      """aggregate(cv, CAST(0 AS DOUBLE),
        |  (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"""
        .stripMargin))
  }

  /** q173 — the q171 recall audit under the TRAINED codebook: same
    * protocol, same serving shape, the codebook is the only change —
    * the measured answer to "was q171's isotropic ADC floor the static
    * codebook's fault?" — only marginally: trained lifts sf0.1 recall
    * 0.19 → 0.225 (+18% relative, ADC hits 0.47 → 0.50; BASELINE §x).
    * Unclustered data stays a re-rank-or-full-precision regime — the
    * quantization error is the DATA's isotropy, not the codebook fit —
    * while on clustered corpora the trained book is the production
    * default (Jégou '11 trains per-subquantizer k-means for exactly
    * this reason). */
  def annPqTrainedRecallAudit(em: DataFrame, k: Int = TopK,
      nProbe: Int = NProbe, rerank: Int = PqRerank, sampleMod: Long = 50L,
      sampleRes: Long = 7L, minHits: Int = 3,
      subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = CentroidIds,
      centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val q = em.filter(col("vec_id") % sampleMod === sampleRes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = topk(em.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)")), k)
      .select(col("qid"), col("neighbor"))
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    val cb = pqTrainCodebook(em, subspaces, codebookIds, iters)
      .localCheckpoint()
    val codes = pqEncodeAssigned(assignUnderModel(em, model), cb,
      subspaces)
    // rerank·k·|q| slim rows, TWO consumers (the re-rank arm and the
    // ADC-only arm) — without the checkpoint each re-evaluated the
    // whole corpus-scale encode+ADC+window subtree (the q172 lesson;
    // the audit is ModelEager already)
    val tail = pqAdcTail(codes, cb, model, q, k, nProbe, rerank, subspaces)
      .localCheckpoint()
    val fin = pqRerankTail(tail, em.select(col("vec_id"), col("embedding")),
        q, k)
      .select(col("qid"), col("neighbor"))
    val adcTop = tail.filter(col("adcrnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"))
    def hitsOf(c: DataFrame, out: String): DataFrame =
      truth.join(c, Seq("qid", "neighbor"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as(out))
    q.select(col("qid"))
      .join(hitsOf(adcTop, "n_hit_adc"), Seq("qid"), "left")
      .join(hitsOf(fin, "n_hit"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit_adc"), lit(0L)).as("n_hit_adc"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / k + lit(1e-9), 4))
      .withColumn("ok", (col("n_hit") >= minHits).cast("int"))
      .orderBy("qid")
  }

  def annPqTrainedRecallSql(k: Int = TopK, nProbe: Int = NProbe,
      rerank: Int = PqRerank, sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3, subspaces: Int = PqSubspaces,
      codebookIds: Seq[Long] = CentroidIds): String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    val err2Of = (cvRef: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, len(sv)),
         |      i -> (CAST(sv[i] AS DOUBLE) - CAST($cvRef[i] AS DOUBLE))
         |         * (CAST(sv[i] AS DOUBLE) - CAST($cvRef[i] AS DOUBLE)))),
         |    (a, v) -> a + v)""".stripMargin
    // per-subspace Lloyd: assign slices to the previous codebook, then
    // re-center each (s, slot) cell — the same 6dp+nudge+float rounding
    // as the Spark trainer, so both engines walk identical codebooks
    val pqIterCtes = (1 to KmeansIters).map { it =>
      s"""pqa$it AS (SELECT s, slot, sv FROM (
         |  SELECT sub.s, pqc${it - 1}.slot, sub.sv,
         |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
         |      ORDER BY ${err2Of(s"pqc${it - 1}.cv")}, pqc${it - 1}.slot)
         |      AS rn
         |  FROM sub JOIN pqc${it - 1} ON pqc${it - 1}.s = sub.s) x
         |  WHERE rn = 1),
         |pqu$it AS (SELECT s, slot,
         |    list(CAST(m AS FLOAT) ORDER BY pos) AS nv FROM (
         |  SELECT s, slot, g.i AS pos,
         |    round(avg(CAST(sv[g.i] AS DOUBLE)) + 1e-9, 6) AS m
         |  FROM pqa$it, UNNEST(generate_series(1, len(sv))) AS g(i)
         |  GROUP BY s, slot, g.i) y GROUP BY s, slot),
         |pqc$it AS (SELECT p.s, p.slot, coalesce(u.nv, p.cv) AS cv
         |  FROM pqc${it - 1} p LEFT JOIN pqu$it u
         |    ON u.s = p.s AND u.slot = p.slot)""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id % $sampleMod = $sampleRes),
       |t AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id) AS rnk
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid) x WHERE rnk <= $k),
       |cb0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS slot,
       |    embedding AS cbv FROM embeddings
       |  WHERE vec_id IN (${codebookIds.mkString(", ")})),
       |pqc0 AS (SELECT slot, g.s,
       |    list_slice(cbv, g.s * (len(cbv) // $subspaces) + 1,
       |      (g.s + 1) * (len(cbv) // $subspaces)) AS cv
       |  FROM cb0, generate_series(0, ${subspaces - 1}) g(s)),
       |sub AS MATERIALIZED (SELECT vec_id, g.s,
       |    list_slice(embedding, g.s * (len(embedding) // $subspaces) + 1,
       |      (g.s + 1) * (len(embedding) // $subspaces)) AS sv
       |  FROM embeddings, generate_series(0, ${subspaces - 1}) g(s)),
       |$pqIterCtes,
       |cbn2 AS MATERIALIZED (SELECT slot, s, cv,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (a, v) -> a + v) AS cn2 FROM pqc$KmeansIters),
       |enc0 AS (SELECT vec_id, s, slot, cn2 FROM (
       |  SELECT sub.vec_id, sub.s, cbn2.slot, cbn2.cn2,
       |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |      ORDER BY ${err2Of("cbn2.cv")}, cbn2.slot) AS rn
       |  FROM sub JOIN cbn2 ON cbn2.s = sub.s) x WHERE rn = 1),
       |enc AS MATERIALIZED (SELECT vec_id,
       |    list(slot ORDER BY s) AS codes,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(cn2 ORDER BY s)), (a, v) -> a + v)) AS rnorm
       |  FROM enc0 GROUP BY vec_id),
       |p AS (SELECT qid, cid FROM (
       |  SELECT q.qid, c.cid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("c.ce", "q.qe")} DESC, c.cid) AS crn
       |  FROM q, c$KmeansIters c) x WHERE crn <= $nProbe),
       |qsub AS (SELECT qid, g.s,
       |    list_slice(qe, g.s * (len(qe) // $subspaces) + 1,
       |      (g.s + 1) * (len(qe) // $subspaces)) AS qv
       |  FROM q, generate_series(0, ${subspaces - 1}) g(s)),
       |qd AS (SELECT qid, qsub.s AS s, slot,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(qv)),
       |        i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))),
       |      (a, v) -> a + v) AS dot
       |  FROM qsub JOIN cbn2 ON cbn2.s = qsub.s),
       |qdt AS (SELECT qid, list(dot ORDER BY s, slot) AS dt
       |  FROM qd GROUP BY qid),
       |qn AS (SELECT qid, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(qe, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))),
       |    (a, v) -> a + v)) AS qnorm FROM q),
       |adc AS (SELECT p.qid, a.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, $subspaces),
       |        i -> dt[(i - 1) * (len(dt) // $subspaces)
       |                + enc.codes[i] + 1])),
       |      (a2, v) -> a2 + v) / (qn.qnorm * enc.rnorm) AS adc
       |  FROM p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid
       |  JOIN enc ON enc.vec_id = a.vec_id
       |  JOIN qdt ON qdt.qid = p.qid
       |  JOIN qn ON qn.qid = p.qid),
       |tail AS MATERIALIZED (SELECT qid, vec_id, adcrnk FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc DESC, vec_id) AS adcrnk FROM adc) x
       |  WHERE adcrnk <= ${k * rerank}),
       |fin AS (SELECT qid, vec_id FROM (
       |  SELECT tl.qid, tl.vec_id,
       |    row_number() OVER (PARTITION BY tl.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, tl.vec_id)
       |      AS rnk
       |  FROM tail tl JOIN embeddings e ON e.vec_id = tl.vec_id
       |  JOIN q ON q.qid = tl.qid) x WHERE rnk <= $k),
       |ha AS (SELECT t.qid, count(*) AS n_hit_adc FROM t
       |  JOIN tail tl ON tl.qid = t.qid AND tl.vec_id = t.vec_id
       |  WHERE tl.adcrnk <= $k GROUP BY t.qid),
       |hf AS (SELECT t.qid, count(*) AS n_hit FROM t
       |  JOIN fin f ON f.qid = t.qid AND f.vec_id = t.vec_id
       |  GROUP BY t.qid)
       |SELECT q.qid,
       |  CAST(coalesce(ha.n_hit_adc, 0) AS BIGINT) AS n_hit_adc,
       |  CAST(coalesce(hf.n_hit, 0) AS BIGINT) AS n_hit,
       |  round(coalesce(hf.n_hit, 0) / CAST($k AS DOUBLE) + 1e-9, 4)
       |    AS recall,
       |  CAST(coalesce(hf.n_hit, 0) >= $minHits AS INT) AS ok
       |FROM q LEFT JOIN ha ON ha.qid = q.qid
       |LEFT JOIN hf ON hf.qid = q.qid ORDER BY q.qid""".stripMargin
  }

  // ------------------------------------------------------------------
  // q172 — int8-coded ANN serving (the near-lossless 4× tier)
  // ------------------------------------------------------------------

  /** q64's absmax quantization as an ENCODER (the serving counterpart
    * of the q64 audit): per vector, code_i = floor(x_i/amax·127 + 0.5)
    * stored as `array<tinyint>` — 4× fewer bytes than float32. amax is
    * NOT stored: cosine is scale-invariant, so the per-vector factor
    * cancels and the codes alone answer similarity queries
    * ([[graft.functions.CosineSimInt8]]). This is the middle serving
    * tier between full precision (1×, exact) and PQ (q171: ~32×,
    * lossy-ranked): int8 keeps per-dimension resolution, so its
    * ranking tracks the float path to quantization noise — no re-rank
    * tail needed. All-zero vectors (amax = 0) encode to a NULL `cq`
    * (a 0/0 here would yield NaN codes, and NaN cosine scores sort
    * ABOVE every real score in a descending rank window — one zero
    * vector would top every query); null scores sort last under
    * Spark's desc-nulls-last default, so zero vectors simply never
    * serve, matching a production encoder that drops empty vectors
    * before indexing. */
  def int8Encode(vecs: DataFrame): DataFrame =
    // a pure PROJECTION: input columns ride through (callers encoding
    // an already-assigned frame keep cid without a re-join shuffle)
    vecs.withColumn("_amax",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("cq",
        expr("CASE WHEN _amax > 0 THEN transform(embedding," +
          " e -> CAST(floor(CAST(e AS DOUBLE)" +
          " / _amax * 127.0 + 0.5) AS TINYINT)) END"))
      .drop("_amax")

  /** q172 — int8 serving recall audit (the q139 protocol with the
    * int8-cosine path as the system under test): probes ride the same
    * trained-IVF model; candidates score from their byte codes via the
    * codegen `cosine_sim_int8`; top-k taken DIRECTLY from the
    * quantized scores (the tier's claim is that no exact re-rank is
    * needed). Output per query: quantized-path hits vs exhaustive
    * truth, plus `n_agree` — how many of the int8 top-k match the
    * same-probe FULL-PRECISION top-k (the quantization-noise isolate:
    * recall < 1 with n_agree = k means the probe budget, not int8,
    * lost the neighbor). */
  def annInt8RecallAudit(em: DataFrame, k: Int = TopK,
      nProbe: Int = NProbe, sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3, centroidIds: Seq[Long] = CentroidIds,
      iters: Int = KmeansIters): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val q = em.filter(col("vec_id") % sampleMod === sampleRes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = topk(em.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)")), k)
      .select(col("qid"), col("neighbor"))
    val model = kmeansCentroids(em, centroidIds, iters).localCheckpoint()
    val assigned = assignUnderModel(em, model)
    val probes = nearestCentroid(q, model.select(col("cid"), col("ce")),
        "qid", "qe", nProbe)
      .select(col("qid"), col("qe"), col("cid"))
    val qcodes = int8Encode(q.select(col("qid").as("vec_id"),
        col("qe").as("embedding")))
      .select(col("vec_id").as("qid"), col("cq").as("qq"))
    // Both cosines score in ONE pass over the candidate stage, slimmed
    // and checkpointed: the int8 and full-precision top-k branches each
    // re-evaluated the whole corpus-scale candidate subtree (encode +
    // assignment + probe broadcast join) — one extra full pass for a
    // column each branch could share (the q161 recompute lesson; eager
    // is fine, the audit is ModelEager already)
    val scored = int8Encode(assigned)
      .join(broadcast(probes.join(qcodes, "qid")), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("cosine_sim_int8(qq, cq)").as("cos8"),
        expr("cosine_sim(qe, embedding)").as("cosf"))
      .localCheckpoint()
    val int8Top = scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cos8").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"))
    val fullTop = scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cosf").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"))
    def hitsOf(t: DataFrame, c: DataFrame, out: String): DataFrame =
      t.join(c, Seq("qid", "neighbor"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as(out))
    q.select(col("qid"))
      .join(hitsOf(truth, int8Top, "n_hit"), Seq("qid"), "left")
      .join(hitsOf(int8Top, fullTop, "n_agree"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / k + lit(1e-9), 4))
      .withColumn("ok", (col("n_hit") >= minHits).cast("int"))
      .orderBy("qid")
  }

  def annInt8RecallSql(k: Int = TopK, nProbe: Int = NProbe,
      sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3): String = {
    val iterCtes = (1 to KmeansIters).map { it =>
      s"""${kmeansAssignCte(s"c${it - 1}", s"a$it")},
         |${kmeansUpdateCte(s"a$it", s"c$it")}""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |$iterCtes,
       |${kmeansAssignCte(s"c$KmeansIters", "asg")},
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id % $sampleMod = $sampleRes),
       |t AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id) AS rnk
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid) x WHERE rnk <= $k),
       |am AS (SELECT vec_id,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
       |      AS amax FROM embeddings),
       |enc AS MATERIALIZED (SELECT e.vec_id,
       |    list_transform(e.embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) / am.amax * 127.0 + 0.5) AS INT))
       |      AS cq
       |  FROM embeddings e JOIN am ON am.vec_id = e.vec_id),
       |p AS (SELECT qid, qe, cid FROM (
       |  SELECT q.qid, q.qe, c.cid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("c.ce", "q.qe")} DESC, c.cid) AS crn
       |  FROM q, c$KmeansIters c) x WHERE crn <= $nProbe),
       |qenc AS (SELECT qid, cq AS qq FROM q JOIN enc ON enc.vec_id = q.qid),
       |cand AS MATERIALIZED (SELECT p.qid, p.qe, a.vec_id, a.embedding,
       |    enc.cq, qenc.qq
       |  FROM p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid
       |  JOIN enc ON enc.vec_id = a.vec_id
       |  JOIN qenc ON qenc.qid = p.qid),
       |i8 AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY ${cosSql("qq", "cq")} DESC, vec_id) AS rnk
       |  FROM cand) x WHERE rnk <= $k),
       |fp AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY ${cosSql("qe", "embedding")} DESC, vec_id) AS rnk
       |  FROM cand) x WHERE rnk <= $k),
       |h AS (SELECT t.qid, count(*) AS n_hit FROM t
       |  JOIN i8 ON i8.qid = t.qid AND i8.vec_id = t.vec_id
       |  GROUP BY t.qid),
       |ag AS (SELECT i8.qid, count(*) AS n_agree FROM i8
       |  JOIN fp ON fp.qid = i8.qid AND fp.vec_id = i8.vec_id
       |  GROUP BY i8.qid)
       |SELECT q.qid,
       |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(coalesce(ag.n_agree, 0) AS BIGINT) AS n_agree,
       |  round(coalesce(h.n_hit, 0) / CAST($k AS DOUBLE) + 1e-9, 4)
       |    AS recall,
       |  CAST(coalesce(h.n_hit, 0) >= $minHits AS INT) AS ok
       |FROM q LEFT JOIN h ON h.qid = q.qid
       |LEFT JOIN ag ON ag.qid = q.qid ORDER BY q.qid""".stripMargin
  }

  /** Persist int8 codes beside a trained-IVF index: `<table>_int8` =
    * (vec_id, cid, cq), cid-bucketed, sharing the base `_model` and
    * `_deletes` exactly like the PQ side ([[writePqCodes]]). */
  def writeInt8Codes(spark: SparkSession, ivfTable: String,
      nBuckets: Int = 8): Unit = {
    GraftFunctions.register(spark)
    val idx = spark.table(ivfTable)
    graft.sources.FileIO.writeParquetBucketed(
      int8Encode(idx).select(col("vec_id"), col("cid"), col("cq")),
      s"${ivfTable}_int8", nBuckets, "cid", Seq("cid"))
  }

  /** Extend the int8 side for an appended batch — O(|batch|). */
  def appendToInt8Codes(newBatch: DataFrame, ivfTable: String,
      nBuckets: Int = 8): Unit = {
    val spark = newBatch.sparkSession
    GraftFunctions.register(spark)
    val model = spark.table(s"${ivfTable}_model").localCheckpoint()
    graft.sources.FileIO.appendParquetBucketed(
      int8Encode(assignUnderModel(newBatch, model))
        .select(col("vec_id"), col("cid"), col("cq")),
      s"${ivfTable}_int8", nBuckets, "cid", Seq("cid"))
  }

  /** int8 rows under the base index's SHARED tombstones. */
  def liveInt8Codes(spark: SparkSession, ivfTable: String): DataFrame = {
    val i8 = spark.table(s"${ivfTable}_int8")
    if (spark.catalog.tableExists(s"${ivfTable}_deletes"))
      i8.join(broadcast(spark.table(s"${ivfTable}_deletes").distinct()),
        Seq("vec_id"), "left_anti")
    else i8
  }

  /** The int8 probe/score core over PRE-ENCODED codes — shared by
    * [[knnInt8Serve]] (catalog sidecar table) and
    * [[graft.app.AnnIngestApp.serveInt8]] (codes landed per streamed
    * batch). Queries quantize in-plan (a projection over their own
    * rows); candidates are byte-code-only. */
  def knnInt8From(codes: DataFrame, q: DataFrame, model: DataFrame,
      k: Int = TopK, nProbe: Int = NProbe): DataFrame = {
    GraftFunctions.register(codes.sparkSession)
    val probes = nearestCentroid(q, model.select(col("cid"), col("ce")),
        "qid", "qe", nProbe)
      .select(col("qid"), col("cid"))
    val qcodes = int8Encode(q.select(col("qid").as("vec_id"),
        col("qe").as("embedding")))
      .select(col("vec_id").as("qid"), col("cq").as("qq"))
    topk(codes
      .join(broadcast(probes.join(qcodes, "qid")), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim_int8(qq, cq)")), k)
  }

  /** int8-served kNN from the persisted tables: candidates score from
    * byte codes only; the query's code comes from the live base index
    * row (one pointed lookup). No re-rank — the tier's contract. */
  def knnInt8Serve(spark: SparkSession, ivfTable: String,
      queryIds: Seq[Long] = QueryIds, k: Int = TopK,
      nProbe: Int = NProbe): DataFrame = {
    val live = liveTrainedIvfIndex(spark, ivfTable)
    requireLiveQueries(live, queryIds, ivfTable)
    val q = live.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    knnInt8From(liveInt8Codes(spark, ivfTable), q,
      spark.table(s"${ivfTable}_model"), k, nProbe)
  }

  /** The in-session twin AnnIndexSpec compares [[knnInt8Serve]] to,
    * under an explicit model (the knnPqWith pattern). */
  def knnInt8With(em: DataFrame, model: DataFrame,
      queryIds: Seq[Long] = QueryIds, k: Int = TopK,
      nProbe: Int = NProbe): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val q = em.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probes = nearestCentroid(q, model.select(col("cid"), col("ce")),
        "qid", "qe", nProbe)
      .select(col("qid"), col("cid"))
    val qcodes = int8Encode(q.select(col("qid").as("vec_id"),
        col("qe").as("embedding")))
      .select(col("vec_id").as("qid"), col("cq").as("qq"))
    topk(int8Encode(assignUnderModel(em, model))
      .join(broadcast(probes.join(qcodes, "qid")), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim_int8(qq, cq)")), k)
  }

  /** [[graft.core.EagerByDesign]] shorthand — LazinessSpec discovers
    * the marker; the reason documents why construction-time jobs are
    * legitimate for the entry. */
  private def eager(reason: String)(f: QFn): QFn =
    graft.core.EagerByDesign(reason)(f)

  /** The shared model-fit rationale: the k-row centroid model
    * localCheckpoints at construction so training runs ONCE for its
    * multiple consumers — lazy composition would re-train it inside
    * each broadcast subtree. */
  private val ModelEager =
    "localCheckpoints the k-row trained centroid model at construction " +
      "so training runs once for its multiple consumers"

  val all: Seq[(String, QFn, Option[String])] = Seq(
    ("q183_pq_residual_opq_recall",
      eager(ModelEager + " (plus the driver-side OPQ eigen chain — " +
        "the q147 power-iteration posture — and the rotated-frame " +
        "checkpoints)")(
        (s: SparkSession, d: String) => {
          val em = Tables.embeddings(s, d)
          annPqResidualOpqRecallAudit(em,
            codebookIds = adaptiveResidualCodebookIds(em))
        }),
      Some(annPqResidualOpqRecallSql(adaptiveK = true))),
    ("q182_pq_residual_serve",
      eager(ModelEager + " (and the trained residual book likewise — " +
        "the serve composition shares them across encode, probes and " +
        "the re-rank)")(
        (s: SparkSession, d: String) => {
          val em = Tables.embeddings(s, d)
          knnResidualPq(em,
            codebookIds = adaptiveResidualCodebookIds(em))
        }),
      Some(knnResidualPqSql(adaptiveK = true))),
    ("q181_pq_residual_trained_recall",
      eager(ModelEager + " (and the per-subspace residual-Lloyd " +
        "checkpoints likewise)")(
        (s: SparkSession, d: String) => {
          val em = Tables.embeddings(s, d)
          annPqResidualTrainedRecallAudit(em,
            codebookIds = adaptiveResidualCodebookIds(em))
        }),
      Some(annPqResidualRecallSql(trainIters = KmeansIters,
        adaptiveK = true))),
    ("q180_pq_residual_recall",
      eager(ModelEager + " (assignment, residual encode, ADC probes, " +
        "truth arm)")(
        (s: SparkSession, d: String) => {
          val em = Tables.embeddings(s, d)
          annPqResidualRecallAudit(em,
            codebookIds = adaptiveResidualCodebookIds(em))
        }),
      Some(annPqResidualRecallSql(adaptiveK = true))),
    ("q174_retrieval_metrics",
      eager(ModelEager + " (assignment + probe ranking)")(
        (s: SparkSession, d: String) =>
          retrievalMetrics(Tables.embeddings(s, d))),
      Some(retrievalMetricsSql())),
    ("q173_pq_trained_recall",
      eager(ModelEager +
        " (and the per-subspace codebook Lloyd checkpoints likewise)")(
        (s: SparkSession, d: String) =>
          annPqTrainedRecallAudit(Tables.embeddings(s, d))),
      Some(annPqTrainedRecallSql())),
    ("q172_int8_ann_recall",
      eager(ModelEager + " (assignment, probes, truth arm)")(
        (s: SparkSession, d: String) =>
          annInt8RecallAudit(Tables.embeddings(s, d))),
      Some(annInt8RecallSql())),
    ("q171_pq_ann_recall",
      eager(ModelEager + " (assignment, ADC probes, truth arm)")(
        (s: SparkSession, d: String) =>
          annPqRecallAudit(Tables.embeddings(s, d))),
      Some(annPqRecallSql())),
    ("q166_semantic_contamination",
      (s: SparkSession, d: String) =>
        semanticContamination(Tables.embeddings(s, d),
          SemanticContaminationTau),
      Some(semanticContaminationSql)),
    ("q163_hybrid_rrf",
      eager("the lexical arm IS q78's bm25 (eager cached per-doc projection \u2014 concurrent broadcast consumers race a cold cache); the dense arm and fusion are lazy")(
        (s: SparkSession, d: String) =>
          hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
            HybridTerms)),
      Some(hybridRrfSql())),
    ("q147_spectral_audit",
      eager("collects the d\u00b2-bounded covariance model and runs the power iteration driver-side at construction BY DESIGN \u2014 a lazy formulation would re-fit per consumer or pay 50 scheduler round-trips for 64\u00d764 multiplies")(
        (s: SparkSession, d: String) => spectralAudit(Tables.embeddings(s, d))),
      Some(spectralAuditSql())),
    ("q24_knn_brute",
      (s: SparkSession, d: String) => knnBrute(Tables.embeddings(s, d)),
      Some(knnBruteSql)),
    ("q24_knn_lsh",
      (s: SparkSession, d: String) => knnLshRecallAudit(Tables.embeddings(s, d)),
      Some(knnLshRecallSql)),
    ("q24_knn_ivf",
      (s: SparkSession, d: String) => knnIvf(Tables.embeddings(s, d)),
      Some(knnIvfSql)),
    ("q24_label_centroids",
      (s: SparkSession, d: String) => labelCentroids(Tables.embeddings(s, d)),
      Some(labelCentroidsSql)),
    ("q56_kmeans",
      (s: SparkSession, d: String) => kmeansAssign(Tables.embeddings(s, d)),
      Some(kmeansSql)),
    ("q86_semantic_dedup",
      (s: SparkSession, d: String) => semanticDedup(Tables.embeddings(s, d)),
      Some(semanticDedupSql)),
    ("q87_semantic_keeper",
      eager("composes the connected-components fixpoint: eager localCheckpoint rounds (bounded plan depth)")(
        (s: SparkSession, d: String) => semanticKeeper(Tables.embeddings(s, d))),
      Some(semanticKeeperSql)),
    ("q120_pq_audit",
      (s: SparkSession, d: String) => pqAudit(Tables.embeddings(s, d)),
      Some(pqAuditSql())),
    ("q64_quantize_audit",
      (s: SparkSession, d: String) => quantizeAudit(Tables.embeddings(s, d)),
      Some(quantizeAuditSql)),
    ("q95_embedding_profile",
      (s: SparkSession, d: String) => embeddingProfile(Tables.embeddings(s, d)),
      Some(embeddingProfileSql)),
    ("q100_knn_label_agreement",
      eager(ModelEager + " (corpus assignment + probe ranking)")(
        (s: SparkSession, d: String) => knnLabelAgreement(Tables.embeddings(s, d))),
      Some(knnLabelAgreementSql())),
    ("q104_mahalanobis_outliers",
      (s: SparkSession, d: String) =>
        mahalanobisOutliers(Tables.embeddings(s, d)),
      Some(mahalanobisOutliersSql())),
    ("q137_silhouette",
      (s: SparkSession, d: String) => silhouetteAudit(Tables.embeddings(s, d)),
      Some(silhouetteSql)),
    ("q138_dbscan",
      eager("runs the eager-localCheckpoint CC fixpoint over the core-core subgraph")(
        (s: SparkSession, d: String) => dbscanClusters(Tables.embeddings(s, d))),
      Some(dbscanSql())),
    ("q139_ann_recall",
      eager(ModelEager + " (assignment + probe ranking)")(
        (s: SparkSession, d: String) => annRecallAudit(Tables.embeddings(s, d))),
      Some(annRecallSql())),
    ("q159_ann_probe_curve",
      eager(ModelEager + " (assignment, probe ranking, truth arm)")(
        (s: SparkSession, d: String) => annProbeCurve(Tables.embeddings(s, d))),
      Some(annProbeCurveSql())))
}
