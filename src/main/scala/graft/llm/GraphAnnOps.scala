package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions

/** q179 — the graph-based ANN tier (NN-descent build + beam-search
  * serve): the standard third index family next to IVF (q139) and the
  * quantized tiers (q171/q172), and the only one that serves
  * UNCLUSTERED embeddings well — BASELINE §y measures the IVF family's
  * recall cliff on isotropic data (0.65 at 37% of the corpus scanned);
  * a neighbor graph routes by LOCAL similarity steps instead of global
  * cells, so its recall is set by graph degree and beam width, not by
  * how well k-means partitions the space (Dong et al. '11 for
  * NN-descent; Malkov & Yashunin '18 for beam serving over a neighbor
  * graph).
  *
  * Build — fixed-round NN-descent, each round one bounded Spark stage
  * chain on the CC/pagerank checkpoint chassis (localCheckpoint per
  * round, plan depth never grows):
  *   - init: `salts` independent hash-bucketings (the cross-engine md5
  *     convention) put each vector in buckets of ~degree+1; within-
  *     bucket pairs seed the graph. OVERLAPPING bucket systems are the
  *     point — one hash system would seed disjoint cliques that
  *     neighbor-of-neighbor expansion could never leave.
  *   - round: candidates = neighbors-of-neighbors over the UNDIRECTED
  *     edge set (the NN-descent "general neighbors" rule: a's neighbor
  *     b and b's neighbor c makes c a candidate for a); only pairs not
  *     already scored pay a cosine; per-src top-`degree` survives.
  *   - Per-round candidate volume is N·(2·degree)² — linear in N with
  *     a degree² constant, never all-pairs; every stage is a shuffle
  *     join on vec_id or a degree-bounded window, no driver state.
  *
  * Serve — beam search, all queries advance TOGETHER as columns of one
  * frame (no per-query loop): score fixed entry points, then `hops`
  * rounds of [expand the current top-`beam` frontier through the edge
  * list, score only never-seen candidates, re-rank]. Per-query state is
  * ≤ beam·degree·hops rows by construction — k-bounded, broadcast-free
  * on the corpus side (edges and vectors join by key, queries ride
  * along as rows).
  *
  * Persistence — the q157/q160 index contract: `<table>` (vectors) +
  * `<table>_gedges` (adjacency) land bucketed; appends are O(|batch|)
  * beam searches against the stored graph (new edges append BOTH
  * directions — per-node degree temporarily exceeds the invariant,
  * compaction re-prunes, the LSM posture); deletes share the
  * `<table>_deletes` tombstones (an edge dies when EITHER endpoint
  * dies); entry points are recorded in `<table>_seeds` (role `gentry`
  * — ids only, no float retention, so takedown needs no scrub here).
  *
  * Correctness: the q139 bounded-recall oracle protocol — the build,
  * the serve walk, and the exhaustive truth replay in DuckDB CTE-for-
  * CTE (same md5 buckets, same cosine fold, same (cos DESC, id) tie
  * breaks), so per-query hit counts hash-match exactly.
  */
object GraphAnnOps {
  type QFn = (SparkSession, String) => DataFrame

  /** Defaults from the measured graph-tier grid (BASELINE §y; n=2000, both
    * fixtures): degree is the dominant build lever (6 → 12 doubles
    * isotropic serve recall), rounds buy edge recall at linear cost
    * (isotropic edge recall 0.21 → 0.56 from r2 → r4), beam·hops set
    * the serve budget. d=12/r=3/s=2/b=24/h=5 measures 0.97 recall@5
    * clustered and 0.70 isotropic — the latter ABOVE trained-IVF's
    * 0.62-0.65 at nProbe=3 while scoring a CONSTANT ≈ beam·2d·hops
    * candidates per query instead of a corpus fraction (the whole
    * point of the tier: the serve budget does not scale with N). */
  val GraphDegree = 12
  val GraphRounds = 3
  val GraphSalts = 2
  val GraphBeam = 24
  val GraphHops = 5
  private val TopK = 5

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** N-scaled serve budget (r19 What's-wrong #3): recall at a CONSTANT
    * budget decays as the corpus grows — the 50k study measured 0.082
    * isotropic at beam=24 vs ~3× recall at ~3× budget — so the serve
    * DEFAULTS track log₂(N), anchored to reproduce the measured grid's
    * (2k → beam 24, hops 5) and reach the 3×-budget point near 50k.
    * Per-query serve cost stays ≈ entries + beam·2·degree·hops — the
    * tier's defining property (no corpus fraction) now grows
    * logarithmically instead of silently under-serving. Explicit
    * beam/hops overrides bypass this entirely. */
  def scaledBeam(n: Long): Int =
    math.max(GraphBeam,
      math.round(10.0 * (log2(math.max(n, 2L).toDouble) - 8.6)).toInt)

  def scaledHops(n: Long): Int =
    math.max(GraphHops,
      math.round(log2(math.max(n, 2L).toDouble) / 2.0 - 0.5).toInt)

  /** Cross-engine bucket id: the dsirBucket md5 convention over
    * "vec_id#salt". */
  private def saltBucket(id: Column, salt: Int, b: Long): Column =
    conv(substring(md5(to_binary(
      concat(id.cast("string"), lit(s"#$salt")), lit("utf-8"))),
      1, 15), 16, 10).cast("long") % b

  private def pruneDegree(scored: DataFrame, degree: Int): DataFrame =
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("src"))
          .orderBy(col("cos").desc, col("dst"))))
      .filter(col("rn") <= degree).drop("rn")

  /** Union-dedup in place of the former distinct + left-anti: the
    * already-scored edge rows and any re-generated candidate carry the
    * SAME deterministic cosine (pure function of the two embeddings),
    * so one keyed dedup over `existing ∪ freshScored` keeps exactly
    * the set the anti-join construction produced, bit-identically —
    * for ONE src-keyed exchange that the degree-prune window then
    * reuses (guide §2.4: two operations keyed the same way share one
    * exchange; dropDuplicates under Hash(src) needs no re-shuffle and
    * neither does Window.partitionBy(src)). */
  private def dedupPruneDegree(scored: DataFrame, degree: Int): DataFrame =
    pruneDegree(
      scored.repartition(col("src")).dropDuplicates("src", "dst"), degree)

  /** Fixed-round NN-descent over (vec_id, embedding): returns the
    * directed k-NN-graph edge list (src, dst, cos), top-`degree` per
    * src. Construction-eager by contract (one count for the bucket
    * modulus + a localCheckpoint per round — the CC chassis).
    *
    * Shuffle shape (guide §8: decide on slim rows, never shuffle the
    * payload twice): embeddings are attached to the bucket/adjacency
    * rows BEFORE pair generation — corpus-linear frames (N per salt,
    * N·2·degree per round) — and every candidate pair is scored inside
    * the generating join, so the candidate-scale exchanges (the
    * N·(2·degree)² set) only ever carry slim (src, dst, cos) rows. The
    * former scorePairs re-attached both embeddings per CANDIDATE,
    * shipping a full vector per candidate row through its second join
    * exchange every round. */
  /** The (vec_id, embedding) corpus as a vec_id-partitioned checkpoint
    * (the LogicalRDD keeps the partitioning), so every embedding attach
    * in the build AND every per-hop candidate join in the walk colocates
    * on the corpus side instead of re-exchanging (or re-scanning) it —
    * built ONCE per audit and shared by both phases. */
  private def vById(em: DataFrame): DataFrame =
    em.select(col("vec_id"), col("embedding"))
      .repartition(col("vec_id")).localCheckpoint()

  def nnDescentEdges(em: DataFrame, degree: Int = GraphDegree,
      rounds: Int = GraphRounds, salts: Int = GraphSalts): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    nnDescentEdgesFromV(vById(em), degree, rounds, salts)
  }

  /** [[nnDescentEdges]] over an already [[vById]]-checkpointed corpus. */
  private def nnDescentEdgesFromV(v: DataFrame, degree: Int,
      rounds: Int, salts: Int): DataFrame = {
    val b = math.max(1L, v.count() / (degree + 1))
    val initScored = (0 until salts).map { s =>
      val bk = v.select(col("vec_id"), col("embedding"),
        saltBucket(col("vec_id"), s, b).as("bk"))
      bk.as("x").join(bk.as("y"),
          col("x.bk") === col("y.bk") && col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"),
          expr("cosine_sim(x.embedding, y.embedding)").as("cos"))
    }.reduce(_ unionByName _)
    var edges = dedupPruneDegree(initScored, degree).localCheckpoint()
    for (_ <- 1 to rounds) {
      // the undirected adjacency deduped under DST-partitioning: the
      // embedding attach below joins on dst, so the dedup's exchange is
      // the attach's too (dropDuplicates keys ⊇ partition key; guide
      // §2.4), and the v side is already vec_id-partitioned from the
      // checkpoint — the whole attach adds zero exchanges
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("dst")).dropDuplicates("src", "dst")
      // general-neighbors rule as ONE self-join on the shared neighbor:
      // und is symmetric, so {(x,y): ∃m (x→m),(m→y)} = {(x,y): ∃m
      // (m→x),(m→y)} — attach emb(dst) once, self-join the attached
      // adjacency on src = m (identical subtrees → the shuffle is ONE
      // ReusedExchange, where the former a/bArm/candidate chain
      // exchanged three candidate- or edge-scale frames per round)
      val adjE = und.join(
        v.select(col("vec_id").as("dst"), col("embedding").as("de")), "dst")
      val candScored = adjE.as("p")
        .join(adjE.as("q"), col("p.src") === col("q.src"))
        .filter(col("p.dst") =!= col("q.dst"))
        .select(col("p.dst").as("src"), col("q.dst").as("dst"),
          expr("cosine_sim(p.de, q.de)").as("cos"))
      edges = dedupPruneDegree(edges.unionByName(candScored), degree)
        .localCheckpoint()
    }
    edges
  }

  /** The beam walk's ACCUMULATED scored set (qid, vec_id, cos): every
    * candidate the walk ever paid a cosine for. |rows per query| IS
    * the serve cost — a constant ≈ entries + beam·2·degree·hops chosen
    * by the caller, independent of corpus size (the tier's defining
    * trade vs IVF's nProbe corpus FRACTION). Exposed so the audit can
    * report (recall, n_scored) pairs engine-identically. */
  private[graft] def graphWalkScored(edges: DataFrame, em: DataFrame,
      q: DataFrame, beam: Int = GraphBeam, hops: Int = GraphHops,
      entryIds: Seq[Long] = SimilarityOps.CentroidIds): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    graphWalkScoredFromV(edges, vById(em), q, beam, hops, entryIds)
  }

  /** [[graphWalkScored]] over an already [[vById]]-checkpointed corpus:
    * each hop's candidate join then leaves the corpus side IN PLACE
    * (checkpoint partitioning ⊇ the vec_id join key) — the former lazy
    * `em.select(...)` re-scanned and re-exchanged the corpus per hop. */
  private def graphWalkScoredFromV(edges: DataFrame, v: DataFrame,
      q: DataFrame, beam: Int, hops: Int,
      entryIds: Seq[Long]): DataFrame = {
    val qb = broadcast(q.select(col("qid"), col("qe")))
    val entry = v.filter(col("vec_id").isin(entryIds: _*))
    // The walk state is qid-partitioned at every checkpoint, so the
    // per-hop frontier window and the union dedup below both reuse the
    // checkpoint's partitioning instead of re-exchanging per hop (guide
    // §2.4). Union-dedup replaces the former distinct + left-anti: a
    // re-generated candidate's cosine is bit-identical to its stored
    // row (pure function of qe and the embedding), so one keyed dedup
    // over `scored ∪ candScored` keeps exactly the accumulated set the
    // anti-join construction produced.
    var scored = qb.crossJoin(entry)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      .select(col("qid"), col("vec_id"), col("cos"))
      .repartition(col("qid"))
      .localCheckpoint()
    for (_ <- 1 to hops) {
      val frontier = scored.withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rn") <= beam)
        .select(col("qid"), col("vec_id"))
      val candScored = frontier
        .join(edges.select(col("src").as("vec_id"), col("dst")), "vec_id")
        .select(col("qid"), col("dst").as("vec_id"))
        .filter(col("vec_id") =!= col("qid"))
        .join(v, "vec_id")
        .join(qb, "qid")
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .select(col("qid"), col("vec_id"), col("cos"))
      scored = scored.unionByName(candScored)
        .repartition(col("qid")).dropDuplicates("qid", "vec_id")
        .localCheckpoint()
    }
    scored
  }

  /** Beam-search kNN over a prebuilt neighbor graph: queries
    * (qid, qe) walk `hops` expansion rounds from the scored `entryIds`
    * frontier; every scored candidate is remembered, so the walk never
    * re-pays a cosine and the final top-k reads the accumulated set.
    * All tie-breaks (cos DESC, vec_id) — engine-exact. */
  def knnGraphFrom(edges: DataFrame, em: DataFrame, q: DataFrame,
      k: Int = TopK, beam: Int = GraphBeam, hops: Int = GraphHops,
      entryIds: Seq[Long] = SimilarityOps.CentroidIds): DataFrame =
    knnGraphFromRaw(edges, em, q, k, beam, hops, entryIds)
      .withColumn("cos", round(col("cos"), 4))
      .orderBy("qid", "rnk")

  /** [[knnGraphFrom]] without the presentation-layer 4dp rounding —
    * the form index MAINTENANCE must use: [[appendToGraphIndex]]
    * persists these cosines next to the build's full-precision edge
    * scores, and [[compactGraphIndex]]'s degree prune ranks the mixed
    * set, so a rounded append could keep/drop different edges near
    * ties (and `.distinct()` could not dedup a pair present at both
    * precisions). */
  private[graft] def knnGraphFromRaw(edges: DataFrame, em: DataFrame,
      q: DataFrame, k: Int = TopK, beam: Int = GraphBeam,
      hops: Int = GraphHops,
      entryIds: Seq[Long] = SimilarityOps.CentroidIds): DataFrame =
    graphWalkScored(edges, em, q, beam, hops, entryIds)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        col("cos"))

  /** q179 — measured graph-ANN recall@k: the q139 protocol with the
    * NN-descent graph + beam walk as the system under test. Output per
    * sampled query: (qid, n_hit, n_scored, recall, ok) — n_scored is
    * the walk's serve cost, constant in N (vs q159's scanned_total,
    * which is a corpus fraction); the pair is the tier's whole
    * recall/cost story.
    *
    * `truthCap` bounds the AUDIT's exact-truth arm, which is the one
    * quadratic piece of the protocol (|sample|·N cosines — 228 s at
    * 100× with the uncapped mod-50 sample): when N/sampleMod would
    * exceed `truthCap` queries, the effective modulus grows to
    * ⌈N/truthCap⌉ so truth cost stays ≤ N·truthCap. The cap binding is
    * LOUD (stderr log; and the output row count IS the effective
    * sample) — the "no silent caps" rule. The oracle replays the same
    * integer-arithmetic modulus, so hit counts still hash-match. At
    * the registry SFs (N ≤ 2000) the cap never binds. */
  def annGraphRecallAudit(em: DataFrame, k: Int = TopK,
      degree: Int = GraphDegree, rounds: Int = GraphRounds,
      salts: Int = GraphSalts, beam: Int = GraphBeam,
      hops: Int = GraphHops, sampleMod: Long = 50L, sampleRes: Long = 7L,
      minHits: Int = 3,
      entryIds: Seq[Long] = SimilarityOps.CentroidIds,
      truthCap: Long = 1000L): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val n = em.count()
    val effMod = math.max(sampleMod, (n + truthCap - 1) / truthCap)
    if (effMod != sampleMod)
      System.err.println(s"[q179] truthCap=$truthCap binds at n=$n: " +
        s"sample modulus $sampleMod -> $effMod " +
        s"(~${n / effMod} truth queries)")
    val q = em.filter(col("vec_id") % effMod === sampleRes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = em.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"))
    // graphWalkScored's return IS its last hop's checkpoint (and is
    // qid-partitioned) — a second localCheckpoint here was one whole
    // redundant materialization job. ONE vById corpus checkpoint feeds
    // both the build's attaches and the walk's per-hop candidate joins
    // (two separate checkpoints of the same frame = one redundant
    // corpus materialization job).
    val vCk = vById(em)
    val walked = graphWalkScoredFromV(
      nnDescentEdgesFromV(vCk, degree, rounds, salts),
      vCk, q, beam, hops, entryIds)
    val cand = walked.withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"))
    val hits = truth.join(cand, Seq("qid", "neighbor"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    // n_scored = the walk's whole scored set — the SERVE COST of the
    // recall next to it (constant in N by construction; the q159
    // scanned_total companion on the graph side)
    val nsc = walked.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_scored"))
    q.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .join(nsc, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / k + lit(1e-9), 4))
      .withColumn("ok", (col("n_hit") >= minHits).cast("int"))
      .orderBy("qid")
  }

  // ------------------------------------------------------------------
  // DuckDB oracle: the full build + walk, CTE-for-CTE
  // ------------------------------------------------------------------

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

  def annGraphRecallSql(k: Int = TopK, degree: Int = GraphDegree,
      rounds: Int = GraphRounds, salts: Int = GraphSalts,
      beam: Int = GraphBeam, hops: Int = GraphHops,
      sampleMod: Long = 50L, sampleRes: Long = 7L, minHits: Int = 3,
      entryIds: Seq[Long] = SimilarityOps.CentroidIds,
      truthCap: Long = 1000L): String = {
    // the capped sample modulus, same integer arithmetic as the Spark
    // side: max(sampleMod, ceil(N / truthCap))
    val effMod = s"greatest($sampleMod, " +
      s"((SELECT count(*) FROM v) + $truthCap - 1) // $truthCap)"
    val bkCols = (0 until salts).map { s =>
      s"""CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR) || '#$s'),
         |    1, 15)) AS BIGINT)
         |  % greatest(1, (SELECT count(*) FROM v) // ${degree + 1})
         |  AS b$s""".stripMargin
    }.mkString(",\n")
    val initArms = (0 until salts).map { s =>
      s"""SELECT a.vec_id AS src, b.vec_id AS dst FROM bk a
         |  JOIN bk b ON a.b$s = b.b$s AND a.vec_id <> b.vec_id"""
        .stripMargin
    }.mkString("\n  UNION\n  ")
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"e${r - 1}"
      s"""u$r AS (SELECT src, dst FROM $prev
         |  UNION SELECT dst, src FROM $prev),
         |c$r AS (SELECT DISTINCT a.src, b.dst FROM u$r a
         |  JOIN u$r b ON a.dst = b.src WHERE a.src <> b.dst),
         |f$r AS (SELECT c.src, c.dst FROM c$r c
         |  LEFT JOIN $prev e ON e.src = c.src AND e.dst = c.dst
         |  WHERE e.src IS NULL),
         |s$r AS (SELECT src, dst, cos FROM $prev
         |  UNION ALL
         |  SELECT f.src, f.dst, ${cosSql("va.embedding", "vb.embedding")}
         |    AS cos
         |  FROM f$r f JOIN v va ON va.vec_id = f.src
         |  JOIN v vb ON vb.vec_id = f.dst),
         |e$r AS MATERIALIZED (SELECT src, dst, cos FROM (
         |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
         |    ORDER BY cos DESC, dst) AS rn FROM s$r) x
         |  WHERE rn <= $degree)""".stripMargin
    }.mkString(",\n")
    val hopCtes = (1 to hops).map { h =>
      val prev = s"p${h - 1}"
      s"""w$h AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rn FROM $prev) x
         |  WHERE rn <= $beam),
         |n$h AS (SELECT DISTINCT w.qid, g.dst AS vec_id FROM w$h w
         |  JOIN e$rounds g ON g.src = w.vec_id WHERE g.dst <> w.qid),
         |z$h AS (SELECT n.qid, n.vec_id FROM n$h n
         |  LEFT JOIN $prev p ON p.qid = n.qid AND p.vec_id = n.vec_id
         |  WHERE p.qid IS NULL),
         |p$h AS MATERIALIZED (SELECT qid, vec_id, cos FROM $prev
         |  UNION ALL
         |  SELECT z.qid, z.vec_id, ${cosSql("q.qe", "e.embedding")} AS cos
         |  FROM z$h z JOIN q ON q.qid = z.qid
         |  JOIN v e ON e.vec_id = z.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |bk AS MATERIALIZED (SELECT vec_id,
       |$bkCols
       |  FROM v),
       |init AS (SELECT DISTINCT src, dst FROM (
       |  $initArms)),
       |s0 AS (SELECT i.src, i.dst,
       |    ${cosSql("va.embedding", "vb.embedding")} AS cos
       |  FROM init i JOIN v va ON va.vec_id = i.src
       |  JOIN v vb ON vb.vec_id = i.dst),
       |e0 AS MATERIALIZED (SELECT src, dst, cos FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |    ORDER BY cos DESC, dst) AS rn FROM s0) x WHERE rn <= $degree),
       |$roundCtes,
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe FROM v
       |  WHERE vec_id % ($effMod) = $sampleRes),
       |t AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id)
       |      AS rnk
       |  FROM q, v e WHERE e.vec_id <> q.qid) x WHERE rnk <= $k),
       |p0 AS MATERIALIZED (SELECT q.qid, e.vec_id,
       |    ${cosSql("q.qe", "e.embedding")} AS cos
       |  FROM q, v e
       |  WHERE e.vec_id IN (${entryIds.mkString(", ")})
       |    AND e.vec_id <> q.qid),
       |$hopCtes,
       |g AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, vec_id) AS rnk FROM p$hops) x
       |  WHERE rnk <= $k),
       |h AS (SELECT t.qid, count(*) AS n_hit FROM t
       |  JOIN g ON g.qid = t.qid AND g.vec_id = t.vec_id GROUP BY t.qid),
       |ns AS (SELECT qid, count(*) AS n_scored FROM p$hops GROUP BY qid)
       |SELECT q.qid, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(coalesce(ns.n_scored, 0) AS BIGINT) AS n_scored,
       |  round(coalesce(h.n_hit, 0) / CAST($k AS DOUBLE) + 1e-9, 4)
       |    AS recall,
       |  CAST(coalesce(h.n_hit, 0) >= $minHits AS INT) AS ok
       |FROM q LEFT JOIN h ON h.qid = q.qid
       |LEFT JOIN ns ON ns.qid = q.qid ORDER BY q.qid""".stripMargin
  }

  // ------------------------------------------------------------------
  // Persistence — the q157/q160 index contract
  // ------------------------------------------------------------------

  /** Build and persist: `<table>` = (vec_id, embedding) bucketed by
    * vec_id (serve joins candidates by id — co-located), `<table>_gedges`
    * = (src, dst, cos) bucketed by src (frontier expansion joins by
    * src), entry points recorded in `<table>_seeds` (role `gentry`). */
  def writeGraphIndex(em: DataFrame, table: String,
      degree: Int = GraphDegree, rounds: Int = GraphRounds,
      salts: Int = GraphSalts, nBuckets: Int = 8,
      entryIds: Seq[Long] = SimilarityOps.CentroidIds): Unit = {
    val spark = em.sparkSession
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_deletes")
    val edges = nnDescentEdges(em, degree, rounds, salts)
    graft.sources.FileIO.writeParquetBucketed(
      em.select(col("vec_id"), col("embedding")),
      table, nBuckets, "vec_id", Seq("vec_id"))
    graft.sources.FileIO.writeParquetBucketed(
      edges, s"${table}_gedges", nBuckets, "src", Seq("src"))
    SimilarityOps.writeSeedRoles(spark, table, "gentry",
      em.filter(col("vec_id").isin(entryIds: _*)).select(col("vec_id")))
  }

  /** Incremental insert, O(|batch|·beam·degree·hops): each new vector
    * finds its neighbors by a beam walk over the STORED graph, then
    * appends BOTH edge directions (new→nbr keeps the new node
    * searchable FROM; nbr→new makes it reachable). Reverse edges push
    * some nodes past `degree` — the append-only trade; compaction
    * re-prunes (LSM maintenance, exactly the bucketed-append posture
    * of appendToTrainedIvfIndex). */
  def appendToGraphIndex(newBatch: DataFrame, table: String,
      degree: Int = GraphDegree, beam: Int = GraphBeam,
      hops: Int = GraphHops, nBuckets: Int = 8): Unit = {
    val spark = newBatch.sparkSession
    GraftFunctions.register(spark)
    val liveV = liveGraphVectors(spark, table).localCheckpoint()
    val liveE = liveGraphEdges(spark, table).localCheckpoint()
    val entry = liveEntryIds(spark, table)
    val nb = newBatch.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    // Raw (unrounded) cosines: stored edge scores must be uniform
    // precision or compaction's degree prune ranks a mixed set
    val found = knnGraphFromRaw(liveE, liveV,
        nb.select(col("vec_id").as("qid"), col("embedding").as("qe")),
        k = degree, beam = beam, hops = hops, entryIds = entry)
      .select(col("qid").as("src"), col("neighbor").as("dst"),
        col("cos"))
    val newEdges = found.unionByName(
      found.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
    graft.sources.FileIO.appendParquetBucketed(
      nb, table, nBuckets, "vec_id", Seq("vec_id"))
    graft.sources.FileIO.appendParquetBucketed(
      newEdges, s"${table}_gedges", nBuckets, "src", Seq("src"))
  }

  def liveGraphVectors(spark: SparkSession, table: String): DataFrame = {
    val base = spark.table(table)
    if (spark.catalog.tableExists(s"${table}_deletes"))
      base.join(broadcast(spark.table(s"${table}_deletes").distinct()),
        Seq("vec_id"), "left_anti")
    else base
  }

  /** Edges die when EITHER endpoint is tombstoned. */
  def liveGraphEdges(spark: SparkSession, table: String): DataFrame = {
    val e = spark.table(s"${table}_gedges")
    if (spark.catalog.tableExists(s"${table}_deletes")) {
      val tomb = broadcast(spark.table(s"${table}_deletes").distinct())
      e.join(tomb.withColumnRenamed("vec_id", "src"), Seq("src"),
          "left_anti")
        .join(tomb.withColumnRenamed("vec_id", "dst"), Seq("dst"),
          "left_anti")
    } else e
  }

  private def liveEntryIds(spark: SparkSession, table: String): Seq[Long] = {
    val seeds = spark.table(s"${table}_seeds")
      .filter(col("role") === "gentry").select(col("vec_id"))
    val live =
      if (spark.catalog.tableExists(s"${table}_deletes"))
        seeds.join(broadcast(spark.table(s"${table}_deletes").distinct()),
          Seq("vec_id"), "left_anti")
      else seeds
    val ids = live.collect().map(_.getLong(0)).toSeq.sorted
    require(ids.nonEmpty,
      s"every graph entry point of $table is tombstoned; re-elect " +
        "entries (writeSeedRoles) before serving")
    ids
  }

  /** Tombstone ids — shares the `<table>_deletes` convention. */
  def deleteFromGraphIndex(spark: SparkSession, table: String,
      ids: Seq[Long]): Unit = {
    import spark.implicits._
    val df = ids.toDF("vec_id")
    if (spark.catalog.tableExists(s"${table}_deletes"))
      df.write.mode("append").format("parquet")
        .saveAsTable(s"${table}_deletes")
    else df.write.format("parquet").saveAsTable(s"${table}_deletes")
  }

  /** Fold tombstones into the layout and restore the per-src degree
    * invariant that appends relaxed. */
  def compactGraphIndex(spark: SparkSession, table: String,
      degree: Int = GraphDegree, nBuckets: Int = 8): Unit = {
    val liveV = liveGraphVectors(spark, table).localCheckpoint()
    val liveE = pruneDegree(
      liveGraphEdges(spark, table).distinct(), degree).localCheckpoint()
    graft.sources.FileIO.writeParquetBucketed(
      liveV, table, nBuckets, "vec_id", Seq("vec_id"))
    graft.sources.FileIO.writeParquetBucketed(
      liveE, s"${table}_gedges", nBuckets, "src", Seq("src"))
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_deletes")
  }

  /** Serve from the persisted tables (the knnPqServe posture: live
    * views, query-liveness guard, entry points from `_seeds`).
    * `beam`/`hops` = 0 (the default) derives the budget from the live
    * corpus size via [[scaledBeam]]/[[scaledHops]] — one count job on
    * the bucketed table, paid only on the default path; explicit
    * values bypass it (the override contract). */
  def knnGraphServe(spark: SparkSession, table: String,
      queryIds: Seq[Long] = SimilarityOps.QueryIds, k: Int = TopK,
      beam: Int = 0, hops: Int = 0): DataFrame = {
    val liveV = liveGraphVectors(spark, table)
    SimilarityOps.requireLiveQueries(liveV, queryIds, table)
    lazy val n = liveV.count()
    val b = if (beam > 0) beam else scaledBeam(n)
    val h = if (hops > 0) hops else scaledHops(n)
    val q = liveV.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    knnGraphFrom(liveGraphEdges(spark, table), liveV, q, k, b, h,
      liveEntryIds(spark, table))
  }

  // ------------------------------------------------------------------
  // Registry adapter
  // ------------------------------------------------------------------

  val all: Seq[(String, QFn, Option[String])] = Seq(
    ("q179_graph_ann_recall",
      graft.core.EagerByDesign("the NN-descent build localCheckpoints " +
        "each round and counts once for the bucket modulus (the CC " +
        "chassis); the beam walk localCheckpoints each hop — bounded " +
        "plan depth beats laziness for iterative fixpoints")(
        (s: SparkSession, d: String) =>
          annGraphRecallAudit(Tables.embeddings(s, d))),
      Some(annGraphRecallSql())))
}
