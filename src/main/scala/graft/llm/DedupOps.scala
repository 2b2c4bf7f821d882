package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.GraftFunctions

/** Deduplication operators over document corpora — SURVEY.md §2b Q23 plus
  * the training-pipeline extensions (SimHash, embedding near-dup).
  *
  * Library surface: every operator is `DataFrame => DataFrame` over a frame
  * with `(doc_id: long, text: string)` columns (extra columns are ignored) —
  * the pluggable-user contract of the reference's `Processor`
  * (/root/reference/src/Kinesis/Coordination.hs:53) applied to the analytics
  * layer. The `(SparkSession, dir)` registry entries at the bottom are thin
  * adapters over the fixture tables.
  *
  * Algorithms (public literature): MinHash resemblance sketching — Broder,
  * "On the resemblance and containment of documents" (SEQUENCES 1997);
  * LSH banding — Indyk & Motwani (STOC 1998) / Gionis et al. (VLDB 1999);
  * SimHash — Charikar, "Similarity estimation techniques from rounding
  * algorithms" (STOC 2002), applied to web-scale dedup in Manku et al.
  * (WWW 2007).
  *
  * Scale notes (100 TB posture):
  *  - exact dedup = hash + groupBy (one shuffle on a 16-byte key);
  *  - near-dup never materializes the O(n²) pair space: all shingle-based
  *    paths share ONE candidate-pair stage ([[jaccardPairs]]) built on an
  *    inverted shingle index that (a) drops df=1 shingles — they cannot form
  *    a pair, and on real corpora are ~95% of the index — and (b) caps
  *    shingle document frequency at [[DefaultDfCap]], so one boilerplate
  *    shingle shared by M documents cannot contribute M² candidate rows
  *    (crawl-template skew guard). Per-doc set sizes ride along the exploded
  *    rows into the pair aggregation — no per-document side table is ever
  *    joined (let alone broadcast) after the pair shuffle;
  *  - the MinHash path joins on LSH band buckets and verifies candidates
  *    exactly, so the only quadratic term is per-bucket, controlled by band
  *    width;
  *  - embedding near-dup blocks on `label` (a cheap clustering surrogate)
  *    instead of a full cross join.
  */
object DedupOps {
  type QFn = (SparkSession, String) => DataFrame

  val K = 5                    // shingle width (tokens)
  private val JaccardThreshold = 0.8
  // Containment flags sub/superset dup pairs the Jaccard threshold misses;
  // higher bar because min-normalization makes high scores easier to hit.
  private val ContainmentThreshold = 0.9

  /** Max document frequency for a shingle to participate in candidate
    * generation. Shingles above the cap are boilerplate (site chrome, legal
    * footers, crawl templates): each contributes O(df²) candidate rows to
    * the self-join while carrying no near-dup signal — at 100 TB a single
    * hot shingle would otherwise manufacture billions of pairs on one
    * reducer. True near-dup pairs (Jaccard ≥ 0.8) share mostly rare
    * shingles, so the cap costs no recall in practice; every oracle SQL
    * mirrors the cap so the contract stays engine-checkable. */
  val DefaultDfCap = 256

  // MinHash family parameters (128 hashes, 32×4 bands) live with the
  // codegen'd expression: graft.functions.MinHashBands

  // ------------------------------------------------------------------
  // Library surface (DataFrame => DataFrame)
  // ------------------------------------------------------------------

  /** One row per doc: distinct k-gram shingle hashes via the codegen'd
    * ShingleHashes expression — a single tight pass over the text per plan
    * branch, 8-byte downstream join keys instead of shingle strings. */
  def shingleHashes(docs: DataFrame, k: Int = K): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    Tables.fanout(docs).select(col("doc_id"),
      expr(s"shingle_hashes(text, $k)").as("hs"))
  }

  /** The exploded, df-capped inverted index with both-sides-capped sizes —
    * the stage shared by [[jaccardPairs]] and [[incrementalNearDup]] (the
    * Spark twin of the SQL `indexCte`). Input: per-doc shingle table
    * `(doc_id, hs, extra...)`; output: `(extra..., doc_id, n, h)` with only
    * pairable (2 ≤ df ≤ cap) shingles, n = the doc's sub-cap shingle count.
    *
    * The per-doc hot-shingle count (empty unless the cap binds) joins the
    * compact per-doc table BEFORE the explode, so adjusted sizes ride the
    * exploded rows into the pair aggregation — no per-document table is
    * joined after the pair shuffle. */
  private def cappedIndex(hsTable: DataFrame, dfCap: Int): DataFrame = {
    val sh = hsTable.select(col("doc_id"), explode(col("hs")).as("h"))
    val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val hotPerDoc = sh.join(freq.filter(col("df") > dfCap).select("h"), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("hot_n"))
    val pairable = freq.filter(col("df") >= 2 && col("df") <= dfCap).select("h")
    val carried = hsTable.columns.filterNot(Set("hs", "hot_n")).map(col)
    hsTable.join(hotPerDoc, Seq("doc_id"), "left")
      .select(carried :+
        (size(col("hs")) - coalesce(col("hot_n"), lit(0L))).as("n") :+
        explode(col("hs")).as("h"): _*)
      .join(pairable, "h")
  }

  /** The shared shingle→candidate-pair stage: all pairs of documents that
    * share at least one shingle with document frequency in [2, dfCap], with
    * their exact shingle-set Jaccard. Output: (d1, d2, n1, n2, inter, jac).
    *
    * Plan shape (the part that must survive 100×): shingle table persisted
    * once; one self-join over [[cappedIndex]] + one aggregation, all keys
    * 8-byte hashes, no per-document side table after the pair shuffle.
    *
    * When the cap bites, boilerplate (df > cap) shingles are excluded from
    * BOTH the intersection and the set sizes — Jaccard over non-boilerplate
    * shingles, the quantity you actually want on crawl data. Excluding them
    * from only the numerator would make even byte-identical documents score
    * below 1 and silently escape dedup; with both sides capped, identical
    * docs still score exactly 1. df=1 shingles cannot form a pair (so they
    * are dropped from the inverted index) but DO count in the sizes — they
    * are informative content, not boilerplate. Every oracle mirrors this. */
  def jaccardPairs(docs: DataFrame, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    val hs = graft.core.CacheOnce.swap("dedup-shingles", shingleHashes(docs, k))
    val shc = cappedIndex(hs, dfCap)
    shc.as("a").join(shc.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("a.n").as("n1"),
        col("b.doc_id").as("d2"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
  }

  /** Incremental near-dup: pairs between a NEW document batch and the
    * full corpus (corpus ∪ batch) — the production shape for a pipeline
    * ingesting crawl batches against an existing index. The self-join is
    * one-sided (full inverted index ⋈ new-batch index), so the work is
    * O(|new| × overlap) rather than O(|corpus|²) — re-pairing the whole
    * corpus for every arriving batch is exactly what this avoids. Same
    * df-cap/both-sides-capped Jaccard semantics as [[jaccardPairs]] (both
    * build on the same [[cappedIndex]] stage); output pairs are
    * id-normalized (d1 < d2) and always touch ≥1 new doc. A doc_id present
    * in both inputs counts as already-known: it is dropped from the batch
    * side (re-delivered documents are not "new"), which also keeps the
    * union free of the double-counted shingles a duplicate id would cause. */
  def incrementalNearDup(corpus: DataFrame, newDocs: DataFrame,
      threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    val freshOnly = newDocs.join(corpus, Seq("doc_id"), "left_anti")
    incrementalNearDupFresh(corpus, freshOnly, threshold, k, dfCap)
  }

  /** [[incrementalNearDup]] for a batch ALREADY disjoint from the corpus
    * by doc_id — callers that have anti-joined themselves (admitBatch)
    * skip paying the corpus-wide anti-join twice. */
  private[graft] def incrementalNearDupFresh(corpus: DataFrame,
      freshOnly: DataFrame, threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // Shingle each side separately instead of one union pass: the corpus
    // arm's plan is then exactly [[shingleHashes]](corpus) — when a
    // composite run (q153: full jaccardPairs for the stored table, then
    // the incremental pairs) has already cached it, Spark's cache
    // manager substitutes the warm InMemoryRelation and the corpus text
    // is not re-shingled a second time inside the same query. Shingle
    // values are per-doc, so per-side vs union-then-shingle is the
    // identical row set.
    val tagged = graft.core.CacheOnce.swap("dedup-incr-shingles",
      shingleHashes(corpus, k).withColumn("is_new", lit(false))
        .unionByName(
          shingleHashes(freshOnly, k).withColumn("is_new", lit(true))))
    oneSidedPairTail(cappedIndex(tagged, dfCap), threshold)
  }

  /** The one-sided pair join + Jaccard tail shared by
    * [[incrementalNearDupFresh]] and the q160 stored-index serve path —
    * input is a tagged capped index `(is_new, doc_id, n, h)` (column
    * order free). old↔new pairs appear once (a must be old or the
    * smaller new id); new↔new pairs are ordered to avoid double
    * counting. Sharing the tail is what makes served ≡ direct
    * assertable BY CONSTRUCTION: the two paths differ only in where
    * the index rows come from. */
  private def oneSidedPairTail(shc: DataFrame,
      threshold: Double): DataFrame = {
    val newSide = shc.filter(col("is_new"))
    shc.as("a").join(newSide.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id")
          && (!col("a.is_new") || col("a.doc_id") < col("b.doc_id")))
      .groupBy(
        least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.n"))
          .otherwise(col("b.n")).as("n1"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.n"))
          .otherwise(col("a.n")).as("n2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))
      .orderBy("d1", "d2")
  }

  // ------------------------------------------------------------------
  // q160 — the near-dup SERVE lifecycle (index → persist → admit),
  // the dedup analog of the q157 BM25 serve contract: the ingest loop's
  // remaining corpus-scale cost was re-SHINGLING the whole corpus per
  // arriving batch inside incrementalNearDup (the slope measured in
  // BASELINE §v); with the shingle postings persisted, a batch is admitted
  // from index frames alone — no tokenize of old text, ever again.
  // ------------------------------------------------------------------

  /** Candidate pairs of `newDocs` against an ALREADY-INDEXED corpus,
    * computed from index frames only: `postings` (h, doc_id), `docn`
    * (doc_id, n_total = the doc's distinct-shingle count), `dfRows`
    * (h, df) — df rows are LSM-style deltas (append adds rows; the
    * serve aggregates by h), so appends never rewrite the model.
    * Semantics are EXACTLY [[incrementalNearDup]] over (indexed docs,
    * newDocs): union document frequency df_u = stored + batch, the
    * pairable band 2 ≤ df_u ≤ dfCap, both-sides-capped sizes
    * n = n_total − |the doc's shingles hot in the union| — a shingle
    * can BECOME hot through the batch's own additions, and those
    * newly-hot shingles are necessarily batch shingles, so every size
    * adjustment is computable from the matched postings without
    * touching original text. The shared [[oneSidedPairTail]] makes the
    * equivalence structural.
    *
    * Scale shape: batch vocab and derived frames broadcast; the stored
    * postings scan streams once through two broadcast-filtered joins
    * (pairable candidates; hot-set size adjustments) and only the
    * matched MINORITY exchanges; the df aggregate is vocab-scale (the
    * LSM read amplification — compaction is a rebuild of `_df`), and
    * nothing anywhere re-reads corpus text. */
  def incrementalNearDupFromIndex(postings: DataFrame, docn: DataFrame,
      dfRows: DataFrame, newDocs: DataFrame,
      threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    GraftFunctions.register(newDocs.sparkSession)
    // re-delivered doc_ids are not "new" (the incrementalNearDup rule)
    val fresh = newDocs.join(docn.select("doc_id"), Seq("doc_id"), "left_anti")
    val bh = graft.core.CacheOnce.swap("dedup-serve-batch",
      shingleHashes(fresh, k).withColumn("n_total", size(col("hs"))))
    val bpost = bh.select(col("doc_id"), explode(col("hs")).as("h"))
    val bdf = bpost.groupBy(col("h")).agg(count(lit(1)).as("df_b"))
    val dfS = graft.core.CacheOnce.swap("dedup-serve-df",
      dfRows.groupBy(col("h")).agg(sum(col("df")).as("df_s")))
    // union df for BATCH shingles (stored side pre-pruned by the
    // broadcast batch vocab); stored-only shingles matter solely
    // through the stored-hot set below
    val dfU = bdf.join(
        dfS.join(broadcast(bdf.select(col("h"))), Seq("h"), "left_semi"),
        Seq("h"), "left")
      .select(col("h"),
        (coalesce(col("df_s"), lit(0L)) + col("df_b")).as("df_u"))
    val pairable = dfU.filter(col("df_u") >= 2 && col("df_u") <= dfCap)
      .select("h")
    val hotAll = dfU.filter(col("df_u") > dfCap).select("h")
      .unionByName(dfS.filter(col("df_s") > dfCap).select("h"))
      .distinct()
    val hotNOld = postings.join(broadcast(hotAll), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hot_n"))
    val aMatch = postings.join(broadcast(pairable), Seq("h"))
    val aN = docn
      .join(broadcast(aMatch.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .join(hotNOld, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_total") - coalesce(col("hot_n"), lit(0L))).as("n"))
    val aIdx = aMatch.join(broadcast(aN), Seq("doc_id"))
      .select(lit(false).as("is_new"), col("doc_id"), col("n"), col("h"))
    val bN = bh.select(col("doc_id"), col("n_total"))
      .join(bpost.join(broadcast(hotAll), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("hot_n")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_total") - coalesce(col("hot_n"), lit(0L))).as("n"))
    val bIdx = bpost.join(broadcast(pairable), Seq("h"))
      .join(broadcast(bN), Seq("doc_id"))
      .select(lit(true).as("is_new"), col("doc_id"), col("n"), col("h"))
    oneSidedPairTail(aIdx.unionByName(bIdx), threshold)
  }

  /** Persist the serve index: `<t>_postings` bucketed by shingle hash
    * (later joins on h are co-located), `<t>_docn`, `<t>_df`. */
  def writeDedupIndex(docs: DataFrame, table: String, k: Int = K,
      nBuckets: Int = 8): Unit = {
    val spark = docs.sparkSession
    // fresh generation: the previous generation's tombstones don't apply
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_takedown")
    val hs = shingleHashes(docs, k).withColumn("n_total", size(col("hs")))
    val postings = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    graft.sources.FileIO.writeParquetBucketed(
      postings, s"${table}_postings", nBuckets, "h", Seq("h"))
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_docn")
    hs.select(col("doc_id"), col("n_total"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_docn")
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_df")
    postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_df")
  }

  /** Append an ADMITTED batch (caller guarantees doc_id-disjointness —
    * the admitBatch contract): postings/docn/df all append-only, df as
    * delta rows the serve re-aggregates — O(|batch|), no model
    * rewrite, no corpus scan. */
  def appendToDedupIndex(docs: DataFrame, table: String, k: Int = K,
      nBuckets: Int = 8): Unit = {
    val hs = shingleHashes(docs, k).withColumn("n_total", size(col("hs")))
    val postings = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    graft.sources.FileIO.appendParquetBucketed(
      postings, s"${table}_postings", nBuckets, "h", Seq("h"))
    hs.select(col("doc_id"), col("n_total"))
      .write.mode("append").format("parquet")
      .saveAsTable(s"${table}_docn")
    postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .write.mode("append").format("parquet")
      .saveAsTable(s"${table}_df")
  }

  /** Serve from the persisted tables. */
  def incrementalNearDupServe(spark: SparkSession, table: String,
      newDocs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap): DataFrame = {
    val tomb = TakedownOps.takedownIds(spark, table)
    val postings = spark.table(s"${table}_postings")
    // Tombstones (TakedownOps.takedownDedupIndex): postings/docn serve
    // through a broadcast anti-join; the stored `_df` aggregate is
    // corrected by NEGATIVE counts derived from the tombstoned docs'
    // own posting rows (the downstream sum() re-aggregates delta rows
    // already, the append contract) — no persisted correction, so a
    // replayed takedown can never double-subtract. Compaction
    // (TakedownOps.compactDedupIndex) folds all three back to exact.
    val dfRows = tomb.fold(spark.table(s"${table}_df")) { t =>
      spark.table(s"${table}_df").unionByName(
        postings.join(broadcast(t.select(col("doc_id")).distinct()),
            Seq("doc_id"), "left_semi")
          .groupBy(col("h")).agg((-count(lit(1))).as("df")))
    }
    incrementalNearDupFromIndex(TakedownOps.liveRows(postings, tomb),
      TakedownOps.liveRows(spark.table(s"${table}_docn"), tomb), dfRows,
      newDocs, threshold, k, dfCap)
  }

  /** q160 registry form: index frames built in-session over the corpus
    * split (the q157/q24 precedent — the PERSISTED path is pinned by
    * Round17OpsSpec's round-trip and append tests), batch served from
    * the frames alone. Eager at construction (the cached shingle base
    * has three consumers: postings ×2 arms + df). */
  def dedupServeInSession(corpus: DataFrame, batch: DataFrame,
      threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    val hs = graft.core.CacheOnce.swap("dedup-serve-frames",
      shingleHashes(corpus, k).withColumn("n_total", size(col("hs"))))
    hs.count() // the q78/q157 reason: concurrent arms race a cold cache
    // NOT pre-warmed beyond hs (tried this round and REVERTED): an
    // eager count of the inner "dedup-serve-df" aggregate before the
    // fan-out measured ~2× the task_sec of letting the two broadcast
    // builds race the lazy cache (5.4 → 10.0 same-window A/B) — the
    // cache write + extra job cost more than the duplicated vocab-scale
    // aggregate it saved.
    val postings = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    incrementalNearDupFromIndex(postings,
      hs.select(col("doc_id"), col("n_total")),
      postings.groupBy(col("h")).agg(count(lit(1)).as("df")),
      batch, threshold, k, dfCap)
  }

  /** Streaming-ingest admission policy over [[incrementalNearDup]]: which
    * documents of an arriving batch enter the corpus. A fresh doc is
    * rejected iff it near-dups (jaccard ≥ threshold) an already-accepted
    * corpus doc — the corpus always wins, accepted docs are immutable — or
    * a smaller-id doc of the same batch (deterministic single-pass
    * min-id-wins; no transitive chasing, so a doc can be rejected for
    * pairing with a doc that was itself rejected — the conservative
    * direction: near-dups of near-dups). Re-delivered doc_ids are not
    * fresh and never re-admitted. Exactly-once across replays is the
    * CALLER's half: key corpus appends by batch id and read only
    * strictly-earlier batches as the corpus (IngestDedupApp). */
  def admitBatch(corpus: DataFrame, batch: DataFrame,
      threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    // deterministic in-batch pick for a re-delivered id with MUTATED text
    // (dropDuplicates keeps an arbitrary row — a crashed attempt and its
    // replay could then persist different bytes): min md5(text) wins
    val pick = Window.partitionBy(col("doc_id")).orderBy(md5(col("text")))
    val fresh = batch
      .withColumn("_ab_rn", row_number().over(pick))
      .filter(col("_ab_rn") === 1).drop("_ab_rn")
      .join(corpus, Seq("doc_id"), "left_anti")
    admitResolve(fresh,
      incrementalNearDupFresh(corpus, fresh, threshold, k, dfCap))
  }

  /** The admission-resolution tail shared by [[admitBatch]] and
    * [[admitBatchServed]]: symmetrize the pair list so every fresh doc
    * appears as the rejection candidate against each of its partners,
    * keep the losing side (corpus partner, or smaller-id batchmate),
    * anti-join the losers away. */
  private def admitResolve(fresh: DataFrame, pairs: DataFrame): DataFrame = {
    val freshIds = fresh.select(col("doc_id"))
    val sym = pairs.select(explode(array(
        struct(col("d1").as("cand"), col("d2").as("other")),
        struct(col("d2").as("cand"), col("d1").as("other")))).as("e"))
      .select(col("e.cand").as("cand"), col("e.other").as("other"))
    val rejected = sym
      .join(freshIds.withColumnRenamed("doc_id", "cand"), Seq("cand"))
      .join(freshIds.withColumnRenamed("doc_id", "other")
        .withColumn("other_fresh", lit(true)), Seq("other"), "left")
      .filter(col("other_fresh").isNull || col("other") < col("cand"))
      .select(col("cand").as("doc_id")).distinct()
    fresh.join(rejected, Seq("doc_id"), "left_anti")
  }

  /** [[admitBatch]] against an ALREADY-INDEXED corpus (q160 frames):
    * identical admission semantics — same mutated-redelivery pick,
    * same corpus-wins/min-id-wins resolution — with pair discovery
    * served from index frames instead of a corpus re-shingle. The
    * ingest loop's steady-state admit becomes O(|batch| + matched
    * postings): nothing re-reads corpus text. */
  def admitBatchServed(postings: DataFrame, docn: DataFrame,
      dfRows: DataFrame, batch: DataFrame,
      threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    val pick = Window.partitionBy(col("doc_id")).orderBy(md5(col("text")))
    val fresh = batch
      .withColumn("_ab_rn", row_number().over(pick))
      .filter(col("_ab_rn") === 1).drop("_ab_rn")
      .join(docn.select("doc_id"), Seq("doc_id"), "left_anti")
    admitResolve(fresh, incrementalNearDupFromIndex(
      postings, docn, dfRows, fresh, threshold, k, dfCap))
  }

  /** Decontamination: per training document, the fraction of its shingles
    * that appear anywhere in the eval/benchmark set — the standard check
    * that a training corpus does not contain (near-)copies of evaluation
    * data. The eval side collapses to a distinct shingle-hash set (tiny
    * next to the corpus: broadcast-able at cluster scale), so the corpus
    * streams through one hash join and one aggregation; no pair space. */
  def contamination(docs: DataFrame, evalDocs: DataFrame, k: Int = K,
      minFrac: Double = 0.1): DataFrame = {
    val evalH = shingleHashes(evalDocs, k)
      .select(explode(col("hs")).as("h")).distinct()
    val sh = shingleHashes(docs, k)
      .select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("h"))
    sh.join(evalH, "h")
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("frac", col("hits") / col("n"))
      .filter(col("frac") >= minFrac)
      .select(col("doc_id"), col("n").as("n_shingles"), col("hits"),
        round(col("frac"), 4).as("frac"))
      .orderBy("doc_id")
  }

  /** q135 — the decontaminated corpus: training doc ids whose shingle
    * overlap with the eval/benchmark set stays below `minFrac` — the
    * keep-side complement of [[contamination]] and the standalone form
    * of PipelineApp's decontamination stage (the id set a curation run
    * semi-joins its corpus against). Same scale shape: the eval side
    * collapses to a distinct broadcast-able hash set, the corpus
    * streams through one join, and the final anti-join is against the
    * contaminated id set — small by the operator's premise (a corpus
    * mostly made of eval copies has bigger problems than this query). */
  def decontaminatedCorpus(train: DataFrame, evalDocs: DataFrame,
      k: Int = K, minFrac: Double = 0.1): DataFrame =
    train.select(col("doc_id"))
      .join(contamination(train, evalDocs, k, minFrac).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .orderBy("doc_id")

  val decontaminatedCorpusSql: String =
    s"""WITH tok AS (SELECT doc_id, ${Text.tokensSql("text")} AS ts FROM documents),
       |shg AS (SELECT doc_id, unnest(${Text.shinglesSql("ts", K)}) AS sh FROM tok),
       |ev AS (SELECT DISTINCT sh FROM shg WHERE doc_id >= $EvalSplitSql),
       |tr AS (SELECT doc_id, sh FROM shg WHERE doc_id < $EvalSplitSql),
       |n AS (SELECT doc_id, count(*) AS n FROM tr GROUP BY doc_id),
       |hits AS (SELECT t.doc_id, count(*) AS hits
       |  FROM tr t JOIN ev e ON e.sh = t.sh GROUP BY t.doc_id),
       |bad AS (SELECT h.doc_id FROM hits h JOIN n ON n.doc_id = h.doc_id
       |  WHERE h.hits / n.n >= 0.1)
       |SELECT doc_id FROM documents
       |WHERE doc_id < $EvalSplitSql AND doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id""".stripMargin

  /** q136 — benchmark leakage report, the REVERSE direction of
    * [[contamination]]: per EVAL doc, how many training docs leak it
    * (share ≥ `minFrac` of their shingles with that specific eval doc)
    * and how badly — the "which benchmarks are burned" table an eval
    * owner reads, where q23_contamination answers the curation-side
    * "which training docs must go". Per-pair containment is
    * |S_t ∩ S_e| / |S_t| (the training doc's perspective, matching the
    * drop rule), grouped to the eval side.
    *
    * Scale shape: a one-sided inverted-index bipartite join — the
    * per-hash fanout is df_train(h) × df_eval(h) with the eval side
    * small by construction (the incremental-dedup geometry, never a
    * corpus self-join); the (t, e) pair frame partial-aggregates
    * map-side because a leaking pair shares many shingles. */
  def evalLeakReport(train: DataFrame, evalDocs: DataFrame,
      k: Int = K, minFrac: Double = 0.1): DataFrame = {
    val st = shingleHashes(train, k)
      .select(col("doc_id").as("t_id"), size(col("hs")).as("n_t"),
        explode(col("hs")).as("h"))
    val se = shingleHashes(evalDocs, k)
      .select(col("doc_id").as("eval_doc"), explode(col("hs")).as("h"))
    // the EVAL side is the broadcast build — pinned, not planner
    // choice: at this fixture's sizes the planner picks the TRAINING
    // shingle frame (BuildLeft), which can never broadcast at corpus
    // scale; the eval set being small is this operator's premise
    st.join(broadcast(se), "h")
      .groupBy(col("t_id"), col("eval_doc"), col("n_t"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") / col("n_t") >= minFrac)
      .groupBy(col("eval_doc"))
      .agg(count(lit(1)).as("n_leaking_docs"),
        round(max(col("inter") / col("n_t")), 4).as("max_frac"))
      .orderBy(col("n_leaking_docs").desc, col("eval_doc"))
  }

  val evalLeakReportSql: String =
    s"""WITH tok AS (SELECT doc_id, ${Text.tokensSql("text")} AS ts FROM documents),
       |shg AS (SELECT doc_id, unnest(${Text.shinglesSql("ts", K)}) AS sh FROM tok),
       |ev AS (SELECT doc_id AS e_id, sh FROM shg WHERE doc_id >= $EvalSplitSql),
       |tr AS (SELECT doc_id AS t_id, sh FROM shg WHERE doc_id < $EvalSplitSql),
       |n AS (SELECT t_id, count(*) AS n FROM tr GROUP BY t_id),
       |px AS (SELECT t.t_id, e.e_id, count(*) AS inter
       |  FROM tr t JOIN ev e ON e.sh = t.sh GROUP BY 1, 2),
       |lk AS (SELECT px.e_id, px.inter / n.n AS frac
       |  FROM px JOIN n ON n.t_id = px.t_id
       |  WHERE px.inter / n.n >= 0.1)
       |SELECT e_id AS eval_doc, count(*) AS n_leaking_docs,
       |  round(max(frac), 4) AS max_frac
       |FROM lk GROUP BY 1 ORDER BY n_leaking_docs DESC, eval_doc"""
      .stripMargin

  /** Near-dup pairs by exact n-gram-shingle Jaccard ≥ threshold (ground
    * truth for the LSH path; itself a legitimate distributed near-dup
    * operator). */
  def ngramJaccard(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap): DataFrame =
    jaccardPairs(docs, k, dfCap)
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))
      .orderBy("d1", "d2")

  /** Sub-/superset duplication by shingle CONTAINMENT — the second measure
    * of Broder '97: c(A,B) = |A∩B| / min(|A|,|B|). A short document
    * embedded whole inside a longer one (aggregator pages, quote farms,
    * boilerplate-wrapped reposts) scores ≈1 here while its Jaccard —
    * diluted by the longer document's extra shingles — stays far below any
    * dedup threshold, so resemblance-only dedup ships the duplicate.
    * Rides the SAME shared candidate-pair stage as [[ngramJaccard]] (one
    * df-capped inverted-index self-join; n1/n2/inter are already on the
    * pair rows), so the asymmetric measure costs no extra shuffle. */
  def containmentPairs(docs: DataFrame,
      threshold: Double = ContainmentThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame =
    jaccardPairs(docs, k, dfCap)
      .withColumn("cont", col("inter") / least(col("n1"), col("n2")))
      .filter(col("cont") >= threshold)
      .select(col("d1"), col("d2"), round(col("cont"), 4).as("containment"))
      .orderBy("d1", "d2")

  /** MinHash + LSH banding: signature → band buckets → candidate pairs →
    * exact-Jaccard verification. With 32×4 banding, P(miss) at j=0.8 is
    * (1−0.8⁴)³² ≈ 5e-8, so the verified output equals the exact path
    * (which is the oracle). */
  def minhashLsh(docs: DataFrame,
      threshold: Double = JaccardThreshold, k: Int = K): DataFrame = {
    // The shingle table feeds the banding branch plus both verification
    // sides; persist it so the text is shingled once (at cluster scale this
    // is the materialized signature table). CacheOnce bounds the pinning to
    // one copy per session across repeated calls.
    val hs0 = graft.core.CacheOnce.swap("dedup-shingles", shingleHashes(docs, k))
    // Per doc: 32 LSH band keys from the 128-component MinHash signature,
    // computed row-local by the codegen'd MinHashBands expression — the only
    // shuffles in the whole operator are the bucket self-join and the
    // candidate→array verification join.
    val buckets = hs0.filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        posexplode(expr("minhash_bands(hs)")).as(Seq("band", "bkey")))
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    // exact Jaccard verification on the per-doc hash sets (arrays are
    // already distinct, so |intersect| / (n1 + n2 − |intersect|) is the
    // set Jaccard the oracle computes over shingle strings)
    val h1 = hs0.select(col("doc_id").as("d1"), col("hs").as("hs1"))
    val h2 = hs0.select(col("doc_id").as("d2"), col("hs").as("hs2"))
    candidates.join(h1, "d1").join(h2, "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("hs1"), col("hs2"))).as("inter"),
        size(col("hs1")).as("n1"), size(col("hs2")).as("n2"))
      .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Edit-distance near-dup verification: shingle-overlap candidates
    * (Jaccard ≥ candThreshold prefilter, from the shared pair stage)
    * verified by relative Levenshtein distance ≤ maxRelDist of the longer
    * text. The expensive O(len²) edit distance only ever runs on the
    * candidate pairs, never the corpus cross product (and the
    * LevenshteinPrefilter rule injects a free length-difference guard). */
  def levenshteinDedup(docs: DataFrame, maxRelDist: Double = 0.2,
      candThreshold: Double = 0.5, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    val cand = jaccardPairs(docs, k, dfCap)
      .filter(col("jac") >= candThreshold)
      .select("d1", "d2")
    val ta = docs.select(col("doc_id").as("d1"), col("text").as("ta"))
    val tb = docs.select(col("doc_id").as("d2"), col("text").as("tb"))
    cand.join(ta, "d1").join(tb, "d2")
      .withColumn("ld", levenshtein(col("ta"), col("tb")))
      .filter(col("ld") <= lit(maxRelDist) * greatest(length(col("ta")), length(col("tb"))))
      .select(col("d1"), col("d2"), col("ld"))
      .orderBy("d1", "d2")
  }

  /** SimHash near-dup (no SQL oracle: the 64-bit token hash is not
    * reproducible in DuckDB; rows-only check + ScalaTest asserts it finds
    * every exact-duplicate pair). 64-bit fingerprint, banding on 4×16-bit
    * chunks, hamming-distance ≤ maxHamming verification. */
  def simhash(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val fps = Tables.fanout(docs)
      .select(col("doc_id"), expr("simhash64(text)").as("simhash"))
    val chunks = fps.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk", "ckey")))
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ckey") === col("y.ckey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  /** q23_dedup_simhash's cross-engine oracle: the 64-bit fingerprint is
    * engine-specific, but SimHash's STRUCTURAL guarantee is not —
    * identical texts have identical fingerprints, land in every band
    * together, and pass at hamming 0 — so `exact_covered` (the
    * exact-duplicate pairs found among the simhash candidates) must
    * EQUAL `n_exact_pairs` (all C(c,2) pairs over md5-text groups, which
    * BOTH engines count exactly). The check exercises fingerprint
    * determinism, the 4×16 banding, and the hamming filter end to end.
    *
    * Deliberately NOT gated: candidate precision/recall against exact
    * Jaccard. Measured on the fixtures, neither is scale-stable enough
    * to bound honestly — candidate precision vs 3-gram J ≥ 0.5 runs
    * 0.78 / 0.88 / 0.36 at sf0.001/0.01/0.1 (banding collisions grow
    * with corpus size), and recall vs J ≥ 0.95 truth runs 0.875 / 0.625
    * / 0.826 (hamming ≤ 3 of 64 bits is strict for shorter docs, where
    * one differing token flips many bits). The distribution is sharply
    * bimodal (J ≤ 0.03 or ≥ 0.89 on every fixture): SimHash here is a
    * candidate GENERATOR whose survivors must be verified — exactly how
    * [[minhashLsh]] treats its banding — and the probabilistic behavior
    * is pinned in LlmOpsSpec (expression ≡ explode formulation;
    * hand-fixture candidates + Jaccard verification), not in a
    * cross-engine hash compare. */
  def simhashAudit(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val keyed = Tables.fanout(docs)
      .select(col("doc_id"), md5(col("text")).as("m"))
    val nExact = keyed.groupBy(col("m")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
        .as("n_exact_pairs"))
    val cands = simhash(docs, maxHamming)
    val exactPairs = keyed.select(col("doc_id").as("d1"), col("m"))
      .join(keyed.select(col("doc_id").as("d2"), col("m").as("m2")),
        col("m") === col("m2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    val covered = exactPairs.join(cands, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).as("exact_covered"))
    nExact.crossJoin(broadcast(covered))
      .select(col("n_exact_pairs"), col("exact_covered"))
  }

  val simhashAuditSql: String =
    """WITH g AS (SELECT md5(text) AS m, count(*) AS c
      |  FROM documents GROUP BY 1)
      |SELECT CAST(COALESCE(sum((c * (c - 1)) // 2), 0) AS BIGINT)
      |    AS n_exact_pairs,
      |  CAST(COALESCE(sum((c * (c - 1)) // 2), 0) AS BIGINT)
      |    AS exact_covered
      |FROM g""".stripMargin

  /** Embedding-cosine near-dup over `(vec_id, label, embedding)`, blocked
    * on `label`. Oracle uses the same sequential-double cosine formula as
    * CosineSimilarity. */
  def embeddingNearDup(em: DataFrame,
      threshold: Double = CosineThreshold): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val a = em.select(col("label"), col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = em.select(col("label").as("label2"), col("vec_id").as("v2"), col("embedding").as("e2"))
    a.join(b, col("label") === col("label2") && col("v1") < col("v2"))
      .withColumn("cos", expr("cosine_sim(e1, e2)"))
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), round(col("cos"), 4).as("cos"))
      .orderBy("v1", "v2")
  }
  /** Similarity threshold for "near-dup" embedding pairs. The synthetic
    * corpus tops out at ~0.47 same-label cosine, so 0.4 both exercises the
    * operator and sits >1e-4 from every pair (no float-boundary hazard). */
  private val CosineThreshold = 0.4

  /** Label-free embedding near-dup: blocks on an axis-aligned sign bucket
    * (the sign bits of the first [[SignPlanes]] components — hyperplane LSH
    * with the coordinate axes as planes), then exact-cosine-verifies
    * within-bucket pairs. This is the variant a real corpus without a
    * cluster surrogate column runs at 100 TB: the bucket is a narrow map,
    * the self-join is per-bucket, and only candidates are scored.
    * Approximate BY DESIGN (cross-bucket pairs are unseen) — but the
    * blocking rule is deterministic and engine-reproducible, so the oracle
    * mirrors it exactly and the output is hash-checkable, unlike a
    * seeded-random-plane variant. */
  def embeddingNearDupLsh(em: DataFrame,
      threshold: Double = CosineThreshold): DataFrame = {
    GraftFunctions.register(em.sparkSession)
    val bucket = (0 until SignPlanes).map(j =>
      when(element_at(col("embedding"), j + 1) >= 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)
    val b = em.withColumn("bucket", bucket)
    val x = b.select(col("bucket").as("ba"), col("vec_id").as("v1"), col("embedding").as("e1"))
    val y = b.select(col("bucket").as("bb"), col("vec_id").as("v2"), col("embedding").as("e2"))
    x.join(y, col("ba") === col("bb") && col("v1") < col("v2"))
      .withColumn("cos", expr("cosine_sim(e1, e2)"))
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), round(col("cos"), 4).as("cos"))
      .orderBy("v1", "v2")
  }
  private val SignPlanes = 6

  /** Exact per-partition STAR contraction of an undirected edge list —
    * the filtering pre-pass of semi-external connected-components
    * algorithms, with the output shaped for fast min-label
    * convergence: each partition runs a local union–find (union by
    * MIN, so every set's root is its minimum node) and emits one star
    * edge `(root, v)` per non-root node it touched. Connectivity is
    * preserved exactly under any partitioning — `v` and `root` are
    * connected within the partition's own subgraph, and every input
    * edge's endpoints share a root, so the union of the partition
    * stars has the same components as the input. Two wins over
    * emitting the raw spanning edges: (a) volume — ≤ |nodes touched
    * per partition| − 1 rows however dense the input (a q138 ε-blob's
    * quadratic pair set collapses to node count); (b) DIAMETER — each
    * partition-component becomes a depth-1 star centered on its local
    * minimum, so the fixpoint's rounds scale with cross-partition
    * hops, not component diameter (raw forest trees at 20× stress
    * exceeded maxIters). Emitted edges are derived, not input rows —
    * sound because CC consumes edges only for connectivity. Memory
    * per task: one long→long map over the partition's endpoints. */
  private[graft] def spanningForest(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col("d1").cast("long"), col("d2").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]
        val nodes = new java.util.HashSet[java.lang.Long]
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) {
            val gp = parent.getOrDefault(p.longValue, p)
            parent.put(x, gp)
            x = p
            p = gp
          }
          x
        }
        it.foreach { case (a, b) =>
          nodes.add(a)
          nodes.add(b)
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        nodes.forEach { v =>
          val r = find(v)
          if (r != v) out += ((r, v)) // root is the set MIN: d1 < d2
        }
        out.iterator
      }
      .toDF("d1", "d2")
  }

  /** Connected components over an undirected pair graph `(d1, d2)` →
    * one row per member node with its component's minimum id as `keeper`,
    * via iterative min-label propagation. Rounds needed = component
    * diameter (≤3 for real dup clusters; `maxIters` bounds pathological
    * chains).
    *
    * Iteration hygiene (the part that must survive deep components): each
    * round is ONE join + ONE aggregation, materialized through an eager
    * `localCheckpoint()` — plan depth stays O(1) instead of growing by two
    * joins per round, and superseded label levels are explicitly
    * unpersisted, so memory is bounded by two label tables regardless of
    * iteration count. Convergence is read with ZERO extra jobs: a
    * `LongAccumulator` counts changed labels inside an identity
    * `mapPartitions` wrapper executed BY the eager `localCheckpoint`'s own
    * materializing pass, so each round is exactly one job. Task retries
    * can only over-count the accumulator, never under-count a genuinely
    * changed label to zero — so a spurious retry delays convergence
    * detection by one (free) round at worst and can never declare a
    * still-moving graph converged.
    *
    * If the graph has NOT converged after `maxIters` rounds the call
    * FAILS (IllegalStateException) rather than returning truncated
    * labels: a label table that silently stopped propagating would flow
    * into [[dedupKeeper]]/[[dedupCorpus]] and drop the wrong documents
    * with no signal — at 100 TB a boilerplate clique bridged by
    * near-threshold pairs can exceed any fixed diameter bound. Callers
    * that expect deep chains should raise `maxIters` (cost is linear in
    * rounds, plan depth stays O(1)); the failure message says how.
    *
    * Edge-volume hygiene (the 100× lesson): the fixpoint's input is
    * first reduced to a per-partition SPANNING FOREST
    * ([[spanningForest]]) — exact (a spanning forest of each
    * partition's subgraph preserves global connectivity: an original
    * edge inside one partition connects nodes its partition forest
    * already connects), and it caps what the rounds carry at
    * ~|nodes touched| edges per partition instead of |pairs|. On a
    * dense ε-graph (q138 at 100×: quasi-cliques where a constant
    * fraction of within-cluster pairs pass the threshold) the edge
    * table drops orders of magnitude, and with it the per-round join
    * shuffle and the checkpoint that previously spilled past the disk
    * budget. Sparse graphs pass through at original size for one
    * cheap streaming pass. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 15): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // Track exactly the RDD blocks each localCheckpoint pins so superseded
    // levels can be dropped deterministically (public-API alternative to
    // reaching into LogicalRDD internals). The diff is restricted to
    // locally-checkpointed RDDs so a concurrent job's plain persist() can
    // never be swept; two connectedComponents runs racing in one session
    // could still cross-sweep each other — run them sequentially.
    def checkpointed(df: DataFrame): (DataFrame, Set[Int]) = {
      def ckptIds = sc.getPersistentRDDs
        .collect { case (id, r) if r.isCheckpointed => id }.toSet
      val before = ckptIds
      val out = df.localCheckpoint() // eager: materializes the round
      (out, ckptIds -- before)
    }
    def drop(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))

    // both directions from ONE evaluation of the pair subtree (a union
    // of two selects would run the upstream pair stage per branch);
    // hash-partitioned on d2 — the label-join key — ONCE here, so the
    // per-round neighbor join never moves the edge table again (the
    // q90/q94 chassis lesson: localCheckpoint preserves partitioning)
    // TWO contraction passes: the first collapses each partition's
    // subgraph to stars around local minima; chains then only survive
    // through nodes SHARED by different partitions' stars, so the
    // second pass — repartitioned by the child node, node-scale input —
    // merges every shared node's roots and collapses those chains too
    // (a Borůvka level each). q87's 20× ε-graph needed 13 fixpoint
    // rounds after one pass, 5 after two, against maxIters 15.
    val slim = spanningForest(spanningForest(pairs).repartition(col("d2")))
    val (edges, edgeIds) = checkpointed(
      slim.select(explode(array(
          struct(col("d1"), col("d2")),
          struct(col("d2").as("d1"), col("d1").as("d2")))).as("e"))
        .select(col("e.d1").as("d1"), col("e.d2").as("d2"))
        .repartition(col("d2")))
    // Labels init at min(id, min neighbor) — the exact output of the
    // former first round's neighbor-min arm over identity labels, for
    // the same cost as the plain distinct (one groupBy on the same
    // key): every caller's round count drops by one, and each saved
    // round is a whole checkpoint job. Still a member id (min over the
    // closed neighborhood), so min-label propagation is unchanged.
    var (labels, labelIds) = checkpointed(
      edges.groupBy(col("d1")).agg(min(col("d2")).as("_mn"))
        .select(col("d1").as("id"),
          least(col("d1"), col("_mn")).as("lab")))
    // One propagation round over the (id, lab, old_lab) state: (a) min
    // label among neighbors — one edge-scale join; (b) a POINTER JUMP
    // lab(lab) — one node-scale self-join, the Kiveris et al. (2014)
    // shortcut (lab values are member ids, so the lookup is a total
    // inner self-join). Joins are shuffle_hash-hinted with the
    // node-scale side as build: a broadcast would cost one
    // build-and-collect JOB per join per round and could never carry
    // corpus-scale labels; the edge table streams in place (its
    // d2-partitioned checkpoint) and only label-scale rows exchange.
    // Deliberately ONE pointer hop per round: in-round pointer
    // SQUARING (composing the label map with itself s times) was
    // measured on the q138 sf0.1 ε-graph and REJECTED twice over —
    // per-round changed-label counts were near-identical to single-hop
    // (the convergence bound here is local-minima absorption through
    // neighbor hops, not pointer-chain depth), and the nested
    // self-join tree sent Catalyst's sizeInBytes stats into
    // multi-megabit BigInteger products (InjectRuntimeFilter hung the
    // driver at round 6).
    def round(cur: DataFrame): DataFrame = {
      val nbr = cur.select(col("id").as("_nid"), col("lab").as("_nlab"))
      val nbrMin = edges
        .join(nbr.hint("shuffle_hash"), edges("d2") === col("_nid"))
        .groupBy(edges("d1").as("id")).agg(min(col("_nlab")).as("nbr_lab"))
      val ptr = cur.select(col("id").as("_pid"), col("lab").as("_plab"))
      cur.join(ptr.hint("shuffle_hash"), col("lab") === col("_pid"))
        .join(nbrMin.hint("shuffle_hash"), "id")
        .select(col("id"),
          least(col("lab"), col("nbr_lab"), col("_plab")).as("lab"),
          col("old_lab"))
    }
    var iter = 0
    var converged = labels.isEmpty // cheap: checkpointed local blocks
    while (iter < maxIters && !converged) {
      // ONE round per checkpoint — measured as the floor, not a
      // default: fusing round PAIRS into each checkpoint (the
      // pagerank-chassis lesson) re-executed the inner round's edge
      // join once per consumer exchange key (4.6 → 14 s at sf0.1 on
      // q138), and a lazy persist of the inner round only softened it
      // to 6.2 s (block-lock races + cache round-trip on every pair).
      // Pagerank can fuse because its chain is LINEAR; a CC round's
      // state has three consumers in the next round. The changed-label
      // count rides the checkpoint's materializing pass via an
      // accumulator bumped in an identity mapPartitions — no second
      // action per round. Task retries can only over-count, never
      // under-count to zero, so a spurious retry delays convergence
      // detection by one (free) round at worst.
      val folded = round(
        labels.select(col("id"), col("lab"), col("lab").as("old_lab")))
      val changed = sc.longAccumulator(s"ccChangedLabels_$iter")
      val countedChanges = {
        implicit val enc: org.apache.spark.sql.Encoder[
          org.apache.spark.sql.Row] =
          org.apache.spark.sql.Encoders.row(folded.schema)
        folded.mapPartitions { it =>
          it.map { r =>
            if (r.get(1) != r.get(2)) changed.add(1L)
            r
          }
        }
      }
      val (next, ids) = checkpointed(countedChanges.drop("old_lab"))
      converged = changed.value == 0L
      drop(labelIds)
      labels = next
      labelIds = ids
      iter += 1
    }
    if (!converged) {
      drop(edgeIds); drop(labelIds)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters rounds — " +
          "a component's diameter exceeds maxIters; rerun with a larger " +
          "maxIters (cost is linear in rounds) rather than consuming " +
          "truncated labels")
    }
    drop(edgeIds) // the final labels are self-contained checkpoint blocks
    labels.select(col("id").as("doc_id"), col("lab").as("keeper"))
      .orderBy("doc_id")
  }

  /** Dedup resolution: the near-dup pair graph collapsed to one canonical
    * keeper (min doc_id) per connected component. This is the operator you
    * actually run at 100 TB: emitting all O(k²) pairs of a k-way dup group
    * (what the pair queries do) is fine for auditing but quadratic in
    * group size; the keeper assignment is linear. */
  def dedupKeeper(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap, maxIters: Int = 15): DataFrame =
    connectedComponents(
      jaccardPairs(docs, k, dfCap).filter(col("jac") >= threshold)
        .select("d1", "d2"),
      maxIters)

  /** q153 — INCREMENTAL keeper maintenance: merge a new batch's near-dup
    * edges into a persisted keeper table without re-running connected
    * components over the full corpus graph — the batch analog of
    * [[graft.llm.SimilarityOps.appendToLshIndex]] on the ANN side, and
    * the missing lifecycle piece of the ingest loop (IngestDedupApp
    * ADMITS incrementally via [[admitBatch]], but a keeper refresh was a
    * full recompute until this). Standard union-find-by-contraction:
    *
    *   1. each new edge's endpoints map to their stored ROOT (the
    *      stored keeper for a corpus doc; a fresh doc is its own root)
    *      — one batch-scale hash-join against the corpus-scale stored
    *      table, the ONLY corpus-scale work in the whole operator;
    *   2. connected components run on that CONTRACTED root graph —
    *      batch-scale by construction (≤ 2·|newPairs| nodes), so the
    *      CC fixpoint that dominates a full recompute at 100 TB costs
    *      O(|batch|) here whatever the corpus size;
    *   3. the stored table updates by one keeper→newKeeper map join
    *      (affected roots only), and batch docs land with their merged
    *      keeper (or themselves when unpaired).
    *
    * Correct because contracting edges inside already-resolved
    * components preserves the component structure, and keeper = min id
    * survives contraction: every stored root IS the minimum of its
    * members, so the min over merged roots ∪ fresh ids is the true
    * minimum of the merged component — incremental ≡ full recompute,
    * asserted cross-engine by the q153 oracle (full recursive CC over
    * corpus-pairs ∪ incremental-pairs) and in LlmOpsSpec on a
    * corpus ∪ batch fixture.
    *
    * `stored` must hold (doc_id, keeper) for every corpus doc (keeper =
    * itself when unpaired — [[dedupKeeper]] output left-joined back to
    * the corpus, the q23_dedup_keeper registry shape); `newPairs` are
    * the [[incrementalNearDup]] edges (new–new and new–old); `batchIds`
    * the admitted batch's doc ids. */
  def mergeKeepers(stored: DataFrame, newPairs: DataFrame,
      batchIds: DataFrame, maxIters: Int = 15): DataFrame = {
    val roots = stored.select(col("doc_id"), col("keeper"))
    // contract: endpoints → stored roots (fresh endpoints stay themselves)
    val contracted = newPairs.select(col("d1"), col("d2"))
      .join(roots.select(col("doc_id").as("d1"), col("keeper").as("_r1")),
        Seq("d1"), "left")
      .join(roots.select(col("doc_id").as("d2"), col("keeper").as("_r2")),
        Seq("d2"), "left")
      .select(coalesce(col("_r1"), col("d1")).as("d1"),
        coalesce(col("_r2"), col("d2")).as("d2"))
      .filter(col("d1") =!= col("d2"))
    // batch-scale CC over the contracted graph: (old root | fresh id) →
    // merged keeper. Root ids never collide with fresh ids (roots are
    // corpus doc ids, the batch is id-disjoint by admission contract).
    val rootMap = connectedComponents(contracted, maxIters)
    val updatedStored = stored
      .join(rootMap.select(col("doc_id").as("keeper"),
        col("keeper").as("_nk")).withColumnRenamed("_nk", "new_k"),
        Seq("keeper"), "left")
      .select(col("doc_id"),
        coalesce(col("new_k"), col("keeper")).as("keeper"))
    val newRows = batchIds.select(col("doc_id"))
      .join(rootMap.withColumnRenamed("keeper", "new_k"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_k"), col("doc_id")).as("keeper"))
    updatedStored.unionByName(newRows).orderBy("doc_id")
  }

  /** q164 — takedown against the KEEPER table: remove a document set
    * from persisted dedup state and re-elect keepers for the clusters
    * it orphans (TakedownOps handles the INDEX stores; this is the
    * derived-model half — a cluster whose keeper is taken down must
    * not keep routing its members to a deleted doc_id).
    *
    * Semantics — membership is MONOTONE: the keeper table stores
    * component MEMBERSHIP, not the pair graph, so removing a bridge
    * doc does not split its component (the exact re-split needs the
    * edges — that's a [[dedupKeeper]] recompute; same conservative
    * direction as [[admitBatch]]'s near-dups-of-near-dups). Within a
    * surviving component the new keeper is the minimum surviving
    * doc_id — which IS the old keeper whenever the old keeper
    * survives, so untouched clusters are provably unchanged and the
    * work can be bounded to AFFECTED components only:
    *
    *   1. affected roots = keepers of the taken-down rows (one
    *      broadcast semi-join; metadata-scale when takedowns are);
    *   2. rows of unaffected components pass through untouched (one
    *      broadcast anti-join — scan, no shuffle);
    *   3. only affected-component survivors re-elect (a groupBy over
    *      the affected minority).
    *
    * `stored` must cover every corpus doc (keeper = itself when
    * unpaired, the q153 contract); output = the live keeper table. */
  def takedownKeepers(stored: DataFrame, ids: DataFrame): DataFrame = {
    val take = broadcast(ids.select(col("doc_id")).distinct())
    val affRoots = broadcast(
      stored.join(take, Seq("doc_id"), "left_semi")
        .select(col("keeper")).distinct())
    val untouched = stored.join(affRoots, Seq("keeper"), "left_anti")
    val survivors = stored.join(affRoots, Seq("keeper"), "left_semi")
      .join(take, Seq("doc_id"), "left_anti")
    val re = survivors.groupBy(col("keeper"))
      .agg(min(col("doc_id")).as("_nk"))
    survivors.join(re, Seq("keeper"))
      .select(col("doc_id"), col("_nk").as("keeper"))
      .unionByName(untouched.select(col("doc_id"), col("keeper")))
      .orderBy(col("doc_id"))
  }

  /** q164 registry form: the stored table a prior [[dedupKeeper]] run
    * left (every doc covered, keeper = self when unpaired), taken down
    * by source — the same id set TakedownOps.takedownAudit (q162)
    * dry-runs, so the two entries are the plan and the model half of
    * one compliance action. */
  def keeperTakedownInSession(docs: DataFrame, source: String,
      threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    // cached + eagerly materialized (the entry is CcEager already — the
    // CC fixpoint inside dedupKeeper runs construction jobs regardless):
    // takedownKeepers evaluates `stored` FOUR times (the affRoots
    // broadcast build, the untouched anti-join, and the survivors arm
    // twice — once under the re-election aggregate, once in its final
    // join), and the first three race a cold cache inside one job;
    // the count turns 4 corpus-scan+label-join passes into 1 + 3 reads
    val stored = graft.core.CacheOnce.swap("keeper-takedown-stored",
      docs.select(col("doc_id"))
        .join(dedupKeeper(docs, threshold, k, dfCap), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("keeper"), col("doc_id")).as("keeper")))
    stored.count()
    takedownKeepers(stored,
      docs.filter(col("source") === lit(source)).select(col("doc_id")))
  }

  /** q164 oracle: full recursive-CTE CC over the corpus pair graph
    * (caps over the FULL corpus — the stored table's provenance),
    * keeper = self when unpaired, then the same remove + min-survivor
    * re-election in SQL. */
  lazy val keeperTakedownSql: String =
    s"""WITH RECURSIVE ${pairsCte(capped = true)},
       |np AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS keeper
       |  FROM reach GROUP BY src),
       |stored AS (SELECT d.doc_id, coalesce(k.keeper, d.doc_id) AS keeper
       |  FROM documents d LEFT JOIN cc k ON k.doc_id = d.doc_id),
       |take AS (SELECT doc_id FROM documents
       |  WHERE source = '${TakedownOps.TakedownSource}'),
       |live AS (SELECT s.doc_id, s.keeper FROM stored s
       |  LEFT JOIN take t ON t.doc_id = s.doc_id WHERE t.doc_id IS NULL),
       |re AS (SELECT keeper, min(doc_id) AS nk FROM live GROUP BY 1)
       |SELECT l.doc_id, r.nk AS keeper FROM live l
       |JOIN re r ON r.keeper = l.keeper ORDER BY doc_id""".stripMargin

  /** q153 oracle: the full-recompute ground truth — recursive CC over
    * corpus-pairs (df caps computed over the CORPUS alone, mirroring the
    * stored table's original [[jaccardPairs]] run) unioned with the
    * incremental pairs (caps over corpus ∪ batch, mirroring
    * [[incrementalNearDup]]), left-joined back to every document. */
  // lazy: interpolates IncrSplitSql, declared further down the object —
  // a strict val here reads null at object-init order
  lazy val mergeKeepersSql: String =
    s"""WITH RECURSIVE ${indexCte(capped = true)},
       |cfreq AS (SELECT sh, count(*) AS df FROM sh
       |  WHERE doc_id < $IncrSplitSql GROUP BY sh),
       |csizes AS (SELECT s.doc_id, count(*) AS n FROM sh s
       |  JOIN cfreq f ON f.sh = s.sh
       |  WHERE s.doc_id < $IncrSplitSql AND f.df <= $DefaultDfCap
       |  GROUP BY s.doc_id),
       |cshc AS (SELECT s.doc_id, s.sh FROM sh s JOIN cfreq f ON f.sh = s.sh
       |  WHERE s.doc_id < $IncrSplitSql
       |    AND f.df BETWEEN 2 AND $DefaultDfCap),
       |ccand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM cshc a JOIN cshc b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cpairs AS (SELECT d1, d2 FROM ccand
       |  JOIN csizes s1 ON s1.doc_id = d1 JOIN csizes s2 ON s2.doc_id = d2
       |  WHERE inter / (s1.n + s2.n - inter) >= $JaccardThreshold),
       |shn AS (SELECT doc_id, sh FROM shc WHERE doc_id >= $IncrSplitSql),
       |icand AS (
       |  SELECT least(a.doc_id, b.doc_id) AS d1,
       |    greatest(a.doc_id, b.doc_id) AS d2, count(*) AS inter
       |  FROM shc a JOIN shn b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |    AND (a.doc_id < $IncrSplitSql OR a.doc_id < b.doc_id)
       |  GROUP BY 1, 2),
       |ipairs AS (SELECT d1, d2 FROM icand
       |  JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE inter / (s1.n + s2.n - inter) >= $JaccardThreshold),
       |np AS (SELECT d1, d2 FROM cpairs UNION SELECT d1, d2 FROM ipairs),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |k AS (SELECT src AS doc_id, least(src, min(dst)) AS keeper
       |  FROM reach GROUP BY src)
       |SELECT d.doc_id, COALESCE(k.keeper, d.doc_id) AS keeper
       |FROM documents d LEFT JOIN k ON k.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The user-facing end of the dedup pipeline: the corpus with every
    * non-keeper member of a near-dup component removed (keep-min-id), i.e.
    * scan → shared pair stage → connected components → anti join. The anti
    * join is on the (tiny) non-keeper id set — the corpus itself streams
    * through unshuffled. */
  def dedupCorpus(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap, maxIters: Int = 15): DataFrame = {
    val dropIds = dedupKeeper(docs, threshold, k, dfCap, maxIters)
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id")
    // all input columns pass through untouched — the library contract
    docs.join(dropIds, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }
  val dedupCorpusSql: String =
    s"""WITH RECURSIVE ${pairsCte(capped = true)},
       |np AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS keeper
       |  FROM reach GROUP BY src)
       |SELECT * FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> keeper)
       |ORDER BY doc_id""".stripMargin

  /** q151 — dedup-adjusted token supply per language: raw vs
    * post-keeper UNIQUE token counts and the retention share — the
    * number q140's epoch planner should budget against (raw supply
    * overcounts every near-dup clique by its size; on a crawl-heavy
    * corpus the gap is the difference between "4 epochs is fine" and
    * silently training 12 epochs on the deduplicated core —
    * Muennighoff '23's repetition ceiling applies to UNIQUE tokens).
    * Composes the q23 keeper fixpoint with q25d counting; one row per
    * language.
    *
    * Scale shape: the keeper CC rides the shared df-capped pair stage
    * (iterative-by-design, eager checkpoint rounds); both token counts
    * are map-side-combined |langs|-cell aggregates; the final join is
    * |langs| rows. */
  def effectiveTokens(docs: DataFrame,
      threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    val nT = size(Text.tokens(col("text"))).cast("long")
    val raw = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(nT).as("raw_tokens"))
    val uq = dedupCorpus(docs, threshold, k, dfCap)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("kept_docs"), sum(nT).as("unique_tokens"))
    raw.join(uq, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        col("raw_tokens"),
        coalesce(col("unique_tokens"), lit(0L)).as("unique_tokens"),
        round(coalesce(col("unique_tokens"), lit(0L)) /
          col("raw_tokens") + lit(1e-9), 4).as("retention"))
      .orderBy("lang")
  }
  val effectiveTokensSql: String =
    s"""WITH RECURSIVE ${pairsCte(capped = true)},
       |np AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS keeper
       |  FROM reach GROUP BY src),
       |raw AS (SELECT lang, count(*) AS n_docs,
       |    CAST(sum(len(${Text.tokensSql("text")})) AS BIGINT)
       |      AS raw_tokens
       |  FROM documents GROUP BY lang),
       |uq AS (SELECT lang, count(*) AS kept_docs,
       |    CAST(sum(len(${Text.tokensSql("text")})) AS BIGINT)
       |      AS unique_tokens
       |  FROM documents
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> keeper)
       |  GROUP BY lang)
       |SELECT raw.lang, n_docs,
       |  coalesce(kept_docs, 0) AS kept_docs, raw_tokens,
       |  coalesce(unique_tokens, 0) AS unique_tokens,
       |  round(coalesce(unique_tokens, 0) / CAST(raw_tokens AS DOUBLE)
       |    + 1e-9, 4) AS retention
       |FROM raw LEFT JOIN uq ON uq.lang = raw.lang
       |ORDER BY raw.lang""".stripMargin

  /** q152 — shingle document-frequency histogram: the dfCap tuning
    * audit, completing the knob-measurement family (q119 measures the
    * Jaccard THRESHOLD against the observed pair-similarity histogram,
    * q134 the LSH BAND config; this measures what the inverted-index
    * df CAP keeps and drops). Per power-of-two df band: distinct
    * shingle count, posting mass (index size), candidate-pair mass
    * Σ C(df,2) (the quadratic cost the cap exists to bound), and how
    * many shingles the current cap excludes. A corpus whose top band
    * carries most pair mass in capped shingles is boilerplate-dominated
    * — the cap is earning its keep; near-zero capped mass says the cap
    * is dead weight.
    *
    * Audits on shingle STRINGS (the oracle's domain) rather than the
    * production path's 64-bit hashes: a hash collision would silently
    * merge two bands here, where in the pair stage it only ever adds a
    * candidate that exact verification discards.
    *
    * Scale shape: one shingle-explode pass into a vocabulary-bounded
    * (shingle → df) aggregate — map-side combined, the same state
    * class as q143 — collapsed to a ≤ log₂(N)-row histogram. */
  def shingleDfHistogram(docs: DataFrame, k: Int = K,
      dfCap: Int = DefaultDfCap): DataFrame = {
    val toks = Text.tokens(col("text"))
    val dfs = Tables.fanout(docs)
      .select(explode(Text.shingles(toks, k)).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    dfs.groupBy(floor(log2(col("df")) + lit(1e-9)).cast("long").as("lg"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("postings"),
        sum(expr("df * (df - 1) div 2")).as("pair_mass"),
        sum((col("df") > dfCap).cast("long")).as("n_capped"))
      .orderBy("lg")
  }
  def shingleDfHistogramSql(k: Int = K,
      dfCap: Int = DefaultDfCap): String = {
    val toks = Text.tokensSql("text")
    s"""WITH tok AS (SELECT doc_id, $toks AS ts FROM documents),
       |shd AS (SELECT unnest(${Text.shinglesSql("ts", k)}) AS sh
       |  FROM tok),
       |d AS (SELECT sh, count(*) AS df FROM shd GROUP BY sh)
       |SELECT CAST(floor(log2(df) + 1e-9) AS BIGINT) AS lg,
       |  count(*) AS n_shingles,
       |  CAST(sum(df) AS BIGINT) AS postings,
       |  CAST(sum(df * (df - 1) // 2) AS BIGINT) AS pair_mass,
       |  CAST(sum(CASE WHEN df > $dfCap THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_capped
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q126 — quality-aware keeper selection: within each near-dup
    * component, the HIGHEST-quality member (the q25e heuristic score;
    * min doc_id breaks rounded-score ties) — the keeper policy a real
    * curation run wants once quality scores exist, where keep-min-id is
    * an arbitrary-but-deterministic placeholder (Lee et al. 2022 keep
    * one-per-cluster, leaving the representative choice open; quality-
    * argmax is the standard refinement). Output per component (labeled
    * by the CC min-id, so the two policies are directly comparable):
    * the kept doc, its quality, the member count, and whether the
    * quality policy CHANGED the choice vs keep-min-id — the migration
    * audit for switching policies on a live corpus.
    *
    * Scale shape: rides the shared pair stage + CC unchanged; the
    * quality join is a slim (doc_id, quality) frame against the
    * node-scale component table, and the argmax is a window over
    * component partitions (components are small by construction — the
    * dfCap bounds clique size). */
  def qualityKeeper(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap, maxIters: Int = 15)
      : DataFrame = {
    val cc = dedupKeeper(docs, threshold, k, dfCap, maxIters)
      .select(col("doc_id"), col("keeper").as("component"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id"))
    cc.join(graft.llm.TextOps.qualityScore(docs), "doc_id")
      .select(col("component"), col("doc_id"), col("quality"),
        row_number().over(w).as("_rn"),
        count(lit(1)).over(Window.partitionBy(col("component")))
          .as("n_members"))
      .filter(col("_rn") === 1)
      .select(col("component"), col("doc_id").as("kept_doc"),
        col("quality"), col("n_members"),
        (col("doc_id") =!= col("component")).cast("int")
          .as("policy_changed"))
      .orderBy("component")
  }
  /** q168 — cluster-capped sampling: keep the top `cap` docs per
    * near-dup component ranked by the q25 quality score (ties by
    * doc_id) — the middle ground between "keep everything" and the
    * keeper's keep-1 (q126): curation runs sometimes keep bounded
    * near-dup redundancy deliberately, since exact-once dedup can
    * over-prune templated-but-distinct families (the FineWeb ablation
    * family of choices). Unpaired docs are their own singleton
    * component (always kept, rank 1), so the output is a complete
    * keep-decision table: (component, doc_id, quality, rank,
    * n_members) for every kept doc.
    *
    * Scale shape: rides the SAME shared pair stage + CC as the q23
    * keeper family; the per-component rank is WindowGroupLimit-
    * prunable (cap rows per component survive the map side). */
  def clusterCapSample(docs: DataFrame, cap: Int = 2,
      threshold: Double = JaccardThreshold, k: Int = K,
      dfCap: Int = DefaultDfCap, maxIters: Int = 15): DataFrame =
    clusterCapSampleWith(docs,
      dedupKeeper(docs, threshold, k, dfCap, maxIters), cap)

  /** The q168 cap-window ARM under a precomputed (possibly STORED)
    * keeper table — the q164 pattern: the expensive CC fixture builds
    * once and persists; the arm itself is one quality scan plus two
    * component-keyed windows, measured alone (BASELINE §x) and
    * servable on its own. */
  def clusterCapSampleWith(docs: DataFrame, keepers: DataFrame,
      cap: Int = 2): DataFrame = {
    val cc = keepers.select(col("doc_id"), col("keeper").as("component"))
    val full = docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id"))
    full.join(graft.llm.TextOps.qualityScore(docs), "doc_id")
      .select(col("component"), col("doc_id"), col("quality"),
        row_number().over(w).as("rank"),
        count(lit(1)).over(Window.partitionBy(col("component")))
          .as("n_members"))
      .filter(col("rank") <= cap)
      .select(col("component"), col("doc_id"), col("quality"),
        col("rank").cast("long").as("rank"), col("n_members"))
      .orderBy(col("component"), col("rank"))
  }

  def clusterCapSampleSql(cap: Int = 2): String =
    s"""WITH RECURSIVE ${pairsCte(capped = true)},
       |np AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src),
       |ccfull AS (SELECT d.doc_id,
       |    coalesce(cc.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
       |qual AS (SELECT * FROM (${graft.llm.TextOps.qualityScoreSql})),
       |ranked AS (
       |  SELECT f.component, f.doc_id, q.quality,
       |    row_number() OVER (PARTITION BY f.component
       |      ORDER BY q.quality DESC, f.doc_id) AS rank,
       |    count(*) OVER (PARTITION BY f.component) AS n_members
       |  FROM ccfull f JOIN qual q ON q.doc_id = f.doc_id)
       |SELECT component, doc_id, quality, CAST(rank AS BIGINT) AS rank,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM ranked WHERE rank <= $cap ORDER BY component, rank""".stripMargin

  def qualityKeeperSql: String =
    s"""WITH RECURSIVE ${pairsCte(capped = true)},
       |np AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src),
       |qual AS (SELECT * FROM (${graft.llm.TextOps.qualityScoreSql})),
       |ranked AS (
       |  SELECT cc.component, cc.doc_id, q.quality,
       |    row_number() OVER (PARTITION BY cc.component
       |      ORDER BY q.quality DESC, cc.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY cc.component) AS n_members
       |  FROM cc JOIN qual q ON q.doc_id = cc.doc_id)
       |SELECT component, doc_id AS kept_doc, quality,
       |  CAST(n_members AS BIGINT) AS n_members,
       |  CAST(doc_id <> component AS INT) AS policy_changed
       |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin

  /** Dedup-run audit — the numbers a pipeline operator reads after a
    * near-dup pass before trusting its output: corpus size, how many docs
    * landed in a duplicate component, how many components (= kept docs
    * among them), how many docs dedup removes, the largest component
    * (template-cluster detector: a max_cluster in the thousands means a
    * boilerplate family, not real duplication), and the bytes removed.
    * ONE row out; reuses [[dedupKeeper]]'s components, so the pair stage
    * and CC run once and the audit itself is three scalar aggregates
    * combined in-plan (broadcast one-row frames, q17 pattern — no driver
    * action). */
  def dedupClusterStats(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap, maxIters: Int = 15): DataFrame = {
    val cc = dedupKeeper(docs, threshold, k, dfCap, maxIters)
    val cl = cc.groupBy(col("keeper")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_clusters"),
        coalesce(sum(col("sz")), lit(0L)).as("n_clustered"),
        coalesce(max(col("sz")), lit(0L)).as("max_cluster"))
    val dropped = cc.filter(col("doc_id") =!= col("keeper"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .agg(count(lit(1)).as("n_removed"),
        coalesce(sum(col("n_chars")), lit(0L)).as("chars_removed"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(cl)).crossJoin(broadcast(dropped))
      .select(col("n_docs"), col("n_clustered"), col("n_clusters"),
        col("n_removed"), col("max_cluster"), col("chars_removed"))
  }
  val dedupClusterStatsSql: String =
    s"""WITH RECURSIVE ${pairsCte(capped = true)},
       |np AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS keeper
       |  FROM reach GROUP BY src),
       |cl AS (SELECT keeper, count(*) AS sz FROM cc GROUP BY keeper),
       |dr AS (SELECT c.doc_id, d.n_chars FROM cc c
       |  JOIN documents d ON d.doc_id = c.doc_id WHERE c.doc_id <> c.keeper)
       |SELECT (SELECT count(*) FROM documents) AS n_docs,
       |  (SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) FROM cl) AS n_clustered,
       |  (SELECT count(*) FROM cl) AS n_clusters,
       |  (SELECT count(*) FROM dr) AS n_removed,
       |  (SELECT CAST(coalesce(max(sz), 0) AS BIGINT) FROM cl) AS max_cluster,
       |  (SELECT CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM dr)
       |    AS chars_removed""".stripMargin

  /** q66 — near-dup graph degree distribution: how many documents have 1,
    * 2, … near-duplicate neighbors under the thresholded pair graph. The
    * shape diagnostic a dedup audit reads beside [[dedupClusterStats]]:
    * organic duplication is a long-tailed degree-1/2 histogram; a fat
    * high-degree head means template families (and predicts CC component
    * growth — q55's max_cluster — before running CC at all). Rides the
    * shared pair stage; the histogram itself is two metadata-scale
    * aggregations over the pair list. */
  def dupGraphDegrees(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap): DataFrame = {
    val np = ngramJaccard(docs, threshold, k, dfCap)
    // one evaluation of the pair subtree: explode both endpoints from
    // each pair row instead of a union of two selects (which would run
    // the shared pair stage once per branch)
    np.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }
  val dupGraphDegreesSql: String =
    s"""WITH ${pairsCte(capped = true)},
       |np AS (SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |deg AS (SELECT doc_id, count(*) AS degree FROM (
       |    SELECT d1 AS doc_id FROM np
       |    UNION ALL SELECT d2 FROM np) GROUP BY doc_id)
       |SELECT degree, count(*) AS n_docs FROM deg
       |GROUP BY degree ORDER BY degree""".stripMargin

  /** PageRank over an undirected pair graph (Page et al. '99 tech
    * report), fixed-iteration power method: `iters` rounds of
    * pr' = (1−d)/N + d·(Σ_{src→dst} pr(src)/outdeg(src) + dangling/N),
    * where dangling mass is the rank held by isolated nodes (on a dup
    * graph that's most of the corpus) redistributed uniformly — total
    * rank stays 1 every round, so scores are comparable across corpora.
    *
    * Iteration hygiene mirrors [[connectedComponents]]: the edge table
    * is checkpointed ONCE; each round is one edge-join + one
    * dst-aggregation materialized through an eager `localCheckpoint()`,
    * so plan depth stays O(1) and the previous round is read from a
    * materialized table instead of re-deriving the whole chain (which
    * would otherwise double work per round — a 2^iters blowup).
    *
    * The rank STATE carries only CONNECTED nodes. On an undirected
    * graph dangling ≡ isolated, every isolated node holds the identical
    * uniform-only rank, and that scalar follows a closed driver-side
    * recurrence (dm_0 = |D|/N, dm_{i+1} = |D|·((1−d)/N + d·dm_i/N)) —
    * so isolated nodes never enter the iteration at all: no per-round
    * nodeT left-join to re-seed them (the r13 shape's second landing
    * input), no per-round dangling aggregation. They rejoin the output
    * via one anti-join at the final assembly, priced into the limit
    * job. Round 1 needs no rank table either: pr₀ is uniform, so
    * contrib₁(v) = (1/N)·Σ_{u→v} 1/od(u) comes straight off the edge
    * table — the pr₀ checkpoint job is gone, and every round fuses
    * into ONE rank checkpoint (each intermediate has exactly one
    * consumer). Net job floor, independent of iters: edge checkpoint
    * + one combined node/connected count (which also populates the
    * lazy node cache) + the fused rank checkpoint + the final
    * assembly = 4 (was iters+6 in r12, iters+3 in r13).
    *
    * Scale shape: per-round cost is one shuffle of the edge table keyed
    * by src plus a connected-node-scale aggregate — rank state is
    * ≤|V| rows, never |E|², and the fixed iteration count makes the
    * total cost iters × O(|E|). Fixed iterations (not
    * convergence-tested) keep the operator engine-reproducible: the
    * oracle unrolls the same rounds. */
  def pagerank(pairs: DataFrame, nodes: DataFrame, damping: Double = 0.85,
      iters: Int = 5, topN: Int = 20, tag: String = "pagerank"): DataFrame = {
    // Round 1 is computed inline from the edge table (there is no
    // pr_0 state to return), so the degenerate iters<=0 parameter has
    // no defined meaning in this chassis — fail loudly instead of
    // silently returning one round's ranks.
    require(iters >= 1, s"pagerank needs iters >= 1, got $iters")
    val sc = pairs.sparkSession.sparkContext
    // Release the PREVIOUS invocation's pinned state under this tag:
    // the final rank table and node cache must stay alive until the
    // caller consumes `out` (a localCheckpoint's lineage is truncated —
    // unpersisting before consumption breaks the frame, not just
    // un-caches it), so the release rides the next call, CacheOnce-
    // style, bounding the session-lifetime leak to one invocation per
    // operator tag.
    Option(pinnedByTag.remove((sc, tag))).foreach(release => release())
    def checkpointed(df: DataFrame): (DataFrame, Set[Int]) = {
      def ckptIds = sc.getPersistentRDDs
        .collect { case (id, r) if r.isCheckpointed => id }.toSet
      val before = ckptIds
      val out = df.localCheckpoint()
      (out, ckptIds -- before)
    }
    def drop(ids: Set[Int]): Unit =
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))

    // ONE prepared (src, dst, od) edge table, checkpointed once: both
    // directions explode from a single evaluation of the pair subtree
    // (a union of two selects would run the pair stage per branch), and
    // the round-invariant out-degree rides a count window over the same
    // src partitioning instead of a separate aggregate + join — one
    // landing instead of two, no degree broadcast
    val (ew, degIds) = checkpointed(
      pairs.select(explode(array(
          struct(col("d1").as("src"), col("d2").as("dst")),
          struct(col("d2").as("src"), col("d1").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .withColumn("od",
          count(lit(1)).over(Window.partitionBy(col("src")))))
    // node table cached ONCE, lazily: the `nodes` subtree can be a real
    // aggregation (q94's vocab is an explode+groupBy over the corpus),
    // and it has two consumers — the scalar counts and the final
    // isolated-node anti-join — that would otherwise each replay it
    // (measured: +50% at the 20× point when evaluated per-consumer).
    // A lazy persist (not an eager localCheckpoint) because the first
    // consumer is the very next action: the cnts job below populates
    // the cache as it scans, so the separate node-materialization JOB
    // disappears while the second consumer still reads cached data —
    // and unlike the edge table, nothing downstream needs this frame's
    // physical partitioning, the other thing a checkpoint pins.
    val nodeT = nodes.select(col("doc_id")).distinct().persist()
    // ONE metadata-scale count job covers both scalars the recurrence
    // needs: |V| (distinct nodes) and |connected| (distinct edge srcs —
    // a subset of nodes, so one countDistinct over the stacked ids plus
    // a flagged countDistinct gives both in the same aggregate).
    val cnts = nodeT.select(col("doc_id"), lit(0).as("_e"))
      .unionByName(ew.select(col("src").as("doc_id"), lit(1).as("_e")))
      .agg(countDistinct(col("doc_id")).as("n"),
        countDistinct(when(col("_e") === 1, col("doc_id"))).as("n_conn"))
      .first()
    val n = cnts.getLong(0).toDouble
    val nDang = n - cnts.getLong(1).toDouble
    var dm = nDang / n
    // `land` turns a round's contribution aggregate into the rank
    // state, summing in exactly the oracle's term shape — (1−d)/N +
    // d·(contrib + dm/N) with dm folded in per round — so the fp
    // stream matches DuckDB's unrolled CTEs digit for digit.
    def land(contrib: DataFrame, dmNow: Double): DataFrame =
      contrib.select(col("dst").as("doc_id"),
        (lit((1.0 - damping) / n) + lit(damping) *
          (col("contrib") + lit(dmNow / n))).as("pr"))
    // The rank side joins via SHUFFLE_HASH, not broadcast: the edge
    // table is already hash-partitioned on src (the od window's
    // partitioning, preserved through the checkpoint), and the rank
    // state arrives hash-partitioned on its id (the previous round's
    // groupBy(dst) landing), so the join plans with NO exchange on
    // either side — where a broadcast would cost one
    // build-and-collect JOB per round (the r13 shape's per-round
    // floor), a co-partitioned SHJ is just stages inside whichever job
    // consumes the chain. This is also the only shape that survives
    // 100 TB: a corpus-scale rank table can never broadcast. The hint
    // (not planner choice) pins the build side to the node-scale rank
    // frame; without it the fused intermediates' missing size stats
    // push the planner to shuffle the edge table per round (measured
    // task-sec doubling).
    def step(prev: DataFrame, dmNow: Double): DataFrame =
      land(prev.select(col("doc_id").as("_s"), col("pr"))
        .hint("shuffle_hash")
        .join(ew, col("src") === col("_s"))
        .groupBy(col("dst")).agg(sum(col("pr") / col("od")).as("contrib")),
        dmNow)
    def nextDm(d0: Double): Double =
      nDang * ((1.0 - damping) / n + damping * d0 / n)
    // Round 1 inline from the edge table: pr₀ is uniform, so
    // contrib₁ = Σ (1/N)/od — summed in exactly the oracle's term shape
    // (pr₀/od per edge, not Σ(1/od) rescaled) so the fp stream matches.
    // Every connected node has ≥1 in-edge (edges are stored both ways),
    // so groupBy(dst) covers exactly the connected set — the rank state
    // from here on.
    //
    // ALL rounds — round 1 included — fuse into ONE checkpoint. The
    // fusion is safe because the lineage is a single LINEAR chain:
    // each intermediate round's only consumer is the next round's
    // join (the connected-only state removed the nodeT left-join that
    // gave the r12 shape's intermediates a second consumer and made
    // fusing there double task-sec), so the whole chain executes
    // every round exactly once inside the final checkpoint job — one
    // rank-materialization job total, regardless of iters (the r14
    // shape checkpointed round 1 separately; its only consumer is
    // round 2's join, so that job was pure overhead). Each fused
    // round is the co-partitioned shuffle-hash join described at
    // step(): edge side keeps its checkpoint-preserved src
    // partitioning, rank side arrives partitioned by the previous
    // groupBy(dst) landing — no exchange on either side, no per-round
    // broadcast-build job. The shuffle_hash hint stays REQUIRED: the
    // fused intermediates carry no size stats, and without it the
    // planner re-exchanges the edge table per round (measured
    // task-sec doubling). Do NOT "fix" the hint back to broadcast —
    // that was the r13 shape's per-round job floor, and a
    // corpus-scale rank table cannot broadcast at 100 TB.
    var chain = land(
      ew.groupBy(col("dst"))
        .agg(sum(lit(1.0 / n) / col("od")).as("contrib")), dm)
    dm = nextDm(dm)
    (2 to iters).foreach { _ =>
      chain = step(chain, dm)
      dm = nextDm(dm)
    }
    // The ONE checkpoint: the final state has two consumers (the
    // isolated-node anti-join and the output union), so it must be
    // materialized — every earlier round had exactly one.
    lastRoundChain.put(tag, chain)
    val (pr, prIds) = checkpointed(chain)
    // Isolated nodes re-enter here at their closed-form scalar rank
    // (the recurrence's per-node value after `iters` rounds), via one
    // node-scale anti-join inside the final limit job.
    val rIso = if (nDang > 0) dm / nDang else 0.0
    val isolated = nodeT
      .join(pr, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(rIso).as("pr"))
    val out = pr.unionByName(isolated)
      .select(col("doc_id"), round(col("pr") + lit(1e-9), 6).as("pagerank"))
      .orderBy(col("pagerank").desc, col("doc_id")).limit(topN)
    // edges are no longer needed once `out` is consumed — but `out` is
    // still lazy here, so only the superseded structures are droppable
    // (NOT the pr checkpoint: a localCheckpoint's lineage is truncated,
    // so unpersisting it before consumption would break `out`, not just
    // un-cache it). The final pr and the nodeT cache block back `out`;
    // they stay registered under `tag` so the NEXT invocation releases
    // them (see the entry swap above).
    drop(degIds)
    pinnedByTag.put((sc, tag), () => {
      nodeT.unpersist(blocking = false)
      drop(prIds)
    })
    out
  }

  // The last invocation's fused round chain per tag, BEFORE its
  // checkpoint truncated the lineage — the checkpoint hides the
  // per-round join shape from `out`'s executed plan, so PlanSpec pins
  // the zero-exchange SHJ rounds through this window instead. Holds a
  // lazy plan only (never execute it: the edge blocks it references
  // are released when the invocation's output is consumed).
  private[graft] val lastRoundChain =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  // Release hooks for the state a pagerank invocation must keep pinned
  // until its output is consumed, keyed per operator tag — the
  // entry-time swap in [[pagerank]] runs the previous invocation's
  // hook, so repeated Verify/Stress runs hold at most one invocation's
  // state per tag.
  private val pinnedByTag = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String), () => Unit]()

  /** q90 registry entry: PageRank over the thresholded near-dup graph —
    * ranks the hub documents of template/boilerplate families (the docs
    * whose removal breaks the most near-dup mass; review THESE before
    * bulk-dropping a cluster). Rides the shared pair stage.
    *
    * Default rounds = [[DupPagerankIters]] (3), measured, not guessed:
    * BASELINE §r at sf0.01/sf0.1 against an 8-round reference shows the
    * top-20 hub SET AND ORDER invariant from round 1 on this graph
    * (hub rank tracks degree, which one round already prices), with
    * the score residual shrinking geometrically — max |Δpr| at 3
    * rounds 2.2e-3 (sf0.01) / 3.0e-4 (sf0.1), well inside the 6-dp
    * reporting grain's decision margin. Corpora whose hub ordering is
    * genuinely contested should raise `iters`; the oracle CTE unroll
    * follows the same parameter. */
  def dupPagerank(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap,
      iters: Int = DupPagerankIters): DataFrame =
    pagerank(
      jaccardPairs(docs, k, dfCap).filter(col("jac") >= threshold)
        .select("d1", "d2"),
      docs.select(col("doc_id")), iters = iters, tag = "q90_pagerank")

  /** Shared q90 default round count — the Spark operator and the SQL
    * twin MUST unroll the same number of rounds (see dupPagerank doc). */
  val DupPagerankIters = 3

  /** Oracle: the same fixed rounds unrolled as materialized CTEs (each
    * pr_i is read twice — dangling scalar + contribution join — so
    * materialization mirrors the Spark checkpoint, not just taste). */
  def dupPagerankSql(damping: Double = 0.85, iters: Int = DupPagerankIters,
      topN: Int = 20): String = {
    val head =
      s"""WITH ${pairsCte(capped = true)},
         |jp AS (SELECT d1, d2 FROM pairs
         |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
         |edges AS MATERIALIZED (
         |  SELECT d1 AS src, d2 AS dst FROM jp
         |  UNION ALL SELECT d2, d1 FROM jp),
         |deg AS MATERIALIZED (
         |  SELECT src, count(*) AS od FROM edges GROUP BY src),
         |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM documents),
         |nn AS (SELECT count(*) AS cnt FROM nodes),
         |pr0 AS MATERIALIZED (
         |  SELECT doc_id, 1.0 / (SELECT cnt FROM nn) AS pr FROM nodes)"""
        .stripMargin
    s"""$head,
       |${pagerankRoundsSql(damping, iters)}
       |SELECT doc_id, round(pr + 1e-9, 6) AS pagerank FROM pr$iters
       |ORDER BY pagerank DESC, doc_id LIMIT $topN""".stripMargin
  }

  /** The unrolled power-method CTE chain shared by every PageRank oracle
    * (q90 dup graph, q94 TextRank): assumes CTEs `edges(src, dst)`,
    * `deg(src, od)`, `nodes(doc_id)`, `nn(cnt)`, `pr0(doc_id, pr)` are
    * already defined; emits dang1/pr1 … dang_iters/pr_iters. */
  private[graft] def pagerankRoundsSql(damping: Double,
      iters: Int): String =
    (1 to iters).map { i =>
      val p = s"pr${i - 1}"
      s"""dang$i AS (SELECT coalesce(sum(p.pr), 0) AS dm FROM $p p
         |  LEFT JOIN deg d ON d.src = p.doc_id WHERE d.src IS NULL),
         |pr$i AS MATERIALIZED (SELECT nd.doc_id,
         |    ${1.0 - damping} / (SELECT cnt FROM nn) + $damping *
         |      (coalesce(c.contrib, 0) + (SELECT dm FROM dang$i)
         |        / (SELECT cnt FROM nn)) AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS doc_id, sum(p.pr / d.od) AS contrib
         |    FROM $p p JOIN edges e ON e.src = p.doc_id
         |    JOIN deg d ON d.src = p.doc_id GROUP BY e.dst) c
         |  ON c.doc_id = nd.doc_id)""".stripMargin
    }.mkString(",\n")

  /** q96 — triangle census of the near-dup graph: node/edge counts,
    * wedges (length-2 paths, Σ C(deg,2)), triangles, and the global
    * clustering coefficient 3·T/W. The structural complement to q66
    * degrees and q90 PageRank: a dup graph whose triangles are dense
    * relative to its wedges is template FAMILIES (every member similar to
    * every other — safe to keep one and drop the rest); a wedge-heavy,
    * triangle-poor graph is chain duplication (A~B~C but A≁C — pairwise
    * thresholds transitively applied would over-delete). ONE row out.
    *
    * Scale shape: edges ride the shared df-capped pair stage. Triangles
    * are counted on a DEGREE-ORDERED ORIENTATION (Ortmann & Brandes '14 /
    * the classic compact-forward scheme): each undirected edge is
    * directed from its (degree, id)-smaller endpoint, which makes the
    * orientation acyclic with max out-degree O(√|E|) on any graph, so the
    * wedge join materializes O(|E|^1.5) candidate rows worst-case instead
    * of Σ deg² (a single boilerplate hub of degree d would otherwise
    * put C(d,2) wedges on one key). Each triangle has exactly one vertex
    * with two out-edges under an acyclic orientation, so the semi-join
    * against the oriented closing edge counts it exactly once. Wedge
    * totals come from the degree table alone — no join. The oracle counts
    * the same triangles by the plain i<j<k 3-way join (id order is
    * DuckDB-friendly; both formulations count each triangle once).
    *
    * `maxDegree` is the q92-class production cap: vertices above it are
    * excluded from the census entirely (edges, wedges, AND triangles —
    * a consistent subgraph, not a mixed count), because one
    * boilerplate-family hub of degree d contributes O(d²) wedges and
    * O(d³) clique triangles no matter how the join is oriented — the
    * 100× stress fixture (every doc in a 100-way clique) measured
    * exactly that cubic blowup. Capped vertices are reported
    * (`n_capped`), never silently dropped; the default is far above any
    * organic dup degree. */
  def dupTriangles(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap,
      maxDegree: Int = 10000): DataFrame = {
    val np = jaccardPairs(docs, k, dfCap)
      .filter(col("jac") >= threshold).select("d1", "d2")
    val rawPairs = graft.core.CacheOnce.swap("dup-tri-pairs", np)
    // materialize the pair stage ONCE before the census arms fan out:
    // the hub-cap broadcast jobs launch concurrently, and each would
    // otherwise race the cold cache and recompute the full
    // shingle-scan + inverted-index join subtree
    rawPairs.count()
    val rawDeg = rawPairs.select(col("d1").as("v"))
      .unionByName(rawPairs.select(col("d2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // hub vertices are METADATA-SCALE by the operator's own premise
    // (degrees above the cap are the pathology, not the population), so
    // the hub list collects driver-side — one cheap job over the cached
    // pairs instead of two broadcast anti-join jobs, and in the common
    // no-hubs case the capped frame IS the cached raw frame (no second
    // materialized copy). A >100k hub population falls back to the
    // distributed anti-join path.
    val HubCollectCap = 100000
    val hubIds = rawDeg.filter(col("deg") > maxDegree).select(col("v"))
      .limit(HubCollectCap + 1).collect().map(_.getLong(0))
    val hubOverflow = hubIds.length > HubCollectCap
    // the census runs on the consistent sub-graph EXCLUDING hub
    // vertices: their edges leave with them, so degrees re-derive.
    // Cached: five arms below (deg, both orientation joins, the
    // triangle semi-join) share the capped frame.
    val pairs =
      if (hubIds.isEmpty) rawPairs
      else if (!hubOverflow)
        graft.core.CacheOnce.swap("dup-tri-capped", rawPairs
          .filter(!col("d1").isInCollection(hubIds)
            && !col("d2").isInCollection(hubIds)))
      else {
        val hot = rawDeg.filter(col("deg") > maxDegree).select("v")
        graft.core.CacheOnce.swap("dup-tri-capped", rawPairs
          .join(hot.withColumnRenamed("v", "d1"), Seq("d1"), "left_anti")
          .join(hot.withColumnRenamed("v", "d2"), Seq("d2"), "left_anti"))
      }
    val nCapped =
      if (!hubOverflow)
        rawPairs.sparkSession.range(1)
          .select(lit(hubIds.length.toLong).as("n_capped"))
      else rawDeg.filter(col("deg") > maxDegree)
        .agg(count(lit(1)).as("n_capped"))
    val deg = graft.core.CacheOnce.swap("dup-tri-deg",
      pairs.select(col("d1").as("v"))
        .unionByName(pairs.select(col("d2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg")))
    // orient each edge small→large under the (deg, id) total order
    val withDeg = pairs
      .join(deg.withColumnRenamed("v", "d1").withColumnRenamed("deg", "g1"), "d1")
      .join(deg.withColumnRenamed("v", "d2").withColumnRenamed("deg", "g2"), "d2")
    val oriented = withDeg.select(
      when(col("g1") < col("g2") ||
        (col("g1") === col("g2") && col("d1") < col("d2")), col("d1"))
        .otherwise(col("d2")).as("src"),
      when(col("g1") < col("g2") ||
        (col("g1") === col("g2") && col("d1") < col("d2")), col("d2"))
        .otherwise(col("d1")).as("dst"))
    // wedges at the apex u; the closing edge is checked against the
    // id-normalized undirected pair list (d1 < d2), so dst-id order —
    // not orientation order — names the closing pair and each triangle
    // (unique apex) is counted exactly once, in one semi-join.
    val o = graft.core.CacheOnce.swap("dup-tri-oriented", oriented)
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.src") === col("e2.src")
        && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("v"), col("e2.dst").as("w"))
      .join(pairs.select(col("d1").as("v"), col("d2").as("w")),
        Seq("v", "w"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // one pass over the cached degree table yields nodes, wedges AND
    // edges (handshake: n_edges = Σdeg/2) — no separate count arm.
    // Assembly via union + one-pass max, not chained broadcast
    // crossJoins: each broadcast would execute its whole subtree as a
    // separate sequential driver job, while a single union DAG lets
    // the scheduler run the arms' stages concurrently over the caches.
    val wedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(col("deg") * (col("deg") - 1) / 2), lit(0L))
        .cast("long").as("n_wedges"),
      coalesce(sum(col("deg")) / 2, lit(0L)).cast("long").as("n_edges"))
    val nl = lit(null).cast("long")
    wedges.select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        nl.as("n_triangles"), nl.as("n_capped"))
      .unionByName(tri.select(nl.as("n_nodes"), nl.as("n_edges"),
        nl.as("n_wedges"), col("n_triangles"), nl.as("n_capped")))
      .unionByName(nCapped.select(nl.as("n_nodes"), nl.as("n_edges"),
        nl.as("n_wedges"), nl.as("n_triangles"), col("n_capped")))
      .agg(max(col("n_nodes")).as("n_nodes"),
        max(col("n_edges")).as("n_edges"),
        max(col("n_wedges")).as("n_wedges"),
        max(col("n_triangles")).as("n_triangles"),
        max(col("n_capped")).as("n_capped"))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles")
          / greatest(col("n_wedges"), lit(1L)) + lit(1e-9), 4)
          .as("global_cc"),
        col("n_capped"))
  }

  def dupTrianglesSql(maxDegree: Int = 10000): String =
    s"""WITH ${pairsCte(capped = true)},
       |e0 AS MATERIALIZED (SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |rdeg AS (SELECT v, count(*) AS deg FROM (
       |    SELECT d1 AS v FROM e0 UNION ALL SELECT d2 FROM e0)
       |  GROUP BY v),
       |hot AS (SELECT v FROM rdeg WHERE deg > $maxDegree),
       |e AS MATERIALIZED (SELECT d1, d2 FROM e0
       |  WHERE d1 NOT IN (SELECT v FROM hot)
       |    AND d2 NOT IN (SELECT v FROM hot)),
       |deg AS (SELECT v, count(*) AS deg FROM (
       |    SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e)
       |  GROUP BY v),
       |tri AS (SELECT count(*) AS t
       |  FROM e e1 JOIN e e2 ON e2.d1 = e1.d2
       |  JOIN e e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2),
       |w AS (SELECT count(*) AS n_nodes,
       |  CAST(coalesce(sum(deg * (deg - 1) / 2), 0) AS BIGINT) AS n_wedges
       |  FROM deg)
       |SELECT (SELECT n_nodes FROM w) AS n_nodes,
       |  (SELECT count(*) FROM e) AS n_edges,
       |  (SELECT n_wedges FROM w) AS n_wedges,
       |  (SELECT t FROM tri) AS n_triangles,
       |  round(3.0 * (SELECT t FROM tri)
       |    / greatest((SELECT n_wedges FROM w), 1) + 1e-9, 4) AS global_cc,
       |  (SELECT count(*) FROM hot) AS n_capped""".stripMargin

  /** q105 — first-occurrence novelty rate: per source, the share of each
    * doc's distinct k-gram shingles whose FIRST corpus occurrence (min
    * doc_id — ingest order) is that doc. The marginal-value question a
    * crawl pipeline asks before paying for another snapshot: q98 says
    * how much of a source is verbatim repetition; this says how much of
    * what a source contributes is NEW vs already covered by earlier
    * ingests — a source whose novelty decays toward zero across
    * snapshots has been exhausted.
    *
    * Scale shape: the per-doc distinct shingle table (the codegen'd
    * shingle_hashes expression, 8-byte keys) aggregates to a
    * gram → (df, first_doc) table; grams seen ONCE are pruned from the
    * join's build side (the q98 singleton trick — a left-join miss is
    * known df=1, hence novel by definition), so the join back carries
    * only the repeated minority. Exact w.h.p. — the oracle counts
    * strings; see the q25i collision note. */
  def noveltyRate(docs: DataFrame, k: Int = K): DataFrame = {
    val sh = shingleHashes(docs, k)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), explode(col("hs")).as("h"))
    val first = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("first_doc"))
      .filter(col("c") > 1).select("h", "first_doc")
    val perDoc = sh.join(first, Seq("h"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc").isNull
          || col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("n_novel")).as("novel_grams"),
        round(sum(col("n_novel")) / sum(col("n_grams")) + lit(1e-9), 4)
          .as("novelty_rate"))
      .orderBy("source")
  }
  val noveltyRateSql: String =
    s"""WITH tok AS (SELECT doc_id, source, ${Text.tokensSql("text")} AS ts
       |  FROM documents),
       |sh AS (SELECT doc_id, source,
       |    unnest(${Text.shinglesSql("ts", K)}) AS g FROM tok),
       |f AS (SELECT g, min(doc_id) AS fd FROM sh GROUP BY g),
       |pd AS (SELECT sh.doc_id, sh.source, count(*) AS n_grams,
       |    CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_novel
       |  FROM sh JOIN f ON f.g = sh.g GROUP BY 1, 2)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
       |  CAST(sum(n_novel) AS BIGINT) AS novel_grams,
       |  round(sum(n_novel) / sum(n_grams) + 1e-9, 4) AS novelty_rate
       |FROM pd GROUP BY source ORDER BY source""".stripMargin

  /** q67 — cross-source duplication matrix: near-dup pair counts and mean
    * Jaccard per unordered source pair. The crawl-curation question
    * behind it: which sources are mirroring each other (off-diagonal
    * mass — keep one), and which self-duplicate (diagonal mass — cap or
    * re-chunk)? Decides source-level dedup ORDER before doc-level dedup
    * runs at full cost.
    *
    * Scale shape: the thresholded pair list joins the slim
    * (doc_id, source) projection twice — two hash joins keyed on 8-byte
    * ids, each carrying the post-threshold pair volume (≪ corpus); the
    * matrix rollup is |sources|² — metadata. */
  def sourceOverlap(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap): DataFrame = {
    val np = ngramJaccard(docs, threshold, k, dfCap)
    val src = docs.select(col("doc_id"), col("source"))
    np.join(src.select(col("doc_id").as("d1"), col("source").as("_s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("_s2")), "d2")
      .select(least(col("_s1"), col("_s2")).as("source_a"),
        greatest(col("_s1"), col("_s2")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")) + lit(1e-9), 4).as("avg_jaccard"))
      .orderBy("source_a", "source_b")
  }
  val sourceOverlapSql: String =
    s"""WITH ${pairsCte(capped = true)},
       |np AS (SELECT d1, d2,
       |    round(inter / (n1 + n2 - inter), 4) AS jaccard
       |  FROM pairs WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |j AS (SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b, jaccard
       |  FROM np JOIN documents da ON da.doc_id = np.d1
       |  JOIN documents db ON db.doc_id = np.d2)
       |SELECT source_a, source_b, count(*) AS n_pairs,
       |  round(avg(jaccard) + 1e-9, 4) AS avg_jaccard
       |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q69 — train/val/test split-leakage audit: near-dup pairs whose
    * members land in DIFFERENT folds of the standard hash split (the
    * TextOps.trainSplit assignment). A random-by-id split is exactly what
    * every pipeline does first, and near-dups straddling train/test are
    * silent eval contamination — the metric this emits is the one a
    * decontamination run (q23_contamination) is supposed to drive to
    * zero. Off-diagonal rows (leaked=1) are the contamination mass;
    * diagonal rows are benign same-fold duplication the keeper pass
    * handles.
    *
    * Scale shape: rides the SAME shared pair stage as every shingle
    * operator (zero extra shuffles over q23), then two 8-byte-key hash
    * joins against the slim (doc_id, fold) projection — post-threshold
    * pair volume only; the rollup is ≤ 9 rows. */
  def splitLeakage(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val np = ngramJaccard(docs, threshold, k, dfCap)
    val bucket = conv(substring(md5(to_binary(col("doc_id").cast("string"),
      lit("utf-8"))), 1, 15), 16, 10).cast("long") % 100
    val fold = when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
    val sp = docs.select(col("doc_id"), fold.as("_sp"))
    np.join(sp.select(col("doc_id").as("d1"), col("_sp").as("_f1")), "d1")
      .join(sp.select(col("doc_id").as("d2"), col("_sp").as("_f2")), "d2")
      .select(least(col("_f1"), col("_f2")).as("split_a"),
        greatest(col("_f1"), col("_f2")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", (col("split_a") =!= col("split_b")).cast("int"))
      .orderBy("split_a", "split_b")
  }
  val splitLeakageSql: String =
    s"""WITH ${pairsCte(capped = true)},
       |np AS (SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |sp AS (SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |      ELSE 'test' END AS f
       |  FROM (SELECT doc_id,
       |      CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       |        AS BIGINT) % 100 AS b FROM documents)),
       |g AS (SELECT least(sa.f, sb.f) AS split_a,
       |    greatest(sa.f, sb.f) AS split_b
       |  FROM np JOIN sp sa ON sa.doc_id = np.d1
       |  JOIN sp sb ON sb.doc_id = np.d2)
       |SELECT split_a, split_b, count(*) AS n_pairs,
       |  CAST(split_a <> split_b AS INT) AS leaked
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q75 — leakage-FREE train/val/test split: fold assignment hashed by
    * dup-CLUSTER keeper id, not doc id, so every member of a near-dup
    * component lands in the same fold by construction. q69 DETECTS the
    * contamination a random-by-id split creates; this is the operator
    * that prevents it — the pipeline's actual fix (dedup-aware splitting,
    * the decontamination counterpart of [[dedupCorpus]] for the case
    * where you keep the duplicates but must not let them straddle eval).
    * Singleton docs (no near-dup edge) hash by their own id, which is
    * exactly the q69/q25 fold hash — an undeduplicated corpus splits
    * identically to [[TextOps.trainSplit]].
    *
    * Output: per-fold doc counts plus `leaked_pairs`, the q69 leakage
    * metric recomputed under this assignment — provably zero, emitted so
    * the guarantee is part of the result contract, not a comment.
    *
    * Scale shape: pair stage + CC once (the q23 keeper path), one
    * left join to coalesce singletons, and the audit joins ride the
    * thresholded pair list on 8-byte keys — the q69 shape. The fold
    * roll-up is 3 rows; the leak scalar rides in-plan as
    * crossJoin(broadcast(agg)) — the q17 pattern. */
  def clusterSplit(docs: DataFrame, threshold: Double = JaccardThreshold,
      k: Int = K, dfCap: Int = DefaultDfCap, maxIters: Int = 15,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    // cached: TWO consumers (the CC edge checkpoint and the leak-audit
    // joins) would otherwise each replay the pair verification on top
    // of the cached shingle table; the edge checkpoint materializes
    // the cache eagerly at construction, so the later leaks broadcast
    // reads it warm (no cold-cache race — single broadcast)
    val np = graft.core.CacheOnce.swap("cluster-split-pairs",
      ngramJaccard(docs, threshold, k, dfCap).select("d1", "d2"))
    val cc = connectedComponents(np, maxIters)
    val keyed = docs.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper"), col("doc_id")).as("grp"))
    val bucket = conv(substring(md5(to_binary(col("grp").cast("string"),
      lit("utf-8"))), 1, 15), 16, 10).cast("long") % 100
    val assigned = keyed.select(col("doc_id"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("fold"))
    val leaks = np
      .join(assigned.select(col("doc_id").as("d1"), col("fold").as("_f1")),
        "d1")
      .join(assigned.select(col("doc_id").as("d2"), col("fold").as("_f2")),
        "d2")
      .filter(col("_f1") =!= col("_f2"))
      .agg(count(lit(1)).as("leaked_pairs"))
    assigned.groupBy(col("fold")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(leaks))
      .orderBy("fold")
  }
  val clusterSplitSql: String =
    s"""WITH RECURSIVE ${pairsCte(capped = true)},
       |np AS (SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS keeper
       |  FROM reach GROUP BY src),
       |keyed AS (SELECT d.doc_id, coalesce(c.keeper, d.doc_id) AS grp
       |  FROM documents d LEFT JOIN cc c ON c.doc_id = d.doc_id),
       |asg AS (SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |      ELSE 'test' END AS fold
       |  FROM (SELECT doc_id,
       |      CAST(('0x' || substring(md5(CAST(grp AS VARCHAR)), 1, 15))
       |        AS BIGINT) % 100 AS b FROM keyed)),
       |lk AS (SELECT CAST(count(*) AS BIGINT) AS leaked_pairs
       |  FROM np JOIN asg a1 ON a1.doc_id = np.d1
       |  JOIN asg a2 ON a2.doc_id = np.d2
       |  WHERE a1.fold <> a2.fold)
       |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
       |  (SELECT leaked_pairs FROM lk) AS leaked_pairs
       |FROM asg GROUP BY fold ORDER BY fold""".stripMargin

  /** Exact dedup: md5 content hash → keep-first per group, plus a corpus
    * summary row (the corpus has no exact dups, so the per-group output
    * alone would be empty; the summary keeps the check meaningful). */
  def exactDedup(docs: DataFrame): DataFrame = {
    val groups = docs
      .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
    groups.agg(
        count(lit(1)).as("n_unique"),
        sum(col("n_copies")).as("n_docs"),
        sum(when(col("n_copies") > 1, 1).otherwise(0)).as("n_dup_groups"),
        sum(col("n_copies") - 1).as("n_removed"))
      .select(col("n_docs"), col("n_unique"), col("n_dup_groups"), col("n_removed"))
  }

  // ------------------------------------------------------------------
  // Oracle SQL (DuckDB twins, mirroring the df-cap exactly)
  // ------------------------------------------------------------------

  /** Shared pair-stage CTEs. `capClause` mirrors the Spark df filter:
    * df ≥ 2 always (a df=1 shingle cannot form a pair — pure optimization,
    * zero semantic change), plus the boilerplate cap where the Spark path
    * applies one. */
  /** The shared index CTEs (tok, sh, freq, sizes, shc) — everything up to
    * candidate-pair generation. */
  private def indexCte(capped: Boolean): String = {
    val capClause = if (capped) s"f.df BETWEEN 2 AND $DefaultDfCap" else "f.df >= 2"
    // capped sizes exclude boilerplate (df > cap) shingles, mirroring the
    // Spark path's both-sides-capped Jaccard; df=1 shingles stay in sizes
    val sizesClause =
      if (capped) s"""sizes AS (SELECT s.doc_id, count(*) AS n FROM sh s
         |  JOIN freq f ON f.sh = s.sh WHERE f.df <= $DefaultDfCap
         |  GROUP BY s.doc_id),""".stripMargin
      else "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),"
    s"""tok AS (SELECT doc_id, ${Text.tokensSql("text")} AS ts FROM documents),
       |sh AS (SELECT doc_id, unnest(${Text.shinglesSql("ts", K)}) AS sh FROM tok),
       |freq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
       |$sizesClause
       |shc AS (SELECT s.doc_id, s.sh FROM sh s JOIN freq f ON f.sh = s.sh
       |  WHERE $capClause)""".stripMargin
  }

  /** The q23 pair-stage CTE chain and threshold, exposed for composite
    * oracles outside this file (q169's report card reuses the exact
    * keeper algebra). */
  def keeperPairsCte: String = pairsCte(capped = true)
  def JaccardThresholdSql: Double = JaccardThreshold

  private def pairsCte(capped: Boolean): String =
    s"""${indexCte(capped)},
       |pairs AS (
       |  SELECT a.doc_id AS d1, s1.n AS n1, b.doc_id AS d2, s2.n AS n2,
       |    count(*) AS inter
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  JOIN sizes s1 ON s1.doc_id = a.doc_id
       |  JOIN sizes s2 ON s2.doc_id = b.doc_id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Containment oracle — same pair CTEs, min-normalized measure. */
  private val containmentOracle: String =
    s"""WITH ${pairsCte(capped = true)}
       |SELECT d1, d2,
       |  round(inter / least(n1, n2), 4) AS containment
       |FROM pairs
       |WHERE inter / least(n1, n2) >= $ContainmentThreshold
       |ORDER BY d1, d2""".stripMargin

  /** Exact-Jaccard oracle for the df-capped shared pair stage. */
  /** q119 — candidate-pair similarity histogram: the distribution of
    * Jaccard values across ALL candidate pairs (no threshold), in
    * `binWidth` bins — the threshold-TUNING audit run before committing
    * a dedup threshold: a bimodal histogram (near-dup mass well above
    * organic overlap) says where the cliff is; a smooth slope says no
    * clean threshold exists and containment/semantic measures should
    * arbitrate. Rides the SAME df-capped inverted-index pair stage as
    * every q23 operator — the histogram is a metadata-scale rollup of
    * the pair frame the dedup pass computes anyway. */
  def jaccardHistogram(docs: DataFrame, k: Int = K,
      dfCap: Int = DefaultDfCap, binWidth: Double = 0.05): DataFrame =
    jaccardPairs(docs, k, dfCap)
      .select(floor(col("jac") / binWidth + lit(1e-9)).cast("int")
        .as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(round(col("bin") * binWidth + lit(1e-9), 2).as("bin_lo"),
        col("n_pairs"))
      .orderBy("bin_lo")
  def jaccardHistogramSql(binWidth: Double = 0.05): String =
    s"""WITH ${pairsCte(capped = true)},
       |b AS (SELECT CAST(floor(inter / (n1 + n2 - inter) / $binWidth
       |    + 1e-9) AS INT) AS bin
       |  FROM pairs)
       |SELECT round(bin * $binWidth + 1e-9, 2) AS bin_lo,
       |  count(*) AS n_pairs
       |FROM b GROUP BY bin ORDER BY bin_lo""".stripMargin

  /** q134 — LSH band-tuning audit: the MinHash banding S-curve
    * (Leskovec/Rajaraman/Ullman, MMDS ch. 3: a (b bands × r rows)
    * config detects a pair of similarity j with p = 1 − (1 − jʳ)ᵇ)
    * applied to the OBSERVED q119 pair distribution — per similarity
    * bin, the analytic detection probability of the CURRENT config and
    * the expected number of candidate pairs banding would miss. The
    * operator that turns "are 32×4 bands right for THIS corpus?" from
    * a rule of thumb into a number: missed mass concentrated above the
    * dedup threshold says add bands; a large sub-threshold detected
    * mass says the verify stage is paying for pairs the threshold will
    * discard anyway (shrink bands or raise r). Metadata-scale on top
    * of the shared pair stage — the histogram is ≤ 1/binWidth rows. */
  def lshTuningAudit(docs: DataFrame, k: Int = K,
      dfCap: Int = DefaultDfCap, binWidth: Double = 0.05,
      bands: Int = graft.functions.MinHashBands.Bands,
      rowsPerBand: Int = graft.functions.MinHashBands.RowsPerBand)
      : DataFrame = {
    val jMid = col("bin_lo") + lit(binWidth / 2)
    val pMiss = pow(lit(1.0) - pow(jMid, lit(rowsPerBand)), lit(bands))
    jaccardHistogram(docs, k, dfCap, binWidth)
      .select(col("bin_lo"), col("n_pairs"),
        round(lit(1.0) - pMiss + lit(1e-9), 4).as("p_detect"),
        round(col("n_pairs") * pMiss + lit(1e-9), 2).as("exp_missed"))
      .orderBy("bin_lo")
  }
  def lshTuningAuditSql(binWidth: Double = 0.05,
      bands: Int = graft.functions.MinHashBands.Bands,
      rowsPerBand: Int = graft.functions.MinHashBands.RowsPerBand)
      : String =
    s"""WITH ${pairsCte(capped = true)},
       |b AS (SELECT CAST(floor(inter / (n1 + n2 - inter) / $binWidth
       |    + 1e-9) AS INT) AS bin
       |  FROM pairs),
       |h AS (SELECT round(bin * $binWidth + 1e-9, 2) AS bin_lo,
       |    count(*) AS n_pairs
       |  FROM b GROUP BY bin)
       |SELECT bin_lo, n_pairs,
       |  round(1.0 - pow(1.0 - pow(bin_lo + ${binWidth / 2},
       |    $rowsPerBand), $bands) + 1e-9, 4) AS p_detect,
       |  round(n_pairs * pow(1.0 - pow(bin_lo + ${binWidth / 2},
       |    $rowsPerBand), $bands) + 1e-9, 2) AS exp_missed
       |FROM h ORDER BY bin_lo""".stripMargin

  private val jaccardOracle: String =
    s"""WITH ${pairsCte(capped = true)}
       |SELECT d1, d2,
       |  round(inter / (n1 + n2 - inter), 4) AS jaccard
       |FROM pairs
       |WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold
       |ORDER BY d1, d2""".stripMargin

  /** Registry split for the incremental variant: the top 20% of doc ids
    * (by max id) are the "newly arrived batch" — scale-proportional, so at
    * every scale factor the batch stays a minority against the corpus (a
    * fixed absolute id would invert the shapes at larger SFs). */
  private val IncrSplitSql = "(SELECT (max(doc_id) * 8) // 10 FROM documents)"

  /** Split `docs` at `max(doc_id) * numer / 10` into (below, at-or-above)
    * WITHOUT a driver action: the cut rides in-plan as a broadcast scalar
    * (the q17 crossJoin(broadcast(agg)) pattern), so constructing a
    * registry query fires no Spark job — plans stay lazily composable and
    * no extra job-per-invocation lands on the scheduler. */
  private def splitAtMaxIdFraction(docs: DataFrame,
      numer: Int): (DataFrame, DataFrame) = {
    val cut = docs.agg(
      floor(max(col("doc_id")) * numer / 10).cast("long").as("split_cut"))
    val tagged = docs.crossJoin(broadcast(cut))
    (tagged.filter(col("doc_id") < col("split_cut")).drop("split_cut"),
      tagged.filter(col("doc_id") >= col("split_cut")).drop("split_cut"))
  }

  val incrementalNearDupSql: String =
    s"""WITH ${indexCte(capped = true)},
       |shn AS (SELECT doc_id, sh FROM shc WHERE doc_id >= $IncrSplitSql),
       |cand AS (
       |  SELECT least(a.doc_id, b.doc_id) AS d1,
       |    greatest(a.doc_id, b.doc_id) AS d2, count(*) AS inter
       |  FROM shc a JOIN shn b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |    AND (a.doc_id < $IncrSplitSql OR a.doc_id < b.doc_id)
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |  round(inter / (s1.n + s2.n - inter), 4) AS jaccard
       |FROM cand
       |JOIN sizes s1 ON s1.doc_id = d1
       |JOIN sizes s2 ON s2.doc_id = d2
       |WHERE inter / (s1.n + s2.n - inter) >= $JaccardThreshold
       |ORDER BY d1, d2""".stripMargin

  /** Registry split for contamination: the top 10% of doc ids stand in
    * for the eval/benchmark set (scale-proportional, as above). */
  private def EvalSplitSql = "(SELECT (max(doc_id) * 9) // 10 FROM documents)"

  val contaminationSql: String =
    s"""WITH tok AS (SELECT doc_id, ${Text.tokensSql("text")} AS ts FROM documents),
       |shg AS (SELECT doc_id, unnest(${Text.shinglesSql("ts", K)}) AS sh FROM tok),
       |ev AS (SELECT DISTINCT sh FROM shg WHERE doc_id >= $EvalSplitSql),
       |tr AS (SELECT doc_id, sh FROM shg WHERE doc_id < $EvalSplitSql),
       |n AS (SELECT doc_id, count(*) AS n FROM tr GROUP BY doc_id),
       |hits AS (SELECT t.doc_id, count(*) AS hits
       |  FROM tr t JOIN ev e ON e.sh = t.sh GROUP BY t.doc_id)
       |SELECT h.doc_id, n.n AS n_shingles, h.hits,
       |  round(h.hits / n.n, 4) AS frac
       |FROM hits h JOIN n ON n.doc_id = h.doc_id
       |WHERE h.hits / n.n >= 0.1
       |ORDER BY h.doc_id""".stripMargin

  /** The MinHash path generates candidates by banding (no df logic), so its
    * oracle is the UNcapped exact Jaccard. At tested scale factors the cap
    * never binds (max observed df is 4), so both oracles agree — asserted
    * by the ngram-vs-minhash equivalence test in LlmOpsSpec. */
  private val jaccardOracleUncapped: String =
    s"""WITH ${pairsCte(capped = false)}
       |SELECT d1, d2,
       |  round(inter / (n1 + n2 - inter), 4) AS jaccard
       |FROM pairs
       |WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold
       |ORDER BY d1, d2""".stripMargin

  val exactDedupSql: String =
    """WITH g AS (SELECT md5(text) AS content_hash, count(*) AS n_copies
      |  FROM documents GROUP BY 1)
      |SELECT CAST(sum(n_copies) AS BIGINT) AS n_docs, count(*) AS n_unique,
      |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
      |  CAST(sum(n_copies - 1) AS BIGINT) AS n_removed
      |FROM g""".stripMargin

  val levenshteinDedupSql: String =
    s"""WITH ${pairsCte(capped = true)},
       |cand AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= 0.5)
       |SELECT d1, d2, levenshtein(a.text, b.text) AS ld
       |FROM cand
       |JOIN documents a ON a.doc_id = d1
       |JOIN documents b ON b.doc_id = d2
       |WHERE levenshtein(a.text, b.text)
       |  <= 0.2 * greatest(length(a.text), length(b.text))
       |ORDER BY d1, d2""".stripMargin

  val dedupKeeperSql: String =
    s"""WITH RECURSIVE ${pairsCte(capped = true)},
       |np AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS keeper
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  val embeddingNearDupLshSql: String = {
    val bucketSql = (0 until SignPlanes).map(j =>
      s"(CASE WHEN embedding[${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |    (acc, v) -> acc + v)) AS nrm,
       |  $bucketSql AS bucket
       |  FROM embeddings)
       |SELECT a.vec_id AS v1, b.vec_id AS v2,
       |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(a.embedding)),
       |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
       |      (acc, v) -> acc + v) / (a.nrm * b.nrm), 4) AS cos
       |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(generate_series(1, len(a.embedding)),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
       |    (acc, v) -> acc + v) / (a.nrm * b.nrm) >= 0.4
       |ORDER BY v1, v2""".stripMargin
  }

  val embeddingNearDupSql: String =
    """WITH n AS (SELECT vec_id, label, embedding,
      |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |    (acc, v) -> acc + v)) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS v1, b.vec_id AS v2,
      |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (acc, v) -> acc + v) / (a.nrm * b.nrm), 4) AS cos
      |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(generate_series(1, len(a.embedding)),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |    (acc, v) -> acc + v) / (a.nrm * b.nrm) >= 0.4
      |ORDER BY v1, v2""".stripMargin

  // ------------------------------------------------------------------
  // Registry adapters (fixture tables → library calls)
  // ------------------------------------------------------------------

  /** [[graft.core.EagerByDesign]] shorthand — LazinessSpec discovers
    * the marker; the reason documents why construction-time jobs are
    * legitimate for the entry. */
  private def eager(reason: String)(f: QFn): QFn =
    graft.core.EagerByDesign(reason)(f)

  /** The iterative-CC rationale shared by every keeper/component
    * consumer below. */
  private val CcEager =
    "composes the connected-components fixpoint: each label-propagation " +
      "round materializes through an eager localCheckpoint by design " +
      "(bounded plan depth beats laziness for an iterative fixpoint)"

  val all: Seq[(String, QFn, Option[String])] = Seq(
    ("q23_dedup_exact",
      (s: SparkSession, d: String) => exactDedup(Tables.documents(s, d)),
      Some(exactDedupSql)),
    ("q23_dedup_ngram_jaccard",
      (s: SparkSession, d: String) => ngramJaccard(Tables.documents(s, d)),
      Some(jaccardOracle)),
    ("q23_contamination",
      (s: SparkSession, d: String) => {
        val (train, eval) = splitAtMaxIdFraction(Tables.documents(s, d), 9)
        contamination(train, eval)
      },
      Some(contaminationSql)),
    ("q135_decontaminated_corpus",
      (s: SparkSession, d: String) => {
        val (train, eval) = splitAtMaxIdFraction(Tables.documents(s, d), 9)
        decontaminatedCorpus(train, eval)
      },
      Some(decontaminatedCorpusSql)),
    ("q136_eval_leak_report",
      (s: SparkSession, d: String) => {
        val (train, eval) = splitAtMaxIdFraction(Tables.documents(s, d), 9)
        evalLeakReport(train, eval)
      },
      Some(evalLeakReportSql)),
    ("q23_dedup_incremental",
      (s: SparkSession, d: String) => {
        val (corpus, batch) = splitAtMaxIdFraction(Tables.documents(s, d), 8)
        incrementalNearDup(corpus, batch)
      },
      Some(incrementalNearDupSql)),
    ("q160_dedup_serve",
      eager("the in-session form materializes its cached shingle base eagerly (postings arms + df race a cold cache); the PERSISTED serve path is job-free until action")(
        (s: SparkSession, d: String) => {
          val (corpus, batch) = splitAtMaxIdFraction(Tables.documents(s, d), 8)
          dedupServeInSession(corpus, batch)
        }),
      Some(incrementalNearDupSql)),
    ("q168_cluster_cap_sample",
      eager(CcEager)(
        (s: SparkSession, d: String) =>
          clusterCapSample(Tables.documents(s, d))),
      Some(clusterCapSampleSql())),
    ("q164_keeper_takedown",
      eager(CcEager + "; takedownKeepers itself is fully lazy")(
        (s: SparkSession, d: String) =>
          keeperTakedownInSession(Tables.documents(s, d),
            TakedownOps.TakedownSource)),
      Some(keeperTakedownSql)),
    ("q153_keeper_merge",
      eager("TWO eager CC fixpoints at construction: the stored keeper table's full run, then the batch-scale contracted-graph merge")(
        (s: SparkSession, d: String) => {
          val (corpus, batch) = splitAtMaxIdFraction(Tables.documents(s, d), 8)
          // the persisted keeper table a prior full run would have left:
          // CC over the corpus-only pair graph, keeper = self when
          // unpaired. NOT cached (tried this round and REVERTED): a
          // CacheOnce+count on `stored` before mergeKeepers measured
          // flat task_sec with +2 jobs in a same-window A/B — its three
          // evaluations are each a cheap docs-scan + checkpointed-label
          // join, unlike q164's four-consumer broadcast-build race
          val stored = corpus.select(col("doc_id"))
            .join(connectedComponents(
              jaccardPairs(corpus).filter(col("jac") >= JaccardThreshold)
                .select("d1", "d2")), Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("keeper"), col("doc_id")).as("keeper"))
          mergeKeepers(stored, incrementalNearDup(corpus, batch)
            .select("d1", "d2"), batch.select("doc_id"))
        }),
      Some(mergeKeepersSql)),
    ("q51_dedup_containment",
      (s: SparkSession, d: String) => containmentPairs(Tables.documents(s, d)),
      Some(containmentOracle)),
    ("q23_dedup_minhash_lsh",
      (s: SparkSession, d: String) => minhashLsh(Tables.documents(s, d)),
      Some(jaccardOracleUncapped)),
    ("q23_dedup_simhash",
      (s: SparkSession, d: String) => simhashAudit(Tables.documents(s, d)),
      Some(simhashAuditSql)),
    ("q23_dedup_levenshtein",
      (s: SparkSession, d: String) => levenshteinDedup(Tables.documents(s, d)),
      Some(levenshteinDedupSql)),
    ("q23_dedup_keeper",
      eager(CcEager)(
        (s: SparkSession, d: String) => dedupKeeper(Tables.documents(s, d))),
      Some(dedupKeeperSql)),
    ("q23_dedup_corpus",
      eager(CcEager)(
        (s: SparkSession, d: String) => dedupCorpus(Tables.documents(s, d))),
      Some(dedupCorpusSql)),
    ("q151_effective_tokens",
      eager(CcEager)(
        (s: SparkSession, d: String) => effectiveTokens(Tables.documents(s, d))),
      Some(effectiveTokensSql)),
    ("q152_shingle_df_histogram",
      (s: SparkSession, d: String) =>
        shingleDfHistogram(Tables.documents(s, d)),
      Some(shingleDfHistogramSql())),
    ("q126_quality_keeper",
      eager(CcEager)(
        (s: SparkSession, d: String) => qualityKeeper(Tables.documents(s, d))),
      Some(qualityKeeperSql)),
    ("q55_dedup_cluster_stats",
      eager(CcEager)(
        (s: SparkSession, d: String) => dedupClusterStats(Tables.documents(s, d))),
      Some(dedupClusterStatsSql)),
    ("q66_dup_degrees",
      (s: SparkSession, d: String) => dupGraphDegrees(Tables.documents(s, d)),
      Some(dupGraphDegreesSql)),
    ("q67_source_overlap",
      (s: SparkSession, d: String) => sourceOverlap(Tables.documents(s, d)),
      Some(sourceOverlapSql)),
    ("q69_split_leakage",
      (s: SparkSession, d: String) => splitLeakage(Tables.documents(s, d)),
      Some(splitLeakageSql)),
    ("q75_cluster_split",
      eager(CcEager)(
        (s: SparkSession, d: String) => clusterSplit(Tables.documents(s, d))),
      Some(clusterSplitSql)),
    ("q23_dedup_embedding",
      (s: SparkSession, d: String) => embeddingNearDup(Tables.embeddings(s, d)),
      Some(embeddingNearDupSql)),
    ("q23_dedup_embedding_lsh",
      (s: SparkSession, d: String) => embeddingNearDupLsh(Tables.embeddings(s, d)),
      Some(embeddingNearDupLshSql)),
    ("q90_graph_pagerank",
      eager("iterative power/propagation rounds materialize through eager localCheckpoints (the CC-fixpoint rationale)")(
        (s: SparkSession, d: String) => dupPagerank(Tables.documents(s, d))),
      Some(dupPagerankSql())),
    ("q96_triangle_census",
      eager("materializes its cached pair stage eagerly: the census arms' broadcast jobs launch concurrently and would race the cold cache, each recomputing the shingle scan")(
        (s: SparkSession, d: String) => dupTriangles(Tables.documents(s, d))),
      Some(dupTrianglesSql())),
    ("q105_novelty_rate",
      (s: SparkSession, d: String) => noveltyRate(Tables.documents(s, d)),
      Some(noveltyRateSql)),
    ("q119_jaccard_histogram",
      (s: SparkSession, d: String) => jaccardHistogram(Tables.documents(s, d)),
      Some(jaccardHistogramSql())),
    ("q134_lsh_tuning",
      (s: SparkSession, d: String) => lshTuningAudit(Tables.documents(s, d)),
      Some(lshTuningAuditSql())))
}
