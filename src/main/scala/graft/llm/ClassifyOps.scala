package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Learned corpus classifiers — the CCNet/fastText-style model-based
  * filter the quality pipeline applies after the heuristic gates
  * (q112's n-gram language ID, the Gopher rules): a multinomial Naive
  * Bayes text classifier with add-one smoothing (McCallum & Nigam,
  * AAAI-98 workshop formulation), trained, persisted, applied, and —
  * because the sufficient statistics are pure additive counts —
  * incrementally extended AND exactly unlearned.
  *
  * Scale shape: training is one tokenize pass collapsed to the
  * (class × vocabulary) count table — model-scale output however large
  * the corpus. Scoring is one tokenize pass joined against that model
  * on the token key; per-(doc, class) partial aggregation happens
  * map-side, and the absent-token smoothing term is ANALYTIC
  * (log(0+1) = 0), so the plan never fans scoring rows out to classes
  * that lack the token — no |tokens| × |classes| blow-up.
  *
  * Reference scope note: the reference app (/root/reference/src, a
  * stream coordinator) has no classifier; this extends SURVEY.md §2b's
  * training-data-pipeline family alongside DSIR (TextOps) and the
  * Gopher gate (QualityOps).
  */
object ClassifyOps {
  type QFn = (SparkSession, String) => DataFrame

  /** Train/score split at max(doc_id)*8/10 — the q23_dedup_incremental
    * precedent (DedupOps.splitAtMaxIdFraction), mirrored in SQL below. */
  private def splitAtMaxIdFraction(docs: DataFrame,
      numer: Int): (DataFrame, DataFrame) = {
    val cut = docs.agg(
      floor(max(col("doc_id")) * numer / 10).cast("long").as("split_cut"))
    val tagged = docs.crossJoin(broadcast(cut))
    (tagged.filter(col("doc_id") < col("split_cut")).drop("split_cut"),
      tagged.filter(col("doc_id") >= col("split_cut")).drop("split_cut"))
  }

  // ------------------------------------------------------------------
  // q161 — multinomial NB classifier lifecycle (train → persist →
  // score → append / unlearn)
  // ------------------------------------------------------------------

  /** The model's sufficient statistics as ADDITIVE delta frames:
    * `(lang, t, cnt)` token-class counts and `(lang, n_docs, tot)`
    * class doc/token totals. Serving re-aggregates by key, so append
    * (new batch) and unlearn (negated batch) are plain row appends —
    * the same delta-row contract as the q160 dedup index df table. */
  def nbTrainFrames(train: DataFrame): (DataFrame, DataFrame) = {
    val tok = Tables.fanout(train)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("t"))
    val tokCounts = tok.groupBy(col("lang"), col("t"))
      .agg(count(lit(1)).as("cnt"))
    // LEFT join + coalesce(tot, 0): a class whose training docs all
    // tokenize to zero tokens still keeps its doc-count row — an inner
    // join would drop its prior entirely (nbPredict could never emit
    // it, and unlearning such a batch would leave n_docs inconsistent).
    val classStats = train.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .join(tokCounts.groupBy(col("lang")).agg(sum(col("cnt")).as("tot")),
        Seq("lang"), "left")
      .withColumn("tot", coalesce(col("tot"), lit(0L)))
    (tokCounts, classStats)
  }

  /** Negated sufficient statistics — appending these to a model's
    * tables subtracts the batch EXACTLY (integer counts), the
    * "machine unlearning by decrement" that only works because NB's
    * statistics are additive. Tokens whose net count reaches zero drop
    * out of the vocabulary at serve time ([[nbScoreFrom]] filters
    * net-zero rows before V is measured). */
  def nbNegatedFrames(batch: DataFrame): (DataFrame, DataFrame) = {
    val (tc, cs) = nbTrainFrames(batch)
    (tc.withColumn("cnt", -col("cnt")),
      cs.withColumn("n_docs", -col("n_docs")).withColumn("tot", -col("tot")))
  }

  /** Score `docs` against model delta frames. Per class c and doc d
    * with in-vocabulary token occurrences t (multiplicity tf):
    *
    *   score(d,c) = log(nd_c / N) + Σ_t tf·log(cnt(t,c)+1)
    *                − n_iv(d)·log(tot_c + V)
    *
    * which is exactly add-one-smoothed multinomial NB — the Σ only
    * needs (t,c) pairs with cnt>0 because log(0+1)=0, so the scoring
    * join is an INNER join on the token key; out-of-vocabulary tokens
    * are skipped (standard at inference). Prediction = argmax, ties
    * broken by class name ascending (deterministic, oracle-mirrored).
    * Output: one row per doc `(doc_id, actual, predicted, n_iv)`. */
  def nbScoreFrom(tokCounts: DataFrame, classStats: DataFrame,
      docs: DataFrame): DataFrame =
    nbPredict(tokCounts, classStats, docs)
      .join(docs.select(col("doc_id"), col("lang").as("actual")),
        Seq("doc_id"))
      .select(col("doc_id"), col("actual"), col("predicted"), col("n_iv"))

  /** The label-free apply path — what a deployed filter actually runs
    * over unlabeled documents: `(doc_id, predicted, n_iv)` per doc.
    * [[nbScoreFrom]] is this plus the label join (for confusion /
    * label-noise audits on labeled data). */
  def nbPredict(tokCounts: DataFrame, classStats: DataFrame,
      docs: DataFrame): DataFrame = {
    // Lazy persist (CacheOnce) on the aggregated model frames: tc is
    // referenced three times below (obs join, vocabulary semi-join,
    // vocabN) and cls twice — without the cache each reference
    // re-evaluates the whole upstream sufficient-statistics subtree,
    // which in the q161 registry form is a full tokenize+groupBy pass
    // over the TRAINING split per reference (~7 redundant corpus
    // passes; guide §1.2 "don't compute things you throw away").
    // Vocabulary-scale state; persist() is lazy, so construction stays
    // job-free (the LazinessSpec contract) and the bench's
    // clearCache() keeps every timed run recomputing it in-window.
    // Each tag carries the cached plan's semanticHash, so a second call
    // on different inputs pins its own copies instead of unpersisting the
    // frames a still-pending first result reads. A repeat call on the same
    // inputs reuses its entry; copies for distinct inputs stay pinned
    // until CacheOnce.releaseAll or clearCache (Verify and Bench call one).
    def pin(tag: String, df: DataFrame): DataFrame =
      graft.core.CacheOnce.swap(s"$tag-${df.semanticHash()}", df)
    val tc = pin("nb-tc",
      tokCounts.groupBy(col("lang"), col("t"))
        .agg(sum(col("cnt")).as("cnt")).filter(col("cnt") > 0))
    // tot is routed THROUGH the cached tc, not re-summed from the
    // classStats subtree: in the registry/serve forms classStats' tot
    // arm contains its own tokenize+groupBy pass whose plan does NOT
    // match the cached tc (so the cache could never substitute), i.e.
    // one whole redundant corpus pass per scoring run. Equal by the
    // additive-counts contract: sum of tot deltas per class = sum of
    // net per-token counts, and tokens netted to zero contribute 0 to
    // either side (exact unlearning never drives a net negative).
    // A class whose docs all tokenize to zero tokens has no tc rows —
    // the left join + coalesce keeps its prior, as before.
    val cls = pin("nb-cls",
      classStats.groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("nd"))
        .join(tc.groupBy(col("lang")).agg(sum(col("cnt")).as("tot")),
          Seq("lang"), "left")
        .withColumn("tot", coalesce(col("tot"), lit(0L)))
        .filter(col("nd") > 0))
    val vocabN = tc.agg(countDistinct(col("t")).as("v"))
    // ONE packed broadcast carries the class rows AND their nd-total:
    // a separate broadcast(nTrain) was a second build job evaluating
    // the whole cls aggregate subtree again (and racing its cold
    // cache). collect_list order is irrelevant — the rows explode
    // right back and scoring is per (doc, lang).
    val clsP = cls.groupBy()
      .agg(collect_list(struct(col("lang"), col("nd"), col("tot")))
        .as("cs"), sum(col("nd")).as("n"))
    // scored twice below (iv + obs): one tokenize pass, cached
    val etok = pin("nb-etok",
      Tables.fanout(docs)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t")))
    // no .distinct() on the build side: left_semi existence-probes the
    // hashed relation, so the distinct only added an aggregation
    val iv = etok.join(tc.select(col("t")), Seq("t"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_iv"))
    val obs = etok.join(tc, Seq("t"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(log(col("cnt") + lit(1.0))).as("osum"))
    val scored = docs.select(col("doc_id"))
      .crossJoin(broadcast(clsP))
      .crossJoin(broadcast(vocabN))
      .select(col("doc_id"), explode(col("cs")).as("c"), col("n"), col("v"))
      .select(col("doc_id"), col("c.lang").as("lang"), col("c.nd").as("nd"),
        col("c.tot").as("tot"), col("n"), col("v"))
      .join(obs, Seq("doc_id", "lang"), "left")
      .join(iv, Seq("doc_id"), "left")
      .withColumn("score",
        log(col("nd").cast("double") / col("n"))
          + coalesce(col("osum"), lit(0.0))
          - coalesce(col("n_iv"), lit(0L)).cast("double")
            * log(col("tot").cast("double") + col("v")))
    val rnk = row_number().over(
      Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("lang")))
    scored.withColumn("_rnk", rnk).filter(col("_rnk") === 1)
      .select(col("doc_id"), col("lang").as("predicted"),
        coalesce(col("n_iv"), lit(0L)).as("n_iv"))
  }

  /** Persist the model as catalog tables (vocabulary-scale — the only
    * state a 100 TB training run leaves behind). Delta-row contract:
    * [[appendToNbModel]] / [[unlearnFromNbModel]] append, serve
    * re-aggregates. */
  def writeNbModel(train: DataFrame, table: String): Unit = {
    val spark = train.sparkSession
    val (tc, cs) = nbTrainFrames(train)
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_tokcounts")
    tc.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_tokcounts")
    graft.sources.FileIO.dropTableAndLocation(spark, s"${table}_class")
    cs.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_class")
  }

  /** Extend a persisted model with a labeled batch — O(|batch|). */
  def appendToNbModel(batch: DataFrame, table: String): Unit = {
    val (tc, cs) = nbTrainFrames(batch)
    tc.write.mode("append").format("parquet").saveAsTable(s"${table}_tokcounts")
    cs.write.mode("append").format("parquet").saveAsTable(s"${table}_class")
  }

  /** EXACT unlearning: subtract a previously-trained batch's counts.
    * Round17bOpsSpec pins train(A∪B) → unlearn(B) ≡ train(A) row for
    * row — the takedown story for MODEL state, complementing
    * TakedownOps' index/corpus propagation. */
  def unlearnFromNbModel(batch: DataFrame, table: String): Unit = {
    val (tc, cs) = nbNegatedFrames(batch)
    tc.write.mode("append").format("parquet").saveAsTable(s"${table}_tokcounts")
    cs.write.mode("append").format("parquet").saveAsTable(s"${table}_class")
  }

  /** Score from the persisted tables. */
  def nbServe(spark: SparkSession, table: String, docs: DataFrame): DataFrame =
    nbScoreFrom(spark.table(s"${table}_tokcounts"),
      spark.table(s"${table}_class"), docs)

  /** q161 registry form: train on the id-split 80%, score the held-out
    * 20%, emit the language confusion matrix. Fully lazy (the model
    * stays in the plan as aggregate subtrees); the PERSISTED path is
    * pinned by Round17bOpsSpec's stored ≡ direct round-trip. */
  def nbLangConfusion(docs: DataFrame): DataFrame = {
    val (train, test) = splitAtMaxIdFraction(docs, 8)
    val (tc, cs) = nbTrainFrames(train)
    nbScoreFrom(tc, cs, test)
      .groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual"), col("predicted"))
  }

  private val TrainSplitSql = "(SELECT (max(doc_id) * 8) // 10 FROM documents)"

  /** DuckDB twin of [[nbLangConfusion]] — same split, same tokenizer,
    * same smoothing algebra, same (score DESC, class ASC) tie-break. */
  val nbLangConfusionSql: String =
    s"""WITH tr AS (SELECT doc_id, lang, text FROM documents
       |  WHERE doc_id < $TrainSplitSql),
       |te AS (SELECT doc_id, lang, text FROM documents
       |  WHERE doc_id >= $TrainSplitSql),
       |ttok AS (SELECT lang, unnest(${Text.tokensSql("text")}) AS t FROM tr),
       |tc AS (SELECT lang, t, count(*) AS cnt FROM ttok GROUP BY 1, 2),
       |cls AS (SELECT lang, sum(cnt) AS tot FROM tc GROUP BY 1),
       |pri AS (SELECT lang, count(*) AS nd FROM tr GROUP BY 1),
       |vv AS (SELECT count(DISTINCT t) AS v FROM tc),
       |nn AS (SELECT count(*) AS n FROM tr),
       |etok AS (SELECT doc_id, unnest(${Text.tokensSql("text")}) AS t
       |  FROM te),
       |iv AS (SELECT e.doc_id, count(*) AS n_iv FROM etok e
       |  JOIN (SELECT DISTINCT t FROM tc) vt USING (t) GROUP BY 1),
       |obs AS (SELECT e.doc_id, tc.lang, sum(ln(tc.cnt + 1.0)) AS osum
       |  FROM etok e JOIN tc USING (t) GROUP BY 1, 2),
       |sc AS (SELECT b.doc_id, b.lang AS actual, p.lang AS cl,
       |    ln(CAST(p.nd AS DOUBLE) / nn.n) + coalesce(o.osum, 0.0)
       |      - coalesce(iv.n_iv, 0) * ln(CAST(c2.tot AS DOUBLE) + vv.v)
       |      AS score
       |  FROM te b CROSS JOIN pri p JOIN cls c2 ON c2.lang = p.lang
       |  CROSS JOIN vv CROSS JOIN nn
       |  LEFT JOIN obs o ON o.doc_id = b.doc_id AND o.lang = p.lang
       |  LEFT JOIN iv ON iv.doc_id = b.doc_id),
       |r AS (SELECT doc_id, actual, cl,
       |  row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, cl) AS rnk FROM sc)
       |SELECT actual, cl AS predicted, CAST(count(*) AS BIGINT) AS n
       |FROM r WHERE rnk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Registry adapters
  // ------------------------------------------------------------------

  val all: Seq[(String, QFn, Option[String])] = Seq(
    ("q161_nb_classifier",
      (s: SparkSession, d: String) => nbLangConfusion(Tables.documents(s, d)),
      Some(nbLangConfusionSql)))
}
