package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.llm.{ClassifyOps, SimilarityOps, TextOps}
import graft.sources.shardsim.ShardSimFixture

/** Round-18 first wave: the five round-17 ADVICE closures, each pinned
  * by the failure scenario the advisor described — checkpoint-binding
  * path canonicalization + the pre-guard-corpus refusal, the loud
  * missing-query-vector failure in hybrid serve, zero-token-class
  * prior retention in NB training, and the bounded-broadcast eval cap
  * in semantic decontamination. */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------- checkpoint binding

  private def shardFixture(): (String, String, String) = {
    val rows = (1L to 4L).map { i =>
      (s"d$i", 1700000000000000L + i,
        s"""{"doc_id":$i,"text":"${(0 until 12).map(t => s"w${i}t$t").mkString(" ")}"}""")
    }
    val shardDir = Files.createTempDirectory("r18_shard").toString
    ShardSimFixture.writeShard(shardDir, 0, rows)
    (shardDir,
      Files.createTempDirectory("r18_corpus").toString,
      Files.createTempDirectory("r18_ckpt").toString)
  }

  test("bindCheckpoint: equivalent path spellings (raw vs file:-" +
      "qualified) resume the same stream instead of falsely refusing") {
    import graft.app.IngestDedupApp
    val (shardDir, corpus, ckpt) = shardFixture()
    IngestDedupApp.run(spark, shardDir, corpus, ckpt).awaitTermination()
    assert(IngestDedupApp.corpus(spark, corpus).count() == 4L)
    // same physical checkpoint presented under its file:-qualified URI:
    // a raw string compare would refuse; qualified compare must resume
    IngestDedupApp.run(spark, shardDir, corpus, s"file:$ckpt")
      .awaitTermination()
    assert(IngestDedupApp.corpus(spark, corpus).count() == 4L)
    // a genuinely different checkpoint still refuses
    val foreign = Files.createTempDirectory("r18_foreign").toString
    val err = intercept[IllegalArgumentException] {
      IngestDedupApp.run(spark, shardDir, corpus, foreign)
    }
    assert(err.getMessage.contains("bound to checkpoint"), err.getMessage)
  }

  test("bindCheckpoint: a corpus with landed batches but NO marker " +
      "(pre-guard corpus / lost marker) refuses any checkpoint unless " +
      "rebind=true explicitly re-binds it") {
    import graft.app.IngestDedupApp
    val (shardDir, corpus, ckpt) = shardFixture()
    IngestDedupApp.run(spark, shardDir, corpus, ckpt).awaitTermination()
    // simulate a pre-guard corpus: marker lost, batches landed
    val marker = new java.io.File(corpus, "_checkpoint_binding")
    assert(marker.delete(), "fixture: marker must exist after first run")
    val err = intercept[IllegalArgumentException] {
      IngestDedupApp.run(spark, shardDir, corpus, ckpt)
    }
    assert(err.getMessage.contains("no checkpoint binding marker"),
      err.getMessage)
    // the explicit operator override re-binds and resumes exactly-once
    IngestDedupApp.run(spark, shardDir, corpus, ckpt, rebind = true)
      .awaitTermination()
    assert(IngestDedupApp.corpus(spark, corpus).count() == 4L)
    // and the re-written marker protects again
    val foreign = Files.createTempDirectory("r18_foreign2").toString
    intercept[IllegalArgumentException] {
      IngestDedupApp.run(spark, shardDir, corpus, foreign)
    }
  }

  // ------------------------------------------------------------- q163

  test("hybridRrfServe: a taken-down (or never-indexed) query vector " +
      "fails loudly instead of silently serving lexical-only fusion") {
    val docs = Tables.documents(spark, sf0001)
    val em = Tables.embeddings(spark, sf0001)
    TextOps.writeBm25Index(docs, "hy18")
    SimilarityOps.writeTrainedIvfIndex(em, "hy18ivf")
    val terms = SimilarityOps.HybridTerms
    // sanity: a live query vector serves
    assert(SimilarityOps.hybridRrfServe(spark, "hy18", "hy18ivf", terms,
      queryVecId = 0L).count() > 0)
    // never-indexed id
    val errA = intercept[IllegalArgumentException] {
      SimilarityOps.hybridRrfServe(spark, "hy18", "hy18ivf", terms,
        queryVecId = 999999L)
    }
    assert(errA.getMessage.contains("not in the live index"),
      errA.getMessage)
    // taken-down query vector: the dense arm would silently empty
    SimilarityOps.deleteFromTrainedIvfIndex(spark, "hy18ivf", Seq(0L))
    val errB = intercept[IllegalArgumentException] {
      SimilarityOps.hybridRrfServe(spark, "hy18", "hy18ivf", terms,
        queryVecId = 0L)
    }
    assert(errB.getMessage.contains("not in the live index"),
      errB.getMessage)
  }

  // ------------------------------------------------------------- q161

  test("nbTrainFrames: a class whose docs tokenize to zero tokens " +
      "keeps its prior (tot=0), predicts via prior alone, and " +
      "unlearning it restores the exact pre-append model") {
    // "!!!" tokenizes to nothing — an inner join to token totals would
    // drop class "e" entirely
    val train = Seq((1L, "x x x", "a"), (2L, "!!!", "e"))
      .toDF("doc_id", "text", "lang")
    val (tc, cs) = ClassifyOps.nbTrainFrames(train)
    val stats = cs.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats == Map("a" -> (1L, 3L), "e" -> (1L, 0L)), stats.toString)
    // an all-OOV doc scores every class by prior + n_iv=0 terms only:
    // equal priors → tie → class ASC picks "a"; class "e" is PRESENT
    // in the score space (it can be predicted at all)
    val pred = ClassifyOps.nbPredict(tc, cs,
      Seq((10L, "zzz")).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(pred == Set((10L, "a", 0L)), pred.toString)
    // unlearn algebra stays consistent for the zero-token class:
    // train(A∪B) → unlearn(B) ≡ train(A) including the class row
    val a = Seq((1L, "x x x", "a")).toDF("doc_id", "text", "lang")
    val b = Seq((2L, "!!!", "e")).toDF("doc_id", "text", "lang")
    ClassifyOps.writeNbModel(a.union(b), "nb18")
    ClassifyOps.unlearnFromNbModel(b, "nb18")
    val net = spark.table("nb18_class").groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("nd"), sum(col("tot")).as("t"))
      .filter(col("nd") > 0).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(net == Map("a" -> (1L, 3L)), net.toString)
  }

  // ------------------------------------------------------------- q166

  test("semanticContamination: evalCap bounds the broadcast side by " +
      "construction — a binding cap keeps only the first cap eval " +
      "ids, a non-binding cap reproduces the uncapped answer") {
    val em = Tables.embeddings(spark, sf0001) // 500 vecs, cut = 450
    val uncapped = SimilarityOps.semanticContamination(em,
      SimilarityOps.SemanticContaminationTau).collect().toSet
    val slack = SimilarityOps.semanticContamination(em,
      SimilarityOps.SemanticContaminationTau, evalCap = 100L)
      .collect().toSet
    assert(slack == uncapped, "non-binding cap must not change results")
    val tight = SimilarityOps.semanticContamination(em,
      SimilarityOps.SemanticContaminationTau, evalCap = 10L)
      .collect().toSet
    val expected = uncapped.filter(_.getLong(1) < 460L)
    assert(tight == expected,
      s"binding cap must keep eval ids in [450, 460): got ${
        tight.map(_.getLong(1)).toSeq.sorted}")
    assert(tight.nonEmpty, "fixture: the capped window must be exercised")
  }

  // ------------------------------------------------------------- q56

  test("kmeansCentroidsSampled: cap ≥ N degenerates to exact full " +
      "Lloyd (bit-identical centroids), a binding cap still trains a " +
      "full-k model whose full-corpus assignment quality is within a " +
      "hair of exact, and the sample is deterministic across calls") {
    val em = Tables.embeddings(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toVector))
      .sortBy(_._1).toVector
    val full = rows(SimilarityOps.kmeansCentroids(em))
    assert(rows(SimilarityOps.kmeansCentroidsSampled(em,
      cap = 1000000)) == full, "cap ≥ N must be exact full Lloyd")

    val sampled = SimilarityOps.kmeansCentroidsSampled(em, cap = 100)
    val sRows = rows(sampled)
    assert(sRows.size == SimilarityOps.CentroidIds.size,
      "a binding cap must still train every centroid")
    assert(rows(SimilarityOps.kmeansCentroidsSampled(em, cap = 100))
      == sRows, "hash-sample must be deterministic")
    def quality(model: org.apache.spark.sql.DataFrame): Double =
      SimilarityOps.assignUnderModel(em, model)
        .join(model.select(col("cid"), col("ce")), "cid")
        .agg(avg(expr("cosine_sim(ce, embedding)"))).first().getDouble(0)
    val (qf, qs) = (quality(SimilarityOps.kmeansCentroids(em)
      .localCheckpoint()), quality(sampled.localCheckpoint()))
    // 100 of 500 training vectors ON THE ISOTROPIC FIXTURE — the
    // worst case for any sampled estimator (no cluster structure to
    // estimate; full-Lloyd mean cos is only ~0.255 here). Measured
    // delta 0.032; the bound pins "no cliff", and BASELINE §x measures
    // the realistic (clustered, cap≫k) regime where the delta vanishes
    assert(qs >= qf - 0.05, s"sampled quality $qs vs full $qf")
  }
}
