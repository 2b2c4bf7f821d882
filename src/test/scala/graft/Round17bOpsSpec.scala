package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.llm.{ClassifyOps, DedupOps, SimilarityOps, TakedownOps, TextOps}

/** Round-17 second wave: the NB classifier lifecycle (train → persist →
  * score → append → EXACT unlearn), takedown propagation across the
  * persisted serve indexes (tombstone → serve ≡ rebuild-without →
  * compact), and hybrid RRF fusion semantics. Hand-built fixtures where
  * every expected value is derivable by inspection; the registry rows
  * prove oracle equivalence on real data, these pin the SEMANTICS and
  * the persisted-path contracts the oracles can't see. */
class Round17bOpsSpec extends SparkSpec {
  import spark.implicits._

  private def variant(changes: Set[Int]): String =
    (1 to 100).map(i =>
      if (changes.contains(i)) s"X$i" else s"w$i").mkString(" ")

  // ------------------------------------------------------------- q161

  test("nbScoreFrom: add-one smoothing algebra and the deterministic " +
      "(score DESC, class ASC) tie-break, OOV tokens skipped") {
    val train = Seq((1L, "x x x", "a"), (2L, "y y y", "b"))
      .toDF("doc_id", "text", "lang")
    val (tc, cs) = ClassifyOps.nbTrainFrames(train)
    // "x z x": z is OOV (skipped), two x hits → class a wins on counts
    // "x y":   symmetric counts and equal priors → exact score tie →
    //          class ASC tie-break must pick "a"
    val test0 = Seq((10L, "x z x", "a"), (11L, "x y", "b"))
      .toDF("doc_id", "text", "lang")
    val got = ClassifyOps.nbScoreFrom(tc, cs, test0).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(got == Set((10L, "a", 2L), (11L, "a", 2L)), got.toString)
    // the label-free apply path predicts identically without a lang col
    val unlabeled = test0.drop("lang")
    val pred = ClassifyOps.nbPredict(tc, cs, unlabeled).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(pred == Set((10L, "a", 2L), (11L, "a", 2L)), pred.toString)
  }

  test("nbPredict: calls on different inputs in one session keep both " +
      "results' model and token caches") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val docs = Tables.documents(spark, sf0001)
    def predict(lo: Long) = {
      val (tc, cs) = ClassifyOps.nbTrainFrames(
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 20))
      ClassifyOps.nbPredict(tc, cs,
        docs.filter(col("doc_id") >= lo + 20 && col("doc_id") < lo + 40).drop("lang"))
    }
    val (predA, predB) = (predict(0L), predict(40L))
    // tc, cls and etok: three cached frames, looked up only now, after
    // the second call pinned its own
    def caches(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r.cacheBuilder }.distinct.size
    try {
      assert(caches(predA) == 3, "the first call's frames were unpersisted")
      assert(caches(predB) == 3)
      assert(predA.count() == 20L && predB.count() == 20L)
    } finally graft.core.CacheOnce.releaseAll(spark)
  }

  test("NB model lifecycle: stored ≡ direct, append ≡ retrain, unlearn " +
      "is EXACT (train(A∪B) then unlearn(B) scores like train(A))") {
    val docs = Tables.documents(spark, sf0001)
    val a = docs.filter(col("doc_id") < 20)
    val b = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
    val test0 = docs.filter(col("doc_id") >= 40)
    def scores(tc: org.apache.spark.sql.DataFrame,
        cs: org.apache.spark.sql.DataFrame) =
      ClassifyOps.nbScoreFrom(tc, cs, test0).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
    val (tcAB, csAB) = ClassifyOps.nbTrainFrames(a.unionByName(b))
    val direct = scores(tcAB, csAB)

    ClassifyOps.writeNbModel(a.unionByName(b), "nb17")
    val stored = scores(spark.table("nb17_tokcounts"),
      spark.table("nb17_class"))
    assert(stored == direct, "stored model must score like the direct fit")

    ClassifyOps.writeNbModel(a, "nb17a")
    ClassifyOps.appendToNbModel(b, "nb17a")
    val appended = scores(spark.table("nb17a_tokcounts"),
      spark.table("nb17a_class"))
    assert(appended == direct, "append must equal a from-scratch retrain")

    ClassifyOps.unlearnFromNbModel(b, "nb17")
    val unlearned = scores(spark.table("nb17_tokcounts"),
      spark.table("nb17_class"))
    val (tcA, csA) = ClassifyOps.nbTrainFrames(a)
    val directA = scores(tcA, csA)
    assert(unlearned == directA,
      "unlearn(B) must restore train(A)'s scores exactly")
    assert(unlearned != direct,
      "fixture must actually change predictions when B leaves")
  }

  // ------------------------------------------------------------- q162

  test("BM25 takedown: tombstoned docs vanish from serve, scores equal " +
      "an index rebuilt without them, before and after compaction; " +
      "replayed takedown is a no-op") {
    val docs = Tables.documents(spark, sf0001)
    val terms = TextOps.bm25ServeTerms
    TextOps.writeBm25Index(docs, "bm17")
    val full = TextOps.bm25Serve(spark, "bm17", terms).collect()
    // take down the top-2 docs of the full answer — serve MUST move
    val gone = full.take(2).map(_.getLong(0)).toSeq
    TakedownOps.takedownBm25Index(spark, "bm17", gone.toDF("doc_id"))
    val served = TextOps.bm25Serve(spark, "bm17", terms).collect().toSeq
    TextOps.writeBm25Index(
      docs.filter(!col("doc_id").isin(gone: _*)), "bm17ref")
    val rebuilt = TextOps.bm25Serve(spark, "bm17ref", terms).collect().toSeq
    assert(served == rebuilt,
      "takedown serve must equal rebuild-without (df/stats re-derive)")
    served.foreach(r => assert(!gone.contains(r.getLong(0))))
    // replay the same takedown: tombstones must not duplicate
    TakedownOps.takedownBm25Index(spark, "bm17", gone.toDF("doc_id"))
    assert(spark.table("bm17_takedown").count() == gone.size)
    assert(TextOps.bm25Serve(spark, "bm17", terms).collect().toSeq == rebuilt)

    TakedownOps.compactBm25Index(spark, "bm17")
    assert(!spark.catalog.tableExists("bm17_takedown"))
    assert(TextOps.bm25Serve(spark, "bm17", terms).collect().toSeq == rebuilt)
    assert(spark.table("bm17_doclen").count() ==
      docs.count() - gone.size)
  }

  test("dedup-index takedown: serve equals rebuild-without — including " +
      "the df correction — idempotent under replay, exact after compact") {
    val corpus = Seq(
      (1L, variant(Set.empty)),
      (2L, variant(Set(10))),          // near-dups doc 1; pairs batch 20
      (3L, variant(Set(60, 70, 80, 90))))
      .toDF("doc_id", "text")
    val batch = Seq(
      (20L, variant(Set(10, 20))),     // pairs 1 and 2 when both live
      (21L, variant(Set(60, 70, 80, 90, 5)))) // pairs 3 only
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupOps.writeDedupIndex(corpus, "dd17")
    val before = pairs(DedupOps.incrementalNearDupServe(spark, "dd17", batch))
    assert(before.contains((2L, 20L)) && before.contains((1L, 20L)) &&
      before.contains((3L, 21L)), before.toString)

    TakedownOps.takedownDedupIndex(spark, "dd17", Seq(2L).toDF("doc_id"))
    val served = pairs(DedupOps.incrementalNearDupServe(spark, "dd17", batch))
    DedupOps.writeDedupIndex(corpus.filter(col("doc_id") =!= 2L), "dd17ref")
    val rebuilt = pairs(
      DedupOps.incrementalNearDupServe(spark, "dd17ref", batch))
    assert(served == rebuilt,
      s"takedown serve must equal rebuild-without: $served vs $rebuilt")
    assert(!served.exists(p => p._1 == 2L || p._2 == 2L))
    assert(served.contains((1L, 20L)), "unrelated pairs must survive")

    // replay: the df correction derives from tombstones at serve time,
    // so a re-delivered takedown cannot double-subtract
    TakedownOps.takedownDedupIndex(spark, "dd17", Seq(2L).toDF("doc_id"))
    assert(spark.table("dd17_takedown").count() == 1)
    assert(pairs(
      DedupOps.incrementalNearDupServe(spark, "dd17", batch)) == rebuilt)

    TakedownOps.compactDedupIndex(spark, "dd17")
    assert(!spark.catalog.tableExists("dd17_takedown"))
    assert(pairs(
      DedupOps.incrementalNearDupServe(spark, "dd17", batch)) == rebuilt)
    // the compacted df table is exact again (equals the rebuilt one)
    val dfGot = spark.table("dd17_df").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dfRef = spark.table("dd17ref_df").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dfGot == dfRef)
  }

  // ------------------------------------------------------------- q164

  test("takedownKeepers: keeper removal re-elects the min survivor, " +
      "bridge removal keeps membership (monotone), untouched clusters " +
      "and singletons pass through, whole-cluster removal vanishes") {
    // comp {1,2,3} keeper 1 (formed by chain edges 1–2, 2–3: 2 is a
    // bridge), comp {5,6} keeper 5, singleton 9
    val stored = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L),
      (9L, 9L)).toDF("doc_id", "keeper")
    def run(ids: Seq[Long]) =
      graft.llm.DedupOps.takedownKeepers(stored, ids.toDF("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // keeper 1 leaves → {2,3} re-elect 2; other clusters untouched
    assert(run(Seq(1L)) ==
      Seq((2L, 2L), (3L, 2L), (5L, 5L), (6L, 5L), (9L, 9L)))
    // the BRIDGE (2) leaves → membership is monotone: {1,3} stay one
    // component under keeper 1 (an edge-level recompute would split)
    assert(run(Seq(2L)) ==
      Seq((1L, 1L), (3L, 1L), (5L, 5L), (6L, 5L), (9L, 9L)))
    // a non-keeper member leaves → keeper unchanged
    assert(run(Seq(6L)) ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (9L, 9L)))
    // a whole cluster (and a singleton) leaves → no orphan rows
    assert(run(Seq(5L, 6L, 9L)) == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("ingest takedown: content leaves every read path — a re-arriving " +
      "near-dup of removed content is admitted fresh, and the next " +
      "keeper snapshot drops the doc and re-elects its cluster") {
    import graft.app.IngestDedupApp
    val dir = java.nio.file.Files.createTempDirectory("graft-td17").toString
    // batch 0: docs 1,2 near-dups (keeper 1), doc 3 far from both
    Seq((1L, variant(Set.empty)), (2L, variant(Set(10))),
      (3L, variant((40 to 75).toSet)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/batch_id=0")
    assert(IngestDedupApp.refreshKeepers(spark, dir) == 0L)
    assert(spark.read.parquet(s"$dir/keepers/upto=0").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L))

    // a near-dup of docs 1/2 is REJECTED while they are in the corpus
    val rearrival = Seq((10L, variant(Set(10, 20)))).toDF("doc_id", "text")
    assert(graft.llm.DedupOps.admitBatch(
      IngestDedupApp.corpus(spark, dir), rearrival).count() == 0)

    // take down the whole near-dup cluster's content
    IngestDedupApp.takedown(spark, dir, Seq(1L, 2L).toDF("doc_id"))
    assert(IngestDedupApp.corpus(spark, dir).collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // the same content re-arrives: the corpus no longer contains what
    // it near-dupped against — admitted fresh
    assert(graft.llm.DedupOps.admitBatch(
      IngestDedupApp.corpus(spark, dir), rearrival).count() == 1)

    // replayed takedown append is harmless (distinct-folded at read)
    IngestDedupApp.takedown(spark, dir, Seq(1L).toDF("doc_id"))

    // next refresh goes through the MERGE path (stored upto=0 is stale:
    // it still holds docs 1,2) — the final re-election drops them
    Seq((20L, variant((1 to 35).toSet))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/batch_id=1")
    assert(IngestDedupApp.refreshKeepers(spark, dir) == 1L)
    assert(spark.read.parquet(s"$dir/keepers/upto=1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(3L -> 3L, 20L -> 20L))

    // a re-DELIVERED tombstoned id may land in a batch dir, but the id
    // is dead forever: every read path keeps excluding it
    Seq((1L, variant(Set.empty))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/batch_id=2")
    assert(!IngestDedupApp.corpus(spark, dir).collect()
      .map(_.getLong(0)).contains(1L),
      "a tombstoned id must not resurface through replay")
    assert(IngestDedupApp.refreshKeepers(spark, dir) == 2L)
    assert(spark.read.parquet(s"$dir/keepers/upto=2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(3L -> 3L, 20L -> 20L))
  }

  // ------------------------------------------------------------- q163

  test("hybridRrfServe: fused answer from persisted indexes equals the " +
      "direct form, and ONE logical takedown against both stores " +
      "removes the doc from the fused serving path") {
    val docs = Tables.documents(spark, sf0001)
    val em = Tables.embeddings(spark, sf0001)
    val terms = graft.llm.SimilarityOps.HybridTerms
    TextOps.writeBm25Index(docs, "hy17")
    SimilarityOps.writeTrainedIvfIndex(em, "hy17ivf")
    val direct = SimilarityOps.hybridRrf(docs, em, terms).collect().toSeq
    val served = SimilarityOps.hybridRrfServe(spark, "hy17", "hy17ivf",
      terms).collect().toSeq
    assert(served == direct,
      s"serve must equal direct:\n$served\nvs\n$direct")

    // one LOGICAL takedown: the same id tombstones both stores (the
    // fused doc must leave both arms, not just one)
    val gone = direct.map(_.getLong(0)).find(_ != 0L).get
    TakedownOps.takedownBm25Index(spark, "hy17", Seq(gone).toDF("doc_id"))
    SimilarityOps.deleteFromTrainedIvfIndex(spark, "hy17ivf", Seq(gone))
    val after = SimilarityOps.hybridRrfServe(spark, "hy17", "hy17ivf",
      terms).collect().toSeq
    val ref = SimilarityOps.hybridRrf(
      docs.filter(col("doc_id") =!= gone),
      em.filter(col("vec_id") =!= gone), terms).collect().toSeq
    assert(after == ref,
      "takedown serve must equal the direct form without the doc")
    assert(!after.exists(_.getLong(0) == gone))
  }

  // ------------------------------------------------------- q167/q168

  test("trainingShuffle: a permutation (every doc exactly once), full " +
      "shards except the tail, deterministic across reruns, and not " +
      "the identity order") {
    import graft.llm.ChunkOps
    val docs = (0L until 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = ChunkOps.trainingShuffle(docs, seed = 42L, shardSize = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a.map(_._1).sorted == (0L until 10L), "must be a permutation")
    val sizes = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map(0L -> 4, 1L -> 4, 2L -> 2), sizes.toString)
    assert(a.map(x => (x._2, x._3)) ==
      Seq((0L,0L),(0L,1L),(0L,2L),(0L,3L),(1L,0L),(1L,1L),(1L,2L),(1L,3L),
        (2L,0L),(2L,1L)), "positions must be dense per shard")
    val b = ChunkOps.trainingShuffle(docs, seed = 42L, shardSize = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b, "same seed must reproduce the same order")
    assert(a.map(_._1) != (0L until 10L).toSeq,
      "md5 order must actually permute (fixture sanity)")
    val c = ChunkOps.trainingShuffle(docs, seed = 7L, shardSize = 4L)
      .collect().map(_.getLong(0)).toSeq
    assert(c != a.map(_._1), "a different seed must give a different order")
  }

  test("clusterCapSample: cap=2 keeps the two best of a 3-clique, " +
      "singletons survive as rank-1 components, and rank-1 rows agree " +
      "with the q126 quality keeper") {
    import graft.llm.DedupOps
    val docs = Tables.documents(spark, sf0001)
    val capped = DedupOps.clusterCapSample(docs, cap = 2).collect()
    val byComp = capped.groupBy(_.getLong(0))
    // every component keeps at most 2 and ranks are dense from 1
    byComp.foreach { case (c, rows) =>
      assert(rows.length <= 2, s"component $c kept ${rows.length}")
      assert(rows.map(_.getLong(3)).sorted.toSeq ==
        (1L to rows.length).toSeq, s"ranks not dense for $c")
    }
    // multi-member components must exist in the fixture and keep 2
    val multi = capped.filter(_.getLong(4) >= 2)
    assert(multi.nonEmpty, "fixture must contain near-dup clusters")
    assert(multi.groupBy(_.getLong(0)).forall(_._2.length == 2))
    // the rank-1 choice is exactly q126's quality-argmax keeper
    val rank1 = capped.filter(_.getLong(3) == 1L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q126 = DedupOps.qualityKeeper(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(q126.subsetOf(rank1),
      "rank-1 rows must contain every quality-keeper choice")
  }

  // ------------------------------------------------------------- q170

  test("passage index lifecycle: stored ≡ direct, append ≡ rebuild, " +
      "and a document takedown removes EVERY passage of the doc") {
    val docs = Tables.documents(spark, sf0001)
    val terms = TextOps.PassageServeTerms
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    TextOps.writePassageIndex(docs, "pi17")
    val direct = rows(TextOps.bm25Passages(docs, terms))
    assert(rows(TextOps.passageServe(spark, "pi17", terms)) == direct,
      "stored serve must equal the direct form")

    // append ≡ rebuild: split the corpus, index the head, append the
    // tail — answers must match the full index
    val cutV = docs.agg(
      (max(col("doc_id")) * 8 / 10).cast("long")).first().getLong(0)
    TextOps.writePassageIndex(docs.filter(col("doc_id") < cutV), "pi17a")
    TextOps.appendToPassageIndex(
      docs.filter(col("doc_id") >= cutV), "pi17a")
    assert(rows(TextOps.passageServe(spark, "pi17a", terms)) == direct,
      "append must equal a from-scratch rebuild")

    // takedown by document: every passage of the top doc leaves
    val gone = direct.head._1
    graft.llm.TakedownOps.takedownBm25Index(spark, "pi17",
      Seq(gone).toDF("doc_id"))
    val served = rows(TextOps.passageServe(spark, "pi17", terms))
    TextOps.writePassageIndex(
      docs.filter(col("doc_id") =!= gone), "pi17ref")
    assert(served == rows(TextOps.passageServe(spark, "pi17ref", terms)),
      "takedown serve must equal rebuild-without")
    assert(!served.exists(_._1 == gone))
    assert(spark.table("pi17_postings")
      .filter(col("doc_id") === gone).count() > 0,
      "fixture: the tombstoned doc must actually have postings rows")
  }

  // ------------------------------------------------------------- q166

  test("semanticContamination: an eval-near train vector is flagged, " +
      "orthogonal ones are not, and the 9/10 id split is strict") {
    // cut = floor(9*9/10) = 8 → eval = {8, 9}
    val em = Seq(
      (0L, Array(1f, 0f)),      // ≈ eval 8 → flagged
      (1L, Array(0f, 1f)),      // orthogonal to 8, opposite to 9
      (8L, Array(1f, 0.1f)),
      (9L, Array(0f, -1f)))
      .toDF("vec_id", "embedding")
    val got = graft.llm.SimilarityOps.semanticContamination(em, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 8L)), got.toString)
  }

  // ------------------------------------------------------------- q165

  test("bm25Passages: max-pooled passage scoring surfaces the dense " +
      "window a whole-document ranking washes out, and points at the " +
      "right chunk") {
    // doc 1: 40 tokens, a 2-hit passage at tokens 9–10 (chunk_ix 2
    // under width=4, stride=4); doc 2: 4 tokens with 1 hit. Document-
    // level BM25 ranks doc 2 FIRST (length normalization punishes doc
    // 1's 40 tokens more than tf=2 helps); passage-level ranks doc 1
    // first (its best chunk has tf=2 at the same chunk length) — the
    // inversion is the operator's reason to exist.
    val docs = Seq(
      (1L, (Seq.fill(8)("w") ++ Seq("q", "q", "v", "v")
        ++ Seq.fill(28)("w")).mkString(" ")),
      (2L, "q w w w")).toDF("doc_id", "text")
    val pas = TextOps.bm25Passages(docs, Seq("q"), width = 4, stride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pas.map(_._1) == Seq(1L, 2L),
      s"passage ranking must put the dense-window doc first: $pas")
    assert(pas.head._2 == 2L, s"best chunk of doc 1 must be ix 2: $pas")
    val docLevel = TextOps.bm25(docs, Seq("q"))
      .collect().map(_.getLong(0)).toSeq
    assert(docLevel == Seq(2L, 1L),
      s"fixture must actually invert under doc-level BM25: $docLevel")
  }

  test("hybridRrf: fusion ranks by summed reciprocal ranks, one-arm " +
      "docs carry rank 0 on the absent arm, rrf ties break by doc_id") {
    val docs = Seq(
      (0L, "table scan only"),                 // no query terms → bm absent
      (1L, "vector join sort vector join"),    // strongest lexical hit
      (2L, "table scan row"),                  // no query terms
      (3L, "vector agg agg agg agg agg agg"))  // weaker lexical hit
      .toDF("doc_id", "text")
    val em = Seq(
      (0L, Array(1f, 0f)),      // the query vector (cos 1 with itself)
      (1L, Array(0f, 1f)),      // orthogonal → dense rank beyond armK=2
      (2L, Array(0.99f, 0.1f)), // dense rank 2
      (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.hybridRrf(docs, em,
        terms = Seq("vector", "join", "sort"), queryVecId = 0L,
        armK = 2, topN = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3))).toSeq
    // bm arm top-2: d1 (3 distinct terms), d3 (1 term); dense arm
    // top-2: vec0 (self), vec2. rrf: d0 = 1/61 (ann 1), d1 = 1/61
    // (bm 1), d2 = 1/62 (ann 2), d3 = 1/62 (bm 2) — two exact ties,
    // both broken by doc_id ascending
    val r61 = BigDecimal(1.0 / 61).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val r62 = BigDecimal(1.0 / 62).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (0L, r61, 0L, 1L), (1L, r61, 1L, 0L),
      (2L, r62, 0L, 2L), (3L, r62, 2L, 0L)), got.toString)
  }
}
