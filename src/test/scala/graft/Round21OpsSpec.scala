package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.SimilarityOps

/** Round-21 optimization pins: the native codegen expressions that
  * replaced the PQ-encode window/groupBy pipeline, the OPQ matvec HOF
  * and the second-moment struct fan-out must be BIT-IDENTICAL to the
  * formulations they replaced — every downstream ADC rank cut and every
  * oracle hash rides on that. Each test reconstructs the replaced
  * formulation verbatim and asserts exact equality (doubles compared
  * with ==, not a tolerance). */
class Round21OpsSpec extends SparkSpec {
  import spark.implicits._

  private def registered() = graft.functions.GraftFunctions.register(spark)

  // deterministic pseudo-random floats (no rand(): replayable)
  private def det(i: Int): Float =
    (((i * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5).toFloat

  test("pq_encode ≡ the replaced explode→join→window→groupBy raw encode" +
      " (codes and rnorm exact), incl. tie → lower slot") {
    registered()
    val S = 4 // subspaces, d = 8, w = 2
    val vecs = (0L until 40L).map(i =>
        (i, (0 until 8).map(j => det((i * 8 + j).toInt)))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // K = 3 slots per subspace; slots 1 and 2 of subspace 0 are
    // IDENTICAL — an exact distance tie that must resolve to slot 1
    val cbRows = (for (s <- 0 until S; slot <- 0 until 3) yield {
      val cv =
        if (s == 0 && slot == 2) Seq(det(900), det(901)) // == slot 1
        else if (s == 0 && slot == 1) Seq(det(900), det(901))
        else Seq(det(1000 + s * 10 + slot), det(2000 + s * 10 + slot))
      (s, slot, cv)
    }).toDF("s", "slot", "cv")
      .withColumn("cv", col("cv").cast("array<float>"))
    // the replaced formulation, verbatim (cn2 at the codebook, argmin
    // window, s-ordered re-assembly)
    val cbn = cbRows.withColumn("cn2", expr(
      """aggregate(cv, CAST(0 AS DOUBLE),
        |  (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""".stripMargin))
    val sub = vecs
      .withColumn("s", explode(sequence(lit(0), lit(S - 1))))
      .withColumn("_w", expr(s"size(embedding) DIV $S"))
      .withColumn("sv", expr("slice(embedding, s * _w + 1, _w)"))
      .select(col("vec_id"), col("s"), col("sv"))
    val w = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("err2"), col("slot"))
    val ref = sub.join(broadcast(cbn), "s")
      .withColumn("err2", expr("sq_dist(sv, cv)"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("vec_id"))
      .agg(
        expr("transform(array_sort(collect_list(struct(s, slot)))," +
          " x -> x.slot)").as("codes"),
        sqrt(expr(
          "aggregate(transform(array_sort(collect_list(struct(s, cn2)))," +
            " x -> x.cn2), CAST(0 AS DOUBLE), (a, v) -> a + v)"))
          .as("rnorm"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getDouble(2))).toMap
    val got = SimilarityOps.pqEncode(vecs, cbRows, S)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getDouble(2))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, (codes, rnorm)) =>
      assert(codes == ref(id)._1, s"codes moved for vec $id")
      assert(rnorm == ref(id)._2, s"rnorm moved for vec $id")
    }
    // the constructed tie resolves to the lower slot
    val tied = got.values.map(_._1.head).toSet
    assert(!tied.contains(2),
      "tie in subspace 0 must never pick slot 2 over identical slot 1")
  }

  test("pq_encode refuses a codebook whose subspaces hold ragged slots") {
    registered()
    val vecs = (0L until 4L).map(i =>
        (i, (0 until 4).map(j => det((i * 4 + j).toInt)))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def cb(slots: Seq[(Int, Int)]) = slots
      .map { case (s, slot) => (s, slot, Seq(det(s * 10 + slot), det(s * 10 + slot + 5))) }
      .toDF("s", "slot", "cv").withColumn("cv", col("cv").cast("array<float>"))
    // dense and equal: 2 subspaces x K = 2 encodes
    assert(SimilarityOps.pqEncode(vecs, cb(Seq((0, 0), (0, 1), (1, 0), (1, 1))), 2)
      .count() == 4)
    // 4 entries over 2 subspaces (|cb| % d == 0) but slots 3 + 1, and a gap
    Seq(Seq((0, 0), (0, 1), (0, 2), (1, 0)), Seq((0, 0), (0, 2), (1, 0), (1, 1)))
      .foreach { ragged =>
        val e = intercept[Exception] {
          SimilarityOps.pqEncode(vecs, cb(ragged), 2).collect()
        }
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
        assert(messages(e).exists(_.contains("same dense slots 0..K-1")),
          messages(e).mkString(" | "))
      }
  }

  test("pq_encode residual form ≡ the replaced window/groupBy residual" +
      " encode (codes and ‖ce+cv‖² rnorm exact)") {
    registered()
    val S = 4
    val model = Seq(
      (0L, (0 until 8).map(j => det(5000 + j))),
      (1L, (0 until 8).map(j => det(6000 + j)))).toDF("cid", "ce")
      .withColumn("ce", col("ce").cast("array<float>"))
    val assigned = (0L until 40L).map(i =>
        (i, (0 until 8).map(j => det((i * 8 + j).toInt)), i % 2))
      .toDF("vec_id", "embedding", "cid")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val cb = (for (s <- 0 until S; slot <- 0 until 3) yield
        (s, slot, Seq(det(7000 + s * 10 + slot).toDouble,
          det(8000 + s * 10 + slot).toDouble)))
      .toDF("s", "slot", "cv")
    // replaced formulation: residual frame, slices of rv AND ce,
    // sq_dist window, (ce+cv)² n2 fold, s-ordered re-assembly
    val rf = assigned.join(broadcast(model), "cid")
      .withColumn("rv", expr(
        """zip_with(embedding, ce,
          |  (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))""".stripMargin))
    val sub = rf
      .withColumn("s", explode(sequence(lit(0), lit(S - 1))))
      .withColumn("_w", expr(s"size(rv) DIV $S"))
      .withColumn("sv", expr("slice(rv, s * _w + 1, _w)"))
      .withColumn("cev", expr("slice(ce, s * _w + 1, _w)"))
      .select(col("vec_id"), col("cid"), col("s"), col("sv"), col("cev"))
    val w = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("err2"), col("slot"))
    val ref = sub.join(broadcast(cb), "s")
      .withColumn("err2", expr("sq_dist(sv, cv)"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("n2", expr(
        """aggregate(zip_with(cev, cv,
          |  (c, r) -> (CAST(c AS DOUBLE) + CAST(r AS DOUBLE))
          |          * (CAST(c AS DOUBLE) + CAST(r AS DOUBLE))),
          |  CAST(0 AS DOUBLE), (a, v) -> a + v)""".stripMargin))
      .groupBy(col("vec_id"), col("cid"))
      .agg(
        expr("transform(array_sort(collect_list(struct(s, slot)))," +
          " x -> x.slot)").as("codes"),
        sqrt(expr(
          "aggregate(transform(array_sort(collect_list(struct(s, n2)))," +
            " x -> x.n2), CAST(0 AS DOUBLE), (a, v) -> a + v)"))
          .as("rnorm"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Int](2), r.getDouble(3))).toMap
    val got = SimilarityOps.pqResidualEncode(assigned, model, cb, S)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Int](2), r.getDouble(3))).toMap
    assert(got == ref)
  }

  test("pq_encode fails loudly: null element, non-divisible lengths") {
    registered()
    val bad = Seq((Seq[java.lang.Double](1.0, null), Seq(0.0, 0.0),
      Seq(1.0, 2.0))).toDF("v", "b", "cb")
    val e1 = intercept[Exception] {
      bad.select(expr("pq_encode(v, b, cb, 1)")).collect()
    }
    assert(e1.getMessage.contains("null element") ||
      e1.getCause != null &&
        e1.getCause.getMessage.contains("null element"))
    val odd = Seq((Seq(1.0, 2.0, 3.0), Seq(0.0, 0.0, 0.0),
      Seq(1.0, 2.0, 3.0))).toDF("v", "b", "cb")
    val e2 = intercept[Exception] {
      odd.select(expr("pq_encode(v, b, cb, 2)")).collect()
    }
    assert(e2.getMessage.contains("divisible") ||
      e2.getCause != null && e2.getCause.getMessage.contains("divisible"))
  }

  test("mat_vec6 ≡ the replaced HOF matvec (fold order + round(x+1e-9, 6))" +
      " — exact over a deterministic sweep") {
    registered()
    val d = 16
    val r = Array.tabulate(d, d)((i, j) => det(i * d + j).toDouble * 3.7)
    val rl = array(r.map(row => array(row.map(lit): _*)): _*)
    val vecs = (0 until 500).map(i =>
        (i.toLong, (0 until d).map(j => det(100000 + i * d + j).toDouble * 11.3)))
      .toDF("vec_id", "v")
    // the replaced formulation, verbatim
    val ref = vecs.select(col("vec_id"),
        transform(sequence(lit(1), lit(d)), i =>
          round(aggregate(zip_with(element_at(rl, i), col("v"),
              (a, b) => a * b.cast("double")),
            lit(0.0), (acc, x) => acc + x) + lit(1e-9), 6)).as("mv"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    val got = vecs.select(col("vec_id"),
        call_function("mat_vec6", lit(r.flatten), col("v")).as("mv"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    assert(got == ref)
  }

  test("upper_products ≡ the replaced nested-transform fan-out" +
      " (order and values exact)") {
    registered()
    val d = 7
    val vecs = (0 until 50).map(i =>
        (i.toLong, (0 until d).map(j => det(i * d + j).toDouble * 2.9)))
      .toDF("vec_id", "rv")
    val pairArr = flatten(transform(sequence(lit(0), lit(d - 1)), i =>
      transform(sequence(i, lit(d - 1)), j =>
        struct(i.as("i"), j.as("j"),
          (element_at(col("rv"), i + 1) *
            element_at(col("rv"), j + 1)).as("v")))))
    val refMap = vecs.select(col("vec_id"), pairArr.as("ps"))
      .select(col("vec_id"), expr("transform(ps, p -> p.v)").as("ps"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    val got = vecs.select(col("vec_id"),
        expr("upper_products(rv)").as("ps"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    assert(got == refMap)
  }

  test("graft_tokens ≡ filter(split(lower(text), '[^a-z0-9]+'), <> '')" +
      " — exact over the documents fixture + unicode edges") {
    registered()
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .unionByName(Seq(
        (9001L, ""), (9002L, "   \t\n"), (9003L, "ABC def-GHI_jkl 42"),
        (9004L, "ünïcode Ärger œuf 日本語 mixed42tail"),
        (9005L, "Kelvin SIGN"), // U+212A lowercases to ASCII 'k'
        (9006L, "emoji 🎉 split"), (9007L, "123"),
        (9008L, "ends-with-sep."), (9009L, ".starts")).toDF("id", "text"))
    val ref = docs.select(col("id"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")
          .as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val got = docs.select(col("id"),
        graft.llm.Text.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got == ref)
    // schema stays the split/filter element type (no parquet shifts)
    val dt = docs.select(graft.llm.Text.tokens(col("text")).as("t"))
      .schema("t").dataType
    val refDt = docs.select(
      filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("t"))
      .schema("t").dataType
    assert(dt == refDt)
  }

  test("ngram_occurrences / shingle_strings ≡ the replaced transform" +
      "(concat_ws(slice)) HOFs — exact values, order and schema") {
    registered()
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .unionByName(Seq(
        (9001L, ""), (9002L, "one two"), (9003L, "a b a b a b"),
        (9004L, "x y z x y z dup dup dup")).toDF("id", "text"))
      .withColumn("ts", graft.llm.Text.tokens(col("text")))
    for (k <- Seq(2, 5)) {
      val refNg = when(size(col("ts")) >= k,
        transform(sequence(lit(1), size(col("ts")) - (k - 1)),
          i => concat_ws(" ", slice(col("ts"), i, lit(k)))))
        .otherwise(array().cast("array<string>"))
      val refSh = when(size(col("ts")) >= k,
        array_distinct(transform(sequence(lit(1), size(col("ts")) - (k - 1)),
          i => concat_ws(" ", slice(col("ts"), i, lit(k))))))
        .otherwise(array().cast("array<string>"))
      def m(c: org.apache.spark.sql.Column) = docs.select(col("id"), c.as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(m(graft.llm.Text.ngramOccurrences(col("ts"), k)) == m(refNg),
        s"ngram k=$k values moved")
      assert(m(graft.llm.Text.shingles(col("ts"), k)) == m(refSh),
        s"shingles k=$k values moved")
      val dtGot = docs.select(
        graft.llm.Text.ngramOccurrences(col("ts"), k).as("g")).schema("g").dataType
      val dtRef = docs.select(refNg.as("g")).schema("g").dataType
      assert(dtGot == dtRef, s"ngram k=$k schema moved")
    }
  }

  test("vec_dot ≡ aggregate(zip_with(a, b, CAST·CAST), 0.0, +) — exact," +
      " float and double sides") {
    registered()
    val rows = (0 until 300).map { i =>
      (i.toLong,
        (0 until 16).map(j => det(i * 16 + j)),
        (0 until 16).map(j => det(500000 + i * 16 + j).toDouble * 7.3))
    }.toDF("id", "f", "d")
      .withColumn("f", col("f").cast("array<float>"))
    val ref = rows.select(col("id"), expr(
        """aggregate(zip_with(f, d,
          |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |  CAST(0 AS DOUBLE), (a, v) -> a + v)""".stripMargin).as("dp"),
        expr("""aggregate(f, CAST(0 AS DOUBLE),
          |  (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"""
          .stripMargin).as("n2"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val got = rows.select(col("id"), expr("vec_dot(f, d)").as("dp"),
        expr("vec_dot(f, f)").as("n2"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == ref)
  }

  test("lshBuckets ≡ the replaced per-plane aggregate(zip_with) HOF" +
      " bucketing — exact bucket ids") {
    registered()
    val em = (0L until 400L).map(i =>
        (i, (0 until 64).map(j => det((i * 64 + j).toInt))))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // the replaced formulation, verbatim
    val refBits = SimilarityOps.planes.zipWithIndex.map { case (p, j) =>
      val dot = aggregate(
        zip_with(col("embedding"), typedlit(p.toSeq),
          (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val ref = em.select(col("vec_id"), refBits.as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SimilarityOps.lshBuckets(em)
      .select(col("vec_id"), col("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
  }

  test("pq_encode plan carries no exchange: the encode is shuffle-free") {
    registered()
    val S = 4
    val vecs = (0L until 10L).map(i =>
        (i, (0 until 8).map(j => det((i * 8 + j).toInt)))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val cb = (for (s <- 0 until S; slot <- 0 until 2) yield
        (s, slot, Seq(det(s * 7 + slot), det(s * 9 + slot))))
      .toDF("s", "slot", "cv")
      .withColumn("cv", col("cv").cast("array<float>"))
    val plan = SimilarityOps.pqEncode(vecs, cb, S)
      .queryExecution.executedPlan.toString()
    // the packed codebook's own single-row aggregation is the plan's
    // only exchange; the corpus side must see none
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"encode plan regained corpus exchanges:\n$plan")
    assert(!plan.contains("Window"),
      s"encode plan regained the argmin window:\n$plan")
  }
}
