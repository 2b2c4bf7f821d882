package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

import graft.sources.shardsim.ShardSimFixture

/** Spark's compiled-class cache must hold the working set (Sessions class
  * doc): a re-run of a query, or a steady-state micro-batch, compiles
  * nothing. Janino compiles are counted by `CodegenMetrics`; test suites
  * run one at a time in their JVM, so the count is this spec's own. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("session confs: codegen cache sized to 1000, no per-session class loaders") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a query with more classes than Spark's default cache re-runs without compiling") {
    val q75 = SparkEntry.queries("q75_cluster_split")
    def run(): Long = {
      val before = compiles()
      q75(spark, sf0001).write.format("noop").mode("overwrite").save()
      graft.core.CacheOnce.releaseAll(spark)
      compiles() - before
    }
    run()
    assert(run() == 0L)
  }

  test("a steady-state IngestDedupApp batch compiles at most 5 classes, " +
      "even when each batch runs as its own streaming query") {
    import graft.app.IngestDedupApp
    val shards = Files.createTempDirectory("codegen_ingest").toString
    val corpus = Files.createTempDirectory("codegen_corpus").toString
    val ckpt = Files.createTempDirectory("codegen_ckpt").toString
    // 6 batches of 8 docs; docs 4..7 of each later batch copy docs 0..3 of
    // the batch before, so admission rejects half and the corpus grows
    def text(ns: Long): String = (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    def batch(b: Int) = (0 until 8).map { i =>
      val id = b * 100L + i
      val txt = if (i >= 4 && b > 0) text((b - 1) * 100L + i - 4) else text(id)
      (s"d$id", 1700000000000000L + id, s"""{"doc_id":$id,"text":"$txt"}""")
    }
    val perBatch = (0 until 6).map { b =>
      if (b == 0) ShardSimFixture.writeShard(shards, 0, batch(b))
      else ShardSimFixture.append(shards, 0, batch(b))
      val before = compiles()
      IngestDedupApp.run(spark, shards, corpus, ckpt,
        maxRecordsPerBatch = Some(8L)).awaitTermination()
      compiles() - before
    }
    // the first batches take the empty-corpus and first-index plan shapes
    assert(perBatch.last <= 5L, perBatch.mkString(", "))
    assert(IngestDedupApp.corpus(spark, corpus).count() == 8L + 5 * 4L)
  }
}
