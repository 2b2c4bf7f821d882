package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.app.ConsumeApp
import graft.sources.shardsim.ShardSimFixture

/** DSv2 shardsim source: batch + micro-batch reads, admission control,
  * resume-after-offset across restarts (SURVEY §7.3, §5.2-3). */
class ShardSimSourceSpec extends SparkSpec {

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("shardsim").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 4)
    dir
  }
  private lazy val nEvents: Long =
    spark.read.parquet(s"$sf0001/events.parquet").count()

  test("batch read sees every record exactly once, with shard lineage") {
    val df = spark.read.format("graft.sources.shardsim.ShardSimProvider")
      .load(fixtureDir)
    assert(df.count() == nEvents)
    assert(df.select("shardId").distinct().count() == 4)
    // sequence numbers are unique per shard and contiguous from 0
    val perShard = df.groupBy("shardId")
      .agg(count(lit(1)).as("n"), countDistinct("sequenceNumber").as("d"),
        min("sequenceNumber").as("lo"))
      .collect()
    perShard.foreach { r =>
      assert(r.getAs[Long]("n") == r.getAs[Long]("d"))
      assert(r.getAs[String]("lo") == "000000000000")
    }
  }

  test("streaming AvailableNow consumes everything exactly once") {
    val out = Files.createTempDirectory("consume_out").toString
    val ckpt = Files.createTempDirectory("consume_ckpt").toString
    val q = ConsumeApp.run(spark, fixtureDir, out, ckpt)
    q.awaitTermination()
    val result = spark.read.parquet(s"$out/batch_id=*")
    assert(result.count() == nEvents)
    assert(result.select("event_id").distinct().count() == nEvents)
    // observe() metrics flow through the progress events: every payload
    // decodes, and the observed row count covers the whole fixture
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("decode"))).toSeq
    assert(observed.nonEmpty, "expected observed 'decode' metrics")
    assert(observed.map(_.getAs[Long]("rows")).sum == nEvents)
    assert(observed.map(_.getAs[Long]("decode_failures")).sum == 0)
  }

  test("maxRecordsPerBatch bounds each micro-batch (admission control)") {
    val out = Files.createTempDirectory("capped_out").toString
    val ckpt = Files.createTempDirectory("capped_ckpt").toString
    val q = ConsumeApp.run(spark, fixtureDir, out, ckpt,
      trigger = Trigger.AvailableNow(), maxRecordsPerBatch = Some(100L))
    q.awaitTermination()
    val result = spark.read.parquet(s"$out/batch_id=*")
    assert(result.count() == nEvents)
    // with a 100-record cap and 1000 records there must be many batches
    val nBatches = result.select(input_file_name()).distinct().count()
    assert(nBatches >= 9, s"expected >=9 capped batches, got $nBatches")
  }

  test("restart from checkpoint resumes after-offset: no loss, no dupes") {
    val dir = Files.createTempDirectory("shardsim_resume").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 4)
    val out = Files.createTempDirectory("resume_out").toString
    val ckpt = Files.createTempDirectory("resume_ckpt").toString
    // phase 1: consume the initial fixture
    val q1 = ConsumeApp.run(spark, dir, out, ckpt)
    q1.awaitTermination()
    // phase 2: new records arrive, consumer restarts from the WAL
    val extra = (0 until 50).map(i =>
      (s"u$i", 1700000000000000L + i,
        s"""{"event_id":${100000 + i},"user_id":$i,"event_type":"x","value":1.0,"ts_us":${1700000000000000L + i},"props":"{}"}"""))
    ShardSimFixture.append(dir, shard = 1, extra)
    val q2 = ConsumeApp.run(spark, dir, out, ckpt)
    q2.awaitTermination()
    val result = spark.read.parquet(s"$out/batch_id=*")
    assert(result.count() == nEvents + 50)
    assert(result.select("event_id").distinct().count() == nEvents + 50,
      "resume must not replay committed offsets (exactly-once)")
  }

  test("shards appearing mid-stream are discovered and consumed (split/merge analog)") {
    // the reference's explicitly-unfinished TODO (README.md:8): after a
    // split, new child shards must be discovered and consumed from seq 0.
    // The simulator handles it structurally: shard listing happens per
    // latestOffset poll, and an unknown shard's start offset defaults to 0.
    val dir = Files.createTempDirectory("shardsim_split").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 2)
    val out = Files.createTempDirectory("split_out").toString
    val ckpt = Files.createTempDirectory("split_ckpt").toString
    val q1 = ConsumeApp.run(spark, dir, out, ckpt)
    q1.awaitTermination()
    // "split": shard-1 closes, two new child shards appear with fresh records
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, "shard-1.tsv"),
      java.nio.file.Paths.get(dir, "shard-1.closed.tsv"))
    Seq(2, 3).foreach { child =>
      val rows = (0 until 25).map(i =>
        (s"u$i", 1710000000000000L + i,
          s"""{"event_id":${200000 + child * 1000 + i},"user_id":$i,"event_type":"x","value":1.0,"ts_us":${1710000000000000L + i},"props":"{}"}"""))
      val f = java.nio.file.Paths.get(dir, s"shard-$child.tsv")
      val w = java.nio.file.Files.newBufferedWriter(f)
      try rows.zipWithIndex.foreach { case ((pk, ar, data), i) =>
        w.write(f"$i%012d\t$pk\t$ar\t$data\n")
      } finally w.close()
    }
    val q2 = ConsumeApp.run(spark, dir, out, ckpt)
    q2.awaitTermination()
    val result = spark.read.parquet(s"$out/batch_id=*")
    assert(result.count() == nEvents + 50)
    assert(result.select("event_id").distinct().count() == nEvents + 50,
      "child-shard records must arrive exactly once, parents not replayed")
  }

  test("split children are gated until the parent is closed AND drained") {
    import graft.sources.shardsim.{ShardSim, ShardSimMicroBatchStream}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("shardsim_gate").toString
    def row(i: Int) = (s"u$i", 1700000000000000L + i, s"""{"k":$i}""")
    ShardSimFixture.writeShard(dir, 0, (0 until 10).map(row))
    ShardSimFixture.writeChild(dir, 1, parent = 0, (0 until 5).map(row))
    val stream = new ShardSimMicroBatchStream(dir, Map.empty)
    def ends(start: Map[String, Long]): Map[String, Long] =
      stream.latestOffset(ShardSim.ShardOffsets(start), ReadLimit.allAvailable())
        .asInstanceOf[ShardSim.ShardOffsets].seqs
    // parent open: child fully gated
    val e1 = ends(Map("shard-0" -> 0L, "shard-1" -> 0L))
    assert(e1("shard-0") == 10L && e1("shard-1") == 0L, e1.toString)
    // parent closed but not drained: still gated
    ShardSimFixture.closeShard(dir, 0)
    val e2 = ends(Map("shard-0" -> 3L, "shard-1" -> 0L))
    assert(e2("shard-0") == 10L && e2("shard-1") == 0L, e2.toString)
    // parent closed AND drained: child released
    val e3 = ends(Map("shard-0" -> 10L, "shard-1" -> 0L))
    assert(e3("shard-1") == 5L, e3.toString)
  }

  test("merge children wait for BOTH parents to drain") {
    import graft.sources.shardsim.{ShardSim, ShardSimMicroBatchStream}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("shardsim_merge").toString
    def row(i: Int) = (s"u$i", 1700000000000000L + i, s"""{"k":$i}""")
    ShardSimFixture.writeShard(dir, 0, (0 until 10).map(row), closed = true)
    ShardSimFixture.writeShard(dir, 1, (0 until 8).map(row), closed = true)
    ShardSimFixture.writeMergeChild(dir, 2, Seq(0, 1), (0 until 5).map(row))
    val stream = new ShardSimMicroBatchStream(dir, Map.empty)
    def ends(start: Map[String, Long]): Map[String, Long] =
      stream.latestOffset(ShardSim.ShardOffsets(start), ReadLimit.allAvailable())
        .asInstanceOf[ShardSim.ShardOffsets].seqs
    // only one parent drained: merge child still gated
    val e1 = ends(Map("shard-0" -> 10L, "shard-1" -> 3L, "shard-2" -> 0L))
    assert(e1("shard-2") == 0L, e1.toString)
    // both parents drained: released
    val e2 = ends(Map("shard-0" -> 10L, "shard-1" -> 8L, "shard-2" -> 0L))
    assert(e2("shard-2") == 5L, e2.toString)
  }

  test("a batch cap below the backlogged shard count holds every batch " +
      "to the cap, rotates the shards, and still drains everything") {
    import graft.sources.shardsim.{ShardSim, ShardSimMicroBatchStream}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("shardsim_rotate").toString
    def row(i: Int) = (s"u$i", 1700000000000000L + i, s"""{"k":$i}""")
    (0 until 8).foreach(k => ShardSimFixture.writeShard(dir, k, (0 until 10).map(row)))
    val stream = new ShardSimMicroBatchStream(dir, Map.empty)
    var start = stream.initialOffset().asInstanceOf[ShardSim.ShardOffsets]
    var batches = 0
    var rows = 0L
    var sizes = Seq.empty[Long]
    // longest run of batches a backlogged shard went without a record
    val idle = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var maxIdle = 0
    var done = false
    while (!done) {
      val end = stream.latestOffset(start, ReadLimit.maxRows(4))
        .asInstanceOf[ShardSim.ShardOffsets]
      val grown = end.seqs.map { case (k, v) => k -> (v - start.seqs(k)) }
      val n = grown.values.sum
      if (n == 0) done = true
      else {
        grown.foreach { case (k, g) =>
          if (g > 0 || start.seqs(k) == 10L) idle(k) = 0
          else { idle(k) += 1; maxIdle = math.max(maxIdle, idle(k)) }
        }
        sizes :+= n; rows += n; batches += 1; start = end
      }
    }
    assert(sizes.forall(_ <= 4L), sizes.toString)
    assert(rows == 80L && start.seqs.values.forall(_ == 10L), start.json())
    assert(batches == 20, s"$batches batches")
    // 8 shards through 4 slots: each shard is served every other batch
    assert(maxIdle <= 1, s"a shard waited $maxIdle batches")
  }

  test("readers seek to ranges mid-file by sequence-number search: same " +
      "rows as reading from line 0, also after a retry reopen") {
    import graft.sources.shardsim.{ShardSim, ShardSimPartitionReader}
    val dir = Files.createTempDirectory("shardsim_seek").toString
    // uneven line lengths (1..1999 bytes of payload) so interpolation
    // guesses miss and the search has to correct itself
    val payloads = (0 until 400).map(i => "x" * ((i * 7919) % 1999 + 1))
    ShardSimFixture.writeShard(dir, 0, payloads.zipWithIndex.map { case (p, i) =>
      (s"u$i", 1700000000000000L + i, p) })
    val plain = Files.createTempDirectory("shardsim_noprefix").toString
    val plainFile = java.nio.file.Paths.get(plain, "shard-0.tsv")
    Files.write(plainFile, payloads.zipWithIndex.map { case (p, i) =>
      s"r$i\tu$i\t${1700000000000000L + i}\t$p\n" }.mkString.getBytes("UTF-8"))
    val file = ShardSim.listShards(dir).head.file
    val lines = new String(Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
      .split("\n", -1).dropRight(1)
    val starts = lines.scanLeft(0L)(_ + _.getBytes("UTF-8").length + 1)
    (0 until 400).foreach(n => assert(ShardSim.seekRecord(file, n.toLong).contains(starts(n)), n))
    assert(ShardSim.seekRecord(plainFile.toString, 5L).isEmpty)

    def read(f: String, ranges: Seq[(Long, Long)],
        options: Map[String, String] = Map.empty): Seq[String] = {
      val r = new ShardSimPartitionReader(ShardSim.ShardSimInputPartition(
        ranges.map { case (a, b) => ShardSim.ShardRange("shard-0", f, a, b) }), options)
      try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
        val row = r.get()
        s"${row.getUTF8String(0)}\t${row.getUTF8String(1)}\t${row.getLong(2)}\t${row.getUTF8String(3)}"
      }.toList
      finally r.close()
    }
    val ranges = Seq((0L, 3L), (1L, 2L), (37L, 90L), (200L, 201L), (398L, 400L), (123L, 380L))
    ranges.foreach { case (a, b) =>
      assert(read(file, Seq((a, b))) == lines.slice(a.toInt, b.toInt).toSeq, (a, b))
      assert(read(plainFile.toString, Seq((a, b))).map(_.split("\t")(3)) ==
        payloads.slice(a.toInt, b.toInt), (a, b))
    }
    // a transient failure after 30 rows reopens mid-range: the reader
    // seeks again to the resume point and emits each row once
    val marker = Files.createTempDirectory("shardsim_seek_marker").resolve("fired").toString
    val twoRanges = Seq((37L, 60L), (123L, 150L))
    assert(read(file, twoRanges, Map("faultinjectmarker" -> marker,
        "faultinjectafter" -> "30", "retrymaxattempts" -> "1", "retrybasedelayms" -> "1")) ==
      twoRanges.flatMap { case (a, b) => lines.slice(a.toInt, b.toInt) })
    assert(Files.exists(java.nio.file.Paths.get(marker)), "the fault must have fired")
  }

  test("no child record is read before its parent drains (per-key order across split)") {
    // per-key order across a split: all parent batches must commit strictly
    // before the first child batch, so a user's pre-split records land first
    val dir = Files.createTempDirectory("shardsim_order").toString
    def row(tag: String)(i: Int) =
      (s"u${i % 3}", 1700000000000000L + i,
        s"""{"event_id":${if (tag == "p") i else 100 + i},"user_id":${i % 3},"event_type":"$tag","value":1.0,"ts_us":${1700000000000000L + i},"props":"{}"}""")
    ShardSimFixture.writeShard(dir, 0, (0 until 40).map(row("p")), closed = true)
    ShardSimFixture.writeChild(dir, 1, parent = 0, (0 until 20).map(row("c")))
    val out = Files.createTempDirectory("order_out").toString
    val ckpt = Files.createTempDirectory("order_ckpt").toString
    // small per-batch cap → the parent takes several batches to drain
    val q = ConsumeApp.run(spark, dir, out, ckpt,
      maxRecordsPerBatch = Some(10L))
    q.awaitTermination()
    val result = spark.read.option("basePath", out).parquet(s"$out/batch_id=*")
    assert(result.count() == 60)
    val byShard = result.groupBy("shardId")
      .agg(min(col("batch_id").cast("long")).as("first"),
        max(col("batch_id").cast("long")).as("last"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byShard("shard-0")._2 < byShard("shard-1")._1,
      s"child batches must start after the last parent batch: $byShard")
  }

  test("closed shards are read to their end and then excluded") {
    val dir = Files.createTempDirectory("shardsim_closed").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 4, closedShards = Set(0, 2))
    val df = spark.read.format("graft.sources.shardsim.ShardSimProvider").load(dir)
    assert(df.count() == nEvents)
    assert(df.select("shardId").distinct().count() == 4)
  }

  test("ForeachWriter sink delivers every record exactly once (per-record Processor contract)") {
    val out = Files.createTempDirectory("foreach_out").toString
    val ckpt = Files.createTempDirectory("foreach_ckpt").toString
    val q = ConsumeApp.runForeach(spark, fixtureDir, out, ckpt,
      maxRecordsPerBatch = Some(300L))
    q.awaitTermination()
    val lines = java.nio.file.Files.list(java.nio.file.Paths.get(out)).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val all = scala.jdk.CollectionConverters.IteratorHasAsScala(lines).asScala
      .filter(_.toString.endsWith(".tsv"))
      .flatMap(p => scala.jdk.CollectionConverters
        .ListHasAsScala(java.nio.file.Files.readAllLines(p)).asScala)
      .toSeq
    assert(all.size == nEvents, s"expected $nEvents records, got ${all.size}")
    assert(all.map(_.split("\t")(2)).distinct.size == nEvents,
      "each event_id delivered exactly once through the ForeachWriter")
  }

  test("a transient mid-batch reader failure: restart resumes with no loss, no dupes") {
    // the read-side counterpart of the sink-crash test below — the
    // reference classifies transient GetRecords errors and retries
    // (src/Kinesis/Kinesis.hs:119-176); here the reader dies AFTER having
    // already produced rows into the running batch, the worst case: the
    // partial batch must vanish (it never committed) and the restart must
    // replay it from the offset WAL exactly once
    val dir = Files.createTempDirectory("shardsim_readerfault").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 4)
    val out = Files.createTempDirectory("readerfault_out").toString
    val ckpt = Files.createTempDirectory("readerfault_ckpt").toString
    val marker = Files.createTempDirectory("readerfault_marker")
      .resolve("fired").toString
    def start() = ConsumeApp.decodedStream(spark, dir, Some(200L),
        extraOptions = Map(
          "faultInjectMarker" -> marker, "faultInjectAfter" -> "43"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      .start()
    val q1 = start()
    val crash = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(crash).exists(_.contains("injected transient read failure")),
      messages(crash).mkString(" | "))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      "the fault must have fired exactly once via the marker file")
    // restart: the marker exists, so the retry reads clean; the WAL replays
    // the uncommitted batch from the same offsets
    val q2 = start()
    q2.awaitTermination()
    val result = spark.read.parquet(s"$out/batch_id=*")
    assert(result.count() == nEvents, s"lost/duplicated rows: ${result.count()}")
    assert(result.select("event_id").distinct().count() == nEvents,
      "reader-failure replay must not duplicate records")
  }

  test("reader-level retry/backoff absorbs a transient fault with NO task or query retry") {
    // the reference's per-call classification + retry
    // (src/Kinesis/Kinesis.hs:119-176) as a source option: local mode has
    // task.maxFailures=1 and we never restart the query, so the ONLY way
    // this run can succeed is the in-reader backoff loop repositioning
    // and continuing — task retry and WAL replay are both unavailable
    val dir = Files.createTempDirectory("shardsim_readerretry").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 4)
    val out = Files.createTempDirectory("readerretry_out").toString
    val ckpt = Files.createTempDirectory("readerretry_ckpt").toString
    val marker = Files.createTempDirectory("readerretry_marker")
      .resolve("fired").toString
    val q = ConsumeApp.decodedStream(spark, dir, Some(200L),
        extraOptions = Map(
          "faultInjectMarker" -> marker, "faultInjectAfter" -> "43",
          "retryMaxAttempts" -> "3", "retryBaseDelayMs" -> "1"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      .start()
    q.awaitTermination() // throws if the fault escaped the retry loop
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      "the fault must actually have fired (marker file)")
    val result = spark.read.parquet(s"$out/batch_id=*")
    assert(result.count() == nEvents,
      s"retry resume lost/duplicated rows: ${result.count()}")
    assert(result.select("event_id").distinct().count() == nEvents,
      "in-reader resume must not re-emit already-produced records")
  }

  test("a mid-write sink crash replays the batch: no loss, no dupes") {
    // the reference's at-least-once contract under worker death
    // (src/Kinesis/Coordination.hs:265-290) — here upgraded to exactly-once
    // by the WAL + idempotent sink, asserted under an injected crash
    val dir = Files.createTempDirectory("shardsim_crash").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 4)
    val out = Files.createTempDirectory("crash_out").toString
    val ckpt = Files.createTempDirectory("crash_ckpt").toString
    val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start() = ConsumeApp.decodedStream(spark, dir, Some(200L))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (batchId == 2 && boom.getAndSet(false)) {
          // crash AFTER a partial write of this batch's directory — the
          // worst case: data on disk but the batch never committed
          batch.limit(37).write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
          throw new RuntimeException("injected sink crash at batch 2")
        }
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      .start()
    val q1 = start()
    val crash = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crash.getMessage.contains("injected sink crash"), crash.getMessage)
    // restart: the WAL replays batch 2 from the same offsets; the
    // overwrite-by-batch-dir sink makes the replay idempotent
    val q2 = start()
    q2.awaitTermination()
    val result = spark.read.parquet(s"$out/batch_id=*")
    assert(result.count() == nEvents, s"lost/duplicated rows: ${result.count()}")
    assert(result.select("event_id").distinct().count() == nEvents,
      "batch replay after crash must not duplicate records")
  }

  test("streaming ingest dedup: crash replay yields the same corpus as the clean run") {
    // the exactly-once consumer fused with incremental near-dup: docs
    // stream in micro-batches, each batch is admitted against the corpus
    // accepted by strictly-earlier batches, and a mid-batch reader crash +
    // WAL replay must land on the byte-identical corpus the clean run got
    import graft.app.IngestDedupApp
    // base docs use disjoint token namespaces (no accidental shingle
    // overlap); 101..110 duplicate docs 1..10 exactly (jaccard 1.0) and
    // arrive after them; 41/42 are identical fresh docs in one batch
    def text(ns: Long): String = (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    val docs =
      (1L to 30L).map(i => i -> text(i)) ++
        Seq(41L -> text(900L), 42L -> text(900L)) ++
        (101L to 110L).map(i => i -> text(i - 100L))
    val rows = docs.zipWithIndex.map { case ((id, txt), i) =>
      (s"d$id", 1700000000000000L + i, s"""{"doc_id":$id,"text":"$txt"}""")
    }
    def freshFixture(): String = {
      val dir = Files.createTempDirectory("ingdedup_fixture").toString
      ShardSimFixture.writeShard(dir, 0, rows)
      dir
    }
    def corpusSet(dir: String): Set[(Long, String)] =
      IngestDedupApp.corpus(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet

    // clean control run
    val dirA = freshFixture()
    val corpusA = Files.createTempDirectory("ingdedup_corpusA").toString
    val qa = IngestDedupApp.run(spark, dirA, corpusA,
      Files.createTempDirectory("ingdedup_ckptA").toString,
      maxRecordsPerBatch = Some(10L))
    qa.awaitTermination()
    val a = corpusSet(corpusA)
    // dedup did real work: 42 (loses to 41 in-batch) and all of 101..110
    // (corpus near-dups) are rejected
    assert(a.map(_._1) == ((1L to 30L).toSet + 41L), a.map(_._1).toSeq.sorted.toString)
    // the q160 serve-index partitions landed alongside every accepted
    // batch (the steady-state admit reads THESE, not corpus text) and
    // cover the corpus's ids exactly
    def batchIds(sub: String): Set[Long] =
      new java.io.File(s"$corpusA/$sub").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName.stripPrefix("batch_id=").toLong).toSet
    val corpusBatches = batchIds(".")
    Seq("index/postings", "index/docn", "index/df").foreach { f =>
      assert(batchIds(f) == corpusBatches, s"$f: ${batchIds(f)}")
    }
    val docnIds = spark.read.parquet(s"$corpusA/index/docn")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docnIds == a.map(_._1), "index docn must cover the corpus")

    // faulted run: the reader dies mid-batch after 7 rows, then restarts
    val dirB = freshFixture()
    val corpusB = Files.createTempDirectory("ingdedup_corpusB").toString
    val ckptB = Files.createTempDirectory("ingdedup_ckptB").toString
    val marker = Files.createTempDirectory("ingdedup_marker").resolve("fired").toString
    def startB() = IngestDedupApp.run(spark, dirB, corpusB, ckptB,
      maxRecordsPerBatch = Some(10L),
      extraOptions = Map("faultInjectMarker" -> marker, "faultInjectAfter" -> "7"))
    val crash = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startB().awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(crash).exists(_.contains("injected transient read failure")),
      messages(crash).mkString(" | "))
    startB().awaitTermination()
    assert(corpusSet(corpusB) == a,
      "replayed ingest must converge to the clean run's corpus")
  }

  test("drift-gated ingest: a distribution-shifted batch quarantines whole; replay converges") {
    // the PSI gate beside the Q40 gate: rows 10..19 arrive with ~6× the
    // text length (they'd PASS every completeness check) — the batch's
    // length distribution against the blessed reference profile exceeds
    // the 0.2 line and the whole batch quarantines; replay converges
    // because the verdict is a pure function of batch content + fixed ref
    import graft.app.IngestDedupApp
    import graft.operators.ProfileOps
    import spark.implicits._
    def text(ns: Long): String = (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    def longText(ns: Long): String =
      (0 until 12).map(t => s"w${ns}t$t" + "x" * 40).mkString(" ")
    val rows = ((1L to 10L).map(i => i -> text(i)) ++
      (11L to 20L).map(i => i -> longText(i)) ++
      (21L to 30L).map(i => i -> text(i)))
      .zipWithIndex.map { case ((id, txt), i) =>
        (s"d$id", 1700000000000000L + i, s"""{"doc_id":$id,"text":"$txt"}""")
      }
    // blessed profile: normal-length docs only (what the corpus SHOULD be)
    val ref = ProfileOps.refBucketCounts(
      (1L to 10L).map(i => text(i).length.toDouble).toDF("len"),
      "len", 0.0, 400.0, 2)
    val gate = IngestDedupApp.DriftGate(ref,
      org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("double"),
      0.0, 400.0, 2)
    def freshFixture(): String = {
      val dir = Files.createTempDirectory("ingdrift_fixture").toString
      ShardSimFixture.writeShard(dir, 0, rows)
      dir
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet

    val corpusA = Files.createTempDirectory("ingdrift_corpusA").toString
    IngestDedupApp.run(spark, freshFixture(), corpusA,
        Files.createTempDirectory("ingdrift_ckptA").toString,
        maxRecordsPerBatch = Some(10L), driftGate = Some(gate))
      .awaitTermination()
    val cleanCorpus = ids(IngestDedupApp.corpus(spark, corpusA))
    assert(cleanCorpus == ((1L to 10L) ++ (21L to 30L)).toSet,
      cleanCorpus.toSeq.sorted)
    assert(ids(IngestDedupApp.quarantine(spark, corpusA)) == (11L to 20L).toSet,
      "the drifted batch quarantines whole")

    // the JS arm of the same gate: PSI line slack, JS line tight — the
    // bounded divergence alone routes the drifted batch identically
    // (near-disjoint two-bucket split → JSD ≈ ln 2 ≫ 0.05; clean
    // batches match the profile → JSD ≈ 0)
    val corpusC = Files.createTempDirectory("ingdrift_corpusC").toString
    IngestDedupApp.run(spark, freshFixture(), corpusC,
        Files.createTempDirectory("ingdrift_ckptC").toString,
        maxRecordsPerBatch = Some(10L),
        driftGate = Some(gate.copy(maxPsi = 1e9, maxJs = Some(0.05))))
      .awaitTermination()
    assert(ids(IngestDedupApp.corpus(spark, corpusC)) == cleanCorpus)
    assert(ids(IngestDedupApp.quarantine(spark, corpusC)) == (11L to 20L).toSet,
      "the JS line alone quarantines the drifted batch")

    // crash mid-run, replay: same corpus, same quarantine
    val dirB = freshFixture()
    val corpusB = Files.createTempDirectory("ingdrift_corpusB").toString
    val ckptB = Files.createTempDirectory("ingdrift_ckptB").toString
    val marker = Files.createTempDirectory("ingdrift_marker").resolve("fired").toString
    def startB() = IngestDedupApp.run(spark, dirB, corpusB, ckptB,
      maxRecordsPerBatch = Some(10L), driftGate = Some(gate),
      extraOptions = Map("faultInjectMarker" -> marker, "faultInjectAfter" -> "5"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startB().awaitTermination()
    }
    startB().awaitTermination()
    assert(ids(IngestDedupApp.corpus(spark, corpusB)) == cleanCorpus)
    assert(ids(IngestDedupApp.quarantine(spark, corpusB)) == (11L to 20L).toSet)
  }

  test("segment-gated ingest: mix shift invisible to the aggregate gate quarantines") {
    // the q103 value proposition end-to-end: batch 2 swaps the two
    // segments' length distributions (evens go long, odds go short), so
    // the AGGREGATE length distribution is identical to the reference —
    // PSI ≈ 0, the plain gate admits it — while either segment alone
    // has drifted completely and the segmented arm quarantines it
    import graft.app.IngestDedupApp
    import graft.operators.ProfileOps
    import spark.implicits._
    def text(ns: Long): String = (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    def longText(ns: Long): String =
      (0 until 12).map(t => s"w${ns}t$t" + "x" * 40).mkString(" ")
    def clean(i: Long) = if (i % 2 == 0) text(i) else longText(i)
    def swapped(i: Long) = if (i % 2 == 0) longText(i) else text(i)
    val rows = ((1L to 10L).map(i => i -> clean(i)) ++
      (11L to 20L).map(i => i -> swapped(i)) ++
      (21L to 30L).map(i => i -> clean(i)))
      .zipWithIndex.map { case ((id, txt), i) =>
        (s"d$id", 1700000000000000L + i, s"""{"doc_id":$id,"text":"$txt"}""")
      }
    val (lo, hi, k) = (0.0, 400.0, 2)
    // aggregate reference: the clean mix (5 short + 5 long)
    val ref = ProfileOps.refBucketCounts(
      (1L to 10L).map(i => clean(i).length.toDouble).toDF("len"),
      "len", lo, hi, k)
    // per-segment reference: evens short, odds long
    val segRef = ProfileOps.segmentedRefCounts(
      (1L to 10L).map(i => (clean(i).length.toDouble, (i % 2).toString))
        .toDF("len", "seg"), "len", "seg", lo, hi, k)
    val lenCol = org.apache.spark.sql.functions.length(
      org.apache.spark.sql.functions.col("text")).cast("double")
    val segCol = (org.apache.spark.sql.functions.col("doc_id") % 2)
      .cast("string")
    def freshFixture(): String = {
      val dir = Files.createTempDirectory("ingseg_fixture").toString
      ShardSimFixture.writeShard(dir, 0, rows)
      dir
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet

    // the aggregate gate at the canonical 0.2 line ADMITS the mix shift
    val corpusA = Files.createTempDirectory("ingseg_corpusA").toString
    IngestDedupApp.run(spark, freshFixture(), corpusA,
        Files.createTempDirectory("ingseg_ckptA").toString,
        maxRecordsPerBatch = Some(10L),
        driftGate = Some(IngestDedupApp.DriftGate(ref, lenCol, lo, hi, k)))
      .awaitTermination()
    assert(ids(IngestDedupApp.corpus(spark, corpusA)) == (1L to 30L).toSet,
      "aggregate PSI cancels across segments — the plain gate must admit")

    // the segmented arm catches exactly that batch
    val corpusB = Files.createTempDirectory("ingseg_corpusB").toString
    IngestDedupApp.run(spark, freshFixture(), corpusB,
        Files.createTempDirectory("ingseg_ckptB").toString,
        maxRecordsPerBatch = Some(10L),
        driftGate = Some(IngestDedupApp.DriftGate(ref, lenCol, lo, hi, k,
          maxPsi = 1e9, segment = Some(segCol), segRef = Some(segRef),
          maxSegPsi = Some(0.5))))
      .awaitTermination()
    assert(ids(IngestDedupApp.corpus(spark, corpusB)) ==
      ((1L to 10L) ++ (21L to 30L)).toSet)
    assert(ids(IngestDedupApp.quarantine(spark, corpusB)) == (11L to 20L).toSet,
      "the segmented arm must quarantine the mix-shifted batch")
  }

  test("segment-gated ingest: a batch carrying no rows for a reference " +
    "segment is not quarantined on that segment's behalf") {
    // regression: a reference segment entirely absent from a micro-batch
    // got n_cur=0 in every bucket, which the +0.5 smoothing scored as a
    // uniform current distribution — small batches quarantined on
    // segments they carried no data for. Absent segments must be
    // skipped; only batch-present segments gate.
    import graft.app.IngestDedupApp
    import graft.operators.ProfileOps
    import spark.implicits._
    def text(ns: Long): String = (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    def longText(ns: Long): String =
      (0 until 12).map(t => s"w${ns}t$t" + "x" * 40).mkString(" ")
    // corpus: ONLY even ids (segment "0", short text, matching its ref)
    val rows = (1L to 10L).map(i => i * 2)
      .zipWithIndex.map { case (id, i) =>
        (s"d$id", 1700000000000000L + i,
          s"""{"doc_id":$id,"text":"${text(id)}"}""")
      }
    val (lo, hi, k) = (0.0, 400.0, 2)
    val ref = ProfileOps.refBucketCounts(
      (1L to 10L).map(i => text(i).length.toDouble).toDF("len"),
      "len", lo, hi, k)
    // the reference knows TWO segments; batches will carry only "0"
    val segRef = ProfileOps.segmentedRefCounts(
      (1L to 10L).map(i =>
        (if (i % 2 == 0) text(i).length.toDouble
         else longText(i).length.toDouble, (i % 2).toString))
        .toDF("len", "seg"), "len", "seg", lo, hi, k)
    val lenCol = org.apache.spark.sql.functions.length(
      org.apache.spark.sql.functions.col("text")).cast("double")
    val segCol = (org.apache.spark.sql.functions.col("doc_id") % 2)
      .cast("string")
    val fixture = Files.createTempDirectory("ingabs_fixture").toString
    ShardSimFixture.writeShard(fixture, 0, rows)
    val corpus = Files.createTempDirectory("ingabs_corpus").toString
    IngestDedupApp.run(spark, fixture, corpus,
        Files.createTempDirectory("ingabs_ckpt").toString,
        maxRecordsPerBatch = Some(5L),
        driftGate = Some(IngestDedupApp.DriftGate(ref, lenCol, lo, hi, k,
          maxPsi = 1e9, segment = Some(segCol), segRef = Some(segRef),
          maxSegPsi = Some(0.5))))
      .awaitTermination()
    assert(IngestDedupApp.corpus(spark, corpus).collect()
      .map(_.getLong(0)).toSet == (1L to 10L).map(_ * 2).toSet,
      "segment-0-only batches match segment 0's reference and must admit")
    assert(IngestDedupApp.quarantine(spark, corpus).isEmpty)
  }

  test("eval-guarded ingest: a leaked benchmark copy routes row-level to " +
    "contaminated/ while its batchmates land; replay converges") {
    // the streaming twin of q135/PipelineApp's decontamination stage:
    // docs 5 and 15 are verbatim copies of benchmark documents (one per
    // micro-batch); the guard drops exactly those ROWS — unlike the
    // batch-level quarantine gates, clean batchmates still land — and a
    // mid-run crash + WAL replay converges because the verdict is a pure
    // function of (batch content, fixed eval set)
    import graft.app.IngestDedupApp
    import spark.implicits._
    def text(ns: Long): String = (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    val rows = (1L to 20L).map(i => i -> text(i))
      .zipWithIndex.map { case ((id, txt), i) =>
        (s"d$id", 1700000000000000L + i, s"""{"doc_id":$id,"text":"$txt"}""")
      }
    // the benchmark set is an EXTERNAL frame; its ids live in a
    // different namespace — matching is by shingle content only
    val evalDocs = Seq(900L -> text(5L), 901L -> text(15L))
      .toDF("doc_id", "text")
    def freshFixture(): String = {
      val dir = Files.createTempDirectory("ingeval_fixture").toString
      ShardSimFixture.writeShard(dir, 0, rows)
      dir
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet

    val corpusA = Files.createTempDirectory("ingeval_corpusA").toString
    IngestDedupApp.run(spark, freshFixture(), corpusA,
        Files.createTempDirectory("ingeval_ckptA").toString,
        maxRecordsPerBatch = Some(10L),
        evalGuard = Some(IngestDedupApp.EvalGuard(evalDocs)))
      .awaitTermination()
    val clean = ids(IngestDedupApp.corpus(spark, corpusA))
    assert(clean == ((1L to 20L).toSet - 5L - 15L),
      clean.toSeq.sorted.toString)
    assert(ids(IngestDedupApp.contaminated(spark, corpusA)) == Set(5L, 15L),
      "exactly the leaked rows route to contaminated/")
    assert(IngestDedupApp.quarantine(spark, corpusA).isEmpty,
      "row-level guard must not batch-quarantine")

    // crash mid-batch, replay: same corpus, same contaminated set
    val dirB = freshFixture()
    val corpusB = Files.createTempDirectory("ingeval_corpusB").toString
    val ckptB = Files.createTempDirectory("ingeval_ckptB").toString
    val marker = Files.createTempDirectory("ingeval_marker").resolve("fired").toString
    def startB() = IngestDedupApp.run(spark, dirB, corpusB, ckptB,
      maxRecordsPerBatch = Some(10L),
      evalGuard = Some(IngestDedupApp.EvalGuard(evalDocs)),
      extraOptions = Map("faultInjectMarker" -> marker, "faultInjectAfter" -> "7"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startB().awaitTermination()
    }
    startB().awaitTermination()
    assert(ids(IngestDedupApp.corpus(spark, corpusB)) == clean)
    assert(ids(IngestDedupApp.contaminated(spark, corpusB)) == Set(5L, 15L))
  }

  test("score-guarded ingest: off-target docs route row-level to " +
    "lowvalue/ against a stored DSIR model; replay converges") {
    // the streaming twin of q141's selection cut: the model is trained
    // OFFLINE on a reference corpus where 'tgt' speaks {alpha,beta} and
    // the background speaks {gamma,delta}; arriving docs written in the
    // background vocabulary score below 0 and must route to lowvalue/
    // while their target-like batchmates land
    import graft.app.IngestDedupApp
    import spark.implicits._
    val ref = (
      (1 to 4).map(i => (i.toLong, "alpha beta alpha beta", "en", "tgt")) ++
        (5 to 12).map(i => (i.toLong, "gamma delta gamma delta", "en", "bg")))
      .toDF("doc_id", "text", "lang", "source")
    val model = graft.llm.TextOps.dsirWeightTable(ref, targetSource = "tgt")
    // every text unique (the unique token rides the sentinel weight):
    // the dedup stage must not collapse same-verdict batchmates
    def text(i: Long): String =
      if (i % 5 == 0) s"gamma delta gamma delta g${i}z"    // off-target
      else s"alpha beta alpha beta w${i}x"                 // target-like
    val rows = (1L to 20L).map(i => i -> text(i))
      .zipWithIndex.map { case ((id, txt), j) =>
        (s"d$id", 1700000000000000L + j, s"""{"doc_id":$id,"text":"$txt"}""")
      }
    def freshFixture(): String = {
      val dir = Files.createTempDirectory("ingscore_fixture").toString
      ShardSimFixture.writeShard(dir, 0, rows)
      dir
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val offTarget = (1L to 20L).filter(_ % 5 == 0).toSet

    val corpusA = Files.createTempDirectory("ingscore_corpusA").toString
    IngestDedupApp.run(spark, freshFixture(), corpusA,
        Files.createTempDirectory("ingscore_ckptA").toString,
        maxRecordsPerBatch = Some(10L),
        scoreGuard = Some(IngestDedupApp.ScoreGuard(model, minLogw = 0.0)))
      .awaitTermination()
    assert(ids(IngestDedupApp.corpus(spark, corpusA)) ==
      (1L to 20L).toSet -- offTarget)
    assert(ids(IngestDedupApp.lowValue(spark, corpusA)) == offTarget,
      "exactly the off-target rows route to lowvalue/")
    assert(IngestDedupApp.quarantine(spark, corpusA).isEmpty,
      "row-level guard must not batch-quarantine")

    // crash mid-batch, replay: same corpus, same lowvalue set
    val dirB = freshFixture()
    val corpusB = Files.createTempDirectory("ingscore_corpusB").toString
    val ckptB = Files.createTempDirectory("ingscore_ckptB").toString
    val marker = Files.createTempDirectory("ingscore_marker").resolve("fired").toString
    def startB() = IngestDedupApp.run(spark, dirB, corpusB, ckptB,
      maxRecordsPerBatch = Some(10L),
      scoreGuard = Some(IngestDedupApp.ScoreGuard(model, minLogw = 0.0)),
      extraOptions = Map("faultInjectMarker" -> marker, "faultInjectAfter" -> "7"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startB().awaitTermination()
    }
    startB().awaitTermination()
    assert(ids(IngestDedupApp.corpus(spark, corpusB)) ==
      (1L to 20L).toSet -- offTarget)
    assert(ids(IngestDedupApp.lowValue(spark, corpusB)) == offTarget)
  }

  test("streaming rollup maintenance: crash replay converges to the " +
    "batch recompute (per-batch dirs are the idempotence mechanism)") {
    // q118's streaming twin end-to-end: events stream in micro-batches,
    // each batch overwrites ITS OWN rollup/presence directory, and the
    // merged report after a mid-batch crash + WAL replay must equal the
    // clean batch recompute — nothing double-counts because a replayed
    // batch overwrites the same directory with the same bytes.
    import graft.app.RollupStreamApp
    import graft.operators.RollupOps
    import spark.implicits._
    val baseUs = 1700000000000000L // 2023-11-14T22:13:20Z
    val dayUs = 86400L * 1000000L
    // 25 events across 3 days, 2 types, users repeating across batches
    val events = (0 until 25).map { i =>
      (i.toLong, baseUs + (i % 3) * dayUs + i * 1000000L,
        (i % 4).toLong, if (i % 2 == 0) "a" else "b", i * 1.5)
    }
    val rows = events.map { case (id, ts, uid, typ, v) =>
      (s"e$id", ts,
        s"""{"event_id":$id,"ts_us":$ts,"user_id":$uid,"event_type":"$typ","value":$v}""")
    }
    def freshFixture(): String = {
      val dir = Files.createTempDirectory("rollup_fixture").toString
      ShardSimFixture.writeShard(dir, 0, rows)
      dir
    }
    val expected = RollupOps.rollupReport(
      RollupOps.dailyRollup(
        events.toDF("event_id", "ts_us", "user_id", "event_type", "value")
          .withColumn("ts", org.apache.spark.sql.functions
            .timestamp_micros(org.apache.spark.sql.functions.col("ts_us")))),
      RollupOps.userPresence(
        events.toDF("event_id", "ts_us", "user_id", "event_type", "value")
          .withColumn("ts", org.apache.spark.sql.functions
            .timestamp_micros(org.apache.spark.sql.functions.col("ts_us")))))
      .collect().toSeq

    // clean run
    val outA = Files.createTempDirectory("rollup_outA").toString
    RollupStreamApp.run(spark, freshFixture(), outA,
        Files.createTempDirectory("rollup_ckptA").toString,
        maxRecordsPerBatch = Some(7L))
      .awaitTermination()
    assert(RollupStreamApp.report(spark, outA).collect().toSeq == expected)

    // faulted run: reader dies after 5 rows, restart replays the batch
    val outB = Files.createTempDirectory("rollup_outB").toString
    val ckptB = Files.createTempDirectory("rollup_ckptB").toString
    val marker = Files.createTempDirectory("rollup_marker")
      .resolve("fired").toString
    def startB() = RollupStreamApp.run(spark, freshFixture(), outB, ckptB,
      maxRecordsPerBatch = Some(7L),
      extraOptions = Map("faultInjectMarker" -> marker,
        "faultInjectAfter" -> "5"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startB().awaitTermination()
    }
    startB().awaitTermination()
    assert(RollupStreamApp.report(spark, outB).collect().toSeq == expected,
      "replayed rollup maintenance must converge to the batch recompute")

    // the HLL sidecar replays to the same state too, and at this
    // cardinality (4 users) lgK=12 estimates are exact — both runs'
    // sketch-union read paths must equal the exact distinct counts
    val exactUsers = expected.map(r => (r.get(0), r.get(1), r.get(6)))
    Seq(outA, outB).foreach { out =>
      val approx = RollupStreamApp.approxUsers(spark, out).collect()
        .map(r => (r.get(0), r.get(1), r.get(2))).toSeq
      assert(approx == exactUsers,
        s"HLL sidecar read path diverged in $out")
    }
  }

  test("constraint-gated ingest: a poisoned batch quarantines whole; replay converges") {
    // Q40 fused into the exactly-once loop: the gate runs per micro-batch
    // before dedup admission; a failing batch is routed to quarantine and
    // never contaminates the corpus — and because the verdict is a pure
    // function of batch content, a crash replay reaches the same routing
    import graft.app.IngestDedupApp
    import graft.operators.QualityOps
    def text(ns: Long): String = (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    // batches of 10 by arrival order: rows 10..19 form batch 1, where doc
    // 20's record carries no text field -> complete(text) fails the batch
    val rows = ((1L to 19L).map(i => i -> s"""{"doc_id":$i,"text":"${text(i)}"}""") ++
      Seq(20L -> """{"doc_id":20}""") ++
      (21L to 30L).map(i => i -> s"""{"doc_id":$i,"text":"${text(i)}"}"""))
      .zipWithIndex.map { case ((id, json), i) =>
        (s"d$id", 1700000000000000L + i, json)
      }
    val gate = Seq(QualityOps.complete("doc_id"), QualityOps.complete("text"))
    def freshFixture(): String = {
      val dir = Files.createTempDirectory("inggate_fixture").toString
      ShardSimFixture.writeShard(dir, 0, rows)
      dir
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet

    val corpusA = Files.createTempDirectory("inggate_corpusA").toString
    IngestDedupApp.run(spark, freshFixture(), corpusA,
        Files.createTempDirectory("inggate_ckptA").toString,
        maxRecordsPerBatch = Some(10L), gate = gate)
      .awaitTermination()
    val cleanCorpus = ids(IngestDedupApp.corpus(spark, corpusA))
    assert(cleanCorpus == ((1L to 10L) ++ (21L to 30L)).toSet, cleanCorpus.toSeq.sorted)
    assert(ids(IngestDedupApp.quarantine(spark, corpusA)) == (11L to 20L).toSet,
      "the poisoned batch (including its clean rows) quarantines whole")

    // crash mid-run, replay: same corpus, same quarantine
    val dirB = freshFixture()
    val corpusB = Files.createTempDirectory("inggate_corpusB").toString
    val ckptB = Files.createTempDirectory("inggate_ckptB").toString
    val marker = Files.createTempDirectory("inggate_marker").resolve("fired").toString
    def startB() = IngestDedupApp.run(spark, dirB, corpusB, ckptB,
      maxRecordsPerBatch = Some(10L), gate = gate,
      extraOptions = Map("faultInjectMarker" -> marker, "faultInjectAfter" -> "5"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startB().awaitTermination()
    }
    startB().awaitTermination()
    assert(ids(IngestDedupApp.corpus(spark, corpusB)) == cleanCorpus)
    assert(ids(IngestDedupApp.quarantine(spark, corpusB)) == (11L to 20L).toSet)
  }

  test("ingest takedown between runs: removed content re-admits in a " +
      "later stream, crash replay with the log present converges, and " +
      "the keeper snapshot drops the tombstoned ids") {
    import graft.app.IngestDedupApp
    import spark.implicits._
    def text(ns: Long): String =
      (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    // run 1: docs 1..10; 101..105 duplicate 1..5 and are rejected
    val rows1 = ((1L to 10L).map(i => i -> text(i)) ++
      (101L to 105L).map(i => i -> text(i - 100L)))
      .zipWithIndex.map { case ((id, txt), i) =>
        (s"d$id", 1700000000000000L + i, s"""{"doc_id":$id,"text":"$txt"}""")
      }
    val shardDir = Files.createTempDirectory("ingtd_shard").toString
    ShardSimFixture.writeShard(shardDir, 0, rows1)
    val corpus = Files.createTempDirectory("ingtd_corpus").toString
    val ckpt = Files.createTempDirectory("ingtd_ckpt").toString
    IngestDedupApp.run(spark, shardDir, corpus, ckpt,
        maxRecordsPerBatch = Some(8L))
      .awaitTermination()
    def ids(): Set[Long] = IngestDedupApp.corpus(spark, corpus)
      .collect().map(_.getLong(0)).toSet
    assert(ids() == (1L to 10L).toSet, ids().toSeq.sorted.toString)

    IngestDedupApp.takedown(spark, corpus, (1L to 5L).toDF("doc_id"))
    assert(ids() == (6L to 10L).toSet)

    // continue the SAME stream (same checkpoint — the one-checkpoint-
    // per-corpus contract; batch ids continue from the WAL) with a new
    // shard whose docs 201..205 carry the REMOVED docs' exact text —
    // with the content gone they must admit; a mid-run crash replays
    // against the same takedown-filtered index frames
    val rows2 = (201L to 205L).map(i => i -> text(i - 200L))
      .zipWithIndex.map { case ((id, txt), i) =>
        (s"d$id", 1700000001000000L + i, s"""{"doc_id":$id,"text":"$txt"}""")
      }
    ShardSimFixture.writeShard(shardDir, 1, rows2)
    val marker = Files.createTempDirectory("ingtd_marker")
      .resolve("fired").toString
    def start2() = IngestDedupApp.run(spark, shardDir, corpus, ckpt,
      maxRecordsPerBatch = Some(3L),
      extraOptions = Map("faultInjectMarker" -> marker,
        "faultInjectAfter" -> "2"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      start2().awaitTermination()
    }
    start2().awaitTermination()
    assert(ids() == ((6L to 10L) ++ (201L to 205L)).toSet,
      ids().toSeq.sorted.toString)

    // the next keeper snapshot reflects the takedown: tombstoned ids
    // gone, survivors and re-admitted docs self-keepers
    assert(IngestDedupApp.refreshKeepers(spark, corpus) >= 0L)
    val snapDir = new java.io.File(s"$corpus/keepers").listFiles()
      .filter(_.getName.startsWith("upto=")).map(_.toString).max
    val snap = spark.read.parquet(snapDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap.keySet == ((6L to 10L) ++ (201L to 205L)).toSet,
      snap.toString)
    assert(snap.forall { case (d, k) => d == k }, snap.toString)

    // the binding guard: a DIFFERENT checkpoint against this corpus
    // must refuse before starting (batch ids would restart at 0 and
    // overwrite landed batches — the exact corruption the first draft
    // of this test tripped over)
    val foreignCkpt = Files.createTempDirectory("ingtd_foreign").toString
    val err = intercept[IllegalArgumentException] {
      IngestDedupApp.run(spark, shardDir, corpus, foreignCkpt)
    }
    assert(err.getMessage.contains("bound to checkpoint"), err.getMessage)
  }

  test("ingest dedup reads each micro-batch from the source once") {
    import graft.app.IngestDedupApp
    def text(ns: Long): String =
      (0 until 12).map(t => s"w${ns}t$t").mkString(" ")
    // 96 docs on one shard, capped at 48 per batch: two batches
    val rows = (1L to 96L).map { id =>
      (s"d$id", 1700000000000000L + id, s"""{"doc_id":$id,"text":"${text(id)}"}""")
    }
    val shardDir = Files.createTempDirectory("ingonce_shard").toString
    ShardSimFixture.writeShard(shardDir, 0, rows)
    val corpus = Files.createTempDirectory("ingonce_corpus").toString
    val ckpt = Files.createTempDirectory("ingonce_ckpt").toString
    val q = IngestDedupApp.run(spark, shardDir, corpus, ckpt,
      maxRecordsPerBatch = Some(48L))
    q.awaitTermination()
    val inputRows = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(inputRows == Seq(48L, 48L), inputRows.mkString(", "))
    assert(IngestDedupApp.corpus(spark, corpus).count() == 96L)
  }

  /** The input partitions a micro-batch stream over `dir` plans for the
    * batch [start, end), as (shardId, start, end) ranges per partition. */
  private def plan(dir: String, start: Map[String, Long], end: Map[String, Long],
      options: Map[String, String] = Map.empty,
      stream: Option[graft.sources.shardsim.ShardSimMicroBatchStream] = None)
      : Seq[Seq[(String, Long, Long)]] = {
    import graft.sources.shardsim.{ShardSim, ShardSimMicroBatchStream}
    stream.getOrElse(new ShardSimMicroBatchStream(dir, options))
      .planInputPartitions(ShardSim.ShardOffsets(start), ShardSim.ShardOffsets(end))
      .toSeq.map(_.asInstanceOf[ShardSim.ShardSimInputPartition].ranges
        .map(r => (r.shardId, r.start, r.end)))
  }

  private def shardDirOf(nShards: Int, records: Int): String = {
    val dir = Files.createTempDirectory("shardsim_plan").toString
    def row(i: Int) = (s"u$i", 1700000000000000L + i, s"""{"k":$i}""")
    (0 until nShards).foreach(k =>
      ShardSimFixture.writeShard(dir, k, (0 until records).map(row)))
    dir
  }

  test("a small micro-batch plans one input partition holding every shard") {
    val dir = shardDirOf(8, 50)
    val start = (0 until 8).map(k => s"shard-$k" -> 0L).toMap
    val end = start.map { case (k, _) => k -> 50L }
    val parts = plan(dir, start, end)
    assert(parts.size == 1, parts.toString)
    assert(parts.head.sorted == (0 until 8).map(k => (s"shard-$k", 0L, 50L)),
      parts.toString)
  }

  test("a large micro-batch fans out to numPartitions, each shard range " +
      "exactly once") {
    import graft.sources.shardsim.ShardSim.MinRecordsPerPartition
    val perShard = 1200L
    val dir = shardDirOf(8, perShard.toInt)
    val start = (0 until 8).map(k => s"shard-$k" -> 0L).toMap
    val end = start.map { case (k, _) => k -> perShard }
    Seq(4, 3).foreach { cap =>
      assert(8 * perShard >= cap * MinRecordsPerPartition)
      val parts = plan(dir, start, end, Map("numpartitions" -> cap.toString))
      assert(parts.size == cap && parts.forall(_.nonEmpty), parts.toString)
      assert(parts.flatten.sorted == (0 until 8).map(k => (s"shard-$k", 0L, perShard)),
        parts.toString)
    }
    // between the two: one partition per MinRecordsPerPartition records
    val mid = start.map { case (k, _) => k -> 200L }
    assert(plan(dir, start, mid).size ==
      ((8 * 200L + MinRecordsPerPartition - 1) / MinRecordsPerPartition).toInt)
    // never more partitions than shards with records in the batch
    val two = start ++ Map("shard-0" -> perShard, "shard-1" -> perShard)
    assert(2 * perShard > 2 * MinRecordsPerPartition)
    assert(plan(dir, start, two).size == 2)
  }

  test("a fresh stream, as after a restart, plans the same partition " +
      "count for the same offsets") {
    import graft.sources.shardsim.ShardSimMicroBatchStream
    val dir = shardDirOf(8, 1200)
    val live = new ShardSimMicroBatchStream(dir, Map.empty)
    // batches of growing size, planned by one long-lived stream whose
    // sticky assignment carries from batch to batch
    val sizes = Seq(50L, 100L, 300L, 600L, 150L)
    val bounds = sizes.scanLeft(0L)(_ + _)
    bounds.zip(bounds.tail).foreach { case (a, b) =>
      val start = (0 until 8).map(k => s"shard-$k" -> a).toMap
      val end = start.map { case (k, _) => k -> b }
      val first = plan(dir, start, end, stream = Some(live))
      val replay = plan(dir, start, end)
      assert(first.size == replay.size, (a, b, first, replay))
      assert(first.flatten.sorted == replay.flatten.sorted, (a, b))
    }
  }

  test("a drain of small micro-batches writes each trigger with one task") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = Files.createTempDirectory("shardsim_onetask").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 8)
    val out = Files.createTempDirectory("onetask_out").toString
    val ckpt = Files.createTempDirectory("onetask_ckpt").toString
    // (query id, batch id, tasks) of every job a streaming query runs
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => jobs.add((id, e.properties.getProperty("streaming.sql.batchId"),
            e.stageInfos.map(_.numTasks).sum)))
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = ConsumeApp.run(spark, dir, out, ckpt, maxRecordsPerBatch = Some(400L))
      q.awaitTermination()
      q
    } finally {
      Thread.sleep(500) // the listener bus is asynchronous
      spark.sparkContext.removeSparkListener(listener)
    }
    val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString).toSet
    assert(batches.size >= 3, s"expected several capped batches, got $batches")
    val tasks = scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq
      .filter(_._1 == q.id.toString)
      .groupMapReduce(_._2)(_._3)(_ + _)
    assert(tasks.keySet == batches, s"$tasks vs $batches")
    assert(tasks.values.forall(_ == 1), s"tasks per trigger: $tasks")
    val result = spark.read.parquet(s"$out/batch_id=*")
    assert(result.count() == nEvents)
    assert(result.select("event_id").distinct().count() == nEvents)
  }
}
