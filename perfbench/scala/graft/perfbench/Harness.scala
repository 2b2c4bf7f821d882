package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.sources.shardsim.ShardSimFixture

/** One benchmark run: one workload in one JVM.
  *
  * `run.py` generates the seeded inputs and checks the outputs; this side
  * lays the inputs out, warms up, runs the timed phase and writes
  * `jvm_result.json` into the work directory. The timed phase repeats
  * whole rounds (one backlog drain, or one pass over the query set) until
  * `--seconds` have passed and at least `--min-rounds` rounds ran.
  *
  * Usage: `Harness --workload consume|library --work <dir>
  *   --seconds <s> --trace 0|1 --cores <n> --min-rounds <n>
  *   [--cap <records per trigger> --warm-drains <n>] [--queries q1,q2,...]`
  */
object Harness {

  private def log(what: String): Unit = System.err.println(f"[perfbench] +${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val seconds = opts("seconds").toDouble
    val minRounds = opts.getOrElse("min-rounds", "1").toInt
    val spark = graft.core.Sessions.get(opts("cores"))
    val tracer = if (opts("trace") == "1") Some(new Tracer(spark, work)) else None
    val workload: Workload = opts("workload") match {
      case "consume" => new ConsumeWorkload(spark, work, opts("cap").toLong,
        opts("warm-drains").toInt, tracer)
      case "library" => new LibraryWorkload(spark, work, opts("queries").split(',').toSeq, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    log("session ready")
    workload.warmUp()
    log("warm-up done")
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val timedStartMs = System.currentTimeMillis()
    tracer.foreach(_.startTimed())
    val rounds = ArrayBuffer.empty[RoundResult]
    val t0 = System.nanoTime()
    while (rounds.size < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (w0, c0) = (System.nanoTime(), cpu.getProcessCpuTime)
      val r = workload.round(rounds.size)
      rounds += r.copy(wallS = (System.nanoTime() - w0) / 1e9,
        cpuS = (cpu.getProcessCpuTime - c0) / 1e9)
    }
    log(s"timed phase done: ${rounds.size} rounds")
    val done = rounds.toSeq
    val layers = tracer.map(_.finish(workload, done)).getOrElse(Map.empty)

    val ops = done.flatMap(_.opsMs)
    val json = Json.obj(Seq(
      "timed_start_ms" -> timedStartMs.toString,
      "rounds" -> done.size.toString,
      "round_wall_s" -> Json.arr(done.map(r => Json.num(r.wallS))),
      "round_cpu_s" -> Json.arr(done.map(r => Json.num(r.cpuS))),
      "ops_ms" -> Json.arr(ops.map(Json.num)),
      "attempted" -> done.map(_.attempted).sum.toString,
      "failed" -> done.map(_.failed).sum.toString,
      "round_dirs" -> Json.arr(done.map(r => Json.str(r.dir))),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(work.resolve("jvm_result.json"), json)
    spark.stop()
  }
}

/** What one timed round did. `opsMs` holds one duration per operation
  * (a micro-batch trigger, or one query run). */
case class RoundResult(dir: String, opsMs: Seq[Double], attempted: Int, failed: Int,
    progress: Seq[StreamingQueryProgress] = Nil, wallS: Double = 0, cpuS: Double = 0)

trait Workload {
  def warmUp(): Unit
  def round(i: Int): RoundResult
}

/** Reads the `shard \t partitionKey \t arrivalMicros \t data` rows that
  * run.py generated and lays them out with [[ShardSimFixture]], every
  * shard closed so that a drain ends. */
object Inputs {
  def layOutShards(tsv: Path, shardDir: Path): Unit = {
    val rows = Files.readAllLines(tsv, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.split("\t", 4))
      .map(p => (p(0).toInt, (p(1), p(2).toLong, p(3))))
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      ShardSimFixture.writeShard(shardDir.toString, shard, rs.map(_._2), closed = true)
    }
  }
}

/** `consume`: each round drains the same closed backlog with
  * `ConsumeApp.run` under `Trigger.AvailableNow` into a fresh sink and
  * checkpoint. One operation is one micro-batch trigger. */
final class ConsumeWorkload(spark: SparkSession, work: Path, val cap: Long, warmDrains: Int,
    tracer: Option[Tracer]) extends Workload {

  val shardDir: Path = work.resolve("shards/timed")

  private def drain(shards: Path, dir: Path): Seq[StreamingQueryProgress] = {
    val (sink, checkpoint) = (dir.resolve("sink").toString, dir.resolve("checkpoint").toString)
    val q = graft.app.ConsumeApp.run(spark, shards.toString, sink, checkpoint,
      Trigger.AvailableNow(), Some(cap))
    q.awaitTermination()
    // recentProgress keeps every trigger: run.py raises
    // spark.sql.streaming.numRecentProgressUpdates above any round's count
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  def warmUp(): Unit = {
    val warmShards = work.resolve("shards/warm")
    Inputs.layOutShards(work.resolve("input/warm.tsv"), warmShards)
    Inputs.layOutShards(work.resolve("input/timed.tsv"), shardDir)
    // untimed drains of a backlog from another seed, same records per trigger
    for (i <- 0 until warmDrains) drain(warmShards, work.resolve(s"warm/w$i"))
  }

  def round(i: Int): RoundResult = {
    val dir = work.resolve(s"rounds/r$i")
    val t0 = System.currentTimeMillis()
    val progress = drain(shardDir, dir)
    tracer.foreach(_.streamRound(i, t0, System.currentTimeMillis(), progress))
    val ops = progress.map(_.durationMs.get("triggerExecution").doubleValue)
    RoundResult(dir.toString, ops, ops.size, 0, progress)
  }
}

/** `library`: each round runs every query of the set once through a
  * `noop` sink. One operation is one query run: the registry call that
  * builds the plan plus the write. */
final class LibraryWorkload(spark: SparkSession, work: Path, names: Seq[String],
    tracer: Option[Tracer]) extends Workload {

  private val dataDir = work.resolve("input/tables").toString
  private val queries = graft.SparkEntry.queries

  /** One pass over the query set on `tables`, every result written. */
  private def pass(tables: String, out: String => String): Unit = names.foreach { n =>
    queries(n)(spark, tables).coalesce(1).write.mode("overwrite").parquet(out(n))
    graft.core.CacheOnce.releaseAll(spark)
  }

  def warmUp(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(work.resolve("oracle_sql.json"), graft.core.Json.obj(names.map(n => n -> oracle(n)).toMap))
    graft.core.Sessions.sizeShufflePartitionsFor(spark, dataDir)
    // untimed: a pass over a table from another seed, of the same shape,
    // then one over the timed table, which writes the results the oracle
    // check reads
    pass(work.resolve("input/warm_tables").toString, n => work.resolve(s"warm/$n").toString)
    pass(dataDir, n => work.resolve(s"results/$n").toString)
  }

  def round(i: Int): RoundResult = {
    var failed = 0
    val ops = names.map { n =>
      val t0 = System.nanoTime()
      try {
        val df = queries(n)(spark, dataDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        tracer.foreach(_.queryRun(i, n, t0, t1, t2))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
          failed += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6
      graft.core.CacheOnce.releaseAll(spark)
      ms
    }
    RoundResult(work.resolve("results").toString, ops, names.size, failed)
  }
}

/** Flat JSON emission for the result file. */
object Json {
  def str(s: String): String = graft.core.Json.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
