package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.shardsim.{ShardSim, ShardSimMicroBatchStream}

/** The traced run's instruments. Everything is measured from outside the
  * program: Spark's public listeners and codegen metrics, streaming
  * progress, timing around registry calls, and a replay of a drained
  * round's offset log through the shardsim source classes. Spans are kept
  * in memory and written once, to `trace.json`, when the run ends. */
final class Tracer(spark: SparkSession, work: Path) {

  /** `parent` is the id of the enclosing span, or -1. Times are epoch µs. */
  private case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private def span(parent: Int, name: String, startUs: Long, endUs: Long): Int =
    spans.synchronized {
      spans += Span(spans.size, parent, name, startUs, endUs)
      spans.size - 1
    }

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def us(nanoTime: Long): Long = epochUs0 + (nanoTime - nano0) / 1000L

  // ---- Spark scheduler events (delivered asynchronously on the bus) ----
  private val jobs = ArrayBuffer.empty[(Int, Long)]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stageStartsMs = ArrayBuffer.empty[Long]
  private val taskStartsMs = ArrayBuffer.empty[Long]
  private val taskTotals = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile private var lastEventMs = System.currentTimeMillis()
  @volatile private var timedFromMs = Long.MaxValue

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      lastEventMs = System.currentTimeMillis()
      jobs += ((e.jobId, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      lastEventMs = System.currentTimeMillis()
      jobEnds(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      lastEventMs = System.currentTimeMillis()
      e.stageInfo.submissionTime.foreach(stageStartsMs += _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      lastEventMs = System.currentTimeMillis()
      val launch = e.taskInfo.launchTime
      if (launch >= timedFromMs) {
        taskStartsMs += launch
        Option(e.taskMetrics).foreach { m =>
          taskTotals("spark.task_run_ms") += m.executorRunTime
          taskTotals("spark.task_cpu_ms") += m.executorCpuTime / 1e6
          taskTotals("spark.gc_ms") += m.jvmGCTime
          taskTotals("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          taskTotals("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          taskTotals("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  // ---- Spark SQL planning phases, from each execution's tracker ----
  private val planningMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val planningSpans = ArrayBuffer.empty[(String, Long, Long)]

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        lastEventMs = System.currentTimeMillis()
        qe.tracker.phases.foreach { case (phase, s) =>
          if (s.startTimeMs >= timedFromMs) {
            planningMs(phase) += s.durationMs
            planningSpans += ((phase, s.startTimeMs, s.endTimeMs))
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  // ---- operation spans, recorded by the workloads ----
  /** (startMs, endMs, span id) of every timed operation. */
  private val ops = ArrayBuffer.empty[(Long, Long, Int)]
  private val constructs = ArrayBuffer.empty[(Long, Long, Double)]
  private var timedSpan = -1
  private var timedStartMs = 0L
  private var codegen0 = (0L, 0L)

  def startTimed(): Unit = {
    timedStartMs = System.currentTimeMillis()
    timedFromMs = timedStartMs
    timedSpan = span(-1, "timed", timedStartMs * 1000L, timedStartMs * 1000L)
    codegen0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }

  /** One drained round: a span per trigger, with its progress phases as
    * children placed back to back in the order the trigger runs them
    * (durations exact, starts derived from the trigger's start). */
  def streamRound(i: Int, startMs: Long, endMs: Long, progress: Seq[StreamingQueryProgress]): Unit = {
    val round = span(timedSpan, s"round $i", startMs * 1000L, endMs * 1000L)
    progress.foreach { p =>
      val t0 = Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val id = span(round, s"trigger ${p.batchId}", t0 * 1000L,
        (t0 + d.getOrElse("triggerExecution", 0L)) * 1000L)
      ops.synchronized(ops += ((t0, t0 + d.getOrElse("triggerExecution", 0L), id)))
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foldLeft(t0) { (at, phase) =>
          val ms = d.getOrElse(phase, 0L)
          span(id, phase, at * 1000L, (at + ms) * 1000L)
          at + ms
        }
    }
  }

  /** One library query run: the registry call [t0, t1) and the write [t1, t2). */
  def queryRun(round: Int, name: String, t0: Long, t1: Long, t2: Long): Unit = {
    val id = span(timedSpan, s"query $name (round $round)", us(t0), us(t2))
    span(id, "construct", us(t0), us(t1))
    span(id, "write", us(t1), us(t2))
    ops.synchronized(ops += ((us(t0) / 1000L, us(t2) / 1000L, id)))
    constructs.synchronized(constructs += ((us(t0) / 1000L, us(t1) / 1000L, (t1 - t0) / 1e6)))
  }

  /** Waits for the listener bus to go quiet: every started job has ended
    * and nothing arrived for half a second (at most ten seconds). */
  private def drainBus(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def quiet = synchronized(jobEnds.size >= jobs.size) &&
      System.currentTimeMillis() - lastEventMs > 500L
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(100L)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def countIn(times: Seq[Long], from: Long, to: Long): Double =
    times.count(t => t >= from && t <= to).toDouble

  /** Per-layer metrics. Per-op ones are the median over timed operations;
    * the others are timed-phase totals divided by the number of rounds. */
  def finish(workload: Workload, rounds: Seq[RoundResult]): Map[String, Double] = {
    val codegen1 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val timedToMs = System.currentTimeMillis()
    spans.synchronized(spans(timedSpan) = spans(timedSpan).copy(endUs = timedToMs * 1000L))
    drainBus()
    val n = rounds.size.toDouble
    val m = scala.collection.mutable.Map.empty[String, Double]
    synchronized {
      timedFromMs = Long.MaxValue // nothing after this point is counted
      val timedJobs = jobs.filter { case (_, t) => t >= timedStartMs && t <= timedToMs }.toSeq
      val jobStarts = timedJobs.map(_._2)
      m("spark.jobs") = median(ops.toSeq.map { case (a, b, _) => countIn(jobStarts, a, b) })
      m("spark.stages") = median(ops.toSeq.map { case (a, b, _) => countIn(stageStartsMs.toSeq, a, b) })
      m("spark.tasks") = median(ops.toSeq.map { case (a, b, _) => countIn(taskStartsMs.toSeq, a, b) })
      Seq("spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_write_bytes",
        "spark.shuffle_read_bytes", "spark.spill_bytes").foreach(k => m(k) = taskTotals(k) / n)
      m("plan.analysis_ms") = planningMs("analysis") / n
      m("plan.optimization_ms") = planningMs("optimization") / n
      m("plan.planning_ms") = planningMs("planning") / n
      m("plan.construct_ms") = constructs.map(_._3).sum / n
      m("plan.construct_jobs") = constructs.map { case (a, b, _) => countIn(jobStarts, a, b) }.sum / n
      // jobs and planning phases become spans under the operation that contains them
      def parentAt(t: Long): Int =
        ops.find { case (a, b, _) => t >= a && t <= b }.map(_._3).getOrElse(timedSpan)
      timedJobs.foreach { case (id, t) =>
        span(parentAt(t), s"job $id", t * 1000L, jobEnds.getOrElse(id, t) * 1000L)
      }
      planningSpans.foreach { case (phase, a, b) => span(parentAt(a), phase, a * 1000L, b * 1000L) }
    }
    m("codegen.compiles") = (codegen1._1 - codegen0._1) / n
    m("codegen.compile_ms") = (codegen1._2 - codegen0._2) / 1e6 / n

    val progress = rounds.flatMap(_.progress)
    def phase(k: String) = median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    m("trigger.query_planning_ms") = phase("queryPlanning")
    m("trigger.add_batch_ms") = phase("addBatch")
    m("trigger.wal_commit_ms") = phase("walCommit")
    m("trigger.commit_offsets_ms") = phase("commitOffsets")
    m("app.add_batch_growth") = median(rounds.filter(_.progress.size >= 4).map { r =>
      val add = r.progress.map(p => p.durationMs.get("addBatch").doubleValue)
      val q = add.size / 4
      median(add.takeRight(q)) / math.max(median(add.take(q)), 1e-9)
    })

    val (replay, out, state) = workload match {
      case c: ConsumeWorkload =>
        val dir = Paths.get(rounds.head.dir)
        (Replay.run(c.shardDir, dir.resolve("checkpoint"), c.cap), Tracer.bytesUnder(dir.resolve("sink")),
          Tracer.filesUnder(dir.resolve("sink")) + Tracer.filesUnder(dir.resolve("checkpoint")))
      case _ => (Replay.Result(Nil, 0, 0, 0), 0L, 0L)
    }
    m("shardsim.latest_offset_ms") = median(replay.latestOffsetMs)
    m("shardsim.read_ms") = replay.readMs
    m("shardsim.read_bytes") = replay.readBytes.toDouble
    m("shardsim.read_amplification") =
      if (replay.deliveredBytes == 0) 0.0 else replay.readBytes.toDouble / replay.deliveredBytes
    m("app.output_bytes") = out.toDouble
    m("app.state_files") = state.toDouble
    m("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

    val json = spans.synchronized(spans.toSeq).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString))
    }.mkString("[\n", ",\n", "\n]\n")
    Files.writeString(work.resolve("trace.json"), json)
    m.toMap
  }
}

object Tracer {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close() }
  def bytesUnder(p: Path): Long = walk(p).map(Files.size).sum
  def filesUnder(p: Path): Long = walk(p).size.toLong
}

/** Replays a drained round's offset log through the shardsim source:
  * `latestOffset` for each trigger's start, then `planInputPartitions`
  * and a full read of every planned partition. Bytes read are the
  * process's `rchar` from /proc/self/io; bytes delivered are the record
  * lines the readers returned. */
object Replay {
  case class Result(latestOffsetMs: Seq[Double], readMs: Double, readBytes: Long, deliveredBytes: Long)

  private def rchar(): Long = {
    val io = Paths.get("/proc/self/io")
    if (!Files.exists(io)) 0L
    else Files.readAllLines(io).asScala.collectFirst {
      case l if l.startsWith("rchar:") => l.stripPrefix("rchar:").trim.toLong
    }.getOrElse(0L)
  }

  def run(shardDir: Path, checkpoint: Path, cap: Long): Result = {
    val options = Map("maxrecordsperbatch" -> cap.toString, "numpartitions" -> "4")
    val stream = new ShardSimMicroBatchStream(shardDir.toString, options)
    val ends: Seq[Offset] = Option(checkpoint.resolve("offsets").toFile.listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      .map(f => ShardSim.ShardOffsets.fromJson(
        Files.readAllLines(f.toPath, StandardCharsets.UTF_8).get(2)))
    var start: Offset = stream.initialOffset()
    val latest = ArrayBuffer.empty[Double]
    var (readNs, readBytes, delivered) = (0L, 0L, 0L)
    ends.foreach { end =>
      val t0 = System.nanoTime()
      stream.latestOffset(start, ReadLimit.maxRows(cap))
      latest += (System.nanoTime() - t0) / 1e6
      val (t1, r0) = (System.nanoTime(), rchar())
      val factory = stream.createReaderFactory()
      stream.planInputPartitions(start, end).foreach { p =>
        val reader = factory.createReader(p)
        try while (reader.next()) {
          val row = reader.get()
          // seq \t partitionKey \t arrivalMicros \t data \n
          delivered += row.getUTF8String(0).numBytes + row.getUTF8String(1).numBytes +
            row.getLong(2).toString.length + row.getUTF8String(3).numBytes + 4
        } finally reader.close()
      }
      readNs += System.nanoTime() - t1
      readBytes += rchar() - r0
      start = end
    }
    stream.stop()
    Result(latest.toSeq, readNs / 1e6, readBytes, delivered)
  }
}
