package graft

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: runs the full query surface on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology (recorded in BASELINE.md): one untimed warm-up pass over the
  * whole query set amortizes JVM classloading and JIT — one-time costs that
  * at real scale are noise against hours of execution but at sf0.1 would
  * dominate every number. It amortizes codegen compilation only as far as
  * Spark's compiled-class cache holds the suite's classes: the cache is
  * size-bounded (`Sessions.CodegenCacheEntries`), and when the classes of
  * the whole set exceed it, a query's first timed iteration recompiles
  * what the queries warmed after it evicted; later iterations hit the
  * cache when the query's own classes fit in it. Then each query runs
  * `SPARK_GRAFT_ITERS` timed iterations (default 2) and reports the minimum,
  * with the DataFrame cache cleared before every timed run so persisted
  * intermediates (e.g. the dedup shingle table) are recomputed inside the
  * measured window.
  *
  * Each query is forced through a `noop` sink write so the measurement is
  * full plan execution (scan → shuffle → agg/join/window) without parquet
  * write cost. Failures are loud (stderr + a negative duration) rather than
  * silently folded into the total.
  *
  * Pairing: this container's effective CPU swings ~1.6× with neighbor load
  * (BASELINE.md §c), so an absolute total is only meaningful against a
  * denominator measured in the same window. The DuckDB twin runs as a
  * long-lived `tools/bench_duckdb.py serve` child and the engines are
  * INTERLEAVED PER QUERY (S,D,S,D, …): each Spark iteration is immediately
  * followed by the DuckDB run of the same query, so a load swing hits both
  * sides of every pair symmetrically instead of landing on whichever phase
  * ran second — the un-interleaved design measured byte-identical code at
  * 2.12× (r4) and 1.10× (r5). `ratio` stays sum-of-min / sum-of-min over
  * the common success set; `ratio_med` (median over queries of the median
  * per-iteration pair ratio) is the load-robust check number — a large gap
  * between the two flags a noisy capture from the artifact alone.
  *
  * Per-query Spark-side `{jobs, stages, task_sec}` (from a SparkListener)
  * land in BENCH_PAIR_DETAIL.json next to the per-iteration times of both
  * engines, so a >2× outlier is diagnosable from the artifact: constant
  * job/stage counts with wall ≫ task_sec means scheduler floor / machine
  * noise, not a plan defect. DuckDB is driver-image tooling, NOT a library
  * dependency; disable pairing with SPARK_GRAFT_PAIR=0 (absent python or
  * duckdb it degrades to the Spark-only line automatically).
  */
object Bench {

  /** Monotonic job/stage/task-time counters; the listener bus is async, so
    * [[drained]] polls until the counters stop moving before a snapshot is
    * attributed to the just-finished query. */
  private final class MetricsListener extends SparkListener {
    private val jobs = new AtomicLong
    private val stages = new AtomicLong
    private val taskTimeMs = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) taskTimeMs.addAndGet(m.executorRunTime)
    }
    def snap: Array[Long] = Array(jobs.get, stages.get, taskTimeMs.get)
    def drained: Array[Long] = {
      var prev = snap
      val deadline = System.nanoTime() + 500L * 1000 * 1000
      var stable = false
      while (!stable && System.nanoTime() < deadline) {
        Thread.sleep(10)
        val cur = snap
        stable = cur.sameElements(prev)
        prev = cur
      }
      prev
    }
  }

  /** One serve-child connection: process + pipes + the single reader
    * thread. Bundled so a restart swaps ALL of it atomically — reusing the
    * executor across processes would let a still-blocked read on the dead
    * pipe race the first read on the new one. */
  private final class DuckConn(val proc: Process) {
    private val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"))
    private val ex = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "duck-reader"); t.setDaemon(true); t
    }
    // the read must carry a timeout: a wedged duckdb query would otherwise
    // hang the whole bench past the driver's window
    def readLine(timeoutSec: Long): Option[String] = {
      val f = ex.submit[String](() => in.readLine())
      try Option(f.get(timeoutSec, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException => f.cancel(true); None
        case _: Exception => None
      }
    }
    def kill(): Unit = {
      try { out.write("EXIT"); out.newLine(); out.flush() }
      catch { case _: Throwable => () }
      if (!proc.waitFor(5, TimeUnit.SECONDS)) proc.destroyForcibly()
      ex.shutdownNow()
    }
  }

  /** Handle on the long-lived DuckDB twin (`bench_duckdb.py serve`).
    * Self-healing (ADVICE r7): the request/response pipe is strictly
    * ordered, so one query that never answers would desync every later
    * pair — a late line answering query A would be read as the reply to
    * query B. On timeout the child is killed and restarted (re-warmed),
    * and stale lines (tagged with the query name) are drained rather than
    * mis-paired, so a single wedged oracle costs one pair, not the rest
    * of the run. */
  private final class DuckServer(pb: ProcessBuilder, warmupSec: Long) {
    private var conn: DuckConn = new DuckConn(pb.start())
    private var live = false
    /** Blocks until the serve process finishes its warm-up pass. */
    def awaitReady(): Boolean = {
      live = conn.readLine(warmupSec).contains("READY")
      live
    }
    private def restart(): Unit = {
      live = false
      conn.kill()
      try { conn = new DuckConn(pb.start()); awaitReady() }
      catch { case _: Throwable => () }
    }
    /** One timed run of `name`'s oracle; -1 on failure/timeout. */
    def time(name: String): Double = {
      if (!live) return -1.0
      // a dead child surfaces on the WRITE too (EPIPE) — that path must
      // also restart, or every remaining pair silently fails
      try { conn.out.write(name); conn.out.newLine(); conn.out.flush() }
      catch { case _: Throwable => restart(); return -1.0 }
      try {
        val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
        var res = -1.0
        var waiting = true
        while (waiting) {
          val leftSec = (deadline - System.nanoTime()) / 1e9
          if (leftSec <= 0) { restart(); waiting = false }
          else conn.readLine(math.ceil(leftSec).toLong) match {
            case Some(l) if l.startsWith(name + ",") =>
              res = l.substring(name.length + 1).toDouble; waiting = false
            case Some(_) => () // stale reply from an earlier timed-out query
            case None => restart(); waiting = false
          }
        }
        res
      } catch { case _: Throwable => restart(); -1.0 }
    }
    def close(): Unit = conn.kill()
  }

  private object DuckServer {
    def start(sfDir: String, warmupSec: Long): Option[DuckServer] = try {
      val script = java.nio.file.Paths.get("tools/bench_duckdb.py")
      if (!java.nio.file.Files.exists(script)) return None
      val tmp = java.nio.file.Files.createTempDirectory("graftbench")
      val oraclePath = tmp.resolve("oracle_sql.json")
      java.nio.file.Files.writeString(oraclePath,
        graft.core.Json.obj(SparkEntry.oracleSql))
      val pb = new ProcessBuilder("python3", script.toString, "serve",
        sfDir, oraclePath.toString)
      // stderr passes through to ours: an undrained pipe would block the
      // child once full (many failing oracles → a wedged serve loop)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      Some(new DuckServer(pb, warmupSec))
    } catch { case _: Throwable => None }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private case class QueryRec(name: String, sparkIters: Seq[Double],
      duckIters: Seq[Double], jobs: Long, stages: Long, taskSec: Double) {
    def sparkMin: Double = if (sparkIters.isEmpty) -1.0 else sparkIters.min
    // any failed duck run disqualifies the pair (deterministic SQL errors
    // fail every iteration anyway)
    def duckMin: Double =
      if (duckIters.nonEmpty && duckIters.forall(_ >= 0)) duckIters.min
      else -1.0
    def pairRatios: Seq[Double] = sparkIters.zip(duckIters)
      .collect { case (s, d) if d > 0 => s / d }
    def paired: Boolean = sparkMin >= 0 && duckMin > 0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt
    val spark = graft.core.Sessions.get(cpus)
    graft.core.Sessions.sizeShufflePartitionsFor(spark, sfDir)
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // SPARK_GRAFT_ONLY=q94,q90 — comma-separated name prefixes for a
    // targeted paired A/B (same contract as Verify's prefix arg);
    // unset runs the full suite (the driver's path).
    val only = sys.env.get("SPARK_GRAFT_ONLY").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
    val oracle = SparkEntry.oracleSql
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Start the twin first so its warm-up overlaps Spark's untimed pass.
    val duck =
      if (sys.env.getOrElse("SPARK_GRAFT_PAIR", "1") == "0") None
      else DuckServer.start(sfDir, warmupSec = 900)
    qs.foreach { case (_, fn) => try run(fn) catch { case _: Throwable => () } }
    val paired = duck.filter(_.awaitReady())
    duck.filterNot(_ => paired.isDefined).foreach(_.close())

    val recs = qs.map { case (name, fn) =>
      val sIters = Seq.newBuilder[Double]
      val dIters = Seq.newBuilder[Double]
      var jobs = 0L; var stages = 0L; var taskSec = 0.0
      (1 to iters).foreach { _ =>
        spark.catalog.clearCache()
        val m0 = metrics.snap
        val t0 = System.nanoTime()
        val ok =
          try { run(fn); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        if (ok) {
          sIters += (System.nanoTime() - t0) / 1e9
          val m1 = metrics.drained
          jobs = m1(0) - m0(0); stages = m1(1) - m0(1)
          taskSec = (m1(2) - m0(2)) / 1e3
          // interleave: the twin runs the SAME query immediately after the
          // Spark iteration, inside the same load window
          if (oracle.contains(name)) paired.foreach(d => dIters += d.time(name))
        }
      }
      QueryRec(name, sIters.result(), dIters.result(), jobs, stages, taskSec)
    }
    paired.foreach(_.close())

    // %.2f and no iterations field: the driver captures a BOUNDED TAIL of
    // stdout (~2000 chars) and the full-precision line was 2001 — every
    // round's head got truncated past json parsing. Full precision lives
    // in BENCH_PAIR_DETAIL.json.
    val qsJson = recs
      .map(r => "\"" + r.name + "\":" + f"${r.sparkMin}%.2f")
      .mkString("{", ",", "}")
    val total = recs.collect { case r if r.sparkMin >= 0 => r.sparkMin }.sum

    // the ratio compares identical query sets: only pairs where both
    // engines succeeded enter either total
    val common = recs.filter(_.paired)
    val pairJson = if (common.isEmpty) "" else {
      val sparkOracleTotal = common.map(_.sparkMin).sum
      val duckTotal = common.map(_.duckMin).sum
      val ratio = sparkOracleTotal / duckTotal
      val ratioMed = median(common.map(r => median(r.pairRatios)))
      // Full per-query detail goes to a side file — the printed line must
      // stay small enough to survive the driver's tail-buffer capture
      // intact (BENCH_r03's was truncated past parsing).
      val detail = recs.map { r =>
        def arr(xs: Seq[Double]) =
          xs.map(v => f"$v%.4f").mkString("[", ",", "]")
        val pm = median(r.pairRatios)
        s""""${r.name}":{"spark":${arr(r.sparkIters)},"duck":${arr(r.duckIters)}""" +
          f""","spark_min":${r.sparkMin}%.4f,"duck_min":${r.duckMin}%.4f""" +
          (if (pm >= 0) f""","ratio_med":$pm%.3f""" else "") +
          s""","jobs":${r.jobs},"stages":${r.stages}""" +
          f""","task_sec":${r.taskSec}%.3f,"wall":${r.sparkMin}%.4f}"""
      }.mkString("{", ",", "}")
      // The 32-core main pass owns the canonical BENCH_PAIR_DETAIL.json;
      // other core counts (the driver's scaling pass runs the bench again
      // at SPARK_GRAFT_CPUS=8) write a cpus-tagged sibling instead of
      // overwriting it — r21's detail artifact was silently the 8-core
      // capture (VERDICT r21 What's-wrong #3).
      val detailFile =
        if (cpus == "32") "BENCH_PAIR_DETAIL.json"
        else s"BENCH_PAIR_DETAIL_c$cpus.json"
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(detailFile),
        f"""{"queries":$detail,"spark_oracle_total":$sparkOracleTotal%.3f,"duckdb_total":$duckTotal%.3f,"duckdb_n":${common.size},"ratio":$ratio%.2f,"ratio_med":$ratioMed%.2f}""" + "\n")
      catch { case e: Exception =>
        // the detail file is the only place per-query pair data survives
        // (the stdout line is deliberately compact)
        System.err.println(s"[bench] could not write $detailFile: $e")
      }
      f""","spark_oracle_total":$sparkOracleTotal%.3f""" +
        f""","duckdb_total":$duckTotal%.3f,"duckdb_n":${common.size}""" +
        f""","ratio":$ratio%.2f,"ratio_med":$ratioMed%.2f"""
    }

    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qsJson,"sf":"$sfDir"$pairJson}""")
    spark.stop()
  }
}
