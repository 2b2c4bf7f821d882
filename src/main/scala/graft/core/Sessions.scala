package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.SparkSession

/** Single place for engine session configuration so every entry point
  * (Bench, Verify, Profile, ConsumeApp, tests) runs the same tuned engine.
  *
  * Settings and the 100 TB rationale:
  *  - AQE OFF at this data scale, ON at cluster scale — a latency/adaptivity
  *    tradeoff that flips with data size, so it is configured per
  *    deployment like any Spark app. AQE executes a query stage-by-stage
  *    (each materialized shuffle is its own job) to buy re-planning
  *    opportunities: skew-join splits, runtime broadcast conversion,
  *    partition coalescing. At the test/bench scale there is nothing to
  *    re-plan — every post-shuffle partition is already below the advisory
  *    size and no join is skewed — so the stage-by-stage scheduling is pure
  *    fixed cost: measured across the 79-query suite at sf0.1 (local[32],
  *    unloaded), 39.9 s with AQE on vs 31.5 s off, ~0.11 s per query, with
  *    byte-identical results and zero adaptive plan changes. At 100 TB the
  *    same adaptivity is worth minutes per query (one skew split pays for
  *    every stage boundary of the day), so deployments flip
  *    `spark.sql.adaptive.enabled=true`; the engine's behavior under AQE
  *    stays covered (SkewSpec pins the skew split with AQE enabled, and
  *    `coalescePartitions.parallelismFirst=false` below keeps the
  *    production-recommended coalescing posture whenever AQE is on).
  *  - `shuffle.partitions` = cores as the static default;
  *    [[sizeShufflePartitionsFor]] re-sizes it to the DATA at hand for
  *    entry points that know their input (Bench, Verify). Reduce-task
  *    count is the other half of the AQE finding above: at sf0.1 every
  *    post-shuffle partition holds a few thousand rows, so 32 reduce
  *    tasks per exchange are dispatch overhead, not parallelism —
  *    re-measured at 28.5 s vs 34.1 s across the 86-pair suite just by
  *    sizing them to data (AQE's partition coalescing is the cluster-
  *    scale fix for exactly this; with AQE off at test scale the static
  *    rule recovers the same win without the stage-by-stage jobs).
  *  - `codegen.cache.maxEntries` = 1000 (Spark's default is 100): the
  *    JVM-wide cache of compiled generated classes must hold the working
  *    set, or every run evicts its own classes and Janino compiles them
  *    again. Measured working sets (cap 4000, distinct classes): one pass
  *    of the five perfbench `library` queries 263 (q90 87, q75 69, q23 35,
  *    q156 31, q177 41; 16 of them change with the input table), one
  *    IngestDedupApp stream ~160, the heaviest registry query (q181) 219.
  *    At 100 the `library` pass recompiled all 263 every round (2.2 s of
  *    Janino in a ~6 s round); at 1000 it compiles none after warm-up.
  *    1000 holds each of these with headroom and still bounds the cache in
  *    a long-running consumer that plans new shapes over its life. A
  *    static conf: it must be set here, before `getOrCreate`.
  *  - `artifact.isolation.enabled=false`: with isolation on (Spark 4's
  *    default), every session — and every streaming query, which runs in a
  *    cloned session — gets its own job-artifact state, so executors load
  *    its generated classes through a class loader of its own; the codegen
  *    cache is keyed by class loader, so each new query compiled all of its
  *    executor-side classes again (87 per IngestDedupApp batch run as its
  *    own query, 0 with isolation off). Nothing here adds per-session jars
  *    or files, which is all isolation protects. Static, like the cap.
  *  - `fs.file.impl` = [[NioLocalFileSystem]] and
  *    `fs.AbstractFileSystem.file.impl` = [[NioLocalFs]] (LocalFs.scala):
  *    with no native `libhadoop` loaded, Hadoop's `RawLocalFileSystem`
  *    forks a shell command where the JVM can do the work.
  *    `setPermission` forks `chmod` on every file create and every
  *    `mkdirs` with a mode: parquet sink files, the FileOutputCommitter's
  *    directories, the checkpoint WAL's temp files and their `.crc`s.
  *    `getFileLinkStatus` forks `readlink` on every `FileContext` rename,
  *    one per offset and commit log entry, and is passed the
  *    `file:`-qualified path, so it always fails and only the fork is
  *    paid. JFR's `jdk.ProcessStart` over one perfbench `consume` run
  *    counted 4,152 process starts (1,752 `readlink`, 1,508 `chmod 0644`,
  *    883 `chmod 0755`), ~39 per trigger; bound, 10 (Spark's artifact
  *    cleanup and Hadoop's shell probe), 0 per trigger. Paired A/B, 10
  *    seeds on 4 vCPUs: `consume` `wall_s` 5.54 → 3.49 s (10/10 pairs),
  *    `op_p50_ms` 218.5 → 136; traced, `trigger.wal_commit_ms` and
  *    `trigger.commit_offsets_ms` 28 → 2 ms per trigger, `addBatch`
  *    136 → 107 ms, with the same 352 state files (checksums kept).
  *    `library`, whose timed phase forked nothing, reads within noise
  *    (`wall_s` 3.76 → 3.80 s). The classes change only those two
  *    methods and keep the `.crc` files and the rename guard of the class
  *    they replace. At cluster scale
  *    checkpoints sit on HDFS or an object store, not `file:`, and a node
  *    with native `libhadoop` does not fork, so there the binding covers
  *    only executors' local scratch files and costs nothing.
  *  - No per-key provenance in the Hadoop conf ([[afterCreate]],
  *    [[dropPropertySources]]): Hadoop's `Configuration` keeps, for every
  *    key, the list of resource files that set it, and
  *    `Configuration.write` gzips that list once per key: one
  *    `GZIPOutputStream`, and on the reading side one `GZIPInputStream`,
  *    each with its native zlib init, per key. The session's write conf
  *    holds ~1,100 keys, all with a list, and every parquet write task's
  *    binary carries two copies of it (`WriteJobDescription` and
  *    `BasicWriteJobStatsTracker`), every parquet scan one broadcast copy:
  *    per `consume` trigger ~2,200 deflater inits on the DAG scheduler
  *    thread and ~2,200 inflater inits in each of its 4 write tasks. One
  *    copy measured 113,633 B, 5.5 ms to write and 7.3 ms to read
  *    (warmed, 4 vCPUs); the same keys without the lists 68,664 B, 0.2 ms
  *    and 0.6 ms. `afterCreate` clears the lists of
  *    `sparkContext.hadoopConfiguration`, which every session's
  *    `newHadoopConf` and every `Job` copy, so a write conf keeps lists
  *    only on the ~30 SQL confs Spark sets on each write. Keys, values,
  *    final parameters and deprecations stay; only diagnostics read the
  *    lists (`getPropertySources`, the XML/JSON dumps). The clear runs
  *    after the HDFS, mapred and yarn default resources are registered and
  *    loaded: registering a default resource later reloads every live
  *    conf from its files, which brings every list back. Paired A/B, 10
  *    seeds on 4 vCPUs: `consume` `wall_s` 3.93 → 2.90 s (10/10 pairs),
  *    `cpu_s` 11.01 → 8.50 s; traced, `addBatch` 129–134 → 90 ms per
  *    trigger. `library`, whose timed writes go to `noop`, reads within
  *    noise (`wall_s` 4.14 → 4.11 s, 6 pairs).
  *  - Kryo serializer: faster broadcast/shuffle record serialization.
  *  - `locality.wait=0`: no executor topology in local mode; at cluster
  *    scale this would be left at default.
  *  - UTC session TZ + ANSI off: the determinism contract with the DuckDB
  *    oracle (FIXTURES.md §3) — hash-mixing arithmetic wraps 64-bit.
  *  - `legacy.parquet.nanosAsLong`: events.parquet carries TIMESTAMP(NANOS);
  *    Tables.events converts ns→µs explicitly.
  */
object Sessions {
  def builder(cores: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.locality.wait", "0s")
      .config("spark.sql.session.timeZone", "UTC")
      // fixture parquet writes timestamp[us] without the UTC flag; read
      // it as TIMESTAMP (LTZ, session tz UTC) — the same naive-as-UTC
      // reading DuckDB uses — instead of Spark 4's inferred NTZ, which
      // rejects unix_micros()/watermarks and breaks cross-engine equality
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)

  /** Capacity of Spark's compiled-class cache (see the class doc). */
  val CodegenCacheEntries = 1000

  /** Size `spark.sql.shuffle.partitions` (a runtime conf) to the input
    * under `dataDir`: one reduce partition per ~32 MB of input, floored at
    * 8 (don't serialize tiny suites onto one task) and capped at the
    * session's core count (local mode: beyond-core partitions only buy
    * memory headroom, and the inputs here fit). The cap wins over the
    * floor: on a machine with fewer than 8 cores the result is the core
    * count. The 100 TB posture is the same rule at cluster constants —
    * size reducers to data, not to the machine — where AQE coalescing
    * applies it automatically. */
  def sizeShufflePartitionsFor(spark: SparkSession, dataDir: String): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
      else f.length()
    val cores = spark.sparkContext.defaultParallelism
    val n = math.min(cores.toLong, math.max(8L,
      bytes(new java.io.File(dataDir)) / (32L << 20) + 1)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", n)
    n
  }

  def get(cores: String = "32"): SparkSession = {
    val s = afterCreate(builder(cores).getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The steps that need the created session (class doc). [[get]] and the
    * test session run them on what [[builder]] creates. Idempotent. */
  def afterCreate(spark: SparkSession): SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    FileSystem.getLocal(hc) // service-loads the HDFS client: hdfs-default.xml
    new JobConf(hc) // mapred- and yarn-default.xml
    hc.size() // loads every registered resource into `hc` now
    dropPropertySources(hc)
    spark
  }

  /** Clears the record of which resources set each key of `conf`
    * (`Configuration.updatingResource`, read by `getPropertySources`).
    * Hadoop has no public way to do it, so this is the one place that
    * reaches into the field; on a Hadoop without it, it does nothing.
    * A default resource registered later reloads `conf` and refills it. */
  def dropPropertySources(conf: Configuration): Unit =
    try {
      val f = classOf[Configuration].getDeclaredField("updatingResource")
      f.setAccessible(true)
      conf.synchronized {
        f.get(conf) match {
          case m: java.util.Map[_, _] => m.clear()
          case _ =>
        }
      }
    } catch { case _: NoSuchFieldException => }
}
