package graft.sources.shardsim

import java.io.File
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `shardsim` — a DataSource V2 sharded-stream simulator source.
  *
  * A protocol-faithful local stand-in for the reference's Kinesis consumer
  * (SURVEY §2a): a directory holds one append-only TSV file per shard
  * (`shard-<id>.tsv`, or `shard-<id>.closed.tsv` once sealed); records
  * carry zero-padded lexicographically-ordered sequence numbers (the
  * `recordSequenceNumber` analog, reference src/Kinesis/Coordination.hs:331),
  * a partition key, an arrival timestamp, and an opaque payload.
  *
  * Semantics mirrored from the reference:
  *  - resume is "after sequence number" (src/Kinesis/Kinesis.hs:62-65):
  *    offsets are per-shard record counts; a batch reads [start, end);
  *  - per-batch record cap = `maxRecordsPerBatch` option
  *    (`configRecordBatch`, src/Kinesis/Types.hs:79-80) via
  *    SupportsAdmissionControl;
  *  - `startingPosition` = latest|earliest (GetShardIterator Latest vs
  *    resume, src/Kinesis/Kinesis.hs:62-66);
  *  - closed shards are consumed to their end and then planned no more
  *    (completion, src/Kinesis/Coordination.hs:352-353,385);
  *  - shards are grouped into input partitions by the sticky balanced
  *    [[ShardPlanner]] (max−min<2 invariant, src/Kinesis/Coordination.hs:520);
  *    a micro-batch gets one partition per [[ShardSim.MinRecordsPerPartition]]
  *    records, so a small batch is read by one task, not one per slot.
  *
  * Progress/commit bookkeeping is Spark's offset/commit WAL — strictly
  * stronger than the reference's max-acked-seq checkpoint (exactly-once
  * with replayable input + idempotent sink vs at-least-once).
  *
  * File I/O notes: line counts are memoized by (path, mtime, size), so a
  * quiet-stream `latestOffset` poll costs one stat per shard and only an
  * actual append triggers a recount. Record files are TSV:
  * `seq \t partitionKey \t arrivalMicros \t data`. A reader seeks to its
  * range's first record by searching byte positions on the `seq` prefix
  * ([[ShardSim.seekRecord]]) instead of re-reading the file from line 0
  * every batch, which made a stream's read cost grow quadratically.
  */
object ShardSim {
  val schema: StructType = StructType(Seq(
    StructField("sequenceNumber", StringType, nullable = false),
    StructField("partitionKey", StringType, nullable = true),
    StructField("approximateArrivalTimestamp", TimestampType, nullable = true),
    StructField("data", StringType, nullable = true),
    StructField("shardId", StringType, nullable = false)))

  case class ShardInfo(shardId: String, file: String, closed: Boolean,
      numRecords: Long, parents: Seq[String] = Nil)

  /** Shard files: `shard-<id>[.parent-<pid>]*[.closed].tsv`. Each
    * `.parent-<pid>` marker declares an ancestor that must be closed and
    * drained before this shard's records are admitted — one marker for a
    * split child (Kinesis `ParentShardId`), two for a merge child
    * (`ParentShardId` + `AdjacentParentShardId`). The relation the
    * reference left unfinished (/root/reference/README.md:8). */
  def listShards(dir: String): Seq[ShardInfo] = {
    val d = new File(dir)
    val files = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("shard-") && f.getName.endsWith(".tsv"))
    files.sortBy(_.getName).map { f =>
      val closed = f.getName.endsWith(".closed.tsv")
      val base = f.getName.stripSuffix(".tsv").stripSuffix(".closed")
      val segs = base.split("\\.parent-", -1)
      val (id, parents) = (segs.head, segs.tail.toSeq.map("shard-" + _))
      ShardInfo(id, f.getAbsolutePath, closed, countLines(f), parents)
    }.toSeq
  }

  /** Line counts memoized by (path, mtime, size): a `latestOffset` poll on
    * a quiet stream is O(#shards) stat calls instead of a full re-read of
    * every shard file (which made the poll loop O(n²) over stream life);
    * an append changes mtime/size and triggers one O(n) recount. */
  private val lineCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()

  private def countLines(f: File): Long = {
    val key = (f.getAbsolutePath, f.lastModified(), f.length())
    // sweep superseded entries for this path BEFORE computeIfAbsent — the
    // ConcurrentHashMap contract forbids mutating the map from inside the
    // mapping function (risk of bin-lock deadlock between concurrent polls)
    lineCountCache.keySet.removeIf(k => k._1 == key._1 && k != key)
    lineCountCache.computeIfAbsent(key, { _ =>
      val in = Files.newBufferedReader(f.toPath, StandardCharsets.UTF_8)
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .foldLeft(0L)((n, _) => n + 1)
      finally in.close()
    })
  }

  /** Every record line starts with its sequence number, zero-padded to 12
    * digits and followed by a tab; [[ShardSimFixture]] writes the record's
    * 0-based line index there. */
  private val SeqDigits = 12

  /** The sequence number of a line starting at `b(i)` (valid bytes end at
    * `until`), or -1 when the bytes there are not 12 digits and a tab. */
  private def seqPrefix(b: Array[Byte], i: Int, until: Int): Long = {
    if (i + SeqDigits >= until || b(i + SeqDigits) != '\t') return -1L
    var seq = 0L
    var k = i
    while (k < i + SeqDigits) {
      val d = b(k) - '0'
      if (d < 0 || d > 9) return -1L
      seq = seq * 10 + d
      k += 1
    }
    seq
  }

  /** Up to `len` bytes of `ch` from byte `pos` (fewer at the end). */
  private def readAt(ch: FileChannel, pos: Long, len: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(len)
    while (buf.hasRemaining && ch.read(buf, pos + buf.position()) > 0) ()
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  /** The first line starting at or after byte `from` (> 0): its start and
    * sequence number; (size, Long.MaxValue) when no line starts there;
    * None when that line carries no sequence-number prefix. */
  private def lineFrom(ch: FileChannel, from: Long, size: Long,
      window: Int): Option[(Long, Long)] = {
    var base = from - 1 // the newline ending the line before may sit here
    var b = readAt(ch, base, window)
    var nl = b.indexOf('\n'.toByte)
    while (nl < 0 && b.length == window) {
      base += b.length
      b = readAt(ch, base, window)
      nl = b.indexOf('\n'.toByte)
    }
    val start = base + nl + 1
    if (nl < 0 || start >= size) return Some((size, Long.MaxValue))
    val seq =
      if (nl + 1 + SeqDigits < b.length) seqPrefix(b, nl + 1, b.length)
      else seqPrefix(readAt(ch, start, SeqDigits + 1), 0, SeqDigits + 1)
    if (seq < 0) None else Some((start, seq))
  }

  /** Start and sequence number of the last newline-terminated line. */
  @annotation.tailrec
  private def lastLine(ch: FileChannel, size: Long, len: Long = 256L): Option[(Long, Long)] = {
    val from = math.max(0L, size - len)
    val b = readAt(ch, from, (size - from).toInt)
    val end = b.lastIndexOf('\n'.toByte)
    val before = if (end <= 0) -1 else b.lastIndexOf('\n'.toByte, end - 1)
    if (before < 0 && from > 0) lastLine(ch, size, len * 2)
    else if (end < 0) None
    else {
      val seq = seqPrefix(b, before + 1, end)
      if (seq < 0) None else Some((from + before + 1, seq))
    }
  }

  /** Byte position of record `n` in a shard file, found by searching byte
    * positions on the lines' sequence-number prefixes: interpolation
    * between the two lines that bracket it, every third probe a bisection
    * so uneven line lengths cannot stall it. A few reads of about one line
    * each, where skipping to the record reads every line before it. None
    * when the file does not follow the prefix convention (its first line,
    * or a line the search meets, has no prefix or an out-of-order one);
    * the reader then skips lines instead. */
  def seekRecord(file: String, n: Long): Option[Long] = {
    if (n == 0) return Some(0L)
    val ch = FileChannel.open(Paths.get(file), StandardOpenOption.READ)
    try {
      val size = ch.size()
      if (seqPrefix(readAt(ch, 0, SeqDigits + 1), 0, SeqDigits + 1) != 0L) return None
      // record n starts after lo's start and before `bound` (≤ hi's start)
      var lo = (0L, 0L)
      var hi = lastLine(ch, size) match {
        case Some(last) if last._2 >= n => last
        case _ => return None
      }
      if (hi._2 == n) return Some(hi._1)
      var bound = hi._1
      var misses = 0
      while (bound - lo._1 > 1) {
        val avg = (hi._1 - lo._1).toDouble / (hi._2 - lo._2)
        val guess =
          if (misses == 2) (lo._1 + bound) / 2
          else lo._1 + ((n - lo._2 - 0.5) * avg).toLong
        misses = if (misses == 2) 0 else misses + 1
        val p = math.min(math.max(guess, lo._1 + 1), bound - 1)
        lineFrom(ch, p, size, math.min(avg.toInt + SeqDigits + 4, 1 << 16)) match {
          case None => return None
          case Some((s, _)) if s >= bound => bound = p
          case Some((s, seq)) if seq == n => return Some(s)
          case Some((s, seq)) if seq <= lo._2 || seq >= hi._2 => return None
          case Some(line) if line._2 < n => lo = line
          case Some(line) => hi = line; bound = line._1
        }
      }
      None
    } finally ch.close()
  }

  /** A line reader over `file` from byte `pos`. The channel underneath
    * answers each read with at most 512 bytes, so the reader fetches little
    * beyond the lines asked of it (a plain stream reads 8 KiB ahead, more
    * than one shard's share of a small batch). */
  private[shardsim] def linesFrom(file: String, pos: Long): java.io.BufferedReader = {
    val ch = FileChannel.open(Paths.get(file), StandardOpenOption.READ)
    val in = new java.io.InputStream {
      private var at = pos
      override def read(): Int = {
        val one = new Array[Byte](1)
        if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = ch.read(ByteBuffer.wrap(b, off, math.min(len, 512)), at)
        if (n > 0) at += n
        n
      }
      override def close(): Unit = ch.close()
    }
    new java.io.BufferedReader(
      new java.io.InputStreamReader(in, StandardCharsets.UTF_8.newDecoder()), 512)
  }

  /** Offsets = per-shard consumed-record counts, JSON `{"shard-0":12,...}`
    * with sorted keys (deterministic serialization for the offset WAL). */
  case class ShardOffsets(seqs: Map[String, Long]) extends Offset {
    override def json(): String =
      seqs.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  object ShardOffsets {
    private val Entry = """"([^"]+)":(\d+)""".r
    def fromJson(s: String): ShardOffsets =
      ShardOffsets(Entry.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap)
  }

  /** Records per micro-batch input partition: a batch is planned as one
    * partition per this many records, at most one per active shard and at
    * most `numPartitions` ([[ShardSimMicroBatchStream.planInputPartitions]]).
    *
    * Sized from two costs of ConsumeApp's foreachBatch parquet write task,
    * taken from perfbench's traced `consume` run (4 vCPUs, 25 triggers of
    * 400 records per drain; going from 4 tasks per trigger to 1 cut task
    * CPU by 586–743 ms per drain, 75 tasks fewer, 4 seeds): a fixed c_f ≈ 8.3 ms
    * of task CPU per task, however few records it holds (deserializing two
    * copies of the Hadoop conf, generating the `observe()` update
    * projection, setting up the parquet writer), and c_r ≈ 0.02 ms per
    * record. Spreading N records over k tasks adds (k − 1)·c_f of CPU and,
    * on idle cores, saves N·c_r·(1 − 1/k) of wall time; the two are equal
    * when each task holds c_f / c_r ≈ 400 records. 1,024 is 2.5× that, so
    * a batch fans out only where the wall time a split saves clearly
    * exceeds the CPU it costs, and a 400-record trigger (8 ms of record
    * work) runs as one task instead of four (25 ms more fixed cost).
    * Paired perfbench `consume` runs (10 seeds): `cpu_s` 5.35 → 3.66 s
    * against a constant 4 partitions, `wall_s` 1.98 → 1.82 s; at 256 (two
    * tasks per trigger) `cpu_s` was 4.72 s against 4.24 s at 1,024 (6
    * seeds) with the same `wall_s`. */
  val MinRecordsPerPartition = 1024L

  /** One reader task: a group of per-shard ranges [start, end). */
  case class ShardRange(shardId: String, file: String, start: Long, end: Long)
  case class ShardSimInputPartition(ranges: Seq[ShardRange]) extends InputPartition
}

class ShardSimProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "shardsim"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ShardSim.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ShardSimTable(properties.asScala.toMap)
}

class ShardSimTable(properties: Map[String, String]) extends Table with SupportsRead {
  private val path = properties.getOrElse("path",
    throw new IllegalArgumentException("shardsim requires a path"))
  override def name(): String = s"shardsim($path)"
  override def schema(): StructType = ShardSim.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ShardSimScan(path, options.asScala.toMap ++ properties)
}

class ShardSimScan(path: String, options: Map[String, String]) extends Scan {
  override def readSchema(): StructType = ShardSim.schema
  override def description(): String = s"shardsim scan of $path"
  override def toBatch: Batch = new ShardSimBatch(path, options)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardSimMicroBatchStream(path, options)
}

/** Batch read: the whole current content of every shard. */
class ShardSimBatch(path: String, options: Map[String, String]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    ShardSim.listShards(path).map { s =>
      ShardSim.ShardSimInputPartition(
        Seq(ShardSim.ShardRange(s.shardId, s.file, 0L, s.numRecords)))
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory = new ShardSimReaderFactory
}

class ShardSimMicroBatchStream(path: String, options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import ShardSim._

  /** Trigger.AvailableNow target: offsets snapshotted at query start; the
    * stream drains up to here (in maxRecordsPerBatch-sized steps) and stops. */
  private var availableNowTarget: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(listShards(path).map(s => s.shardId -> s.numRecords).toMap)

  private val maxRecordsPerBatch: Option[Long] =
    options.get("maxrecordsperbatch").map(_.toLong)
  require(maxRecordsPerBatch.forall(_ > 0), "maxRecordsPerBatch must be positive")
  private val maxPartitions: Int = options.getOrElse("numpartitions", "4").toInt
  require(maxPartitions > 0, "numPartitions must be positive")
  private val startLatest: Boolean =
    options.getOrElse("startingposition", "earliest").equalsIgnoreCase("latest")

  /** Sticky shard→slot assignment, kept across micro-batches for reader
    * affinity (the reference's minimal-disturbance property, R10). */
  private var priorAssignment: Map[Int, Seq[String]] = Map.empty

  override def initialOffset(): Offset = {
    val shards = listShards(path)
    if (startLatest) ShardOffsets(shards.map(s => s.shardId -> s.numRecords).toMap)
    else ShardOffsets(shards.map(s => s.shardId -> 0L).toMap)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxRecordsPerBatch.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(Offset, ReadLimit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startSeqs = start.asInstanceOf[ShardOffsets].seqs
    val shards = listShards(path)
    val byId = shards.map(s => s.shardId -> s).toMap
    // Parent→child ordering (the reference's completion rule,
    // src/Kinesis/Coordination.hs:352-353, applied to its unfinished
    // split/merge TODO, README.md:8): a child's records are admitted only
    // once EVERY declared ancestor is closed AND fully consumed as of
    // `start` — one parent for a split child, two for a merge child —
    // otherwise a key's post-reshard records could be read before its
    // pre-reshard ones. A missing parent file (trimmed by retention) counts
    // as drained; a cycle (corrupt fixture) gates its members forever
    // rather than looping.
    def released(sh: ShardInfo, seen: Set[String]): Boolean =
      sh.parents.forall {
        case pid if seen(pid) => false
        case pid => byId.get(pid).forall(p =>
          p.closed && startSeqs.getOrElse(p.shardId, 0L) >= p.numRecords &&
            released(p, seen + sh.shardId))
      }
    // under Trigger.AvailableNow, never read past the start-time snapshot
    val ends: Map[String, Long] = shards.map { s =>
      val avail = availableNowTarget match {
        case Some(target) => math.min(s.numRecords, target.getOrElse(s.shardId, 0L))
        case None => s.numRecords
      }
      val from = startSeqs.getOrElse(s.shardId, 0L)
      s.shardId -> (if (released(s, Set(s.shardId))) math.max(avail, from) else from)
    }.toMap
    val capTotal = limit match {
      case r: ReadMaxRows => Some(r.maxRows())
      case _ => None
    }
    capTotal match {
      case None => ShardOffsets(ends)
      case Some(cap) =>
        // spread the cap evenly over shards with backlog (reference applies
        // configRecordBatch per GetRecords page, i.e. per shard poll). With
        // more backlogged shards than the cap, `cap` of them get one record
        // each; the window starts at (records consumed so far) mod |backlog|,
        // so successive batches take successive windows and no shard starves
        val backlog = shards.filter(s =>
          ends(s.shardId) > startSeqs.getOrElse(s.shardId, 0L))
        val grants: Map[String, Long] =
          if (backlog.size <= cap)
            backlog.map(_.shardId -> (cap / math.max(backlog.size, 1))).toMap
          else {
            val first = (startSeqs.values.sum % backlog.size).toInt
            (backlog ++ backlog).slice(first, first + cap.toInt)
              .map(_.shardId -> 1L).toMap
          }
        ShardOffsets(shards.map { s =>
          val from = startSeqs.getOrElse(s.shardId, 0L)
          s.shardId -> math.min(ends(s.shardId), from + grants.getOrElse(s.shardId, 0L))
        }.toMap)
    }
  }

  override def reportLatestOffset(): Offset = {
    val shards = listShards(path)
    ShardOffsets(shards.map(s => s.shardId -> s.numRecords).toMap)
  }

  /** min(`numPartitions`, active shards, ⌈records / [[MinRecordsPerPartition]]⌉)
    * partitions: a function of the batch's (start, end) offsets alone, so
    * a replayed batch plans as many partitions as the attempt it replays.
    * Which shards share a partition is sticky across batches
    * ([[ShardPlanner]]). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].seqs
    val e = end.asInstanceOf[ShardOffsets].seqs
    val shards = listShards(path)
    val active = shards.filter(sh =>
      e.getOrElse(sh.shardId, 0L) > s.getOrElse(sh.shardId, 0L))
    if (active.isEmpty) return Array.empty
    val records = active.map(sh => e(sh.shardId) - s.getOrElse(sh.shardId, 0L)).sum
    val bySize = (records + MinRecordsPerPartition - 1) / MinRecordsPerPartition
    val slots = 0 until math.min(math.min(maxPartitions, active.size).toLong, bySize).toInt
    val assignment = ShardPlanner.assign(slots, active.map(_.shardId), priorAssignment)
    priorAssignment = assignment
    val byId = active.map(sh => sh.shardId -> sh).toMap
    assignment.toSeq.sortBy(_._1).collect {
      case (_, shardIds) if shardIds.nonEmpty =>
        ShardSimInputPartition(shardIds.map { id =>
          val sh = byId(id)
          ShardRange(id, sh.file, s.getOrElse(id, 0L), e.getOrElse(id, 0L))
        })
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ShardSimReaderFactory(options)
  override def deserializeOffset(json: String): Offset = ShardOffsets.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class ShardSimReaderFactory(options: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ShardSimPartitionReader(
      partition.asInstanceOf[ShardSim.ShardSimInputPartition], options)
}

/** Streams the assigned ranges line by line; one reader handles several
  * shards (a "worker" for each assigned shard, reference
  * src/Kinesis/Coordination.hs:300-337, minus the hand-rolled heartbeats —
  * Spark's executor liveness covers that).
  *
  * Source-level retry/backoff (the reference's per-call transient-error
  * classification + retry, src/Kinesis/Kinesis.hs:119-176, where expired
  * iterators and throttling retry with a delay while everything else is
  * fatal): with `retryMaxAttempts=<n>` (default 0 = rely on Spark task
  * retry + WAL replay alone), an `IOException` raised while pulling
  * records is classified TRANSIENT and retried in place — exponential
  * backoff `retryBaseDelayMs · 2^(attempt−1)` (default 100) capped at
  * `retryMaxDelayMs` (default 10000), reopening the current shard file
  * and seeking back to the exact record position, so already-emitted rows
  * are never re-emitted. Any other exception is FATAL and propagates to
  * Spark's task/query retry (the strictly-stronger outer loop). At 100 TB
  * against a real flaky store this absorbs per-call blips without paying
  * a task re-run; the outer WAL replay still covers everything the inner
  * loop gives up on.
  *
  * Fault injection (test chaos hook): with `faultInjectMarker=<path>` and
  * `faultInjectAfter=<n>`, the FIRST reader to emit n records atomically
  * creates the marker file and dies with an IOException — exactly one
  * transient failure per marker path, mid-batch, after rows have already
  * been produced. Subsequent attempts (in-reader retry or task/query
  * restart) find the marker and read clean. */
class ShardSimPartitionReader(partition: ShardSim.ShardSimInputPartition,
    options: Map[String, String] = Map.empty)
    extends PartitionReader[InternalRow] {
  private val faultAfter = options.get("faultinjectafter").map(_.toLong)
  private val faultMarker = options.get("faultinjectmarker")
  private val retryMaxAttempts = options.get("retrymaxattempts").map(_.toInt).getOrElse(0)
  private val retryBaseDelayMs = options.get("retrybasedelayms").map(_.toLong).getOrElse(100L)
  private val retryMaxDelayMs = options.get("retrymaxdelayms").map(_.toLong).getOrElse(10000L)
  private var emitted = 0L
  private val ranges = partition.ranges.iterator
  private var lines: Iterator[String] = Iterator.empty
  private var currentShard: UTF8String = _
  private var current: ShardSim.ShardRange = _
  private var posInRange = 0L
  private var reader: java.io.BufferedReader = _
  private var row: InternalRow = _

  /** (Re)open the current range's file and seek to `start + posInRange` —
    * the resume point after a transient failure mid-range. */
  private def openCurrent(): Unit = {
    if (reader != null) { reader.close(); reader = null }
    currentShard = UTF8String.fromString(current.shardId)
    val skip = current.start + posInRange
    var remaining = current.end - skip
    if (remaining <= 0) { lines = Iterator.empty; return }
    reader = ShardSim.seekRecord(current.file, skip) match {
      case Some(pos) => ShardSim.linesFrom(current.file, pos)
      case None =>
        // no sequence-number prefixes to search: read and discard the
        // lines before the resume point (Long-safe, unlike a .toInt slice)
        val r = Files.newBufferedReader(Paths.get(current.file), StandardCharsets.UTF_8)
        var skipped = 0L
        while (skipped < skip && r.readLine() != null) skipped += 1
        r
    }
    // count before reading, so the line after the range is never read
    lines = Iterator.continually {
      if (remaining > 0) { remaining -= 1; reader.readLine() } else null
    }.takeWhile(_ != null)
  }

  private def advanceRange(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    if (!ranges.hasNext) return false
    current = ranges.next()
    posInRange = 0L
    openCurrent()
    true
  }

  /** One record pull; throws on (injected) read errors. */
  private def pullNext(): Boolean = {
    if (faultAfter.contains(emitted) &&
        faultMarker.exists(m => new File(m).createNewFile()))
      throw new java.io.IOException(
        s"shardsim injected transient read failure after $emitted records")
    while (!lines.hasNext) if (!advanceRange()) return false
    val parts = lines.next().split("\t", 4)
    row = new GenericInternalRow(Array[Any](
      UTF8String.fromString(parts(0)),
      UTF8String.fromString(parts(1)),
      parts(2).toLong,
      UTF8String.fromString(parts(3)),
      currentShard))
    // counted only when a row is actually produced, so the fault really
    // fires "after n records emitted" — not after n next() calls (the
    // terminal false call would otherwise count too); posInRange is the
    // per-range resume point for the in-reader retry
    emitted += 1
    posInRange += 1
    true
  }

  override def next(): Boolean = {
    var attempt = 0
    var out = Option.empty[Boolean]
    while (out.isEmpty) {
      try out = Some(pullNext())
      catch {
        // the reference's classification: IOException ~ transient
        // (ExpiredIterator/Throttling); anything else fatal
        case e: java.io.IOException if attempt < retryMaxAttempts =>
          attempt += 1
          val delay = math.min(retryMaxDelayMs,
            retryBaseDelayMs << math.min(attempt - 1, 30))
          System.err.println(s"[shardsim] transient read error " +
            s"(attempt $attempt/$retryMaxAttempts, backoff ${delay}ms): " +
            e.getMessage)
          Thread.sleep(delay)
          if (current != null) openCurrent() // reposition, never re-emit
      }
    }
    out.get
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (reader != null) reader.close()
}
