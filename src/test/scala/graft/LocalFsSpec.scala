package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.EnumSet
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.util.SerializableConfiguration

import graft.app.ConsumeApp
import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.sources.shardsim.ShardSimFixture

/** The session's `file:` filesystems (Sessions class doc) set permissions
  * and read link status in the JVM: the same files, bits, rename guard
  * and statuses as Hadoop's stock local filesystem, and no process forked
  * while a checkpointed stream runs. */
class LocalFsSpec extends SparkSpec {

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def initialized[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Full mode of a file, setuid/sticky bits included, without following links. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Integer].intValue & 0xfff

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  test("the session binds file: to the java.nio filesystems, on the driver and in a task") {
    val conf = hadoopConf
    assert(FileSystem.get(URI.create("file:/"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    val shipped = new SerializableConfiguration(conf)
    val inTask = spark.sparkContext.parallelize(0 until 2, 2).map { _ =>
      val c = shipped.value
      val fresh = FileSystem.newInstance(URI.create("file:/"), c)
      try (FileSystem.get(URI.create("file:/"), c).getClass.getName, fresh.getClass.getName,
        FileContext.getFileContext(c).getDefaultFileSystem.getClass.getName)
      finally fresh.close()
    }.collect().distinct
    assert(inTask.toSeq == Seq((classOf[NioLocalFileSystem].getName,
      classOf[NioLocalFileSystem].getName, classOf[NioLocalFs].getName)))
  }

  test("create and mkdirs leave the same POSIX bits as stock under the same umask") {
    for (umask <- Seq("022", "077", "002")) {
      val conf = new Configuration(hadoopConf)
      conf.set("fs.permissions.umask-mode", umask)
      def layout(fs: FileSystem, root: java.nio.file.Path): Seq[(String, Int)] = {
        val base = new Path(root.toUri)
        val out = fs.create(new Path(base, "a/b/file"))
        out.write("x".getBytes(UTF_8)); out.close()
        fs.mkdirs(new Path(base, "c/d"))
        fs.mkdirs(new Path(base, "e"), new FsPermission("750"))
        val explicit = fs.create(new Path(base, "f"), new FsPermission("640"), true, 4096,
          fs.getDefaultReplication(base), fs.getDefaultBlockSize(base), null)
        explicit.close()
        fs.setPermission(new Path(base, "c"), new FsPermission("1777")) // sticky: stock path
        Files.walk(root).iterator.asScala.toSeq
          .map(p => (root.relativize(p).toString, mode(p))).sortBy(_._1)
      }
      val stock = layout(initialized(new LocalFileSystem(new RawLocalFileSystem), conf), tmp("stockfs"))
      val nio = layout(initialized(new NioLocalFileSystem, conf), tmp("niofs"))
      assert(nio == stock, s"umask $umask")
      assert(stock.exists(_._1 == "a/b/.file.crc"), "checksum files are written")
      assert(stock.toMap.apply("c") == Integer.parseInt("1777", 8))
    }
  }

  test("FileContext.rename: NONE onto an existing file throws, OVERWRITE replaces it") {
    // HDFSMetadataLog's offset and commit logs rely on this guard
    def check(fc: FileContext): Unit = {
      val dir = new Path(tmp("rename").toUri)
      def write(name: String, body: String): Path = {
        val p = new Path(dir, name)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(body.getBytes(UTF_8)); out.close()
        p
      }
      def read(p: Path): String = {
        val in = fc.open(p)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(read(dst) == "old" && fc.util.exists(src))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(read(dst) == "new" && !fc.util.exists(src))
      assert(!fc.util.exists(new Path(dir, ".src.crc")), "the checksum file moves with it")
      assert(fc.util.exists(new Path(dir, ".dst.crc")))
    }
    check(FileContext.getFileContext(hadoopConf))
    check(FileContext.getFileContext(new Configuration()))
  }

  test("FileSystem.rename answers as Hive's ProxyLocalFileSystem, the unbound file: default") {
    def outcomes(fs: FileSystem): Seq[(Boolean, Set[String])] = {
      val root = tmp("fsrename")
      val base = new Path(root.toUri)
      def write(name: String): Unit = {
        val out = fs.create(new Path(base, name)); out.write(name.getBytes(UTF_8)); out.close()
      }
      Seq("a", "b", "d/x").foreach(write)
      def listing = Files.walk(root).iterator.asScala.map(p => root.relativize(p).toString).toSet
      Seq((new Path(base, "a"), new Path(base, "b")), // onto an existing file
        (new Path(base, "a"), new Path(base, "c")), // onto a missing path
        (new Path(base, "b"), new Path(base, "d")) // into a directory
      ).map { case (src, dst) => (fs.rename(src, dst), listing) }
    }
    val conf = new Configuration()
    val got = outcomes(initialized(new NioLocalFileSystem, conf))
    assert(got == outcomes(initialized(new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem, conf)))
    assert(!got.head._1, "a rename onto an existing file is refused")
  }

  test("getFileLinkStatus matches stock for a file, a directory, a symlink and a missing path") {
    val conf = new Configuration()
    val stock = initialized(new RawLocalFileSystem, conf)
    val nio = initialized(new NioRawLocalFileSystem, conf)
    val root = tmp("linkstatus")
    Files.write(root.resolve("file"), "abc".getBytes(UTF_8))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    // a dangling link given `file:`-qualified fails in stock too: its
    // readlink misses and the status of the missing target is asked for
    def fields(fs: RawLocalFileSystem, p: Path) = scala.util.Try(fs.getFileLinkStatus(p)).map(s =>
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
      .recover { case e: FileNotFoundException => e.getClass }
    for (name <- Seq("file", "dir", "link", "dangling"); qualified <- Seq(true, false)) {
      val p = if (qualified) new Path(root.resolve(name).toUri) else new Path(root.resolve(name).toString)
      assert(fields(nio, p) == fields(stock, p), s"$name $p")
    }
    // unqualified, stock's readlink resolves the link; so does the fall-through
    assert(nio.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    for (missing <- Seq(new Path(root.resolve("gone").toUri), new Path(root.resolve("gone").toString))) {
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    }
  }

  test("a checkpointed multi-trigger ConsumeApp drain starts no process") {
    val dir = tmp("localfs_shards").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 4)
    def drain(tag: String): Int = {
      val q = ConsumeApp.run(spark, dir, tmp(s"${tag}_out").toString,
        tmp(s"${tag}_ckpt").toString, maxRecordsPerBatch = Some(100L))
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
    drain("localfs_warm") // first use of the stream's classes stays outside the window
    val started = new ConcurrentLinkedQueue[String]()
    val sentinel = "graft-localfs-sentinel"
    val sentinelSeen = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd.contains(sentinel)) sentinelSeen.countDown() else started.add(cmd)
      })
      rs.startAsync()
      val triggers = drain("localfs_timed")
      // a process started after the drain proves the stream sees forks and
      // that everything recorded before it was delivered
      new ProcessBuilder("true", sentinel).start().waitFor()
      assert(sentinelSeen.await(30, TimeUnit.SECONDS), "the JFR stream delivered no event")
      assert(triggers >= 9, s"expected a multi-trigger drain, got $triggers triggers")
    } finally rs.close()
    // Spark's session Cleaner removes an ended streaming query's artifact
    // directory with `rm -rf` whenever a GC collects its cloned session:
    // once per query, at a time set by the GC, not by the drain
    val forks = started.asScala.toSeq.filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(forks.isEmpty, forks.groupBy(_.takeWhile(_ != ' ')).map { case (k, v) => s"$k x${v.size}" })
  }
}
