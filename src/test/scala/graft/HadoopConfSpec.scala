package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.util.SerializableConfiguration

import graft.app.ConsumeApp
import graft.core.Sessions
import graft.sources.shardsim.ShardSimFixture

/** The session's Hadoop conf carries no per-key provenance (Sessions class
  * doc): the conf a parquet write ships to its tasks keeps every key and
  * value, without the per-key source lists that made it large and slow to
  * serialize. */
class HadoopConfSpec extends SparkSpec {

  private def entries(c: Configuration): Map[String, String] =
    c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  private def withSources(c: Configuration): Int =
    c.iterator.asScala.count(e => c.getPropertySources(e.getKey) != null)

  private def serializedBytes(c: Configuration): Int = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c))
    out.close()
    bytes.size
  }

  test("dropping the source lists keeps every key, value and final parameter") {
    val conf = new JobConf()
    conf.set("graft.probe", "1")
    val (before, finals) = (entries(conf), conf.getFinalParameters.asScala.toSet)
    assert(withSources(conf) == before.size)
    Sessions.dropPropertySources(conf)
    assert(withSources(conf) == 0)
    assert(entries(conf) == before)
    assert(conf.getFinalParameters.asScala.toSet == finals)
  }

  test("after a checkpointed drain and a parquet read the write conf ships " +
      "few source lists and under 80,000 bytes") {
    val dir = Files.createTempDirectory("hconf_shards").toString
    ShardSimFixture.generate(spark, sf0001, dir, nShards = 4)
    val out = Files.createTempDirectory("hconf_out").toString
    val q = ConsumeApp.run(spark, dir, out, Files.createTempDirectory("hconf_ckpt").toString,
      maxRecordsPerBatch = Some(100L))
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 9)
    assert(spark.read.parquet(s"$out/batch_id=*").count() ==
      spark.read.parquet(s"$sf0001/events.parquet").count())

    val write = Job.getInstance(spark.sessionState.newHadoopConf()).getConfiguration
    val shipped = withSources(write)
    assert(shipped < 64, s"$shipped of ${write.size} keys carry source lists")
    // the base conf reloaded from its resources is its state before the
    // drop, source lists and all: the keys and values are the same
    val base = spark.sparkContext.hadoopConfiguration
    val reloaded = new Configuration(base)
    reloaded.reloadConfiguration()
    assert(withSources(reloaded) > 1000)
    assert(entries(base) == entries(reloaded))
    val bytes = serializedBytes(write)
    assert(bytes < 80000, s"the serialized write conf is $bytes bytes")
  }
}
