package graft.sharing

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.sharing.server.LocalSharingServer

/** A graftshare scan reports itself through Spark's own channels: task
  * `inputMetrics.bytesRead` counts the bytes parquet read, and Hadoop's
  * read-op count shows that one row group's column chunks cost one GET
  * (plus the footer's two), not one GET per column. */
class ScanMetricsSpec extends SparkTestBase {

  private val server = new LocalSharingServer()

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def graftshareReadOps: Long =
    FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "graftshare").map(_.getReadOps.toLong).sum

  test("scan of a single-row-group file: bytesRead counted, chunks coalesced") {
    // written by parquet-cpp, which puts each column chunk's metadata right
    // after the chunk: parquet's own merge of consecutive chunks stops at
    // every column, so without the stream's coalescing this file costs one
    // GET per column (11) plus the footer's two
    val file = java.nio.file.Paths.get(s"$sf0001/lineitem.parquet")
    val schema = spark.read.parquet(file.toString).schema
    assert(schema.size > 3)
    server.addParquetTable("s", "sc", "wide", file.toString,
      DeltaSchema.toSchemaString(schema))
    server.start()
    val fileBytes = java.nio.file.Files.size(file)
    val client = new DeltaSharingClient(Profile.fromJson(server.profileJson))

    val group = "scan-metrics"
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val bytesRead = new LongAdder
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) started.add(e.jobId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytesRead.add(m.inputMetrics.bytesRead))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val opsBefore = graftshareReadOps
      spark.sparkContext.setJobGroup(group, group)
      try GraftSharing.readTable(spark, client, TableRef("s", "sc", "wide"))
        .write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.clearJobGroup()
      val opsPerFile = graftshareReadOps - opsBefore
      // task-end events precede their job's end on the listener bus
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (!(started.size > 0 && ended.containsAll(started)) &&
          System.nanoTime() < deadline) Thread.sleep(20)

      info(s"$opsPerFile range GETs, bytesRead ${bytesRead.sum} of a " +
        s"$fileBytes-byte file")
      assert(bytesRead.sum > 0, "graftshare scans must report bytesRead")
      assert(bytesRead.sum <= fileBytes,
        s"bytesRead ${bytesRead.sum} exceeds the file's $fileBytes bytes")
      assert(opsPerFile > 0 && opsPerFile <= 3,
        s"$opsPerFile range GETs for one row group of ${schema.size} columns")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
