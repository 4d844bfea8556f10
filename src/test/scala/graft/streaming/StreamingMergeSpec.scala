package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSuite
import graft.model.Post
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingMergeSpec extends SparkSuite {
  import spark.implicits._

  private def post(id: String, title: String, content: String, createdOff: Long) = Post(
    "site_a", id, s"http://x/$id", None, title, None, Seq.empty,
    new Timestamp(Timestamp.valueOf("2026-01-01 00:00:00").getTime + createdOff * 1000),
    None, None, content, Seq.empty, None)

  test("foreachBatch merge: two micro-batches upsert into the cache snapshot") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream").toString
    val cacheDir = s"$dir/cache"

    val now1 = Timestamp.valueOf("2026-03-01 00:00:00")
    val stream1 = MemoryStream[Post]
    stream1.addData(post("1", "T1", "C1", 0), post("2", "T2", "C2", 1))
    val q1 = StreamingMerge.foreachBatchMerge(
      stream1.toDF(), cacheDir, s"$dir/cp1", () => now1)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(cacheDir).count() === 2)

    val now2 = Timestamp.valueOf("2026-03-02 00:00:00")
    val stream2 = MemoryStream[Post]
    stream2.addData(post("2", "T2-updated", "C2-updated", 1), post("3", "T3", "C3", 2))
    val q2 = StreamingMerge.foreachBatchMerge(
      stream2.toDF(), cacheDir, s"$dir/cp2", () => now2)
    q2.processAllAvailable(); q2.stop()

    val cache = spark.read.parquet(cacheDir).orderBy("rank").collect()
    assert(cache.map(_.getAs[String]("id")).toSeq === Seq("1", "2", "3"))
    assert(cache(1).getAs[String]("title") === "T2-updated")
    assert(cache(1).getAs[Timestamp]("updated_at") === now2)
    assert(cache(0).getAs[Timestamp]("updated_at") === null)
  }

  test("readSnapshotOr: only a cleanly missing path is the empty table") {
    val dir = Files.createTempDirectory("graft-snapshot-or").toString
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val missing = StreamingMerge.readSnapshotOr(spark, s"$dir/missing")(empty)
    assert(missing.count() === 0 && missing.columns.toSeq === Seq("k", "v"))
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/live")
    assert(StreamingMerge.readSnapshotOr(spark, s"$dir/live")(empty).count() === 1)
    // a mid-swap crash left only the set-aside copy: refuse to start empty
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/swapped.old7")
    val refused = intercept[IllegalArgumentException] {
      StreamingMerge.readSnapshotOr(spark, s"$dir/swapped")(empty)
    }
    assert(refused.getMessage.contains("swap leftovers"))
    // a present but unreadable snapshot is an error, not a first run
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/broken"))
    intercept[org.apache.spark.sql.AnalysisException] {
      StreamingMerge.readSnapshotOr(spark, s"$dir/broken")(empty)
    }
  }

  test("readSnapshotOr: a live snapshot reads with the given schema and starts no job") {
    val dir = Files.createTempDirectory("graft-snapshot-jobs").toString
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.partitionBy("v").parquet(s"$dir/live")
    // jobs are tagged through a local property of this thread
    val key = "graft.test.snapshot"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val live = try {
      spark.sparkContext.setLocalProperty(key, tag)
      try StreamingMerge.readSnapshotOr(spark, s"$dir/live")(empty)
      finally spark.sparkContext.setLocalProperty(key, null)
    } finally {
      awaitQuiet(jobs.get)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get === 0)
    assert(live.columns.toSeq === Seq("k", "v"))
    assert(live.as[(Long, String)].collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("swapSnapshot: a rename that returns false fails the swap and keeps the old snapshot") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.stuckrename.impl", classOf[StuckRenameFileSystem].getName)
    conf.setBoolean("fs.stuckrename.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft-swap").toString
    def write(name: String, v: String): Unit =
      Seq((1L, v)).toDF("k", "v").write.parquet(s"$dir/$name")
    def value(name: String): String =
      spark.read.parquet(s"$dir/$name").as[(Long, String)].head()._2
    // the old snapshot cannot be set aside: nothing moves
    write("stuck-live", "old"); write("next-a", "new")
    intercept[IllegalArgumentException] {
      StreamingMerge.swapSnapshot(spark, s"stuckrename://$dir/stuck-live",
        s"stuckrename://$dir/next-a", "1")
    }
    assert(value("stuck-live") === "old" && value("next-a") === "new")
    // the commit rename fails: the set-aside snapshot is put back
    write("live", "old"); write("stuck-next", "new")
    intercept[IllegalStateException] {
      StreamingMerge.swapSnapshot(spark, s"stuckrename://$dir/live",
        s"stuckrename://$dir/stuck-next", "2")
    }
    assert(value("live") === "old")
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/live.old2")))
  }

  test("mapGroupsWithState dedup emits created/unchanged/updated across batches") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream2").toString
    val stream = MemoryStream[Post]
    val events = StreamingMerge.dedupByIdStream(stream.toDS())
    val q = events.writeStream.outputMode("update")
      .format("memory").queryName("dedup_events")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    stream.addData(post("1", "T1", "C1", 0))
    q.processAllAvailable()
    stream.addData(post("1", "T1", "C1", 0), post("2", "T2", "C2", 1))
    q.processAllAvailable()
    stream.addData(post("1", "T1", "C1-changed", 0))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT id, event FROM dedup_events").as[(String, String)].collect()
    assert(out.count(e => e == ("1", "post_created")) === 1)
    assert(out.count(e => e == ("1", "post_unchanged")) === 1)
    assert(out.count(e => e == ("1", "post_updated")) === 1)
    assert(out.count(e => e == ("2", "post_created")) === 1)
  }

  test("windowed event counts with watermark over the events table (batch-as-stream)") {
    val dir = Files.createTempDirectory("graft-stream3").toString
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // stage the events table alone into a streamable directory
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/in/events.parquet"))
    val stream = spark.readStream.schema(batch.schema).parquet(s"$dir/in")
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> event-time type
    val agg = StreamingMerge.windowedEventCounts(stream, "1 day", "2 days")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("windowed")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT sum(n) FROM windowed").as[Long].head()
    // append mode emits only windows older than the watermark; the last
    // couple of days stay open — expect most but not necessarily all rows
    assert(got > 0 && got <= batch.count())
  }
}

/** The local file system under the `stuckrename` scheme, except that
  * renaming a path whose name starts with `stuck` returns false instead of
  * moving it, as a rename can on several Hadoop file systems. */
class StuckRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("stuckrename:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getName.startsWith("stuck") && super.rename(src, dst)
}
