package graft.streaming

import graft.SparkSpec

class QueueSourceSpec extends SparkSpec {
  import spark.implicits._

  test("queue source delivers pushed messages through a micro-batch stream") {
    MessageQueues.clear("qa")
    MessageQueues.push("qa", "m1", "m2", "m3")
    val df = spark.readStream.format("graft.streaming.QueueSourceProvider")
      .option("queue", "qa").load()
    val got = Streams.runToMemoryComplete(spark, df, outputMode = "append")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, "m1"), (1L, "m2"), (2L, "m3")))
  }

  test("maxPerBatch caps batch admission (rdy window) but still drains fully") {
    MessageQueues.clear("qb")
    MessageQueues.push("qb", (1 to 10).map(i => s"m$i"): _*)
    val df = spark.readStream.format("graft.streaming.QueueSourceProvider")
      .option("queue", "qb").option("maxPerBatch", "3").load()
    val q = df.writeStream.format("memory").queryName("graft_qb_capped")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(sizes.length >= 4 && sizes.forall(_ <= 3), s"batch sizes $sizes")
    val offsets = spark.table("graft_qb_capped").as[(Long, String)].collect().map(_._1).sorted
    assert(offsets.toSeq == (0L until 10L), "every offset exactly once")
  }

  test("the admission cap bounds each batch's end offset, not just its read") {
    MessageQueues.clear("qcap")
    MessageQueues.push("qcap", (1 to 10).map(i => s"m$i"): _*)
    val stream = new QueueMicroBatchStream("qcap", maxPerBatch = 4)
    val limit = stream.getDefaultReadLimit
    assert(stream.latestOffset(QueueOffset(0), limit) == QueueOffset(4))
    assert(stream.latestOffset(QueueOffset(8), limit) == QueueOffset(10))
    // AvailableNow stops at the queue end seen when the trigger started
    stream.prepareForTriggerAvailableNow()
    MessageQueues.push("qcap", "late")
    assert(stream.latestOffset(QueueOffset(8), limit) == QueueOffset(10))
    assert(stream.latestOffset() == QueueOffset(11))
  }

  test("restart from checkpoint resumes at the committed offset — no reprocessing") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft_q_ckpt_").toString
    val out = Files.createTempDirectory("graft_q_out_").toString
    MessageQueues.clear("qr")
    MessageQueues.push("qr", "m1", "m2")

    def runOnce(): Unit = {
      val df = spark.readStream.format("graft.streaming.QueueSourceProvider")
        .option("queue", "qr").load()
      val q = df.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 2)

    MessageQueues.push("qr", "m3")
    runOnce()   // same checkpoint: must deliver ONLY the new message
    val all = spark.read.parquet(out).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(all == Seq((0L, "m1"), (1L, "m2"), (2L, "m3")),
      s"offset replay duplicated or dropped rows: $all")
  }

  test("a large admitted batch range-splits into multiple input partitions") {
    val stream = new QueueMicroBatchStream("qsplit", maxPerBatch = 100,
      targetPerPartition = 3)
    val parts = stream.planInputPartitions(QueueOffset(0), QueueOffset(10))
    assert(parts.length == 4)
    val ranges = parts.map(_.asInstanceOf[QueueInputPartition])
      .map(p => (p.from, p.until)).toSeq
    assert(ranges == Seq((0L, 3L), (3L, 6L), (6L, 9L), (9L, 10L)))
  }

  test("queue source composes with downstream streaming transforms") {
    MessageQueues.clear("qc")
    MessageQueues.push("qc", "a", "b", "a")
    val df = spark.readStream.format("graft.streaming.QueueSourceProvider")
      .option("queue", "qc").load()
    val agg = df.groupBy("body").count()
    val got = Streams.runToMemoryComplete(spark, agg)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }
}
