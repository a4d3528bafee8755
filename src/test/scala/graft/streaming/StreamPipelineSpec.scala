package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.{SparkSpec, SparkSuite}
import graft.kernel.KplProtobuf

case class Msg(id: String, ts: Timestamp, attempts: Int, body: Array[Byte])

class StreamPipelineSpec extends SparkSuite {

  private def msg(i: Int, body: String, t: Long = 1000000000L): Msg =
    Msg(f"$i%016d", new Timestamp(t + i), 1, body.getBytes("UTF-8"))

  /** The user-record bodies carried by one Kinesis entry's payload. */
  private def userBodies(data: Array[Byte]): Vector[String] =
    (if (KplProtobuf.isAggregated(data)) KplProtobuf.deframe(data).records.map(_.data)
     else Vector(data)).map(new String(_, "UTF-8")).toVector

  test("memory-stream pipeline dedups, packs, and delivers KPL entries") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val input = MemoryStream[Msg]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString

    val distinct = (0 until 100).map(i => msg(i, s"payload-$i-${"x" * 50}"))
    val dupes = (0 until 50).map(i => msg(1000 + i, s"payload-$i-${"x" * 50}")) // same bodies
    input.addData(distinct ++ dupes)

    val q = StreamPipeline.build(
      input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "t", checkpoint = ckpt))
      .start()
    try { q.processAllAvailable() } finally { q.stop() }

    val delivered = InMemoryTransport.drain()
    val userRecords = delivered.flatMap { case (_, e) =>
      if (KplProtobuf.isAggregated(e.data)) KplProtobuf.deframe(e.data).records.map(_.data)
      else Vector(e.data)
    }
    assert(userRecords.length === 100) // 50 duplicate bodies removed
    assert(userRecords.map(b => new String(b, "UTF-8")).toSet ===
      distinct.map(m => new String(m.body, "UTF-8")).toSet)
  }

  test("Trigger.AvailableNow drains the backlog then terminates on its own") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val input = MemoryStream[Msg]
    input.addData((0 until 40).map(i => msg(i, s"backlog-$i")))
    val q = StreamPipeline.build(input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "drain",
        checkpoint = java.nio.file.Files.createTempDirectory("drain-ckpt").toString,
        availableNow = true)).start()
    try {
      // the backfill mode must finish WITHOUT stop(): the trigger drains
      // what was available at start and terminates the query itself
      assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
      val bodies = InMemoryTransport.drain().flatMap { case (_, e) =>
        if (KplProtobuf.isAggregated(e.data)) KplProtobuf.deframe(e.data).records.map(_.data)
        else Vector(e.data)
      }.map(new String(_)).toSet
      assert(bodies === (0 until 40).map(i => s"backlog-$i").toSet,
        "backfill drain lost or duplicated bodies")
    } finally q.stop()
  }

  test("oversize bodies are dropped before delivery") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val input = MemoryStream[Msg]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    input.addData(Seq(
      msg(1, "small"),
      Msg("big0000000000000", new Timestamp(1000000002L), 1, new Array[Byte](1024 * 1024 + 1))))
    val q = StreamPipeline.build(
      input.toDF(), new InMemoryTransport,
      StreamPipeline.Options(streamName = "t2", checkpoint = ckpt)).start()
    try { q.processAllAvailable() } finally { q.stop() }
    val userRecords = InMemoryTransport.drain().flatMap { case (_, e) =>
      if (KplProtobuf.isAggregated(e.data)) KplProtobuf.deframe(e.data).records.map(_.data)
      else Vector(e.data)
    }
    assert(userRecords.length === 1)
    assert(new String(userRecords.head, "UTF-8") === "small")
  }

  test("BatchWriter request bounds: 600 records split at 500") {
    val w = new BatchWriter()
    (0 until 600).foreach(i => w.add(s"rec-$i".getBytes, "k"))
    val reqs = w.flush()
    assert(reqs.length === 2)
    def userCount(r: Seq[graft.kernel.KinesisEntry]) = r.map(e => userBodies(e.data).length).sum
    assert(userCount(reqs(0)) === 500)
    assert(userCount(reqs(1)) === 100)
  }

  test("BatchWriter byte bound: requests stay under 4.9 MB") {
    val w = new BatchWriter()
    val body = new Array[Byte](500000) // 0.5 MB, 12 per request fit under 4.9MB? 9 fit
    (0 until 20).foreach(_ => w.add(body, "k"))
    val reqs = w.flush()
    assert(reqs.length >= 2)
    reqs.foreach { r =>
      val bytes = r.map(_.data.length).sum
      assert(bytes <= BatchWriter.MaxBatchBytes + 25000) // entry overhead margin
    }
  }

  test("BatchWriter drops oversize and counts them") {
    val w = new BatchWriter()
    w.add(new Array[Byte](BatchWriter.MaxMessageSize + 1), "k")
    w.add("ok".getBytes, "k")
    assert(w.droppedCount === 1)
    val reqs = w.flush()
    assert(reqs.map(_.size).sum === 1)
  }

  test("RetryingTransport: flaky entries succeed on retry with backoff") {
    InMemoryTransport.clear()
    var sleeps = Vector.empty[Long]
    // request 0: entries 1 and 3 fail; retry request (as request 1): all pass
    val flaky = new FlakyTransport(new InMemoryTransport, (req, i) => req == 0 && (i == 1 || i == 3))
    val rt = new RetryingTransport(flaky, maxRetries = 3, sleeper = ms => sleeps :+= ms)
    val entries = (0 until 5).map(i => graft.kernel.KinesisEntry(s"e$i".getBytes, s"k$i")).toVector
    val oks = rt.putRecords("s", entries)
    assert(oks.forall(identity))
    assert(sleeps.length === 1) // one backoff round
    assert(InMemoryTransport.drain().length === 5)
  }

  test("RetryingTransport: permanently failing entry reported false") {
    val flaky = new FlakyTransport(new InMemoryTransport, (_, i) => i == 0)
    val rt = new RetryingTransport(flaky, maxRetries = 2, sleeper = _ => ())
    val entries = (0 until 3).map(i => graft.kernel.KinesisEntry(s"e$i".getBytes, s"k$i")).toVector
    val oks = rt.putRecords("s", entries)
    assert(oks === Vector(false, true, true))
  }

  test("file transport: on-disk frames decode back to the input bodies") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("kfile").toString
    val input = MemoryStream[Msg]
    // enough bytes per partition for several 25 kB aggregates per request,
    // plus one body over 25 kB that ships as a standalone entry
    val bodies = (0 until 200).map(i => s"file-$i-${"y" * (i % 7 * 300)}") :+ "z" * 30000
    input.addData(bodies.zipWithIndex.map { case (b, i) => msg(i, b) })
    val q = StreamPipeline.build(input.toDF(), new FileTransport(dir),
      StreamPipeline.Options(streamName = "fstream",
        checkpoint = java.nio.file.Files.createTempDirectory("kfile-ckpt").toString)).start()
    try q.processAllAvailable() finally q.stop()

    val files = new java.io.File(dir).listFiles()
    assert(files != null && files.nonEmpty)
    assert(files.forall(_.getName.startsWith("fstream-p")))
    // FileTransport frame: [int key length][int data length][key][data]
    val decoded = files.toVector.flatMap { f =>
      val buf = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(f.toPath))
      val out = Vector.newBuilder[String]
      while (buf.hasRemaining) {
        val key = new Array[Byte](buf.getInt())
        val data = new Array[Byte](buf.getInt())
        buf.get(key); buf.get(data)
        assert(key.nonEmpty, "every entry carries a partition key")
        out ++= userBodies(data)
      }
      out.result()
    }
    assert(decoded.sorted === bodies.sorted)
  }

  test("permanent PutRecords failure fails the query; restart delivers all") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    InMemoryTransport.clear()
    val input = MemoryStream[Msg]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-alo-ckpt").toString
    val bodies = (0 until 60).map(i => s"alo-$i")
    input.addData(bodies.zipWithIndex.map { case (b, i) => msg(i, b) })
    def start(transport: KinesisTransport) = StreamPipeline.build(input.toDF(), transport,
      StreamPipeline.Options(streamName = "alo", checkpoint = ckpt)).start()

    val down = new RetryingTransport(
      new FlakyTransport(new InMemoryTransport, (_, _) => true), maxRetries = 2, sleeper = _ => ())
    val q1 = start(down)
    val failure = intercept[StreamingQueryException] {
      try q1.processAllAvailable() finally q1.stop()
    }
    val messages = Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toVector
    assert(messages.exists(_.contains("putRecords failed for slots 0")), messages.mkString(" | "))
    assert(InMemoryTransport.drain().isEmpty, "a permanently failing transport accepted entries")

    // the failed batch never committed, so the restart replays it
    val q2 = start(new InMemoryTransport)
    try q2.processAllAvailable() finally q2.stop()
    val sent = InMemoryTransport.drain()
    assert(sent.forall(_._1 == "alo"), "entries must go to the configured stream")
    assert(sent.flatMap { case (_, e) => userBodies(e.data) }.toSet === bodies.toSet)
  }
}
