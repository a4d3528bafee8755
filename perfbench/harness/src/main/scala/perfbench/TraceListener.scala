package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records the traced run's spans from Spark's public listener events:
  * jobs (with the micro-batch id they belong to), completed stages with
  * their task metrics and SQL accumulators, and every streaming progress
  * report. Attached with `spark.extraListeners`; the records stay in
  * memory and are written as JSON lines to `perfbench.trace.out` when the
  * application ends (or the JVM exits, whichever comes first), followed
  * by one line of JVM totals (GC time, peak heap).
  */
class TraceListener extends SparkListener {

  private val out = sys.props.getOrElse("perfbench.trace.out",
    throw new IllegalStateException("system property perfbench.trace.out is not set"))
  private val lines = mutable.ArrayBuffer.empty[String]
  private val jobStarts = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val written = new AtomicBoolean(false)

  sys.addShutdownHook(flush())

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  private def emit(line: String): Unit = synchronized { lines += line }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .getOrElse("")
    jobStarts(e.jobId) = (e.time, batch, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, batch, stages) = synchronized(jobStarts.remove(e.jobId))
      .getOrElse((e.time, "", Nil))
    emit(s"""{"kind":"job","id":${e.jobId},"batch":${q(batch)},"start":$start,""" +
      s""""end":${e.time},"stages":[${stages.mkString(",")}]}""")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val accs = s.accumulables.values.flatMap { a =>
      (a.name, a.value) match {
        case (Some(n), Some(v: Long)) => Some(s"${q(n)}:$v")
        case (Some(n), Some(v: java.lang.Long)) => Some(s"${q(n)}:$v")
        case _ => None
      }
    }
    val metrics =
      if (m == null) ""
      else s""","run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
        s""""gc_ms":${m.jvmGCTime},"shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
        s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled}"""
    emit(s"""{"kind":"stage","id":${s.stageId},"attempt":${s.attemptNumber()},""" +
      s""""name":${q(s.name)},"tasks":${s.numTasks},""" +
      s""""start":${s.submissionTime.getOrElse(0L)},"end":${s.completionTime.getOrElse(0L)}""" +
      metrics + s""","acc":{${accs.mkString(",")}}}""")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      emit(s"""{"kind":"progress","at":${System.currentTimeMillis()},"progress":${p.progress.json}}""")
    case _ => ()
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = flush()

  private def flush(): Unit = if (written.compareAndSet(false, true)) {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val w = new PrintWriter(new File(out), "UTF-8")
    try {
      synchronized(lines.foreach(w.println))
      w.println(s"""{"kind":"jvm","gc_ms":$gcMs,"heap_peak":$heapPeak}""")
    } finally w.close()
  }
}
