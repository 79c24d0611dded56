package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: times are milliseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** In-memory span recorder, written to a file when the run ends. Disabled
  * tracers run the body and record nothing. Spans opened on the calling
  * thread nest through `current`; listener callbacks record spans with an
  * explicit parent.
  */
final class Tracer(val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  @volatile var current: Int = 0

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def sinceStartMs(): Double = (System.nanoTime() - originNs) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  def record(s: Span): Unit = if (enabled) synchronized { spans += s }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      val start = sinceStartMs()
      current = id
      try body
      finally {
        current = parent
        record(Span(id, parent, name, start, sinceStartMs()))
      }
    }

  def write(p: Path): Unit = {
    val rows = synchronized(spans.sortBy(_.startMs).toVector).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs)))
    }
    Harness.writeString(p, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Engine-side counters for the `spark` layer, gathered by a listener the
  * benchmark registers on the context. Jobs are attributed to the query
  * named in the `perfbench.query` local property and become spans under
  * the span named in `perfbench.span`.
  */
final class SparkStats(tracer: Tracer) extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var schedDelayS = 0.0
  var taskBusyS = 0.0
  var shuffleWriteMb = 0.0
  var shuffleReadMb = 0.0
  var spillMb = 0.0
  val jobsByQuery = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobSpan = mutable.Map.empty[Int, (Int, Int, Double)]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val Mb = 1024.0 * 1024.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("perfbench.query"))).foreach(q => jobsByQuery(q) += 1)
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(0)
    val id = tracer.newId()
    jobSpan(e.jobId) = (id, parent, tracer.epochToMs(e.time))
    e.stageIds.foreach(s => stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      tracer.record(Span(id, parent, s"spark.job.${e.jobId}", start, tracer.epochToMs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      tracer.record(Span(tracer.newId(), stageJob.getOrElse(i.stageId, 0),
        s"spark.stage.${i.stageId}", tracer.epochToMs(s), tracer.epochToMs(c)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    taskBusyS += info.duration / 1000.0
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      info.duration
    val m = e.taskMetrics
    if (m != null) {
      runS += m.executorRunTime / 1000.0
      cpuS += m.executorCpuTime / 1e9
      gcS += m.jvmGCTime / 1000.0
      schedDelayS += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1000.0
      shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / Mb
      shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / Mb
      spillMb += m.diskBytesSpilled / Mb
    }
  }

  /** Max over median task time in the stage with the most tasks. */
  def taskSkew: Double = synchronized {
    if (stageTaskMs.isEmpty) 1.0
    else {
      val widest = stageTaskMs.values.maxBy(_.length).map(_.toDouble).toSeq
      val med = Harness.median(widest)
      if (med <= 0) 1.0 else widest.max / med
    }
  }
}

/** Micro-batch counts for the `streaming` layer. */
final class StreamStats extends StreamingQueryListener {
  @volatile var batches = 0L
  @volatile var rows = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    rows += e.progress.numInputRows
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Listeners attached to one session for the length of a traced pass. */
final class Probe(s: SparkSession, tracer: Tracer) {
  val spark = new SparkStats(tracer)
  val stream = new StreamStats
  s.sparkContext.addSparkListener(spark)
  s.streams.addListener(stream)

  /** Wait for queued listener events, then detach. */
  def close(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(s.sparkContext)
    s.streams.removeListener(stream)
    s.sparkContext.removeSparkListener(spark)
  }
}

object Probe {
  /** Tag the jobs the calling thread submits next. */
  def tag(sc: SparkContext, query: String, span: Int): Unit = {
    sc.setLocalProperty("perfbench.query", query)
    sc.setLocalProperty("perfbench.span", span.toString)
  }
}
