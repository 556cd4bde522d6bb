package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work charged to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }

  def execCpuS: Double = cpuNs / 1e9
  def execRunS: Double = runMs / 1e3

  /** The counters a plan fixes; host noise cannot move them. Shuffle
    * bytes and records are not among them: a reduce task fetches map
    * outputs in no fixed order, so the rows of a partial aggregate that
    * falls back to sorting (E1's exact medians) vary in number and size.
    */
  def planFixed: (Long, Long, Long) = (jobs, stages, tasks)
}

/** One traced interval: what ran, when, and under which parent. Every span
  * of one benchmark run shares `runId`.
  */
final case class Span(runId: String, name: String, parent: String,
    startNs: Long, endNs: Long)

/** Charges jobs, stages and task metrics to the span that was open when
  * they ran (its name is also the job group), and follows the bytes of
  * cached RDD blocks. Spans stay in memory until [[writeSpans]].
  *
  * Spans run one after another on one thread and the listener bus is
  * drained when each closes, so a job without a job group (one started
  * from another thread) is still charged to the open span.
  */
final class Trace(spark: SparkSession, val runId: String)
    extends SparkListener {

  private val byGroup = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val blockBytes = mutable.Map[String, Long]()
  private var cachedNow = 0L
  private var open = "(none)"
  private val spans = mutable.ArrayBuffer[Span]()
  var cachedPeak = 0L

  spark.sparkContext.addSparkListener(this)

  private def counters(g: String): Counters =
    byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(byGroup.contains).getOrElse(open)
    counters(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      counters(stageGroup.getOrElse(e.stageInfo.stageId, open)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageGroup.getOrElse(e.stageId, open))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val now = info.memSize + info.diskSize
        cachedNow += now - blockBytes.getOrElse(key, 0L)
        if (now == 0) blockBytes.remove(key) else blockBytes(key) = now
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }

  /** Runs `f` as span `name`; returns its result. */
  def span[A](name: String, parent: String)(f: => A): A = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    synchronized { counters(name); open = name }
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      synchronized {
        open = "(none)"
        spans += Span(runId, name, parent, t0, t1)
      }
    }
  }

  /** Counters charged to `name` so far (a copy). */
  def of(name: String): Counters = synchronized {
    val c = new Counters
    byGroup.get(name).foreach(c.add)
    c
  }

  /** Forgets the counters (not the spans) before another traced pass. */
  def resetCounters(): Unit = synchronized {
    byGroup.clear(); stageGroup.clear()
    cachedPeak = cachedNow
  }

  /** Writes every recorded span, one JSON object a line. */
  def writeSpans(path: String): Unit = {
    val lines = synchronized(spans.toSeq).map { s =>
      s"""{"run_id":"${s.runId}","name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}
