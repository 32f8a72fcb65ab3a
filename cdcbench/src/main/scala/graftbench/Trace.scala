package graftbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Order statistics over latency samples. */
object Stat {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest sample. Returns (value, percentile, sample count); with fewer
    * than 11 samples it falls back to the maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val i = if (s.size >= 11) s.size - 11 else s.size - 1
    (s(i), if (s.size > 1) 100.0 * i / (s.size - 1) else 100.0, s.size)
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of [start, end) intervals, clipped to [lo, hi). */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.iterator.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Durations of the benchmark's own calls into the engine, by span name. */
final class Spans {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, sec: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sec
  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally add(name, (System.nanoTime() - t0) / 1e9)
  }
  def apply(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
  def clear(): Unit = m.clear()
}

/** Structured Streaming's per-trigger progress channel. Progress of every
  * trigger that applied input is queued for the benchmark's closed loop,
  * which waits on it to learn that an epoch has finished. */
final class Progress extends StreamingQueryListener {
  private val q = new LinkedBlockingQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) q.put(e.progress)

  /** The next epoch's progress, or an error after `timeoutSec`. */
  def next(timeoutSec: Double): StreamingQueryProgress =
    Option(q.poll((timeoutSec * 1000).toLong, TimeUnit.MILLISECONDS))
      .getOrElse(sys.error(s"no streaming progress within $timeoutSec s"))

  def clear(): Unit = q.clear()
}

/** Per-stage accounting in one category: task, CPU and GC time, bytes. */
final class Acc {
  var taskS, cpuS, gcS = 0.0
  var inB, shufB, outB, tasks = 0L
  def add(m: org.apache.spark.executor.TaskMetrics, n: Int): Unit = {
    taskS += m.executorRunTime / 1e3; cpuS += m.executorCpuTime / 1e9
    gcS += m.jvmGCTime / 1e3; inB += m.inputMetrics.bytesRead
    shufB += m.shuffleWriteMetrics.bytesWritten; outB += m.outputMetrics.bytesWritten
    tasks += n
  }
}

/** Spark listener for the traced run. Each job is put in a category: the
  * benchmark's own operation (`graftbench.op` local property, set around
  * calls on the benchmark thread) or, for jobs the streaming engine runs,
  * the engine frame that submitted it — `fold` (LakeTable.foldDeltas),
  * `stats` (CdcPipeline.batchStats), `merge` (any other graft.lake frame)
  * or `cdc`. Stage task metrics and job wall intervals accumulate per
  * category, only while `on` is set. */
final class JobLog(scratchDir: java.io.File) extends SparkListener {
  @volatile var on = false
  final case class Job(cat: String, start: Long, var end: Long)
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOf = new ConcurrentHashMap[Int, Job]()
  val byCat = new ConcurrentHashMap[String, Acc]()
  @volatile var scratchPeakB = 0L

  /** The streaming engine's jobs carry the query's start site as their call
    * site, so the engine frame is read from the stack of the thread that
    * submitted the job: the stream execution thread, blocked in the action
    * while its job runs. */
  private var streamThread: Thread = null
  private def streamFrames(): Seq[String] = {
    if (streamThread == null || !streamThread.isAlive)
      streamThread = Thread.getAllStackTraces.keySet.asScala
        .find(t => t.isAlive && t.getName.startsWith("stream execution thread")).orNull
    if (streamThread == null) Nil
    else streamThread.getStackTrace.toSeq.map(f => s"${f.getClassName}.${f.getMethodName}")
      .filter(_.startsWith("graft."))
  }

  private def category(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(JobLog.OpKey))).getOrElse {
      val frames = streamFrames()
      if (frames.exists(_.contains("foldDeltas"))) "fold"
      else if (frames.exists(_.contains("batchStats"))) "stats"
      else if (frames.exists(_.startsWith("graft.lake."))) "merge"
      else "cdc"
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val j = Job(category(e.properties), e.time, Long.MaxValue)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageOf.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageOf.get(si.stageId)).foreach { j =>
      byCat.computeIfAbsent(j.cat, _ => new Acc).add(si.taskMetrics, si.numTasks)
      scratchPeakB = math.max(scratchPeakB, JobLog.du(scratchDir))
    }
  }

  def finished: Seq[Job] = jobs.values.asScala.filter(_.end != Long.MaxValue).toSeq
  def acc(cat: String): Acc = Option(byCat.get(cat)).getOrElse(new Acc)
  def total: Acc = {
    val t = new Acc
    byCat.values.asScala.foreach { a =>
      t.taskS += a.taskS; t.cpuS += a.cpuS; t.gcS += a.gcS; t.inB += a.inB
      t.shufB += a.shufB; t.outB += a.outB; t.tasks += a.tasks
    }
    t
  }
  /** Union of the wall intervals of finished jobs matching `p`, in ms. */
  def busyMs(p: Job => Boolean, lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long =
    Stat.covered(finished.filter(p).map(j => (j.start, j.end)), lo, hi)
}

object JobLog {
  val OpKey = "graftbench.op"

  /** Bytes under a directory (0 when it does not exist). */
  def du(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.iterator().asScala.map { p =>
        try { if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p) else 0L }
        catch { case _: java.io.IOException => 0L }
      }.sum
      catch { case _: java.io.UncheckedIOException => 0L }
      finally s.close()
    }
}
