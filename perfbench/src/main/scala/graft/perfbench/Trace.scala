package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the traced run. Times are epoch milliseconds
  * with a fractional part (driver-side spans come from `nanoTime`,
  * listener spans from Spark's millisecond event times).
  */
final case class Span(name: String, tag: String, start: Double, end: Double,
    parent: Option[Int], attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Task-metric sums for one tag (one key of one pass). */
final class TaskSums {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    deserMs += o.deserMs; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleWriteNs += o.shuffleWriteNs; shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
  }
}

final case class JobRec(tag: String, id: Int, start: Long, var end: Long)
final case class StageRec(tag: String, id: Int, job: Int, start: Long, end: Long, tasks: Int)

/** The traced run's `SparkListener`: jobs, stages and task metrics,
  * each tagged with the key that ran them. The benchmark thread sets
  * [[TraceListener.TagProp]] as a local property before each key, so the
  * property reaches every job the key submits; streaming jobs carry
  * their query id instead, which the stream run maps to its twin.
  */
final class TraceListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val sums = mutable.HashMap[String, TaskSums]()
  val streamTags = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val stageTag = mutable.HashMap[Int, String]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val openJobs = mutable.HashMap[Int, JobRec]()

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty(TraceListener.TagProp))
        .orElse(Option(p.getProperty("sql.streaming.queryId")).flatMap(q =>
          Option(streamTags.get(q))))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { tag =>
      val j = JobRec(tag, e.jobId, e.time, -1L)
      jobs += j
      openJobs(e.jobId) = j
      e.stageIds.foreach { st => stageTag(st) = tag; stageJob(st) = e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageTag.get(i.stageId).foreach { tag =>
      stages += StageRec(tag, i.stageId, stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { tag =>
      val s = sums.getOrElseUpdate(tag, new TaskSums)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def sumsOf(tag: String): TaskSums = synchronized { sums.getOrElse(tag, new TaskSums) }
  def jobsOf(tag: String): Seq[JobRec] = synchronized { jobs.filter(_.tag == tag).toSeq }
  def stagesOf(tag: String): Seq[StageRec] = synchronized { stages.filter(_.tag == tag).toSeq }
}

object TraceListener {
  val TagProp = "graft.perfbench.tag"
}

/** Streaming progress of the traced stream run, one entry per
  * micro-batch, collected through a `StreamingQueryListener`.
  */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Span bookkeeping and the self-time summary written with the trace. */
final class Spans {
  val all = mutable.ArrayBuffer[Span]()

  def add(s: Span): Int = { all += s; all.size - 1 }

  /** Self time per span name: a span's duration minus the union of its
    * children's intervals (clipped to the span).
    */
  def selfTimes: Map[String, Double] = {
    val kids = all.indices.groupBy(i => all(i).parent)
    all.indices.map { i =>
      val s = all(i)
      val covered = union(kids.getOrElse(Some(i), Seq.empty).map(all(_))
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.name -> math.max(0.0, s.dur - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def json: String = all.zipWithIndex.map { case (s, i) =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":$i,"name":${Json.str(s.name)},"tag":${Json.str(s.tag)},""" +
      s""""start_ms":${Json.num(s.start)},"dur_ms":${Json.num(s.dur)},""" +
      s""""parent":${s.parent.map(_.toString).getOrElse("null")},"attrs":{$attrs}}"""
  }.mkString("[", ",\n", "]")

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Minimal JSON rendering for the records the benchmark prints. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** `{"name": {"value": v, "unit": u}, ...}`, sorted by name. */
  def metrics(m: Map[String, (Double, String)]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      k -> s"""{"value":${num(v)},"unit":${str(u)}}""" })
}
