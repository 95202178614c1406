package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamOps

/** The stream workload: `events` cut by `ts` into files that a generator
  * thread drops into a file-stream source at a fixed rate (open loop).
  * Four streaming twins take turns, each consuming its own slice of the
  * files. A file's lag is the end of the micro-batch that committed it
  * minus the file's scheduled arrival, so backlog counts.
  */
final class StreamRun(a: Args) {
  import Main._
  import StreamRun._

  private val files: Seq[Path] = Files.list(Paths.get(a("stream-files"))).iterator.asScala
    .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
  private val rate = a("rate").toDouble
  private val spans = new Spans
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L

  private def twins(spark: SparkSession): Seq[Twin] = {
    val users = StreamOps.userDim(spark, a.data)
    Seq(
      Twin("window_agg", "complete", StreamOps.windowAgg, StreamOps.windowAgg),
      Twin("click_purchase_join", "append", StreamOps.clickPurchaseJoin,
        StreamOps.clickPurchaseJoin),
      // batch Spark rejects the within-watermark variant; its batch
      // meaning is plain dropDuplicates on the same key
      Twin("dedup_events", "append", StreamOps.dedupEvents,
        _.dropDuplicates(Seq("event_id"))),
      Twin("enrich_events", "append", ev => StreamOps.enrichEvents(ev, users),
        ev => StreamOps.enrichEvents(ev, users)))
  }

  private def slice(i: Int, n: Int): Seq[Path] = {
    val per = files.size / n
    files.slice(i * per, (i + 1) * per)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  /** Run one twin over `in`: start the query on an empty source, feed the
    * files on schedule, wait until all are committed, stop.
    */
  private def feed(spark: SparkSession, twin: Twin, in: Seq[Path], tag: String,
      filesPerS: Double, check: Boolean, listener: Option[TraceListener]): Fed = {
    val base = Paths.get(a.work, "stream", tag)
    deleteTree(base)
    val src = Files.createDirectories(base.resolve("src"))
    val incoming = Files.createDirectories(base.resolve("incoming"))
    val chk = base.resolve("chk")
    val name = "perfbench_" + tag.replaceAll("[^A-Za-z0-9]", "_")
    val started = Clock.ms()
    val q: StreamingQuery = twin.body(StreamOps.readEventStream(spark, src.toString))
      .writeStream.outputMode(twin.mode).format("memory").queryName(name)
      .option("checkpointLocation", chk.toString).start()
    listener.foreach(_.streamTags.put(q.id.toString, tag))
    val idleBy = System.nanoTime() + 10000000000L
    while (System.nanoTime() < idleBy &&
        !(q.status.message.startsWith("Waiting") && !q.status.isTriggerActive))
      Thread.sleep(2)
    val t0 = Clock.ms() + 20.0
    val due = in.indices.map(i => if (filesPerS.isInfinite) t0 else t0 + i * 1000.0 / filesPerS)
    val genLate = new Array[Double](in.size)
    val gen = new Thread(() => in.zipWithIndex.foreach { case (f, i) =>
      val wait = due(i) - Clock.ms()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
      val tmp = incoming.resolve(f.getFileName)
      Files.copy(f, tmp)
      Files.move(tmp, src.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      genLate(i) = Clock.ms() - due(i)
    })
    gen.setDaemon(true)
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    val done = Clock.ms()
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val batchEnd = progress.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration).toDouble).toMap
    val entry = """"path":"[^"]*/([^"/]+)".*?"batchId":(\d+)""".r
    val committed = Files.list(chk.resolve("sources").resolve("0")).iterator.asScala
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala).flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val lags = in.zip(due).flatMap { case (f, d) =>
      committed.get(f.getFileName.toString).flatMap(batchEnd.get) match {
        case Some(e) => Some(e - d)
        case None =>
          failures += s"$tag: ${f.getFileName} was not committed"
          None
      }
    }
    if (check) try {
      val got = Check.rowsOf(spark.table(name).collect())
      val batch = twin.batchBody(graft.Tables.normalizeEventTs(
        spark.read.parquet(in.map(_.toString): _*)))
      val want = Check.rowsOf(batch.collect())
      if (got.isEmpty || got != want)
        failures += s"$tag: stream output (${got.size} rows) != batch twin (${want.size} rows)"
    } catch { case e: Throwable =>
      failures += s"$tag (check): ${e.getClass.getName}: ${e.getMessage}"
    }
    spark.catalog.dropTempView(name)
    deleteTree(base)
    Fed(tag, twin.name, started, t0, done, Clock.ms(), lags, genLate.toSeq, progress)
  }

  private def wallOf(f: Fed): Double =
    (f.progress.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.batchDuration).maxOption.getOrElse(f.done.toLong) - f.t0) / 1e3

  def run(): Outcome = {
    val setUps = new SetUps(a, spans, s => twins(s).zipWithIndex.foreach { case (t, i) =>
      feed(s, t, slice(i, 4).take(1), s"warm_${t.name}", Double.PositiveInfinity,
        check = false, None)
    })
    val spark = setUps.next()
    val sc = spark.sparkContext
    val tw = twins(spark)
    val order = new scala.util.Random(a.seed).shuffle(tw.indices.toList)
    val listener = new TraceListener
    val progressListener = new ProgressListener
    val untraced = mutable.ArrayBuffer[(Seq[Fed], Double)]()
    val traced = mutable.ArrayBuffer[(Map[String, Double], Double)]()
    val perKey = mutable.ArrayBuffer[String]()
    val problems = mutable.ArrayBuffer[String]()
    val checked = mutable.Set[String]()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    def more = System.nanoTime() < deadline
    var p = 0
    while (more || untraced.isEmpty || (a.trace && traced.isEmpty)) {
      val doTrace = a.trace && (p % 2 == 1 || (!more && traced.isEmpty))
      JvmSnap.resetHeapPeak()
      val s0 = JvmSnap.now()
      if (doTrace) {
        sc.addSparkListener(listener)
        spark.streams.addListener(progressListener)
      }
      val fed = order.map { i =>
        val t = tw(i)
        attempted += slice(i, 4).size
        val check = checked.add(t.name)
        feed(spark, t, slice(i, 4), s"p$p-${t.name}", rate, check,
          if (doTrace) Some(listener) else None)
      }
      val d = JvmSnap.now().since(s0)
      val cpuS = d.cpuNs / 1e9
      if (doTrace) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
        spark.streams.removeListener(progressListener)
        val keys = fed.map(f => KeyTrace(f.tag, f.twin, f.started, f.t0, f.done, f.end,
          0, 0, 0, 0, 0, 0, 0, 0))
        val (m, rows, probs) = layerMetrics(keys, listener, a.cores, spans, d,
          JvmSnap.heapPeakMb)
        val progress = progressListener.progress.asScala.toSeq.filter(_.numInputRows > 0)
        progressListener.progress.clear()
        progress.foreach { pr =>
          val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
          spans.add(Span("microbatch", pr.name, start, start + pr.batchDuration, None,
            Map("rows" -> pr.numInputRows.toDouble)))
        }
        traced += ((m ++ streamLayer(fed, progress)) -> fed.map(wallOf).sum)
        perKey ++= rows
        problems ++= probs
      } else untraced += (fed -> cpuS)
      p += 1
    }

    val last = setUps.finish()
    val passes = settled(untraced.toSeq)
    val lags = passes.flatMap(_._1.flatMap(_.lags))
    val walls = tw.map(t => Stats.median(passes.map(_._1.filter(_.twin == t.name)
      .map(wallOf).sum)))
    val e2e = Map(
      "wall_s" -> (Stats.median(passes.map(_._1.map(wallOf).sum)) -> "s"),
      "query_geomean_s" -> (Stats.geomean(walls) -> "s"),
      "cpu_s" -> (Stats.median(passes.map(_._2)) -> "s"),
      "lag_p50_ms" -> (Stats.percentile(lags, 0.5) -> "ms"),
      "lag_p90_ms" -> (Stats.percentile(lags, 0.9) -> "ms")) ++
      setupMetrics(setUps.cycles)

    val metrics = if (!a.trace) e2e else {
      val kernels = KernelBench.run(last, a.data, a.seed)
      failures ++= problems.map("reconciliation: " + _)
      val t = settled(traced.toSeq)
      val overhead = Stats.median(t.map(_._2)) / e2e("wall_s")._1 - 1.0
      val layers = medianLayers(t.map(_._1), Map("trace.overhead_frac" -> overhead)) ++
        engineLayer(setUps.cycles) ++ kernels.map { case (k, v) => k -> (v -> "ns") }
      writeTrace(a, spans, perKey.toSeq, layers ++ e2e, problems.toSeq)
      layers
    }
    Outcome(metrics, math.max(attempted, 1L), failures.toSeq, Map.empty)
  }

  /** Micro-batch and state-store sums of one traced pass. */
  private def streamLayer(fed: Seq[Fed], progress: Seq[StreamingQueryProgress])
      : Map[String, Double] = {
    def dur(k: String) = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val last = fed.flatMap(_.progress.lastOption)
    Map(
      "stream.batches" -> progress.size.toDouble,
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.offsets_ms" -> (dur("latestOffset") + dur("getBatch")),
      "stream.state_rows" -> last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
      "stream.state_mb" -> last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum / 1048576.0,
      "stream.state_commit_ms" -> progress.flatMap(_.stateOperators.map(_.commitTimeMs)).sum
        .toDouble,
      "stream.late_rows" -> progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark))
        .sum.toDouble,
      "stream.generator_late_ms" -> {
        val g = fed.flatMap(_.genLate)
        if (g.isEmpty) 0.0 else g.sum / g.size
      })
  }
}

object StreamRun {
  /** A streaming twin: its stream body and the batch body whose result
    * the drained sink must equal.
    */
  final case class Twin(name: String, mode: String, body: DataFrame => DataFrame,
      batchBody: DataFrame => DataFrame)

  /** One twin's feed: query start, first scheduled arrival, drained,
    * cleaned up (epoch ms), per-file lags and generator lateness.
    */
  final case class Fed(tag: String, twin: String, started: Double, t0: Double,
      done: Double, end: Double, lags: Seq[Double], genLate: Seq[Double],
      progress: Seq[StreamingQueryProgress])
}
