package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Engine, FrameMemo, SparkEntry}
import graft.plans.PlanAudit

/** Percentiles by linear interpolation between order statistics. */
object Stats {
  def percentile(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: scala.collection.Seq[Double]): Double = percentile(xs, 0.5)
  def geomean(xs: scala.collection.Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Command-line arguments of the benchmark JVM (`--name value` pairs,
  * passed by `perfbench/run.py`).
  */
final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
  val workload: String = apply("workload")
  val seed: Long = apply("seed").toLong
  val seconds: Double = apply("seconds").toDouble
  val trace: Boolean = apply("trace") == "1"
  val data: String = apply("data")
  val work: String = apply("work")
  val cores: Int = apply("cores").toInt
  val launchMs: Long = apply("launch-ms").toLong
  val mode: String = get("mode").getOrElse("run")
}

/** JVM counters sampled around a pass: CPU time per live Java thread
  * (driver, executor task threads, Spark services), GC and JIT totals.
  */
final case class JvmSnap(threadCpuNs: Map[Long, Long], gcMs: Long, jitMs: Long) {
  /** What accumulated since `t0`. CPU counts the Java threads only: the
    * JIT compiler and GC threads are not Java threads, and while the JIT
    * warms up their share swings widely from run to run; `jvm.jit_s` and
    * `jvm.gc_s` report them.
    */
  def since(t0: JvmSnap): JvmDelta = JvmDelta(
    threadCpuNs.map { case (id, ns) => ns - t0.threadCpuNs.getOrElse(id, 0L) }.sum,
    gcMs - t0.gcMs, jitMs - t0.jitMs)
}

final case class JvmDelta(cpuNs: Long, gcMs: Long, jitMs: Long)

object JvmSnap {
  private val threads = ManagementFactory.getThreadMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def now(): JvmSnap = JvmSnap(
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Driver-side clock in epoch milliseconds with sub-millisecond
  * resolution, so benchmark spans line up with Spark's event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One workload's measured run: what the JVM prints for `run.py`. */
final case class Outcome(
    metrics: Map[String, (Double, String)],
    attempted: Long,
    failures: Seq[String],
    digests: Map[String, Check.Digest])

/** The benchmark JVM. It builds the session through `Engine.build`,
  * warms up, runs timed passes over one workload for `--seconds`, checks
  * the results and prints one JSON record as its last stdout line.
  * `--trace 1` interleaves traced passes that attribute time and counts
  * to graft's layers.
  */
object Main {
  /** Batch workloads: memo chains (producer first) run in order; the
    * seed permutes the chains.
    */
  val batchWorkloads: Map[String, Seq[Seq[String]]] = Map(
    // iterative, job-heavy: ~40 jobs per key, driver and scheduler bound
    "loops" -> Seq(Seq("t33_deep_tree")),
    // CPU inside functions.Kernels and the typed aggregates: shingle-set
    // dedup, containment, and the pair_moments memo chain (PCA -> corr)
    "kernels" -> Seq(Seq("d15_dedup_prefix"), Seq("d09_dedup_containment"),
      Seq("s17_pca", "s19_corr_matrix")),
    // relational scans, joins and partial aggregates before the shuffle
    "sql" -> Seq(Seq("q01_pricing_summary"), Seq("q03_join_agg_topk"),
      Seq("q05_multiway_join"), Seq("q24_cube")))

  val SetupCycles = 3

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val out =
      if (a.workload == "stream") new StreamRun(a).run()
      else new BatchRun(a, batchWorkloads.getOrElse(a.workload,
        sys.error(s"unknown workload ${a.workload}"))).run()
    val digests = out.digests.toSeq.sortBy(_._1).map { case (k, d) =>
      k -> s"""{"schema":${Json.str(d.schema)},"rows":${d.rows},"sha":${Json.str(d.sha)}}""" }
    println(Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "attempted" -> out.attempted.toString,
      "failures" -> out.failures.map(Json.str).mkString("[", ",", "]"),
      "digests" -> Json.obj(digests),
      "metrics" -> Json.metrics(out.metrics))))
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }

  def buildSession(cores: Int): SparkSession = {
    val s = Engine.build(s"local[$cores]", cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    FrameMemo.clearAllMemos()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The set-ups of one run, each `Engine.build` plus one warm pass.
    * The first is timed from JVM launch and gives the session the timed
    * passes use. The others run after the timed window (stop the
    * session, build, warm), on a warm JVM. `setup_s` is the median of
    * the [[SetupCycles]] set-ups; each cycle records (set-up s, build s,
    * warm s).
    */
  final class SetUps(a: Args, spans: Spans, warm: SparkSession => Unit) {
    val cycles = mutable.ArrayBuffer[(Double, Double, Double)]()
    private var spark: SparkSession = _

    def next(): SparkSession = {
      val i = cycles.size
      if (spark != null) stopSession(spark)
      val t0 = Clock.ms()
      spark = buildSession(a.cores)
      val t1 = Clock.ms()
      warm(spark)
      val t2 = Clock.ms()
      val start = if (i == 0) a.launchMs.toDouble else t0
      val id = spans.add(Span("setup", s"setup$i", start, t2, None))
      spans.add(Span("engine.build", s"setup$i", t0, t1, Some(id)))
      spans.add(Span("engine.warm", s"setup$i", t1, t2, Some(id)))
      cycles += (((t2 - start) / 1e3, (t1 - t0) / 1e3, (t2 - t1) / 1e3))
      spark
    }

    def finish(): SparkSession = {
      while (cycles.size < SetupCycles) next()
      spark
    }
  }

  /** The timed passes that count: the second half of the window's
    * passes, after the JIT has settled on the workload.
    */
  def settled[T](passes: Seq[T]): Seq[T] = passes.drop(passes.size / 2)

  def setupMetrics(cycles: collection.Seq[(Double, Double, Double)])
      : Map[String, (Double, String)] =
    Map("setup_s" -> (Stats.median(cycles.map(_._1)) -> "s"))

  def engineLayer(cycles: collection.Seq[(Double, Double, Double)])
      : Map[String, (Double, String)] =
    Map("engine.build_s" -> (Stats.median(cycles.map(_._2)) -> "s"),
      "engine.warm_s" -> (Stats.median(cycles.map(_._3)) -> "s"))

  def writeTrace(a: Args, spans: Spans, perKey: Seq[String],
      metrics: Map[String, (Double, String)], checks: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(a.work, "out")
    java.nio.file.Files.createDirectories(dir)
    val prov = Seq("cores" -> a.cores.toString, "data" -> Json.str(a.data),
      "seed" -> a.seed.toString, "commit" -> Json.str(a.get("commit").getOrElse("unknown")),
      "source_digest" -> Json.str(a.get("source-digest").getOrElse("unknown")),
      "workload" -> Json.str(a.workload))
    val body = Json.obj(Seq(
      "provenance" -> Json.obj(prov),
      "metrics" -> Json.metrics(metrics),
      "reconciliation" -> checks.map(Json.str).mkString("[", ",", "]"),
      "self_ms" -> Json.obj(spans.selfTimes.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }),
      "per_key" -> perKey.mkString("[", ",\n", "]"),
      "spans" -> spans.json))
    java.nio.file.Files.writeString(
      dir.resolve(s"trace_${a.workload}_seed${a.seed}.json"), body + "\n")
  }

  /** Per-layer sums of one traced pass, from the listener and the
    * driver-side key records.
    */
  final case class KeyTrace(tag: String, key: String, start: Double, built: Double,
      executed: Double, end: Double, analysisS: Double, optimizationS: Double,
      planningS: Double, preaggIn: Long, preaggOut: Long, scanBytes: Long, ckptRdds: Int,
      heldMb: Double)

  def layerMetrics(keys: Seq[KeyTrace], listener: TraceListener, cores: Int,
      spans: Spans, pass: JvmDelta, heapPeakMb: Double)
      : (Map[String, Double], Seq[String], Seq[String]) = {
    val rows = mutable.ArrayBuffer[String]()
    val problems = mutable.ArrayBuffer[String]()
    var buildS, execS, gapS, wallS = 0.0
    val sums = new TaskSums
    var jobs, stages = 0L
    keys.foreach { k =>
      val s = listener.sumsOf(k.tag)
      val js = listener.jobsOf(k.tag)
      val ss = listener.stagesOf(k.tag)
      val keyId = spans.add(Span("key", k.tag, k.start, k.end, None))
      val bId = spans.add(Span("key.build", k.tag, k.start, k.built, Some(keyId)))
      val eId = spans.add(Span("key.execute", k.tag, k.built, k.executed, Some(keyId)))
      spans.add(Span("key.cleanup", k.tag, k.executed, k.end, Some(keyId)))
      val jobIds = js.map { j =>
        val end = if (j.end < 0) k.end else j.end.toDouble
        j.id -> spans.add(Span("job", k.tag, j.start.toDouble, end,
          Some(if (j.start < k.built) bId else eId)))
      }.toMap
      ss.foreach(st => spans.add(Span("stage", k.tag, st.start.toDouble, st.end.toDouble,
        jobIds.get(st.job).orElse(Some(eId)), Map("tasks" -> st.tasks.toDouble))))
      val work = (k.executed - k.start) / 1e3
      val busy = spans.union(js.map(j =>
        (math.max(j.start.toDouble, k.start),
          math.min(if (j.end < 0) k.executed else j.end.toDouble, k.executed)))) / 1e3
      val gap = math.max(0.0, work - busy)
      val keyWall = (k.end - k.start) / 1e3
      // reconciliation: executor CPU fits the slots; children cover the key
      if (s.cpuNs / 1e9 > keyWall * cores)
        problems += f"${k.tag}: exec.cpu_s ${s.cpuNs / 1e9}%.3f > wall $keyWall%.3f x $cores cores"
      val covered = spans.union(Seq((k.start, k.built), (k.built, k.executed), (k.executed, k.end)))
      if (covered < (k.end - k.start) - 1e-3)
        problems += f"${k.tag}: key.build+execute+cleanup cover $covered%.3f of ${k.end - k.start}%.3f ms"
      buildS += (k.built - k.start) / 1e3
      execS += (k.executed - k.built) / 1e3
      gapS += gap
      wallS += work
      jobs += js.size
      stages += ss.size
      sums.add(s)
      rows += Json.obj(Seq(
        "tag" -> Json.str(k.tag), "key" -> Json.str(k.key),
        "wall_s" -> Json.num(keyWall), "build_s" -> Json.num((k.built - k.start) / 1e3),
        "execute_s" -> Json.num((k.executed - k.built) / 1e3),
        "cleanup_s" -> Json.num((k.end - k.executed) / 1e3),
        "jobs" -> js.size.toString, "stages" -> ss.size.toString, "tasks" -> s.tasks.toString,
        "driver_gap_s" -> Json.num(gap), "exec_run_s" -> Json.num(s.runMs / 1e3),
        "exec_cpu_s" -> Json.num(s.cpuNs / 1e9), "exec_gc_s" -> Json.num(s.gcMs / 1e3),
        "scan_bytes" -> k.scanBytes.toString,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
        "shuffle_read_bytes" -> s.shuffleReadBytes.toString,
        "spill_bytes" -> s.spillBytes.toString,
        "analysis_s" -> Json.num(k.analysisS), "optimization_s" -> Json.num(k.optimizationS),
        "planning_s" -> Json.num(k.planningS), "ckpt_rdds" -> k.ckptRdds.toString,
        "held_mb" -> Json.num(k.heldMb)))
    }
    val preIn = keys.map(_.preaggIn).sum
    val preOut = keys.map(_.preaggOut).sum
    val execCpuS = sums.cpuNs / 1e9
    val m = Map(
      "op.build_s" -> buildS, "op.execute_s" -> execS,
      "plan.analysis_s" -> keys.map(_.analysisS).sum,
      "plan.optimization_s" -> keys.map(_.optimizationS).sum,
      "plan.planning_s" -> keys.map(_.planningS).sum,
      "plan.preagg_reduction" -> (if (preOut > 0) preIn.toDouble / preOut else 1.0),
      "sched.jobs" -> jobs.toDouble, "sched.stages" -> stages.toDouble,
      "sched.tasks" -> sums.tasks.toDouble, "sched.driver_gap_s" -> gapS,
      "sched.jobs_per_s" -> (if (wallS > 0) jobs / wallS else 0.0),
      "sched.slot_util" -> (if (wallS > 0) sums.runMs / 1e3 / (wallS * cores) else 0.0),
      "exec.run_s" -> sums.runMs / 1e3, "exec.cpu_s" -> execCpuS,
      "exec.gc_s" -> sums.gcMs / 1e3, "exec.deser_s" -> sums.deserMs / 1e3,
      "exec.cpu_share" -> (if (pass.cpuNs > 0) sums.cpuNs.toDouble / pass.cpuNs else 0.0),
      "scan.bytes" -> keys.map(_.scanBytes).sum.toDouble,
      "scan.records" -> sums.inputRecords.toDouble,
      "shuffle.write_bytes" -> sums.shuffleWriteBytes.toDouble,
      "shuffle.write_records" -> sums.shuffleWriteRecords.toDouble,
      "shuffle.write_s" -> sums.shuffleWriteNs / 1e9,
      "shuffle.read_bytes" -> sums.shuffleReadBytes.toDouble,
      "shuffle.fetch_wait_s" -> sums.fetchWaitMs / 1e3,
      "spill.bytes" -> sums.spillBytes.toDouble,
      "ckpt.rdds" -> keys.map(_.ckptRdds).sum.toDouble,
      "storage.held_mb" -> keys.map(_.heldMb).sum,
      "storage.peak_mb" -> (if (keys.isEmpty) 0.0 else keys.map(_.heldMb).max),
      "jvm.gc_s" -> pass.gcMs / 1e3, "jvm.jit_s" -> pass.jitMs / 1e3,
      "jvm.heap_peak_mb" -> heapPeakMb)
    (m, rows.toSeq, problems.toSeq)
  }

  /** Units of every per-layer metric the traced run reports. */
  val layerUnits: Map[String, String] = Map(
    "engine.build_s" -> "s", "engine.warm_s" -> "s",
    "op.build_s" -> "s", "op.execute_s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "plan.preagg_reduction" -> "ratio",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_s" -> "s", "sched.jobs_per_s" -> "1/s", "sched.slot_util" -> "ratio",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.deser_s" -> "s",
    "exec.cpu_share" -> "ratio",
    "scan.bytes" -> "bytes", "scan.records" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.write_records" -> "count",
    "shuffle.write_s" -> "s", "shuffle.read_bytes" -> "bytes", "shuffle.fetch_wait_s" -> "s",
    "spill.bytes" -> "bytes",
    "ckpt.rdds" -> "count", "storage.held_mb" -> "MB", "storage.peak_mb" -> "MB",
    "stream.batches" -> "count", "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms", "stream.offsets_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_mb" -> "MB",
    "stream.state_commit_ms" -> "ms", "stream.late_rows" -> "count",
    "stream.generator_late_ms" -> "ms",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  /** Median of each per-layer metric across traced passes, with every
    * metric of [[layerUnits]] present (0 where a layer is not used).
    */
  def medianLayers(passes: Seq[Map[String, Double]], extra: Map[String, Double])
      : Map[String, (Double, String)] = {
    val names = layerUnits.keySet.filterNot(_.startsWith("engine."))
    names.map { n =>
      val v = extra.getOrElse(n,
        if (passes.isEmpty) 0.0 else Stats.median(passes.map(_.getOrElse(n, 0.0))))
      n -> (v -> layerUnits(n))
    }.toMap
  }
}

/** A batch workload: closed loop, one client issuing the keys back to
  * back, every pass starting with cleared memos.
  */
final class BatchRun(a: Args, chains: Seq[Seq[String]]) {
  import Main._

  private val order: Seq[String] = new scala.util.Random(a.seed).shuffle(chains).flatten
  private val spans = new Spans
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L

  private def cleanup(spark: SparkSession): Unit = FrameMemo.releaseTransientBlocks(spark)

  private def fresh(spark: SparkSession): Unit = {
    FrameMemo.clearAllMemos()
    cleanup(spark)
  }

  private val warmDigests = mutable.ArrayBuffer[Map[String, Check.Digest]]()

  /** Set-up's warm pass: each key once, its result collected and
    * digested for the correctness check (outside the timed window).
    */
  private def warmPass(spark: SparkSession): Unit = {
    fresh(spark)
    warmDigests += order.flatMap { key =>
      try {
        val d = Check.digest(SparkEntry.queries(key)(spark, a.data))
        cleanup(spark)
        Some(key -> d)
      } catch { case e: Throwable =>
        failures += s"$key (warm pass): ${e.getClass.getName}: ${e.getMessage}"
        None
      }
    }.toMap
  }

  /** Untraced pass: per-key seconds (build + execute), or None on failure. */
  private def pass(spark: SparkSession): Seq[(String, Option[Double])] = {
    fresh(spark)
    order.map { key =>
      attempted += 1
      val t0 = System.nanoTime()
      val ok = try {
        PlanAudit.executedPlan(SparkEntry.queries(key)(spark, a.data)); true
      } catch { case e: Throwable =>
        failures += s"$key: ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $key failed: $e")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      cleanup(spark)
      key -> (if (ok) Some(dt) else None)
    }
  }

  /** Traced pass: the same calls, with spans, a tag on every job and the
    * per-key layer reads done outside the key's build/execute spans.
    */
  private def tracedPass(spark: SparkSession, p: Int, listener: TraceListener)
      : (Seq[KeyTrace], Seq[(String, Option[Double])]) = {
    fresh(spark)
    val sc = spark.sparkContext
    val res = order.map { key =>
      attempted += 1
      val tag = s"p$p/$key"
      val before = sc.getPersistentRDDs.keySet.toSet
      sc.setLocalProperty(TraceListener.TagProp, tag)
      val k0 = Clock.ms()
      val r = try {
        val df = SparkEntry.queries(key)(spark, a.data)
        val k1 = Clock.ms()
        val plan = PlanAudit.executedPlan(df)
        Right((df, plan, k1, Clock.ms()))
      } catch { case e: Throwable =>
        failures += s"$key: ${e.getClass.getName}: ${e.getMessage}"
        Left(Clock.ms())
      }
      sc.setLocalProperty(TraceListener.TagProp, null)
      val k2 = r.fold(identity, _._4)
      val ids = sc.getPersistentRDDs.keySet.toSet -- before
      val heldMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      cleanup(spark)
      val k3 = Clock.ms()
      r match {
        case Right((df, plan, k1, _)) =>
          val ph = df.queryExecution.tracker.phases
          def phase(n: String) = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
          val em = graft.Audit.metricsOf(plan)
          // file bytes the final plan's scans selected: task input metrics
          // miss the bytes Parquet reads on its own vectored-IO threads
          val scanBytes = PlanAudit.allNodes(plan)
            .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
            .distinctBy(System.identityHashCode)
            .flatMap(_.metrics.get("filesSize")).map(_.value).sum
          (KeyTrace(tag, key, k0, k1, k2, k3, phase("analysis"), phase("optimization"),
            phase("planning"), em.partialAggInputRows, em.partialAggOutputRows, scanBytes,
            ids.size, heldMb), key -> Some((k2 - k0) / 1e3))
        case Left(_) =>
          (KeyTrace(tag, key, k0, k2, k2, k3, 0, 0, 0, 0, 0, 0, ids.size, heldMb), key -> None)
      }
    }
    (res.map(_._1), res.map(_._2))
  }

  def run(): Outcome = {
    val setUps = new SetUps(a, spans, warmPass)
    val first = setUps.next()
    val sc = first.sparkContext
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val untraced = mutable.ArrayBuffer[(Seq[(String, Option[Double])], Double)]()
    val traced = mutable.ArrayBuffer[(Map[String, Double], Double)]()
    val perKey = mutable.ArrayBuffer[String]()
    val problems = mutable.ArrayBuffer[String]()
    val jobsByKey = mutable.LinkedHashMap[String, Int]()
    val listener = new TraceListener
    var p = 0
    def more = System.nanoTime() < deadline
    if (a.mode == "run") {
      // trace mode alternates untraced and traced passes; at least one of each
      while (more || untraced.isEmpty || (a.trace && traced.isEmpty)) {
        val doTrace = a.trace && (p % 2 == 1 || (!more && traced.isEmpty))
        JvmSnap.resetHeapPeak()
        val s0 = JvmSnap.now()
        if (doTrace) {
          sc.addSparkListener(listener)
          val (keys, times) = tracedPass(first, p, listener)
          org.apache.spark.PerfbenchBus.drain(sc)
          sc.removeSparkListener(listener)
          val d = JvmSnap.now().since(s0)
          val (m, rows, probs) = layerMetrics(keys, listener, a.cores, spans, d,
            JvmSnap.heapPeakMb)
          traced += (m -> times.flatMap(_._2).sum)
          perKey ++= rows
          problems ++= probs
          if (jobsByKey.isEmpty) keys.foreach(k => jobsByKey(k.key) = listener.jobsOf(k.tag).size)
        } else {
          val times = pass(first)
          untraced += (times -> JvmSnap.now().since(s0).cpuNs / 1e9)
        }
        p += 1
      }
    }

    val spark = setUps.finish()
    val cycles = setUps.cycles
    // correctness: every set-up's warm pass digested each result; the
    // three must agree, and run.py compares the last with the reference
    val digests = warmDigests.lastOption.getOrElse(Map.empty)
    order.distinct.foreach { key =>
      if (warmDigests.map(_.get(key)).distinct.size > 1)
        failures += s"$key: result digest differs between set-ups"
    }
    if (a.mode == "reference") dumpOracle(spark)

    val e2e = if (untraced.isEmpty) Map.empty[String, (Double, String)] else {
      val ok = untraced.filter(_._1.forall(_._2.isDefined)).toSeq
      val passes = settled(if (ok.nonEmpty) ok else untraced.toSeq)
      val perKeyS = order.distinct.map(k =>
        k -> passes.flatMap(_._1.filter(_._1 == k).flatMap(_._2)))
      // closed loop: a key is due when it is issued, so its lag is its
      // latency; percentiles run over the keys' median latencies
      val medians = perKeyS.filter(_._2.nonEmpty).map(x => Stats.median(x._2))
      val lags = medians.map(_ * 1e3)
      Map(
        "wall_s" -> (Stats.median(passes.map(_._1.flatMap(_._2).sum)) -> "s"),
        "query_geomean_s" -> (Stats.geomean(medians) -> "s"),
        "cpu_s" -> (Stats.median(passes.map(_._2)) -> "s"),
        "lag_p50_ms" -> (Stats.percentile(lags, 0.5) -> "ms"),
        "lag_p90_ms" -> (Stats.percentile(lags, 0.9) -> "ms"))
    } ++ setupMetrics(cycles)
    System.err.println("[perfbench] pass walls " +
      untraced.map(_._1.flatMap(_._2).sum).mkString(" ") + "; set-ups " + cycles.mkString(" "))

    val metrics = if (!a.trace) e2e else {
      val kernels = KernelBench.run(spark, a.data, a.seed)
      // JobStats stops the session when it is done: it runs last
      val checks = problems.toSeq ++ reconcileJobs(spark, jobsByKey.toMap)
      failures ++= checks.map("reconciliation: " + _)
      val t = settled(traced.toSeq)
      val overhead = Stats.median(t.map(_._2)) / e2e("wall_s")._1 - 1.0
      val layers = medianLayers(t.map(_._1), Map("trace.overhead_frac" -> overhead)) ++
        engineLayer(cycles) ++ kernels.map { case (k, v) => k -> (v -> "ns") }
      writeTrace(a, spans, perKey.toSeq, layers ++ e2e, checks)
      layers
    }
    Outcome(metrics, math.max(attempted, 1L), failures.toSeq, digests)
  }

  /** Per-key job counts of the traced pass must equal `graft.JobStats`
    * on the same keys and data, run in this session after the passes.
    */
  private def reconcileJobs(spark: SparkSession, ours: Map[String, Int]): Seq[String] = {
    fresh(spark)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true)) {
      graft.JobStats.main(Array(a.data, order.distinct.mkString(",")))
    }
    val theirs = """\[jobstats\] (\S+) jobs=(\d+)""".r
      .findAllMatchIn(buf.toString("UTF-8")).map(m => m.group(1) -> m.group(2).toInt).toMap
    ours.toSeq.flatMap { case (k, n) =>
      theirs.get(k) match {
        case Some(m) if m == n => None
        case other => Some(s"$k: sched.jobs $n != graft.JobStats ${other.getOrElse("missing")}")
      }
    }
  }

  /** Reference mode: dump each oracle key's result as parquet with the
    * oracle SQL beside it, in the layout `scripts/selfcheck.py` reads.
    */
  private def dumpOracle(spark: SparkSession): Unit = {
    val dir = java.nio.file.Paths.get(a.work, "oracle_dump")
    java.nio.file.Files.createDirectories(dir)
    order.filter(SparkEntry.oracleSql.contains).foreach { key =>
      fresh(spark)
      SparkEntry.queries(key)(spark, a.data).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(key).toString)
    }
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> Json.str(v) }))
  }
}
