package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.features.{AutoStrategy, FeatureSpec}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client on Spark
  * `local[cpus]`. It writes the workload's inputs `SetupRepeats` times,
  * runs `WarmRounds` untimed rounds of the workload's actions, then timed
  * rounds until `--seconds` have passed (at least `MinRounds`), one
  * action at a time. It writes a JSON summary that `perfbench/run.py`
  * completes with the correctness check.
  *
  * With `--trace 1` it registers [[Tracer]] and reports per-layer metrics
  * (medians over the timed rounds) instead of the end-to-end ones, and
  * writes every span as JSON lines.
  */
object PerfBench {

  val SetupRepeats = 3
  val WarmRounds = 2
  val MinRounds = 3

  private def now(): Long = System.currentTimeMillis()

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr, stamped with seconds since JVM start. */
  private def log(msg: String): Unit =
    System.err.println(f"perfbench ${(now() - jvmStart) / 1e3}%7.2f: $msg")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** One execution of an action, as the traced run saw it. */
  final case class Exec(action: Action, round: Int, timed: Boolean, seconds: Double,
      start: Long, end: Long, gcMs: Long, phases: Seq[Span], ev: ActionEvents)

  final class Run(spark: SparkSession, wl: Workload, trace: Boolean) {
    val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None
    val spans = ArrayBuffer.empty[Span]
    val execs = ArrayBuffer.empty[Exec]
    private val ids = new AtomicLong(1L)
    val rootId: Long = ids.getAndIncrement()
    var attempted = 0L
    var failed = 0L
    val rowCounts = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Long]]

    def newId(): Long = ids.getAndIncrement()

    /** Job and stage spans under `parent`, from the listener events. */
    def eventSpans(parent: Long, ev: ActionEvents): Unit = {
      val jobIds = ev.jobs.map(j => j.id -> newId()).toMap
      ev.jobs.foreach(j => spans += Span(jobIds(j.id), parent, "job", s"job ${j.id}", j.start, j.end))
      ev.stages.foreach { s =>
        val owner = ev.jobs.find(_.stageIds.contains(s.id)).map(j => jobIds(j.id)).getOrElse(parent)
        spans += Span(newId(), owner, "stage", s"stage ${s.id}: ${s.name.take(60)}",
          s.submitted, s.completed, Map(
            "tasks" -> s.agg.tasks.toDouble, "task_s" -> s.agg.runMs / 1e3,
            "cpu_s" -> s.agg.cpuNs / 1e9, "scan" -> (if (s.scan) 1.0 else 0.0),
            "shuffle_write_mb" -> s.agg.shuffleWriteBytes / 1e6,
            "spill_mb" -> s.agg.spillBytes / 1e6))
      }
    }

    def drain(): ActionEvents =
      tracer.map(_.take()).getOrElse(ActionEvents(Nil, Nil, new PlanCounts))

    /** Writes the inputs once, timed; a trace gets one setup span. */
    def setupOnce(i: Int): Double = {
      drain()
      val s = now()
      val t0 = System.nanoTime()
      wl.writeInputs()
      val secs = (System.nanoTime() - t0) / 1e9
      log(f"setup ${i + 1} ${wl.inputLayer} write $secs%.3f s")
      if (trace) {
        val id = newId()
        spans += Span(id, rootId, "setup", s"${wl.inputLayer}.write ${i + 1}", s, now())
        eventSpans(id, drain())
      }
      secs
    }

    def round(r: Int, timed: Boolean): Unit = {
      val passId = newId()
      val ps = now()
      wl.actions.foreach { a =>
        attempted += 1
        val phases = ArrayBuffer.empty[Span]
        val actionId = newId()
        val probe: Probe =
          if (!trace) Probe.off
          else new Probe {
            def phase[T](name: String)(body: => T): T = {
              val s = now()
              try body finally phases += Span(newId(), actionId, "phase", name, s, now())
            }
          }
        var s = now()
        try {
          a.prepare()
          drain()
          val gc0 = gcMillis()
          s = now()
          val t0 = System.nanoTime()
          a.run(probe)
          val secs = (System.nanoTime() - t0) / 1e9
          val e = now()
          val gc = gcMillis() - gc0
          val ev = drain()
          val rows = a.settle()
          log(f"${if (timed) "round" else "warm"} $r ${a.name} $secs%.3f s, $rows rows")
          rowCounts.getOrElseUpdate(a.name, ArrayBuffer.empty) += rows
          execs += Exec(a, r, timed, secs, s, e, gc, phases.toList, ev)
          if (trace) {
            spans += Span(actionId, passId, "action", a.name, s, e, Map("rows" -> rows.toDouble))
            spans ++= phases
            eventSpans(actionId, ev)
          }
        } catch {
          case t: Throwable =>
            failed += 1
            log(s"${a.name} failed in round $r: $t")
            val ev = drain()
            if (trace) {
              spans += Span(actionId, passId, "action", a.name, s, now(), Map("failed" -> 1.0))
              spans ++= phases
              eventSpans(actionId, ev)
            }
        }
      }
      if (trace)
        spans += Span(passId, rootId, "pass", s"${if (timed) "round" else "warm"}-$r", ps, now())
    }
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cpus = opts("cpus").toInt
    val t0 = System.nanoTime()
    val spark = GraftSession.build(cpus, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionReady = now()
    val startupS = (sessionReady - jvmStart) / 1e3
    log("session ready")
    try {
      val wl = Workload(workload, spark, seed, work)
      val run = new Run(spark, wl, trace)
      run.spans += Span(run.newId(), run.rootId, "setup", "session", jvmStart, sessionReady)
      val setups = (0 until SetupRepeats).map(run.setupOnce)

      (1 to WarmRounds).foreach(r => run.round(r, timed = false))
      val mStart = System.nanoTime()
      var r = 0
      while (r < MinRounds || (System.nanoTime() - mStart) / 1e9 < seconds) {
        r += 1
        run.round(WarmRounds + r, timed = true)
      }
      val end = now()
      run.tracer.foreach(_.stop())
      wl.finish()

      val metrics: Seq[(String, Double, String)] =
        if (!trace) endToEnd(run, startupS + median(setups), wl)
        else perLayer(run, spark, wl, sessionS, median(setups))

      if (trace) {
        run.spans += Span(run.rootId, 0L, "workload", workload, jvmStart, end,
          Map("seed" -> seed.toDouble))
        Tracer.writeJsonl(run.spans.toList.sortBy(s => (s.start, s.id)), opts("trace-out"))
      }
      writeResult(opts("result"), run, metrics, wl)
      log("done")
    } finally spark.stop()
  }

  /** Number and total bytes of the parquet files under `path`. */
  private def parquetFiles(path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(p, true)
    var n = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }

  /** Per timed round, the wall seconds of each group's actions summed. */
  private def groupSeconds(run: Run, group: String): Seq[Double] =
    run.execs.filter(e => e.timed && e.action.group == group)
      .groupBy(_.round).values.map(_.map(_.seconds).sum).toSeq

  private def endToEnd(run: Run, setupS: Double, wl: Workload): Seq[(String, Double, String)] =
    Seq(
      ("setup_s", setupS, "s"),
      ("main_s", median(groupSeconds(run, "main")), "s"),
      ("alt_s", median(groupSeconds(run, "alt")), "s"),
      ("output_mb", parquetFiles(wl.outputDir)._2 / 1e6, "MB"))

  /** Spark execution metrics of one group of actions, per timed round. */
  private def execMetrics(run: Run, group: String): Seq[(String, Double, String)] = {
    val rounds = run.execs.filter(e => e.timed && e.action.group == group)
      .groupBy(_.round).values.toSeq
    def per(f: Exec => Double): Double = median(rounds.map(_.map(f).sum))
    def peak(f: Exec => Double): Double = median(rounds.map(_.map(f).max))
    def stages(e: Exec) = e.ev.stages
    Seq(
      ("task_s", per(e => stages(e).map(_.agg.runMs).sum / 1e3), "s"),
      ("cpu_s", per(e => stages(e).map(_.agg.cpuNs).sum / 1e9), "s"),
      ("scan_task_s", per(e => stages(e).filter(_.scan).map(_.agg.runMs).sum / 1e3), "s"),
      ("final_task_s", per(e => stages(e).map(_.agg.resultRunMs).sum / 1e3), "s"),
      ("driver_s", per(e => (e.end - e.start -
        Tracer.covered(e.start, e.end, stages(e).map(s => (s.submitted, s.completed)))) / 1e3), "s"),
      ("tasks", per(e => stages(e).map(_.agg.tasks).sum.toDouble), "count"),
      ("files_read", per(_.ev.plans.filesRead.toDouble), "count"),
      ("scan_mb", per(_.ev.plans.scanBytes / 1e6), "MB"),
      ("shuffle_write_mb", per(e => stages(e).map(_.agg.shuffleWriteBytes).sum / 1e6), "MB"),
      ("spill_mb", per(e => stages(e).map(_.agg.spillBytes).sum / 1e6), "MB"),
      ("gc_s", per(_.gcMs / 1e3), "s"),
      ("peak_mem_mb", peak(e => stages(e).map(_.agg.peakMemBytes).foldLeft(0L)(_ max _) / 1e6), "MB"),
      ("output_files", per(_.ev.plans.outputFiles.toDouble), "count"))
  }

  private def perLayer(run: Run, spark: SparkSession, wl: Workload,
      sessionS: Double, setupS: Double): Seq[(String, Double, String)] = {
    val timed = run.execs.filter(_.timed).toList
    def actionS(name: String): Double = median(timed.filter(_.action.name == name).map(_.seconds))
    def phaseS(action: String, phase: String): Double =
      median(timed.filter(_.action.name == action)
        .flatMap(_.phases.filter(_.name == phase)).map(s => (s.end - s.start) / 1e3))
    def candidates(action: String): Double =
      median(timed.filter(_.action.name == action).map(_.ev.plans.bandJoinRows.toDouble))
    def rows(action: String): Double =
      run.rowCounts.get(action).flatMap(_.headOption).map(_.toDouble).getOrElse(0.0)
    val (estimate, chosePivot) = wl match {
      case fs: FeatureStore =>
        val est = fs.input.queryExecution.optimizedPlan.stats.sizeInBytes
        val chosen = AutoStrategy.choose(FeatureSpec.reference, est)
        log(s"AutoStrategy chose ${chosen.getClass.getSimpleName.stripSuffix("$")} " +
          s"for an estimate of $est bytes")
        (est.toDouble, if (chosen == graft.features.PivotRollupStrategy) 1.0 else 0.0)
      case _ => (0.0, 0.0)
    }
    val pairsC = candidates("pairs")
    val shardRows = wl match {
      case _: DedupIngest =>
        spark.read.parquet(wl.checkInfo("shard")).count().toDouble
      case _ => 0.0
    }
    val isFs = wl.inputLayer == "datagen"
    Seq(
      ("session.build_s", sessionS, "s"),
      ("datagen.write_s", if (isFs) setupS else 0.0, "s"),
      ("datagen.files", if (isFs) parquetFiles(wl.checkInfo("input"))._1.toDouble else 0.0, "count"),
      ("docgen.write_s", if (isFs) 0.0 else setupS, "s"),
      ("features.plan_s", phaseS("build", "plan"), "s"),
      ("features.aggregator_plan_s", phaseS("aggregator_build", "plan"), "s"),
      ("features.auto_estimate_mb", estimate / 1e6, "MB"),
      ("features.auto_chose_pivot", chosePivot, "count"),
      ("action.build_s", actionS("build"), "s"),
      ("action.aggregator_build_s", actionS("aggregator_build"), "s"),
      ("action.pairs_s", actionS("pairs"), "s"),
      ("action.index_build_s", actionS("index_build"), "s"),
      ("action.ingest_s", actionS("ingest"), "s"),
      ("dedup.candidates", pairsC, "count"),
      ("dedup.pairs_per_candidate", if (pairsC > 0) rows("pairs") / pairsC else 0.0, "ratio"),
      ("dedup.ingest_candidates", candidates("ingest"), "count"),
      ("dedup.ingest_dropped", if (shardRows > 0) shardRows - rows("ingest") else 0.0, "count")
    ) ++ execMetrics(run, "main").map { case (n, v, u) => (s"exec.$n", v, u) } ++
      execMetrics(run, "alt").map { case (n, v, u) => (s"alt.exec.$n", v, u) }
  }

  private def writeResult(path: String, run: Run,
      metrics: Seq[(String, Double, String)], wl: Workload): Unit = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    val counts = run.rowCounts.map { case (a, xs) => s""""$a":[${xs.mkString(",")}]""" }
      .mkString(",")
    val info = wl.checkInfo.map { case (k, v) => s""""$k":"${Json.esc(v)}"""" }.mkString(",")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(s"""{"workload":"${wl.name}","attempted":${run.attempted},""" +
      s""""failed":${run.failed},"metrics":{$ms},"row_counts":{$counts},"check":{$info}}""")
    finally w.close()
  }
}
