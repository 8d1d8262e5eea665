package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.streaming.StreamHarness

/** One benchmark run of one workload in this JVM.
  *
  * Usage: Main <run|selftest> <workload> <inputDir> <workDir> <seconds>
  *             <trace 0|1> <cores> <launchEpochNs> <resultJson>
  *
  * `run`: bring the session up and run [[WarmupPasses]] untimed passes
  * (set-up time ends with the first, cold one; the JIT keeps speeding
  * passes up for a few more), then timed passes until `seconds` have gone
  * by (at least [[MinPasses]]), checking every pass; then force a full GC
  * and read the heap still in use. The result is written to `resultJson`.
  *
  * `selftest`: one pass, then every corruption of its output is checked
  * and must be rejected by the check it targets, and the real output
  * must pass all checks. Exits 1 otherwise.
  */
object Main {
  val WarmupPasses = 3
  val MinPasses = 3

  private def now(): Long = { val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }

  def main(args: Array[String]): Unit = {
    val Array(mode, name, in, work, seconds, trace, cores, launchNs, result) = args
    val spark = GraftSession.builder(cores.toInt, "perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUp = now()
    val tracer = new Tracer(spark, on = trace == "1")
    if (name == "stream_ingest") spark.streams.addListener(tracer.streamListener)
    val wl = Workload(name, spark, in)
    val code =
      try if (mode == "selftest") selftest(wl, tracer, work) else {
        run(wl, tracer, work, seconds.toDouble, launchNs.toLong, sessionUp, result, name); 0
      }
      finally spark.stop()
    sys.exit(code)
  }

  private def passDir(work: String, i: Int): String = {
    val d = s"$work/pass$i"
    StreamHarness.deleteRecursively(new File(d))
    d
  }

  private def selftest(wl: Workload, t: Tracer, work: String): Int = {
    val out = wl.load(wl.pass(t, passDir(work, 0)))
    var bad = 0
    wl.checks.foreach { case (name, check) =>
      val clean = check(out)
      val corrupted = wl.corruptions.find(_._1 == name).map(c => check(c._2(out)))
      val ok = clean.isEmpty && corrupted.exists(_.isDefined)
      if (!ok) bad += 1
      println(f"${if (ok) "ok  " else "FAIL"} $name%-18s real output: ${clean.getOrElse("passes")}; " +
        s"corrupted copy: ${corrupted.map(_.getOrElse("PASSES (check is vacuous)")).getOrElse("no corruption")}")
    }
    if (bad == 0) 0 else 1
  }

  private def run(wl: Workload, t: Tracer, work: String, seconds: Double, launchNs: Long,
      sessionUp: Long, result: String, name: String): Unit = {
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]

    def onePass(i: Int): Double = {
      val dir = passDir(work, i)
      // settle off the clock, as graft.Bench does between queries: a GC
      // lets the ContextCleaner free the previous pass's checkpoint and
      // shuffle blocks before this pass starts, not during it
      System.gc()
      Thread.sleep(200)
      t.beginPass(i)
      val gc0 = t.gcMs()
      val t0 = now()
      val out = try Some(wl.pass(t, dir)) catch {
        case e: Exception => failures += s"pass $i: ${e.getClass.getSimpleName}: ${e.getMessage}"; None
      }
      val t1 = now()
      attempted += wl.checks.size
      out match {
        case None => failures ++= wl.checks.map(c => s"pass $i: ${c._1}: not run")
        case Some(o) =>
          val loaded = wl.load(o)
          wl.checks.foreach { case (n, c) => c(loaded).foreach(m => failures += s"pass $i: $n: $m") }
          if (t.on && i >= WarmupPasses) {
            t.drain()
            layers += Layers.forPass(t, i, t0, t1, t.gcMs() - gc0) ++ wl.layerMetrics(loaded)
          }
      }
      (t1 - t0) / 1e9
    }

    val warm = onePass(0)
    val setupNs = now() - launchNs
    (1 until WarmupPasses).foreach(onePass)
    val start = System.nanoTime()
    var i = WarmupPasses
    while (i < WarmupPasses + MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      passSeconds += onePass(i)
      i += 1
    }
    val batchSeconds = if (name == "stream_ingest") triggerSeconds(t, WarmupPasses, i - 1) else Nil

    // heap still in use once everything a pass could release is released
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    val j = new Json
    j.str("workload", name).num("setup_s", setupNs / 1e9)
      .num("bringup_s", (sessionUp - launchNs) / 1e9).num("warmup_s", warm)
      .nums("pass_s", passSeconds.toSeq).nums("batch_s", batchSeconds)
      .num("retained_heap_mb", heapMb).num("attempted", attempted.toDouble)
      .num("failed", failures.size.toDouble).strs("failures", failures.toSeq)
    if (t.on) {
      val names = layers.flatMap(_.keys).distinct.sorted.toSeq
      j.obj("layers", names.map(n => n -> Layers.median(layers.map(_.getOrElse(n, 0.0)).toSeq)))
      j.spans("spans", t)
    }
    Files.write(Paths.get(result), j.render().getBytes(UTF_8))
  }

  /** Trigger times (s) of every micro-batch the timed passes ran. The
    * progress events arrive asynchronously, so wait for the last pass's. */
  private def triggerSeconds(t: Tracer, firstPass: Int, lastPass: Int): Seq[Double] = {
    def count(p: Int) = t.passAgg(p).synchronized(t.passAgg(p).triggers.size)
    val deadline = System.nanoTime() + 5000000000L
    while (count(lastPass) < count(firstPass) && System.nanoTime() < deadline) Thread.sleep(20)
    (firstPass to lastPass).flatMap(p => t.passAgg(p).synchronized(t.passAgg(p).triggers.toSeq))
      .flatMap(_.get("triggerExecution")).map(_ / 1e3)
  }
}

/** Per-layer metrics of one traced pass, from the tracer's counters. */
object Layers {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def forPass(t: Tracer, pass: Int, t0: Long, t1: Long, driverGcMs: Long): Map[String, Double] = {
    val a = t.passAgg(pass)
    a.synchronized {
      val spans = t.spans.filter(_.pass == pass)
      def spanS(n: String): Double = spans.filter(_.name == n).map(_.seconds).sum
      def spanTotals(n: String) = spans.filter(_.name == n).map(s => t.spanTotals(s.id))
      // wall time of the pass with no job running
      val (p0, p1) = (t0 / 1000000, t1 / 1000000)
      val busy = a.jobSpans.map { case (s, e) => (math.max(s, p0), math.min(e, p1)) }
        .filter(x => x._2 > x._1).sortBy(_._1)
        .foldLeft((0L, p0)) { case ((sum, edge), (s, e)) =>
          if (e <= edge) (sum, edge) else (sum + e - math.max(s, edge), e)
        }._1
      def trig(k: String): Double = a.triggers.map(_.getOrElse(k, 0L)).sum / 1e3
      val mb = 1e6
      Map(
        "trace.pass_s" -> (t1 - t0) / 1e9,
        "plan.queries" -> a.queries.toDouble,
        "plan.analysis_s" -> a.analysisMs / 1e3,
        "plan.optimization_s" -> a.optimizationMs / 1e3,
        "plan.planning_s" -> a.planningMs / 1e3,
        "sched.jobs" -> a.jobs.toDouble,
        "sched.stages" -> a.stages.toDouble,
        "sched.tasks" -> a.tasks.toDouble,
        "sched.driver_gap_s" -> ((p1 - p0) - busy) / 1e3,
        "sched.task_launch_s" -> a.launchMs / 1e3,
        "exec.task_run_s" -> a.taskRunMs / 1e3,
        "exec.task_cpu_s" -> a.taskCpuNs / 1e9,
        "exec.gc_s" -> a.gcMs / 1e3,
        "exec.task_max_s" -> (if (a.taskMs.isEmpty) 0.0 else a.taskMs.max / 1e3),
        "exec.task_p50_s" -> median(a.taskMs.map(_.toDouble).toSeq) / 1e3,
        "shuffle.write_mb" -> a.shuffleWrite / mb,
        "shuffle.read_mb" -> a.shuffleRead / mb,
        "shuffle.records" -> a.shuffleRecords.toDouble,
        "spill.memory_mb" -> a.spillMem / mb,
        "spill.disk_mb" -> a.spillDisk / mb,
        "sources.read_mb" -> a.inputBytes / mb,
        "sources.read_rows" -> a.inputRows.toDouble,
        "sources.scan_task_s" -> a.scanTaskMs / 1e3,
        "etl.plan_s" -> spanS("etl.run"),
        "etl.cache_mb" -> a.cachePeak / mb,
        "etl.valid_rows" -> a.etlRows.getOrElse("sales_valid", 0L).toDouble,
        "etl.invalid_rows" -> a.etlRows.getOrElse("sales_invalid", 0L).toDouble,
        "etl.metric_reports" -> a.etlReports.values.sum.toDouble,
        "sinks.export_s" -> spanS("sinks.export"),
        "sinks.write_mb" -> a.outputBytes / mb,
        "sinks.write_rows" -> a.outputRows.toDouble,
        "sinks.files" -> a.outputFiles.toDouble,
        "sinks.upsert_versions" -> 0.0,
        "sinks.upsert_write_mb" -> spanTotals("sinks.upsert").map(_._4).sum / mb,
        "operators.cc_s" -> spanS("operators.cc"),
        "operators.cc_jobs" -> spanTotals("operators.cc").map(_._1).sum.toDouble,
        "llm.exact_dedup_s" -> spanS("llm.exact_dedup"),
        "llm.near_dup_s" -> spanS("llm.near_dup"),
        "llm.near_dup_pairs" -> 0.0,
        "llm.topk_s" -> spanS("llm.topk"),
        "llm.ann_s" -> spanS("llm.ann"),
        "stream.batches" -> a.triggers.size.toDouble,
        "stream.planning_s" -> trig("queryPlanning"),
        "stream.add_batch_s" -> trig("addBatch"),
        "stream.wal_commit_s" -> trig("walCommit"),
        "stream.state_commit_s" -> a.stateCommitMs / 1e3,
        "stream.state_rows" -> a.stateRows.toDouble,
        "stream.state_mb" -> a.stateBytes / mb,
        "jvm.driver_gc_s" -> driverGcMs / 1e3)
    }
  }
}

/** A minimal JSON object writer for the result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(k: String, v: String): Json = { fields += s"${q(k)}:${q(v)}"; this }
  def num(k: String, v: Double): Json = { fields += s"${q(k)}:${n(v)}"; this }
  def nums(k: String, v: Seq[Double]): Json = { fields += s"${q(k)}:${v.map(n).mkString("[", ",", "]")}"; this }
  def strs(k: String, v: Seq[String]): Json = { fields += s"${q(k)}:${v.map(q).mkString("[", ",", "]")}"; this }
  def obj(k: String, v: Seq[(String, Double)]): Json = {
    fields += s"${q(k)}:${v.map { case (a, b) => s"${q(a)}:${n(b)}" }.mkString("{", ",", "}")}"; this
  }
  def spans(k: String, t: Tracer): Json = {
    fields += s"${q(k)}:" + t.spans.map { s =>
      val (jobs, tasks, taskMs, _) = t.spanTotals(s.id)
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"pass":${s.pass},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":$jobs,"tasks":$tasks,"task_run_s":${taskMs / 1e3}}"""
    }.mkString("[", ",", "]")
    this
  }
  def render(): String = fields.mkString("{", ",", "}")
}
