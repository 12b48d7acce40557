package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the recorder, its directories. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long, val k: Int,
                val work: String) {
  val dataDir = s"$work/data"
  val stateDir = s"$work/state"
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
  /** One timed op: a throw or a failed output check inside marks it failed. */
  def op(cls: String, name: String)(body: => Unit): Unit = {
    Watchdog.arm(name)
    try rec.op(cls, name)(body) finally Watchdog.disarm()
  }
}

/**
 * One workload: `prepare` builds its state and warms it up (timed as
 * set-up), `round` runs one fixed, seeded cycle of ops, `verify`
 * checks the final state after the timed region.
 */
trait Workload {
  def tables: Seq[String]
  def sf: Double
  /** Make the seeded inputs (timed apart from set-up). */
  def generate(ctx: Ctx): Unit = Gen.writeAll(ctx.spark, ctx.dataDir, tables, ctx.seed, sf, ctx.k)
  def prepare(ctx: Ctx): Unit
  def round(ctx: Ctx, r: Int): Unit
  def verify(ctx: Ctx): Unit
}

/**
 * Per-op deadline: a watchdog cancels the running Spark jobs of an op
 * that overruns, which fails the op; if the op still does not return
 * (a hung driver-side wait), the JVM halts so the run ends non-zero in
 * bounded time instead of waiting out a product-side timeout.
 */
object Watchdog {
  val OpDeadlineS = 60.0
  val HaltGraceS = 15.0
  @volatile private var armedAt = 0L
  @volatile private var what = ""
  @volatile var sc: org.apache.spark.SparkContext = _
  def arm(name: String): Unit = { what = name; armedAt = System.nanoTime() }
  def disarm(): Unit = armedAt = 0L
  def start(): Unit = {
    val t = new Thread(() => {
      var cancelled = 0L
      while (true) {
        Thread.sleep(250)
        val a = armedAt
        if (a != 0L) {
          val s = (System.nanoTime() - a) / 1e9
          if (s > OpDeadlineS && cancelled != a) {
            System.err.println(s"[perfbench] op $what passed its ${OpDeadlineS}s deadline; cancelling")
            cancelled = a
            if (sc != null) sc.cancelAllJobs()
          }
          if (s > OpDeadlineS + HaltGraceS) {
            System.err.println(s"[perfbench] op $what did not return after cancel; halting")
            System.out.flush()
            Runtime.getRuntime.halt(3)
          }
        }
      }
    }, "perfbench-watchdog")
    t.setDaemon(true)
    t.start()
  }
}

object Main {

  def describe(t: Throwable): String =
    t.getClass.getName + ": " + Option(t.getMessage).getOrElse("").take(400)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def loadAvg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+").take(3).toSeq.map(_.toDouble) finally src.close()
    } catch { case _: Throwable => Seq.empty }

  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Wait (at most 5 s) until the JIT has compiled nothing for half a
    * second, so compilations the warm-up queued do not run in the timed
    * region. */
  def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
  }

  def workload(name: String): Workload = name match {
    case "batch_queries" => BatchQueries
    case "view_refresh" => new ViewRefresh
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val w = workload(name)
    val loadBefore = loadAvg()
    val rec = new Recorder

    val k = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors()))
    val spark = rec.mark("session")(graft.GraftSession.local(k))
    Watchdog.sc = spark.sparkContext
    Watchdog.start()
    val ctx = new Ctx(spark, rec, seed, k, work)
    rec.mark("generate")(w.generate(ctx))
    rec.mark("prepare")(w.prepare(ctx))
    // harness wait, not program set-up: excluded from setup_s
    rec.mark("settle")(settleJit())

    def timed(phase: String): (Double, Double, Int) = {
      rec.phase = phase
      val c0 = cpuS
      val s0 = System.nanoTime()
      var r = 0
      while ((System.nanoTime() - s0) / 1e9 < seconds && !ctx.rec.ops.exists(!_.ok)) {
        w.round(ctx, r)
        r += 1
      }
      ((System.nanoTime() - s0) / 1e9, cpuS - c0, r)
    }
    val phases = mutable.LinkedHashMap.empty[String, Any]
    val (el, cpu, rounds) = timed("untraced")
    phases("untraced") = Map("elapsed_s" -> el, "cpu_s" -> cpu, "rounds" -> rounds)
    val jobs = new JobLog
    if (traced && !rec.ops.exists(!_.ok)) {
      spark.sparkContext.addSparkListener(jobs)
      rec.tracing = true
      val (el2, cpu2, rounds2) = timed("traced")
      rec.tracing = false
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      phases("traced") = Map("elapsed_s" -> el2, "cpu_s" -> cpu2, "rounds" -> rounds2)
    }
    rec.phase = "verify"
    try w.verify(ctx)
    catch { case t: Throwable => ctx.check("verify", ok = false, describe(t)) }

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(), "k" -> k,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm" -> System.getProperty("java.vm.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version, "seed" -> seed, "sf" -> w.sf,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAvg(),
      "process_cpu_s" -> cpuS)
    Json.write(s"$work/raw.json", Map("workload" -> name, "seed" -> seed,
      "seconds" -> seconds, "traced" -> traced, "env" -> env, "phases" -> phases,
      "peak_rss_mb" -> peakRssMb(),
      "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extra" -> ctx.extra, "ops" -> rec.opsRecords, "calls" -> rec.callsRecords,
      "marks" -> rec.marksRecords, "spans" -> rec.spansRecords, "jobs" -> jobs.jobsRecords,
      "stages" -> jobs.stagesRecords))
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    System.out.flush()
    // stray product threads (streaming, pools) must not keep the JVM up
    Runtime.getRuntime.halt(0)
  }
}
