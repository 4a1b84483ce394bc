package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes every raw measurement as JSON.
  *
  * Phases, all with one client in a closed loop (the next entry starts only
  * after the previous one returned):
  *  1. set-up, three times: a fresh session, `ScalePosture.configure`, and
  *     one pass over the entries (the first in a cold JVM);
  *  2. timed passes until `seconds` have elapsed; with `trace`, passes
  *     alternate between recording and not, so the difference prices the
  *     tracing;
  *  3. output checks, untimed.
  * Entry order within a pass is a permutation drawn from the seed. Between
  * entries the session's caches and checkpoints are released.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --inputs DIR --work DIR --out FILE --cpus N
  */
object Main {
  final case class Exec(phase: String, pass: Int, entry: String, start: Double,
      seconds: Double, ok: Boolean, error: String, span: Long,
      batches: Seq[(Double, Long)], inputRows: Long)
  final case class Pass(phase: String, pass: Int, seconds: Double,
      traced: Boolean, cpuSeconds: Double)
  final case class Setup(sessionSeconds: Double, passSeconds: Double)

  private def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val seed = a("seed").toLong
    val cpus = a("cpus").toInt
    val work = new File(a("work"))
    val workload = Workloads(a("workload"), a("data"), a("inputs"))
    val tracer = new Tracer
    val execs = mutable.ArrayBuffer[Exec]()
    val passes = mutable.ArrayBuffer[Pass]()
    val setups = mutable.ArrayBuffer[Setup]()
    var dirs = 0

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    def newDir(): File = {
      dirs += 1
      val d = new File(work, s"run/$dirs")
      d.mkdirs()
      d
    }

    /** One pass in seeded order; returns the summed entry wall seconds. */
    def runPass(spark: SparkSession, phase: String, pass: Int, parent: Long): Double = {
      val rng = new scala.util.Random(seed * 1000003L + phase.hashCode * 31L + pass)
      val order = rng.shuffle(workload.groups).flatten
      val passSpan = tracer.nextId()
      val t0 = Clock.nowMs
      val total = order.map { e =>
        val entrySpan = tracer.nextId()
        val ctx = new Ctx(spark, tracer, entrySpan, () => newDir())
        val prev = spark.sparkContext.getLocalProperty(Tracer.SpanKey)
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, entrySpan.toString)
        val start = Clock.nowMs
        val err = try { e.run(ctx); "" }
        catch { case t: Throwable => s"${t.getClass.getName}: ${t.getMessage}" }
        val end = Clock.nowMs
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, prev)
        tracer.add(Span(entrySpan, passSpan, "entry", e.name, start, end, Map.empty))
        execs += Exec(phase, pass, e.name, start, (end - start) / 1e3, err.isEmpty,
          err, entrySpan, ctx.batches.toSeq, ctx.inputRows)
        if (err.nonEmpty) System.err.println(s"[perfbench] ${e.name} failed: $err")
        graft.operators.Ckpt.releaseAll()
        spark.catalog.clearCache()
        (end - start) / 1e3
      }.sum
      tracer.add(Span(passSpan, parent, "pass", s"$phase $pass", t0, Clock.nowMs, Map.empty))
      total
    }

    var spark: SparkSession = null
    var posture = ""
    for (k <- 1 to 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      posture = graft.ScalePosture.configure(spark, a("data"))
      val sessionSeconds = (System.nanoTime() - t0) / 1e9
      setups += Setup(sessionSeconds, runPass(spark, "setup", k, 0L))
    }

    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val workloadSpan = tracer.nextId()
    val t0 = System.nanoTime()
    val t0Ms = Clock.nowMs
    var i = 0
    while (i < (if (trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && i % 2 == 0
      if (traced) tracer.attach(spark)
      val cpu0 = processCpuSeconds()
      val s = runPass(spark, "timed", i, workloadSpan)
      val cpu = processCpuSeconds() - cpu0
      if (traced) tracer.detach()
      passes += Pass("timed", i, s, traced, cpu)
      i += 1
    }
    if (trace)
      tracer.record(Span(workloadSpan, 0L, "workload", a("workload"), t0Ms, Clock.nowMs,
        Map.empty))

    val checkDir = new File(work, "check")
    checkDir.mkdirs()
    val tCheck = System.nanoTime()
    val checks = try workload.check(spark, checkDir) catch {
      case t: Throwable =>
        Seq(Check("check", Some(false), 0L,
          s"${t.getClass.getName}: ${t.getMessage}"))
    }
    val checkSeconds = (System.nanoTime() - tCheck) / 1e9
    val oracles = graft.SparkEntry.oracleSql
    spark.stop()

    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally status.close()

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val result = Map(
      "workload" -> a("workload"), "seed" -> seed, "cpus" -> cpus,
      "posture" -> posture, "peak_rss_mb" -> hwmKb / 1024.0,
      "setups" -> setups, "passes" -> passes, "execs" -> execs,
      "checks" -> checks, "check_seconds" -> checkSeconds,
      "oracles" -> checks.filter(_.ok.isEmpty)
        .flatMap(c => oracles.get(c.name).map(c.name -> _)).toMap,
      "spans" -> tracer.all)
    Files.writeString(new File(a("out")).toPath, mapper.writeValueAsString(result))
  }
}
