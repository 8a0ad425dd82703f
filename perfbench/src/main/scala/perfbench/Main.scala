package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** One finished job of the timed loop, with everything the runtime
  * and the host did while it ran. Times in seconds unless named _ms.
  */
final case class JobRec(index: Int, traced: Boolean,
    startMs: Double, endMs: Double, wallS: Double, ok: Boolean,
    failure: Option[String], work: Double, cpuS: Double, stealS: Double,
    load1: Double, sparkJobs: Long, stages: Long, stagesRetried: Long,
    compileN: Long, compileS: Double, planS: Double, jvmGcS: Double,
    tasks: Int, tasksFailed: Int, taskRunS: Double, taskCpuS: Double,
    taskGcS: Double, schedDelayS: Double, fetchWaitS: Double,
    shuffleWriteMb: Double, spillMb: Double, liveHeapMb: Double,
    taskIntervalsMs: Seq[Seq[Long]], counters: Map[String, Double])

/** Runs one workload on one local session: several identical set-ups
  * (each on a fresh scratch directory; the first also starts the JVM
  * and the session), then a closed loop of checked jobs for the given
  * seconds; writes the raw run record as JSON. Metrics are derived from
  * it by metrics.py.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <json> [--commit <id>]
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val nproc = math.min(4, Runtime.getRuntime.availableProcessors)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // --- one session; then set-up three times, each on a fresh scratch
    // directory (inputs, warm-up job); the last one's inputs run the loop
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    val spark = GraftSession.local(nproc, appName = s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.ms() - jvmStartMs) / 1e3
    val probe = new Probe(spark)
    val tracer = new Tracer(probe)
    val wl = Workloads(workload)
    val setups = ArrayBuffer.empty[Map[String, Double]]
    var ctx: Ctx = null
    for (rep <- 0 until SetupReps) {
      val t0 = if (rep == 0) jvmStartMs else Clock.ms()
      if (ctx != null) deleteTree(ctx.dir)
      ctx = new Ctx(spark, Files.createDirectories(work.resolve(s"rep$rep")), seed, tracer)
      val phases = wl.setup(ctx)
      setups += phases + ("session_s" -> (if (rep == 0) sessionS else 0.0)) +
        ("setup_s" -> (Clock.ms() - t0) / 1e3)
    }

    // --- timed closed loop; a traced run traces every other job ---
    val jobs = ArrayBuffer.empty[JobRec]
    Jvm.liveHeapBytes() // the first job, like every later one, starts on a collected heap
    val loopStart = Clock.ms()
    while (jobs.isEmpty || Clock.ms() - loopStart < seconds * 1e3) {
      val j = jobs.length
      jobs += runJob(j, traceOn && j % 2 == 1, wl, ctx, probe, tracer)
    }
    val loopS = (Clock.ms() - loopStart) / 1e3

    val conf = spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceOn,
      "meta" -> Map(
        "nproc" -> nproc,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "commit" -> a.getOrElse("commit", "unknown"),
        "spark_conf" -> scala.collection.immutable.TreeMap(conf.toSeq: _*)),
      "setups" -> setups.toSeq,
      "loop_s" -> loopS,
      "jobs" -> jobs.toSeq,
      "spans" -> tracer.all)
    Files.writeString(Paths.get(a("out")), Json(record), StandardCharsets.UTF_8)
    probe.close()
    spark.stop()
    System.exit(0)
  }

  private def runJob(j: Int, traced: Boolean, wl: Workload, ctx: Ctx, probe: Probe,
      tracer: Tracer): JobRec = {
    tracer.forJob(j, traced)
    val m0 = probe.mark()
    val gc0 = Jvm.gcMs()
    val steal0 = Jvm.stealJiffies()
    val cpu0 = Jvm.cpuNs()
    val t0 = Clock.ms()
    val res =
      try Right(wl.job(ctx, j, traced))
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = Clock.ms()
    val cpu1 = Jvm.cpuNs()
    val m1 = probe.mark()
    // outside the job: each job starts on a collected heap, and the
    // heap the job left behind is its live set
    val liveMb = Jvm.liveHeapBytes() / 1e6
    val ts = probe.tasksBetween(m0, m1)
    val failure = res.fold(Some(_), _.failure)
    JobRec(j, traced, t0, t1, (t1 - t0) / 1e3,
      failure.isEmpty, failure, res.fold(_ => 0.0, _.work), (cpu1 - cpu0) / 1e9,
      (Jvm.stealJiffies() - steal0) / 100.0, Jvm.load1(),
      m1.jobs - m0.jobs, m1.stages - m0.stages, m1.stagesRetried - m0.stagesRetried,
      m1.compileN - m0.compileN, (m1.compileNs - m0.compileNs) / 1e9,
      probe.planMsBetween(m0, m1) / 1e3, (Jvm.gcMs() - gc0) / 1e3,
      ts.length, ts.count(_.failed), ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.schedDelayMs).sum / 1e3,
      ts.map(_.fetchWaitMs).sum / 1e3, ts.map(_.shuffleWriteBytes).sum / 1e6,
      ts.map(_.spillBytes).sum / 1e6, liveMb, ts.map(t => Seq(t.launchMs, t.finishMs)),
      res.fold(_ => Map.empty[String, Double], _.counters))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
}
