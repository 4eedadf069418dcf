package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One workload run in one JVM: set up, warm up, then a closed loop of
  * passes (one client; the next pass starts when the previous one ends)
  * for the requested number of seconds. Writes the raw measurements as one
  * JSON file; run.py turns them into metrics.
  *
  * Args: workload seed seconds trace(0|1) out-file work-dir launch-epoch-ms */
object Main {
  /** Repetitions of the repeatable part of set-up (input generation and
    * load); set-up time reports their median. */
  private val setUpRepeats = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, outFile, workDir, launchS) = args
    val mainEpochMs = System.currentTimeMillis()
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(workDir)

    val t0 = Clock.nowS
    val conf = Seq(
      "spark.master" -> s"local[$nproc]",
      "spark.sql.shuffle.partitions" -> nproc.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)
    val spark = conf.foldLeft(SparkSession.builder().appName(s"perfbench-$workload")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = Clock.nowS - t0

    val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}", spark)
    val listener = new JobListener(tracer)
    if (traced) { tracer.enabled = true; spark.sparkContext.addSparkListener(listener) }

    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def record(p: Pass, phase: String, tracedPass: Boolean, span: Int): Unit =
      passes += Map("phase" -> phase, "traced" -> tracedPass, "span" -> span,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "items" -> p.items, "ops" -> p.ops, "ok" -> p.ok, "error" -> p.error,
        "checksum" -> p.checksum) ++ p.extra

    var wl: Workload = null
    var setUp: Map[String, Any] = Map.empty
    var probes: Map[String, Any] = Map.empty
    var fatal: String = null
    try {
      tracer.span(s"$workload run", "run") {
        tracer.span("setup", "phase") {
          val g0 = Clock.nowS
          wl = tracer.span("generate-inputs", "bench") { Workload(workload, spark, tracer, seed, work, nproc) }
          val inputsS = Clock.nowS - g0
          val reps = (1 to setUpRepeats).map(_ => wl.setUp())
          val w0 = Clock.nowS
          val warm = tracer.span("warm-up", "bench") { wl.pass() }
          record(warm, "warmup", traced, tracer.lastIdNamed("warm-up"))
          setUp = Map("session_s" -> sessionS, "inputs_s" -> inputsS, "gen_s" -> reps.map(_._1), "prepare_s" -> reps.map(_._2),
            "warmup_s" -> (Clock.nowS - w0), "warmup" -> true)
        }
        tracer.span("measured", "phase") {
          // A traced run alternates untraced and traced passes, starting and
          // ending untraced, so the two can be compared within one process
          // (trace.overhead_share) without the JIT's warming trend favouring
          // either side.
          val start = Clock.nowS
          var i = 0
          while (Clock.nowS - start < seconds || (traced && (i < 3 || i % 2 == 0))) {
            val tracePass = traced && i % 2 == 1
            if (traced && !tracePass) { listener.drain(); spark.sparkContext.removeSparkListener(listener) }
            if (tracePass) spark.sparkContext.addSparkListener(listener)
            tracer.enabled = !traced || tracePass
            val p = tracer.span("pass", "pass") { wl.pass() }
            tracer.enabled = traced
            record(p, "measured", tracePass, if (tracePass) tracer.lastIdNamed("pass") else -1)
            i += 1
          }
          if (traced) listener.drain()
        }
        if (traced) probes = tracer.span("probes", "phase") { wl.probes() }
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fatal = e.toString
        e.printStackTrace()
    } finally listener.drain()

    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
      "nproc" -> nproc,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "session_conf" -> conf.toMap,
      "inputs" -> Option(wl).map(_.inputs).orNull,
      "launch_epoch_ms" -> launchS.toLong,
      "jvm_start_epoch_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "main_epoch_ms" -> mainEpochMs,
      "origin_epoch_ms" -> tracer.originEpochMs,
      "setup" -> setUp,
      "passes" -> passes.toSeq,
      "probes" -> probes,
      "peak_rss_mb" -> peakRssMb,
      "fatal" -> fatal,
      "spans" -> (if (traced) tracer.toJson else Nil),
      "jobs" -> (if (traced) listener.toJson else Nil))
    Files.writeString(Paths.get(outFile),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats))
    spark.stop()
  }

  /** Peak resident set (VmHWM) of this JVM, in MiB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
