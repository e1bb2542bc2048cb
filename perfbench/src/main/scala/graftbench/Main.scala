package graftbench

import java.nio.file.{Files, Paths}

import graft.Tables
import org.apache.spark.graftbench.BusDrain

/** One benchmark workload in one JVM. Writes the run's raw record (drops,
  * progress reports, walls, checks, and in the traced run the scheduler
  * ledger, plan phases and spans) as JSON for `perfbench/run.py`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR --out FILE [--cpus N]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts("trace") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")))
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spans = new Spans(trace)
    val spark = spans("setup.session") { _ => Tables.localSession("graft-perfbench", cpus) }
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tasks = new TaskLedger
    val plans = new PlanLedger
    if (trace) {
      spark.sparkContext.addSparkListener(tasks)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(plans)
    }

    val r = new Run(spark, opts("data"), work, opts("seed").toLong, opts("seconds").toInt, spans)
    r.raw("workload") = workload
    r.raw("cpus") = cpus
    r.raw("jvm_start_ms") = jvmStartMs
    workload match {
      case "stream_steady" => Steady.run(r)
      case "stream_backlog_wide" => Wide.run(r)
      case "batch_mix" => BatchMix.run(r)
      case other => sys.error(s"unknown workload $other")
    }
    BusDrain(spark.sparkContext)
    r.raw("progress") = progress.all
    if (trace) {
      r.raw("ledger") = tasks.snapshot
      r.raw("plans") = plans.all
      r.raw("spans") = spans.all
    }
    Json.write(Paths.get(opts("out")), r.raw)
    spark.stop()
  }
}
