package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Runtime-census main: runs ONE query through the noop sink (the
  * Bench methodology) and prints, per run, how many jobs/stages/tasks
  * it ran, how many shuffle bytes moved, and the cumulative TASK CPU
  * time — the evidence `explain` cannot give for queries whose cost
  * sits in eager actions (checkpoint loops, count guards) that run
  * during DataFrame CONSTRUCTION, and the noise-robust A/B metric this
  * box's wall-clock jitter (±50% on multi-second queries) cannot
  * provide. Usage:
  *   runMain graft.JobCensus <queryName> [sfDir] [cpus] [runs]
  */
object JobCensus {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.JobCensus <name>[,<name>...] [sfDir] [cpus] [runs]")
      sys.exit(2)
    }
    // comma-separated list: censusing N queries shares one JVM/session
    // (job counts and shuffle bytes are deterministic, so unlike wall
    // time they don't need fresh-JVM isolation) — N sbt startups → 1
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else Bench.defaultCpus
    val runs = if (args.length > 3) args(3).toInt else 3
    val spark = Bench.buildSession(cpus)
    Bench.warmup(spark, sfDir)

    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    val cpuNs = new AtomicLong
    val runNs = new AtomicLong
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        shufWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.remoteBytesRead +
          sc.stageInfo.taskMetrics.shuffleReadMetrics.localBytesRead)
        cpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
        runNs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime * 1000000L)
      }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

    for (name <- names; r <- 1 to runs) {
      val j0 = jobs.get; val s0 = stages.get; val t0 = tasks.get
      val w0 = shufWrite.get; val c0 = cpuNs.get; val e0 = runNs.get
      val t = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t) / 1e9
      Bench.dropResidue(spark)
      // the listener bus is async and a fixed sleep can under-wait on a
      // loaded box (late stage events would then pollute the NEXT run's
      // delta): poll until every counter is quiet for 500 ms, capped at
      // 10 s (listenerBus.waitUntilEmpty is private[spark])
      var quiet = 0
      var waited = 0
      while (quiet < 5 && waited < 100) {
        val snap = (jobs.get, stages.get, tasks.get, shufWrite.get, cpuNs.get)
        Thread.sleep(100)
        waited += 1
        quiet = if (snap == ((jobs.get, stages.get, tasks.get,
          shufWrite.get, cpuNs.get))) quiet + 1 else 0
      }
      println(f"""{"census":"$name","run":$r,"sec":$sec%.3f,"jobs":${jobs.get - j0},"stages":${stages.get - s0},"tasks":${tasks.get - t0},"shuffle_write_mb":${(shufWrite.get - w0) / 1e6}%.2f,"task_cpu_sec":${(cpuNs.get - c0) / 1e9}%.3f,"task_run_sec":${(runNs.get - e0) / 1e9}%.3f}""")
    }
    spark.stop()
  }
}
