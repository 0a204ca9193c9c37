package graft

import org.apache.spark.sql.SparkSession

/** Round-19 generic isolated-query probe: run ONE named query alone —
  * one warm pass at the sibling sf0.01, then N timed repetitions at the
  * bench sf in one JVM — so a query's intrinsic hot cost is measured
  * with zero group context. Used for before/after evidence on every
  * optimization this round and for the q107 watch rule (SCALE.md
  * §Round 18).
  *
  * Usage: sbt "runMain graft.QProbe <queryName> [reps]"
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val name = args.headOption.getOrElse(
      sys.error("usage: QProbe <queryName> [reps]"))
    val reps = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"QProbe: unknown query '$name' — valid names: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    // job/stage/shuffle counters: checkpoint-terminated iterative
    // operators explain() as a bare RDD scan, so plan diffs can't show
    // their per-iteration shape — these totals can (before/after
    // evidence for OPTIMIZATION_r19.md)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks.toLong)
          shufRead.addAndGet(
            s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      })
    // warm at the sibling small sf (the Bench discipline)
    val warmDir = java.nio.file.Paths.get(sfDir).toAbsolutePath
      .getParent.resolve("sf0.01").toString
    // NonFatal only: swallowing OutOfMemoryError/linkage errors here would
    // leave a corrupted JVM silently skewing the timed reps below
    try { fn(spark, warmDir).count() }
    catch { case scala.util.control.NonFatal(_) => }
    SparkEntry.releaseScratch(spark)
    jobs.set(0); stages.set(0); tasks.set(0); shufRead.set(0); shufWrite.set(0)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      SparkEntry.releaseScratch(spark)
      dt
    }
    println(s"QPROBE:$name:" +
      times.map(t => f"$t%.3f").mkString("[", ",", "]") +
      s":jobs=${jobs.get / reps},stages=${stages.get / reps}," +
      s"tasks=${tasks.get / reps},shufR=${shufRead.get / reps}," +
      s"shufW=${shufWrite.get / reps} (per rep, incl. cleanup)")
    spark.stop()
  }
}
