package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. A pass runs a fixed sequence of
  * operations through [[Ctx.op]], checks their outputs through
  * [[Ctx.check]], and returns how many items it completed.
  */
trait Workload {
  /** What `items_per_s` counts. */
  def itemUnit: String
  /** Input sizes, for the run record. */
  def sizes: Seq[(String, Any)]
  /** Generate the inputs from the seed. */
  def prepare(ctx: Ctx): Unit
  /** Build what the passes work on, once, as part of set-up. */
  def build(ctx: Ctx): Unit = ()
  def pass(ctx: Ctx, out: File): Long
  /** Whether the generated inputs allow another pass. */
  def canPass: Boolean = true
  /** Bytes the pass leaves on disk. */
  def outBytes(ctx: Ctx, out: File): Long = Files.du(out)
  /** End-of-run checks, outside the timed window. */
  def finish(ctx: Ctx): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("pyprima_etl", "index_maintain")
  def apply(name: String): Workload = name match {
    case "pyprima_etl" => new EtlWorkload
    case "index_maintain" => new MaintainWorkload
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}

/** Run state shared by the workloads: the session, the run directory,
  * operation timing and failure accounting.
  */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long) {
  val inputs = new File(dir, "in")
  /** Timed operation latencies (s), filled only while `timing`. */
  val latencies = ArrayBuffer.empty[Double]
  /** Every operation's (name, latency), set-up included. */
  val opLog = ArrayBuffer.empty[(String, Double)]
  var timing = false
  /** During the first pass every check also runs on a tampered copy of
    * its output, which it must reject: the benchmark's self-test.
    */
  var selfTest = false
  var attempted = 0L
  var failed = 0L
  var tamperCaught = 0
  var tamperMissed = 0
  val failures = ArrayBuffer.empty[String]

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 5) failures += msg
  }

  /** One operation: timed, and counted as failed if it throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception =>
        synchronized(fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
        None
    }
    val dt = (System.nanoTime() - t0) / 1e9
    synchronized {
      if (timing) latencies += dt
      opLog += name -> dt
      attempted += 1
    }
    r
  }

  /** Check an operation's output; a failed check counts the operation as
    * failed. `tamper` changes one row of `out`; in the self-test the
    * check must reject the tampered copy.
    */
  def check[T](name: String, out: T, tamper: T => T)(verdict: T => Option[String]): Unit = {
    val v = verdict(out)
    val caught = selfTest && (try verdict(tamper(out)).isDefined catch { case _: Exception => true })
    synchronized {
      v.foreach(m => fail(s"$name: $m"))
      if (selfTest) {
        if (caught) tamperCaught += 1 else { tamperMissed += 1; fail(s"$name: tampered row not caught") }
      }
    }
  }
}

object Par {
  /** Run independent steps on their own threads and wait for all. */
  def run(steps: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(steps.size)
    try steps.map(s => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = s() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}

object Files {
  def du(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  /** Every path under `f` whose name satisfies `p`. */
  def find(f: File)(p: String => Boolean): Seq[File] =
    (if (p(f.getName)) Seq(f) else Nil) ++
      (if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(find(_)(p)) else Nil)
}

object Main {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of these percentiles with at least ten samples beyond it. */
  private def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted; val n = s.size
    // the sample just above p % of the samples, and how many lie beyond it
    def rank(p: Int) = math.min(n - 1, p * n / 100)
    val p = Seq(99, 95, 90, 75, 50).find(p => n - 1 - rank(p) >= 10).getOrElse(50)
    (p, s(rank(p)))
  }

  /** Old-generation heap after full GCs. Spark's context cleaner releases
    * unreferenced shuffles, broadcasts and cached blocks asynchronously
    * once a GC has found them, so collect until the reading stops falling.
    */
  private def oldGenMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    Iterator.continually { Thread.sleep(200); used() }.take(5).min
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Code-independent calibration: a fixed Spark job over `range`. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 5000000L, 1L, 4).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonValue(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + jsonValue(x) }.mkString("{", ",", "}")
    case s: Seq[_] if s.headOption.exists(_.isInstanceOf[(_, _)]) =>
      s.map { case (k, x) => str(k.toString) + ":" + jsonValue(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(jsonValue).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val dir = new File(args("dir"))
    val wl = Workload(name)
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expr.GraftSessionExtensions")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, wl, name, seed, seconds, traced, dir, cpus, jvmStartMs, args)
    finally {
      spark.stop()
      System.err.println(s"perfbench: jvm up ${(System.currentTimeMillis() - jvmStartMs) / 1000.0} s")
    }
    System.exit(0)
  }

  private def run(spark: SparkSession, wl: Workload, name: String, seed: Long,
      seconds: Double, traced: Boolean, dir: File, cpus: Int, jvmStartMs: Long,
      args: Map[String, String]): Unit = {
    val ctx = new Ctx(spark, dir, seed)
    // a first job, so that set-up and not the first pass pays Spark's
    // one-time initialisation
    calibrate(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // set-up: the inputs are generated three times and the median counts,
    // then whatever the workload serves from is built once
    val prepS = (1 to 3).map { _ =>
      Files.rm(ctx.inputs)
      val t0 = System.nanoTime(); wl.prepare(ctx); (System.nanoTime() - t0) / 1e9
    }
    val inputDigest = Digest.tree(ctx.inputs)
    val b0 = System.nanoTime()
    wl.build(ctx)
    val buildS = (System.nanoTime() - b0) / 1e9
    val setupS = sessionS + median(prepS) + buildS

    // timed window: closed loop, one client, passes back to back
    val passS = ArrayBuffer.empty[Double]
    val tracedPassS = ArrayBuffer.empty[Double]
    val cpuS = ArrayBuffer.empty[Double]
    val outB = ArrayBuffer.empty[Double]
    var items = 0L
    var itemS = 0.0
    val tracer = if (traced) Some(new Tracer(spark)) else None
    var gcTracedMs = 0L
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // the traced run alternates untraced and traced passes and compares
    // the traced ones with the untraced ones after the first (cold) pass
    while (wl.canPass && (elapsed < seconds || (traced && (tracedPassS.isEmpty || passS.size < 2)))) {
      val tr = tracer.filter(_ => i % 2 == 1)
      tr.foreach { t => t.register(); Trace.install(t) }
      val out = new File(dir, s"pass-$i")
      val g0 = gcMs(); val c0 = cpuNs(); val p0 = System.nanoTime()
      ctx.timing = true
      ctx.selfTest = i == 0
      val n = wl.pass(ctx, out)
      ctx.timing = false
      ctx.selfTest = false
      val dt = (System.nanoTime() - p0) / 1e9
      val dc = (cpuNs() - c0) / 1e9
      tr.foreach { t => Trace.uninstall(); t.unregister(); gcTracedMs += gcMs() - g0 }
      if (tr.isDefined) tracedPassS += dt
      else { passS += dt; cpuS += dc; items += n; itemS += dt }
      outB += wl.outBytes(ctx, out).toDouble
      Files.rm(out)
      i += 1
    }
    val windowS = elapsed
    val heapMb = oldGenMb()
    val cal = Seq.fill(4)(calibrate(spark)).tail // the first one warms the probe
    val f0 = System.nanoTime()
    wl.finish(ctx)
    val finishS = (System.nanoTime() - f0) / 1e9

    val (tailP, tailV) = tail(ctx.latencies.toSeq)
    val failRatio = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(passS.toSeq), "s"),
      ("op_p50_s", median(ctx.latencies.toSeq), "s"),
      ("op_tail_s", tailV, "s"),
      ("items_per_s", items / itemS, "items/s"),
      ("cpu_s", median(cpuS.toSeq), "s"),
      ("live_heap_mb", heapMb, "MB"),
      ("out_mb", median(outB.toSeq) / 1048576.0, "MB"))
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => endToEnd
      case Some(t) =>
        val np = tracedPassS.size.toDouble
        val wall = tracedPassS.sum
        val self = t.layers.values.map(_.selfNs.sum).sum / 1e9
        Trace.Layers.flatMap { l =>
          val s = t.layers(l)
          Seq(
            (s"$l.calls", s.calls.sum / np, "count"),
            (s"$l.self_s", s.selfNs.sum / 1e9 / np, "s"),
            (s"$l.jobs", s.jobs.sum / np, "count"),
            (s"$l.tasks", s.tasks.sum / np, "count"),
            (s"$l.task_cpu_s", s.taskCpuNs.sum / 1e9 / np, "s"),
            (s"$l.wait_s", s.waitMs.sum / 1e3 / np, "s"),
            (s"$l.shuffle_mb", s.shuffleBytes.sum / 1048576.0 / np, "MB"),
            (s"$l.written_mb", s.writtenBytes.sum / 1048576.0 / np, "MB"),
            (s"$l.failed", s.failed.sum / np, "count"))
        } ++ Seq(
          ("spark.plan_s", t.planNs.sum / 1e9 / np, "s"),
          ("spark.gc_s", gcTracedMs / 1e3 / np, "s"),
          ("spark.spill_mb", t.spillBytes.sum / 1048576.0 / np, "MB"),
          ("spark.job_overlap", t.jobMs.sum / 1e3 / math.max(1e-9, self), "ratio"),
          ("spark.unattributed_s", (wall - self) / np, "s"),
          ("expr.udf_nodes", t.udfNodes.sum / np, "count"),
          ("expr.native_nodes", t.nativeNodes.sum / np, "count"),
          ("plans.bbox_rewrites", t.bboxRewrites.sum / np, "count"),
          ("trace_overhead", median(tracedPassS.toSeq) / median(passS.drop(1).toSeq), "ratio"))
    }

    val shape: Seq[(String, Any)] = tracer.toSeq.flatMap { t =>
      val np = tracedPassS.size.toDouble
      val pass = median(tracedPassS.toSeq)
      val jobs = t.layers.values.map(_.jobs.sum).sum / np
      val cpu = t.layers.values.map(_.taskCpuNs.sum).sum / 1e9 / np
      val self = t.layers.map { case (l, s) => l -> s.selfNs.sum / 1e9 / np }
      Seq("shape" -> Seq(
        "jobs_per_pass" -> jobs,
        "job_s_per_pass" -> t.jobMs.sum / 1e3 / np,
        "ms_per_job" -> (if (jobs > 0) pass * 1000 / jobs else Double.NaN),
        "task_cpu_share" -> cpu / (cpus * pass),
        "self_share" -> Trace.Layers.map(l => l -> self(l) / pass)))
    }
    val record: Seq[(String, Any)] = Seq(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "commit" -> args.getOrElse("commit", "unknown"),
      "nproc" -> cpus, "local_n" -> cpus, "shuffle_partitions" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "sizes" -> wl.sizes, "input_sha256" -> inputDigest,
      "item_unit" -> wl.itemUnit,
      "passes" -> passS.size, "traced_passes" -> tracedPassS.size,
      "window_s" -> windowS, "ops" -> ctx.latencies.size,
      "op_tail_percentile" -> tailP,
      "op_tail_samples_beyond" -> (ctx.latencies.size - 1 - math.min(ctx.latencies.size - 1, tailP * ctx.latencies.size / 100)),
      "fail_ratio" -> failRatio,
      "selftest_tampered_caught" -> ctx.tamperCaught,
      "selftest_tampered_missed" -> ctx.tamperMissed,
      "setup_parts_s" -> Seq("session" -> sessionS, "prepare" -> prepS, "build" -> buildS),
      "finish_s" -> finishS,
      "calibration_s" -> cal,
      "calibration_noisy" -> (cal.max > 1.5 * cal.min),
      "op_median_s" -> ctx.opLog.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) => k -> median(v.map(_._2).toSeq) },
      "failures" -> ctx.failures.toSeq) ++ shape
    println("PERFBENCH_RECORD " + jsonValue(record))
    val correct = ctx.failed == 0 && ctx.tamperMissed == 0 && ctx.tamperCaught > 0
    val ms = metrics.map { case (k, v, u) => str(k) + ":{\"value\":" + num(v) + ",\"unit\":" + str(u) + "}" }
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":${ms.mkString("{", ",", "}")}}""")
  }
}

object Digest {
  /** SHA-256 over every file under `root` (relative path and bytes), in name order. */
  def tree(root: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val base = root.toPath
    Files.find(root)(_ => true).filter(_.isFile).foreach { f =>
      md.update(base.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
