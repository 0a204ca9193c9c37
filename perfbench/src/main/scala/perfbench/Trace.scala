package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing seen from outside the product: the benchmark wraps
  * each call into a layer's public functions in [[span]], which tags the
  * Spark jobs the call submits with a local property (inherited by the
  * `JobPar` pool threads the operators start). A SparkListener and a
  * QueryExecutionListener then attribute jobs, tasks, shuffle, spill,
  * task CPU, scheduler wait and Catalyst planning to the tagged layer.
  *
  * Off (the end-to-end runs), [[span]] only runs its body and the
  * listeners are not registered.
  */
object Trace {
  /** The layers the benchmark reports, in output order. */
  val Layers: Seq[String] = Seq("sources", "pipeline", "export",
    "operators.Ops", "operators.SpatialOps", "operators.Dedup",
    "operators.TextIndex", "operators.Similarity", "operators.Graph",
    "operators.Curation")

  val SpanProp = "perfbench.layer"

  final class LayerStats {
    val calls = new LongAdder
    val failed = new LongAdder
    val selfNs = new LongAdder
    val jobs = new LongAdder
    val tasks = new LongAdder
    val taskCpuNs = new LongAdder
    val waitMs = new LongAdder
    val shuffleBytes = new LongAdder
    val writtenBytes = new LongAdder
  }

  @volatile private var active: Tracer = null

  /** Run `body` as one call into `layer`. */
  def span[T](layer: String)(body: => T): T = {
    val t = active
    if (t == null) body else t.span(layer)(body)
  }

  def install(t: Tracer): Unit = active = t
  def uninstall(): Unit = active = null
}

final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Trace._

  private val sc = spark.sparkContext
  val layers: Map[String, LayerStats] = Layers.map(_ -> new LayerStats).toMap

  // job/stage → layer, filled at job start
  private val jobLayer = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()

  val jobMs = new LongAdder        // Σ durations of attributed jobs
  val spillBytes = new LongAdder
  val planNs = new LongAdder
  val udfNodes = new LongAdder
  val nativeNodes = new LongAdder
  val bboxRewrites = new LongAdder

  /** Spans do not nest: the benchmark calls each layer directly, so a
    * span's self time is its whole duration.
    */
  def span[T](layer: String)(body: => T): T = {
    val st = layers.getOrElse(layer, sys.error(s"unknown layer $layer"))
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, layer)
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val dur = System.nanoTime() - t0
      sc.setLocalProperty(SpanProp, prev)
      st.calls.increment()
      if (!ok) st.failed.increment()
      st.selfNs.add(dur)
    }
  }

  def register(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  // ---------------------------------------------------------------- jobs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).map(_.getProperty(SpanProp)).orNull
    if (layer != null) {
      jobLayer.put(e.jobId, layer)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageLayer.put(s, layer))
      layers(layer).jobs.increment()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val layer = jobLayer.remove(e.jobId)
    if (layer != null) jobMs.add(e.time - jobStartMs.remove(e.jobId).longValue)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (stageLayer.containsKey(e.stageInfo.stageId))
      stageSubmitMs.put(e.stageInfo.stageId,
        java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stageLayer.remove(e.stageInfo.stageId)
    stageSubmitMs.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    if (layer == null) return
    val st = layers(layer)
    st.tasks.increment()
    val sub = stageSubmitMs.get(e.stageId)
    if (sub != null) st.waitMs.add(math.max(0L, e.taskInfo.launchTime - sub))
    val m = e.taskMetrics
    if (m != null) {
      st.taskCpuNs.add(m.executorCpuTime + m.executorDeserializeCpuTime)
      st.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      st.writtenBytes.add(m.outputMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  // ------------------------------------------------------------- queries

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    account(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    account(qe)

  private def account(qe: QueryExecution): Unit = {
    planNs.add(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    try {
      qe.optimizedPlan.foreach {
        case j: Join if j.condition.exists(_.references.exists(_.name.startsWith("__bb_"))) =>
          bboxRewrites.increment()
        case _ =>
      }
      leaves(qe.executedPlan).foreach(_.expressions.foreach(_.foreach {
        case _: ScalaUDF => udfNodes.increment()
        case x if x.getClass.getName.startsWith("graft.expr.") => nativeNodes.increment()
        case _ =>
      }))
    } catch { case _: Exception => () } // a plan that cannot be walked is not counted
  }

  /** Every physical node, looking through adaptive wrappers and stages. */
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other => other +: other.children.flatMap(leaves)
  }
}
