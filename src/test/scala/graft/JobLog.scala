package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs a block starts. Listener events arrive
  * asynchronously but in submission order, so the block is bracketed by
  * two one-task fence jobs: recording starts when the first fence is seen
  * (earlier jobs' events are behind it) and stops at the second.
  */
object JobLog {
  private val FenceKey = "graft.test.jobLogFence"

  /** `f`'s result plus, per job it started, the names of the job's stages. */
  def of[T](spark: SparkSession)(f: => T): (T, Seq[Seq[String]]) =
    record(spark)(f) { case e: SparkListenerJobStart => e.stageInfos.map(_.name) }

  /** `f`'s result plus the name and task count of every stage it ran, in
    * completion order; stages a job skipped (their shuffle output already
    * existed) never complete and are absent. */
  def stagesOf[T](spark: SparkSession)(f: => T): (T, Seq[(String, Int)]) =
    record(spark)(f) {
      case e: SparkListenerStageCompleted => (e.stageInfo.name, e.stageInfo.numTasks)
    }

  private def record[T, E](spark: SparkSession)(f: => T)(
      pick: PartialFunction[SparkListenerEvent, E]): (T, Seq[E]) = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[E]()
    val fenceStages = ConcurrentHashMap.newKeySet[Int]()
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    def recording = opened.getCount == 0 && closed.getCount > 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(FenceKey))) match {
          case Some("open") => e.stageIds.foreach(fenceStages.add(_)); opened.countDown()
          case Some(_) => closed.countDown()
          case None => if (recording) pick.lift(e).foreach(events.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (recording && !fenceStages.contains(e.stageInfo.stageId))
          pick.lift(e).foreach(events.add)
    }
    def fence(name: String, latch: CountDownLatch): Unit = {
      sc.setLocalProperty(FenceKey, name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(FenceKey, null)
      assert(latch.await(60, TimeUnit.SECONDS), s"fence '$name' never seen")
    }
    sc.addSparkListener(listener)
    try {
      fence("open", opened)
      val r = f
      fence("close", closed)
      (r, events.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
