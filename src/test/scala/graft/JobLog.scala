package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs a block starts. Listener events arrive
  * asynchronously but in submission order, so the block is bracketed by
  * two one-task fence jobs: recording starts when the first fence is seen
  * (earlier jobs' events are behind it) and stops at the second.
  */
object JobLog {
  private val FenceKey = "graft.test.jobLogFence"

  /** `f`'s result plus, per job it started, the names of the job's stages. */
  def of[T](spark: SparkSession)(f: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(FenceKey))) match {
          case Some("open") => opened.countDown()
          case Some(_) => closed.countDown()
          case None => if (opened.getCount == 0 && closed.getCount > 0)
            jobs.add(e.stageInfos.map(_.name))
        }
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
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
