package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.JobPar

class JobParSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("an interrupted run waits for every thunk, rethrows the interrupt " +
      "and re-asserts the flag") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(2)
    val finished = new ConcurrentLinkedQueue[Int]()
    @volatile var outcome: Option[Throwable] = None
    @volatile var finishedAtReturn = -1
    @volatile var flagAtReturn = false
    val caller = new Thread(() => {
      // the pool threads inherit the group, so the test can cancel the
      // slow jobs the interrupted thunks leave behind
      sc.setJobGroup("jobpar-spec", "interrupt test", interruptOnCancel = true)
      try JobPar.run((0 until 2).map { i => () =>
        try {
          started.countDown()
          sc.parallelize(1 to 2, 2).map { x => Thread.sleep(5000); x }.count()
          ()
        } finally {
          // a slow finally: a run that returned early would miss it
          val t0 = System.nanoTime()
          while (System.nanoTime() - t0 < 300000000L) Thread.onSpinWait()
          finished.add(i)
        }
      }: _*)
      catch { case e: Throwable => outcome = Some(e) }
      finishedAtReturn = finished.size
      flagAtReturn = Thread.currentThread().isInterrupted
    })
    try {
      caller.start()
      assert(started.await(60, TimeUnit.SECONDS))
      Thread.sleep(500) // both jobs are running
      caller.interrupt()
      caller.join(120000)
      assert(!caller.isAlive, "run never returned")
      assert(outcome.exists(_.isInstanceOf[InterruptedException]),
        s"run must rethrow the interrupt, got $outcome")
      assert(finishedAtReturn == 2, "run returned while a thunk still ran")
      assert(flagAtReturn, "the caller's interrupt flag must be set again")
    } finally sc.cancelJobGroup("jobpar-spec")
  }
}
