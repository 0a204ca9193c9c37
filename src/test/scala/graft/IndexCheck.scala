package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checks shared by the index specs: what a lifecycle step costs in Spark
  * jobs and what it leaves on disk. */
object IndexCheck {
  import org.scalatest.Assertions._

  /** Every file under `root` (data, checksums, sidecars) by relative path. */
  def snapshot(root: String): Map[String, Seq[Byte]] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  /** `compact` on an index whose buckets already hold one file each must
    * run no Spark job and leave every file under `root` byte-identical. */
  def assertFreeCompaction(root: String)(compact: => Unit): Unit = {
    val spark = TestSpark.spark
    val before = snapshot(root)
    val (_, jobs) = JobLog.of(spark)(compact)
    assert(jobs.isEmpty, s"compacting a compact index ran ${jobs.size} jobs: $jobs")
    val after = snapshot(root)
    assert(after.keySet == before.keySet,
      s"files changed: ${after.keySet diff before.keySet} added, " +
        s"${before.keySet diff after.keySet} removed")
    val changed = before.keys.filter(k => before(k) != after(k))
    assert(changed.isEmpty, s"compaction rewrote $changed")
  }
}
