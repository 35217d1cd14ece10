package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem under the `failfs` scheme, with one injected
  * fault: the N-th creation of a reliable-checkpoint directory (`rdd-<id>`)
  * throws, once armed. Spark creates that directory on the driver at the
  * start of every reliable checkpoint, before any task writes, so the
  * fault lands deterministically between two materializations of an
  * iterative operator — the earlier rounds and loop-invariant frames are
  * live, nothing of the failing one exists yet. */
class FailingCheckpointFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failfs:///")

  override def mkdirs(p: Path): Boolean = { fault(p); super.mkdirs(p) }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    fault(p)
    super.mkdirs(p, permission)
  }

  // tasks writing their partition files mkdirs the same (existing)
  // directory again: only its creation counts
  private def fault(p: Path): Unit =
    if (p.getName.startsWith("rdd-") && !exists(p) &&
        FailingCheckpointFs.countdown.decrementAndGet() == 0)
      throw new java.io.IOException(s"injected checkpoint failure at $p")
}

object FailingCheckpointFs {
  private val countdown = new AtomicInteger(0)

  /** Runs `body` with the session's checkpoint dir moved onto `failfs`
    * (same local directory), the `n`-th checkpoint failing; the original
    * local checkpoint dir is restored afterwards. */
  def failingNth[T](spark: org.apache.spark.sql.SparkSession, dir: java.io.File, n: Int)(
      body: => T): T = {
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.failfs.impl", classOf[FailingCheckpointFs].getName)
    sc.hadoopConfiguration.setBoolean("fs.failfs.impl.disable.cache", true)
    countdown.set(n)
    sc.setCheckpointDir("failfs://" + dir.getAbsolutePath)
    try body finally {
      countdown.set(0)
      sc.setCheckpointDir(dir.getPath)
    }
  }
}
