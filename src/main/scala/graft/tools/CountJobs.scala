package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{LocalSession, SparkEntry}

/** Dev-only Spark-job counter (r19): noop-writes each named declared query
  * once (after one untimed warm pass) with a listener counting jobs and
  * completed stages — the evidence for per-round job-count claims in the
  * iterative operators (connectedComponents, kCore), which plan dumps
  * cannot show because each round is its own action.
  *
  * Run: `runMain graft.tools.CountJobs <sfDir> <q1,q2,...>`. */
object CountJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = LocalSession(LocalSession.envCores)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      spark.sparkContext.addSparkListener(listener)
      jobs.set(0); stages.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobs] $name jobs=${jobs.get} stages=${stages.get} sec=$sec%.3f")
    }
    spark.stop()
  }
}
