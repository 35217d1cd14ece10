package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge

import graft.{LocalSession, SparkEntry}

/** Dev-only per-query profiler: noop-writes each named declared query once
  * untimed (warm-up), then `runs` timed times (default 3), and prints every
  * timed run's wall seconds with the Spark jobs and completed stages it ran,
  * frame construction included — the evidence for job-count claims
  * (iterative rounds, pins), which plan dumps cannot show because each
  * round is its own action. An optional `k=v,...` argument sets session
  * confs first.
  *
  * Run: `runMain graft.tools.Profile <sfDir> <q1,q2,...> [runs] [k=v,...]`. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val spark = LocalSession(LocalSession.envCores)
    args.lift(3).foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      (1 to runs).foreach { run =>
        graftbridge.drainListenerBus(spark)
        jobs.set(0); stages.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        graftbridge.drainListenerBus(spark)
        println(f"[profile] $name run=$run sec=$sec%.3f jobs=${jobs.get} stages=${stages.get}")
      }
    }
    spark.stop()
  }
}
