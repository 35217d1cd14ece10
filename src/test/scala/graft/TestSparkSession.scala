package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM (mirrors the
  * reference's single `local[4]` session at test_metaframe.py:17). */
object TestSparkSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // reliable-checkpoint mode for the whole test JVM: the iterative
    // operators (connected components, fixpoint refinement) then exercise
    // the REAL file-backed checkpoint path — including freeCheckpoint's
    // file deletion — instead of the executor-local fallback, exactly the
    // mode a preemptible 1000-executor cluster would run in
    s.sparkContext.setCheckpointDir("target/test-checkpoints")
    s
  }

  /** `body`'s result and the number of Spark jobs it started on this thread
    * (jobs are tagged with a job group unique to the call). */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "jobsDuring")
    try {
      val result = body
      org.apache.spark.sql.graftbridge.drainListenerBus(spark)
      (result, jobs.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
