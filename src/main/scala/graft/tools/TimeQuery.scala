package graft.tools

import graft.{LocalSession, SparkEntry}

/** Dev-only single-query timer: noop-writes each named declared query N
  * times against a testdata dir and prints per-run wall seconds — for
  * isolating one operator's cost without the full Bench protocol.
  *
  * Run: `runMain graft.tools.TimeQuery <sfDir> <q1,q2,...> [runs]`. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val spark = LocalSession(LocalSession.envCores)
    // optional extra session confs: k=v,k=v in arg 3
    args.lift(3).foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (0 until runs + 1).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // first run is warm-up; print it separately
      println(f"[time] $name warm=${times.head}%.3f " +
        times.tail.map(t => f"$t%.3f").mkString("runs=[", ", ", "]"))
    }
    spark.stop()
  }
}
