package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * UN-ZEROABLE BY CONSTRUCTION (the round-13 lesson — a driver-side
  * timeout turned a 220-green round into an empty CORRECTNESS json):
  *  - `oracle_sql.json` is written FIRST, so a truncated run still has
  *    the compare side and every already-dumped query stays checkable;
  *  - queries dump CONCURRENTLY (`SPARK_GRAFT_VERIFY_THREADS`, default
  *    min(4, cpus) — Spark's scheduler interleaves the jobs, planning
  *    overlaps execution) so the full dump fits well inside any sane
  *    harness budget;
  *  - each query runs under its own per-query wall budget
  *    (`SPARK_GRAFT_VERIFY_BUDGET_SEC`, default 240 s) enforced by job-
  *    group cancellation — one pathological query can no longer stall the
  *    whole dump past a harness timeout;
  *  - every query prints an `ok (N.Ns)` / `failed:` line as it finishes
  *    and the run ends with ONE summary line
  *    `[verify] {"dumped": N, "failed": M, "elapsed_sec": S}` — so a
  *    truncated run is visibly partial instead of silently empty.
  */
object Verify {

  /** Dev-only `--heavy`/`--light` split: the slow tail is the pipeline
    * composites + model-training queries; `--light` (everything else,
    * ~90% of queries, small fraction of the wall time) is the quick
    * inner-loop check, `--heavy` the complement. */
  private val HeavyPrefixes =
    Seq("pipeline_", "text_bpe", "sim_pq", "sim_topk_ivfpq", "sim_topk_pq",
      "graph_", "dedup_semantic", "text_dsir", "text_quality_classifier")
  private def isHeavy(name: String): Boolean = HeavyPrefixes.exists(name.startsWith)

  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev-only; the driver passes two): comma-separated
    // query names, or --heavy / --light for the split
    val (sfDir, outDir, only) = args match {
      case Array(s, o)             => (s, o, (_: String) => true)
      case Array(s, o, "--heavy")  => (s, o, (n: String) => isHeavy(n))
      case Array(s, o, "--light")  => (s, o, (n: String) => !isHeavy(n))
      case Array(s, o, f)          =>
        val set = f.split(",").toSet; (s, o, (n: String) => set.contains(n))
    }
    // lenient env parsing (`LocalSession.envCores`): a malformed value
    // degrades to the default instead of crashing the whole dump before
    // oracle_sql.json exists — re-creating the zeroed-round failure this
    // rewrite prevents would be the worst possible way to fail
    val cpus = LocalSession.envCores
    val nThreads = sys.env.get("SPARK_GRAFT_VERIFY_THREADS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(math.min(4, cpus))
    val budgetSec = sys.env.get("SPARK_GRAFT_VERIFY_BUDGET_SEC").flatMap(_.toLongOption)
      .filter(_ >= 1L).getOrElse(240L)
    val spark = LocalSession(cpus,
      Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle json FIRST: a truncated dump still leaves every finished
    // query comparable instead of zeroing the round
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val t0 = System.nanoTime()
    val work = new ConcurrentLinkedQueue[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    SparkEntry.queries.filter { case (name, _) => only(name) }
      .foreach { case (name, fn) => work.add((name, fn)) }
    val dumped = new AtomicInteger(0)
    val failed = new AtomicInteger(0)
    val watchdog = Executors.newScheduledThreadPool(1)
    val workers = (1 to nThreads).map { _ =>
      new Thread(() => {
        var next = work.poll()
        while (next != null) {
          val (name, fn) = next
          val group = s"verify-$name"
          val sc = spark.sparkContext
          val tq = System.nanoTime()
          // per-query budget: fire a job-group cancel if the query (incl.
          // any jobs its construction launches — training loops, counts)
          // outlives its wall budget; the cancel surfaces here as the
          // caught failure and the dump moves on
          val cancel = watchdog.schedule(new Runnable {
            def run(): Unit = sc.cancelJobGroup(group)
          }, budgetSec, TimeUnit.SECONDS)
          try {
            sc.setJobGroup(group, name, interruptOnCancel = true)
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            dumped.incrementAndGet()
            System.err.println(
              f"[verify] $name ok (${(System.nanoTime() - tq) / 1e9}%.1fs)")
          } catch { case e: Throwable =>
            failed.incrementAndGet()
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          } finally {
            cancel.cancel(false)
            sc.clearJobGroup()
          }
          next = work.poll()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    watchdog.shutdownNow()
    val summary = s"""{"dumped": ${dumped.get}, "failed": ${failed.get}, """ +
      f""""elapsed_sec": ${(System.nanoTime() - t0) / 1e9}%.1f}"""
    // stdout AND stderr: visible wherever the harness keeps either stream
    println(s"[verify] $summary")
    System.err.println(s"[verify] $summary")
    spark.stop()
  }
}
