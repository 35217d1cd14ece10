package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** A benchmark workload: fixtures built on a fresh session, a warm-up
  * outside the timed loop, and a list of operations run one at a time
  * (closed loop). */
trait Workload {
  def setup(spark: SparkSession): Unit
  def warmup(spans: Spans): Unit
  def size: Int
  /** Runs operation `i` and returns its result as JSON. */
  def op(i: Int, spans: Spans): String
  /** Timed work the loop does between operations (seconds it took). */
  def afterOp(i: Int, spans: Spans): Double = 0.0
  def teardown(): Unit = ()
  /** Output checks after the timed loop: failed operations with a reason. */
  def check(done: Seq[Int]): Map[Int, String] = Map.empty
  def stats(done: Seq[Int]): Seq[(String, Any)] = Nil
}

final case class OpRecord(
    i: Int, latencyS: Double, startMs: Long, endMs: Long, extraS: Double,
    error: Option[String], blocksLeft: Int, ckptFilesLeft: Int)

/** Runs one workload in one JVM and writes a JSON record of the run.
  *
  * Protocol: set-up (session and fixtures) and a warm-up, together timed
  * from JVM start as `setup_s`, then the closed loop until the timed
  * seconds reach `--seconds`. With `--trace 1` the loop runs three times
  * on fresh fixtures, each on its own slice of the generated operations:
  * untraced for half the time, with spans and listeners on for the full
  * time, and untraced again for half the time. The traced loop gives the
  * per-layer metrics; its latency against the mean of the two untraced
  * loops around it, which cancels linear drift such as JIT warm-up, is
  * the tracing overhead. Output checks run after each loop,
  * outside the timed region.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainEntryNs = System.nanoTime()
    val sinceJvmStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val runDir = opts("run-dir")
    val inputs = {
      val src = Source.fromFile(opts("inputs"), "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    // the loop ends on a multiple of `block` operations, so every run
    // covers the generated mix of operations evenly
    val block = inputs.find(_.startsWith("block ")).map(_.split(' ')(1).toInt).getOrElse(1)
    val workload = workloadName match {
      case "relational" =>
        def ops(kind: String) = inputs.filter(_.startsWith(kind + " ")).map(l => Op.parse(l.drop(kind.length + 1)))
        new Relational(opts("data"), ops("op"), ops("warmup"))
      case "ingest" =>
        def ids(line: String): Seq[Long] = line.split(' ').drop(1).toSeq.map(_.toLong)
        def one(kind: String) = ids(inputs.find(_.startsWith(kind + " ")).get)
        def all(kind: String) = inputs.filter(_.startsWith(kind + " ")).map(ids)
        new IngestWorkload(opts("data"), runDir, one("seed"), one("bench"), all("warmup"),
          all("batch"), one("compact_every").head.toInt)
    }

    // ---- set-up: session, fixtures and warm-up, timed from JVM start
    val spark = session(cores, runDir)
    workload.setup(spark)
    val noSpans = new Spans(None)
    val w0 = System.nanoTime()
    workload.warmup(noSpans)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sinceJvmStartS + (System.nanoTime() - mainEntryNs) / 1e9

    // ---- timed phases
    val ckptDir = new File(s"$runDir/ckpt")
    val opsOut = new PrintWriter(new File(opts("ops-out")), "UTF-8")
    // untraced; or untraced / traced / untraced around the same operations
    val plan = if (traced) Seq(false -> seconds / 2, true -> seconds, false -> seconds / 2)
      else Seq(false -> seconds)
    // each loop takes its operations from its own slice of the generated
    // list: replaying one loop's operations in the next would find Spark's
    // code-generation caches warm and flatter the later loop
    val stride = workload.size / plan.size / block * block
    val phases = plan.zipWithIndex.map {
      case ((tracing, phaseSeconds), p) =>
        if (p > 0) {
          workload.teardown()
          workload.setup(spark)
          workload.warmup(noSpans)
        }
        val listener = if (tracing) Some(new LayerListener) else None
        val tracer = if (tracing) Some(new Tracer(spark)) else None
        val spans = new Spans(tracer)
        listener.foreach(_.register(spark))
        val records = mutable.ArrayBuffer.empty[OpRecord]
        var measured = 0.0
        var j = 0
        while ((measured < phaseSeconds || j % block != 0) && j < stride) {
          val i = p * stride + j
          tracer.foreach(_.beginOp(i))
          val startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val result =
            try Right(spans("op")(workload.op(i, spans)))
            catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          val lat = (System.nanoTime() - t0) / 1e9
          val endMs = System.currentTimeMillis()
          tracer.foreach(_.beginOp(-1))
          val extra = workload.afterOp(i, spans)
          measured += lat + extra
          // resource check after the operation returned and its result is dropped
          val blocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
          records += OpRecord(i, lat, startMs, endMs, extra, result.left.toOption, blocks,
            countFiles(ckptDir))
          opsOut.println(s"""{"phase":$p,"i":$i,"result":${result.getOrElse("null")}}""")
          j += 1
        }
        listener.foreach { l =>
          PerfbenchBridge.drainListenerBus(spark.sparkContext)
          l.unregister(spark)
        }
        val done = records.filter(_.error.isEmpty).map(_.i).toSeq
        val c0 = System.nanoTime()
        val failures =
          try workload.check(done)
          catch { case e: Exception => done.map(_ -> s"output check failed: $e").toMap }
        val stats = workload.stats(done) :+ ("check_s" -> (System.nanoTime() - c0) / 1e9)
        Phase(tracing, measured, records.toSeq, failures, stats, listener, tracer)
    }
    opsOut.close()
    workload.teardown()
    spark.stop()

    val canaryS = loadCanary()
    val layers = phases.find(_.traced).map(p =>
      Layers.derive(p, phases.filterNot(_.traced), cores, warmupS, canaryS))
    val record = Json.obj(Seq(
      "workload" -> workloadName,
      "cores" -> cores,
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "canary_s" -> canaryS,
      "peak_rss_mb" -> peakRssMb(),
      "phases" -> phases.map(p => Map(
        "traced" -> p.traced,
        "measured_s" -> p.measuredS,
        "stats" -> p.stats.toMap,
        "ops" -> p.records.map(r => Map(
          "i" -> r.i, "latency_s" -> r.latencyS, "extra_s" -> r.extraS,
          "error" -> r.error.orElse(p.failures.get(r.i)),
          "blocks_left" -> r.blocksLeft, "ckpt_files_left" -> r.ckptFilesLeft)))),
      "layers" -> layers.map(_.toMap)))
    val out = new PrintWriter(new File(opts("out")), "UTF-8")
    try out.println(record) finally out.close()
    phases.flatMap(_.tracer).headOption.foreach { t =>
      val w = new PrintWriter(new File(opts("spans-out")), "UTF-8")
      try t.all.foreach(s => w.println(Json.obj(Seq(
        "id" -> s.id, "op" -> s.opId, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
      finally w.close()
    }
  }

  def session(cores: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$runDir/ckpt")
    spark
  }

  def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(countFiles).sum
    else if (f.isFile) 1 else 0

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Machine-load canary: a fixed single-thread arithmetic loop whose wall
    * time depends only on how much CPU one thread gets. Context only. */
  def loadCanary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 28)) {
      x = java.lang.Long.rotateLeft(x * 0xBF58476D1CE4E5B9L, 31) ^ (x >>> 17)
      i += 1
    }
    if (x == 42L) System.err.println("canary collision")
    (System.nanoTime() - t0) / 1e9
  }
}

final case class Phase(
    traced: Boolean,
    measuredS: Double,
    records: Seq[OpRecord],
    failures: Map[Int, String],
    stats: Seq[(String, Any)],
    listener: Option[LayerListener],
    tracer: Option[Tracer])
