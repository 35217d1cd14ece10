package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval at a layer boundary. Spans of one operation share
  * `opId`; `parent` is the id of the enclosing span, or -1. */
final case class Span(id: Int, opId: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. Spans are recorded by the
  * benchmark around its own calls into the program, never inside it. Each
  * open span also sets the Spark local property [[Tracer.LayerProperty]] so
  * the listener can tell which layer a job was started from. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private var opId = -1

  def beginOp(id: Int): Unit = opId = id

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Tracer.LayerProperty)
    open.push(id)
    sc.setLocalProperty(Tracer.LayerProperty, name)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, opId, name, parent, t0, System.nanoTime())
      open.pop()
      sc.setLocalProperty(Tracer.LayerProperty, outer)
    }
  }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  val LayerProperty = "perfbench.layer"
}

/** Runs `f` inside a span when tracing is on, and plainly when it is off. */
final class Spans(val tracer: Option[Tracer]) {
  def apply[A](name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }
}

/** Folds Spark's public listener events into counters: jobs, stages and
  * task metrics (SparkListener), Catalyst phase times
  * (QueryExecutionListener over `qe.tracker.phases`), micro-batch durations
  * (StreamingQueryListener) and RDD block sizes (block updates). */
final class LayerListener extends SparkListener {
  import LayerListener._

  val modules: Seq[String] = Seq("Corpus", "Dedup", "Ingest", "other")

  private val lock = new Object
  var jobs = 0
  var sourcesJobs = 0
  val moduleJobs: mutable.Map[String, Int] = mutable.Map.empty.withDefaultValue(0)
  val moduleTaskRunMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  private val stagesInJobs = mutable.Set.empty[Int]
  private val stagesRun = mutable.Set.empty[Int]
  private val stageModule = mutable.Map.empty[Int, String]
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** (launch, finish) wall ms of every task, for idle-core accounting. */
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  private val blockBytes = mutable.Map.empty[String, Long]
  private var rddBytes = 0L
  var peakRddBytes = 0L

  var actions = 0
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  var batches = 0
  var addBatchMs = 0L
  var triggerMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs += 1
    val props = Option(e.properties)
    if (props.flatMap(p => Option(p.getProperty(Tracer.LayerProperty))).contains("sources"))
      sourcesJobs += 1
    e.stageInfos.foreach { s =>
      stagesInJobs += s.stageId
      stageModule(s.stageId) = moduleOf(s.details)
    }
    val resultStage = e.stageInfos.maxByOption(_.stageId)
    moduleJobs(resultStage.map(s => stageModule(s.stageId)).getOrElse("other")) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val s = e.stageInfo
    stagesRun += s.stageId
    val runMs = s.taskMetrics.executorRunTime
    moduleTaskRunMs(stageModule.getOrElse(s.stageId, moduleOf(s.details))) += runMs
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val key = s"${info.blockManagerId.executorId}/${id.name}"
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        rddBytes += now - blockBytes.getOrElse(key, 0L)
        if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
        peakRddBytes = math.max(peakRddBytes, rddBytes)
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      actions += 1
      val phases = qe.tracker.phases
      analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val d = e.progress.durationMs.asScala
        d.get("addBatch").foreach { add =>
          batches += 1
          addBatchMs += add.longValue
          triggerMs += d.get("triggerExecution").map(_.longValue).getOrElse(0L)
        }
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def stagesTotal: Int = lock.synchronized(stagesInJobs.size)
  def stagesSkipped: Int = lock.synchronized(stagesInJobs.count(s => !stagesRun.contains(s)))

  /** Wall ms inside `windows` during which no task was running. */
  def noTaskMs(windows: Seq[(Long, Long)]): Long = lock.synchronized {
    val busy = mergeIntervals(taskIntervals.toSeq)
    windows.map { case (a, b) =>
      val covered = busy.map { case (s, e) => math.max(0L, math.min(b, e) - math.max(a, s)) }.sum
      (b - a) - covered
    }.sum
  }
}

object LayerListener {
  private val ModuleFrames: Seq[(String, String)] = Seq(
    "graft.operators.Corpus" -> "Corpus",
    "graft.operators.Dedup" -> "Dedup",
    "graft.streaming.Ingest" -> "Ingest")

  /** The innermost program operator module in a stage's recorded call
    * site, else "other". */
  def moduleOf(callSite: String): String =
    Option(callSite).toSeq.flatMap(_.split('\n')).map(_.trim).iterator
      .flatMap(f => ModuleFrames.collectFirst { case (p, m) if f.startsWith(p) => m })
      .nextOption()
      .getOrElse("other")

  def mergeIntervals(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
}
