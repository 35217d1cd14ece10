package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Corpus
import graft.sources.Tables
import graft.streaming.Ingest

/** Incremental curation with writes beside reads: seeded micro-batches of
  * documents flow from a `MemoryStream` through `Ingest.ingestCorpus`
  * against a corpus store seeded as `batch_id=-1`, which grows with every
  * accepted batch. One operation is one micro-batch: add it to the stream,
  * then wait until the query has processed it (closed loop). Every
  * `compactEvery` batches the benchmark compacts the corpus and audit
  * stores between triggers, as a single writer would.
  *
  * Inputs: the ids of the store seed, the benchmark (decontamination) set,
  * the warm-up batches and the timed batches, all chosen by the seed. */
final class IngestWorkload(
    dataDir: String,
    runDir: String,
    seedIds: Seq[Long],
    benchIds: Seq[Long],
    warmupIds: Seq[Seq[Long]],
    batchIds: IndexedSeq[Seq[Long]],
    compactEvery: Int) extends Workload {
  import IngestWorkload._

  private var spark: SparkSession = _
  private var docs: Map[Long, Doc] = Map.empty
  private var stream: MemoryStream[Doc] = _
  private var query: StreamingQuery = _
  private var bench: DataFrame = _
  private var lm: DataFrame = _
  private var storeRoot: String = _
  private var generation = 0
  /** The warm-up documents streamed into the current store. */
  private var warmedIds: Seq[Long] = _
  private var compactSec = 0.0
  private var compactBytes = 0L
  private var compactions = 0

  def corpusDir: String = s"$storeRoot/corpus"
  def auditDir: String = s"$storeRoot/audit"

  def setup(session: SparkSession): Unit = {
    spark = session
    import session.implicits._
    // a fresh store and stream per set-up; the previous ones are not read again
    Seq(s"$runDir/store-$generation", s"$runDir/stream-$generation")
      .foreach(d => deleteRecursively(new File(d)))
    generation += 1
    storeRoot = s"$runDir/store-$generation"
    compactSec = 0.0; compactBytes = 0L; compactions = 0
    docs = Tables.load(spark, dataDir, "documents")
      .select("doc_id", "text", "source", "lang").collect()
      .map(r => r.getLong(0) -> Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toMap
    val seed = seedIds.map(docs).toDF()
    // frozen artifacts, held on the driver so no operation re-derives them
    val counts = Corpus.lmCounts(seed, "text")
    lm = spark.createDataFrame(counts.collect().toSeq.asJava, counts.schema)
    bench = benchIds.map(docs).toDF().select(col("id").as("doc_id"), col("text"))
    seed.write.mode("overwrite").parquet(s"$corpusDir/batch_id=-1")
    stream = MemoryStream[Doc](spark)
    query = Ingest.ingestCorpus(
      stream.toDF().withColumnRenamed("id", "doc_id"), corpusDir, auditDir, bench, lm,
      "doc_id", "text", "source", "lang",
      checkpointDir = s"$runDir/stream-$generation", trigger = Trigger.ProcessingTime(0),
      minTokens = MinTokens, maxTopNgramFrac = MaxTopNgramFrac,
      maxDupNgramFrac = MaxDupNgramFrac, maxAvgNll = MaxAvgNll)
  }

  /** All warm-up batches the first time; once the JVM is warm, a fresh
    * stream needs only its first batch. */
  def warmup(spans: Spans): Unit = {
    val batches = if (warmedIds == null) warmupIds else warmupIds.take(1)
    batches.foreach(feed)
    warmedIds = batches.flatten
  }

  def size: Int = batchIds.size

  def op(i: Int, spans: Spans): String = {
    spans("streaming")(feed(batchIds(i)))
    Json.obj(Seq("docs" -> batchIds(i).size))
  }

  private def feed(ids: Seq[Long]): Unit = {
    stream.addData(ids.map(docs))
    query.processAllAvailable()
  }

  override def afterOp(i: Int, spans: Spans): Double =
    if ((i + 1) % compactEvery != 0) 0.0
    else {
      compactBytes += duBytes(new File(storeRoot))
      val t0 = System.nanoTime()
      spans("compact") {
        Ingest.compactStore(spark, corpusDir)
        Ingest.compactAuditStore(spark, auditDir)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      compactSec += sec
      compactions += 1
      sec
    }

  override def teardown(): Unit = if (query != null) { query.stop(); query = null }

  /** The invariants each operation must keep, checked once the stream has
    * stopped: every input id is audited exactly once in its own batch, the
    * store holds exactly the seed plus the audit's accepted ids, and the
    * last batch's audit equals a plain `Ingest.assembleMicroBatch` over the
    * store as it stood before that batch. Returns the failed operations. */
  override def check(done: Seq[Int]): Map[Int, String] = {
    teardown()
    val audit = spark.read.parquet(auditDir)
      .select("id", "batch_id", "keep").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getBoolean(2)))
    val idBatches = audit.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSeq }
    val batchIdsOf = audit.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1).toSeq.sorted }
    val failures = scala.collection.mutable.Map.empty[Int, String]
    done.foreach { i =>
      val ids = batchIds(i).sorted
      ids.flatMap(idBatches.getOrElse(_, Nil)).distinct match {
        case Seq(b) if batchIdsOf(b) == ids && ids.forall(idBatches.getOrElse(_, Nil).size == 1) =>
        case _ => failures(i) = s"the audit does not list the ${ids.size} inputs once each in one batch"
      }
    }
    val store = spark.read.parquet(corpusDir).select("id").collect().map(_.getLong(0)).toSeq
    val expected = seedIds ++ audit.filter(_._3).map(_._1)
    if (store.sorted != expected.sorted)
      done.foreach(i => failures.getOrElseUpdate(i, "store ids differ from seed + accepted ids"))
    done.lastOption.filterNot(failures.contains).foreach { last =>
      val b = idBatches(batchIds(last).head).head
      val before = spark.read.parquet(corpusDir).filter(col("batch_id") =!= b).drop("batch_id")
      val session = spark
      import session.implicits._
      val replay = Ingest.assembleMicroBatch(
        batchIds(last).map(docs).toDF(), before, bench, lm,
        "id", "text", "source", "lang",
        minTokens = MinTokens, maxTopNgramFrac = MaxTopNgramFrac,
        maxDupNgramFrac = MaxDupNgramFrac, maxAvgNll = MaxAvgNll)
      val cols = Seq("id", "source", "lang", "n_tokens", "drop_stage", "keep", "split")
      def rows(df: DataFrame): Seq[String] =
        df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
      if (rows(replay) != rows(spark.read.parquet(auditDir).filter(col("batch_id") === b)))
        failures(last) = "last batch audit differs from a plain assembleMicroBatch"
    }
    failures.toMap
  }

  override def stats(done: Seq[Int]): Seq[(String, Any)] = {
    val timedIds = done.flatMap(batchIds).toSet
    val audit = spark.read.parquet(auditDir).select("id", "keep").collect()
      .filter(r => timedIds.contains(r.getLong(0)))
    val inputText = (seedIds ++ warmedIds ++ done.flatMap(batchIds)).map(id =>
      docs(id).text.getBytes("UTF-8").length.toLong).sum
    val storeBytes = duBytes(new File(storeRoot))
    Seq(
      "docs" -> done.map(batchIds(_).size).sum,
      "store_bytes" -> storeBytes,
      "store_docs" -> spark.read.parquet(corpusDir).count(),
      "seed_docs" -> seedIds.size,
      "input_text_bytes" -> inputText,
      "store_bytes_per_doc_byte" -> storeBytes.toDouble / inputText,
      "accept_frac" -> (if (audit.isEmpty) 0.0 else audit.count(_.getBoolean(1)).toDouble / audit.length),
      "compactions" -> compactions,
      "compact_s" -> compactSec,
      "compact_bytes" -> compactBytes)
  }
}

object IngestWorkload {
  final case class Doc(id: Long, text: String, source: String, lang: String)

  // the pipeline_ingest_batch gate settings
  val MinTokens = 20L
  val MaxTopNgramFrac = 0.10
  val MaxDupNgramFrac = 0.15
  val MaxAvgNll = 3.60

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def duBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(duBytes).sum
    else if (f.isFile) f.length
    else 0L
}
