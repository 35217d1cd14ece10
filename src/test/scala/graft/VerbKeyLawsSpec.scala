package graft

import java.sql.Timestamp
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Checks, Classifier, Corpus, Events, PipelineSyntax}
import graft.operators.PipelineSyntax._

/** One key-rule law for every [[PipelineSyntax]] verb. Each row names a
  * verb, a builder over small fixtures, and the key rule the verb declares;
  * every row runs over every parent shape (proven; keyed or unkeyed, with
  * unique or duplicate ids; proven but empty), and each other input also
  * takes the keyed-duplicate shape. Each case checks that
  *   - `primaryKey` and `provenKey` are what the rule gives for those shapes;
  *   - the last `lineage` entry is the verb's op, after the parent's lineage;
  *   - a dedup on the claimed key returns the rows a real one does (and is
  *     elided exactly when the key is proven).
  * On `Claimed` and `PerRow` rows a duplicate id in a named input must
  * really repeat an output key, so the law cannot pass vacuously. */
class VerbKeyLawsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSparkSession.spark

  // ------------------------------------------------------------ key rules

  /** The key rule a verb declares, with inputs named by role ("parent" or
    * the name of another input). */
  private sealed trait Rule
  private final case class Unique(cols: String*) extends Rule
  private case object SameAsParent extends Rule
  private final case class PerRow(cols: Seq[String], inputs: String*) extends Rule
  private final case class Claimed(cols: Seq[String], inputs: String*) extends Rule
  private case object NoKey extends Rule

  /** How an input frame is presented: its key state and its rows. */
  private final case class Shape(name: String, keyed: Boolean, proven: Boolean,
      dup: Boolean, empty: Boolean = false)
  private val Proven = Shape("proven", keyed = true, proven = true, dup = false)
  private val KeyedDup = Shape("keyed-dup", keyed = true, proven = false, dup = true)
  private val ParentShapes = Seq(Proven,
    Shape("keyed-unique", keyed = true, proven = false, dup = false), KeyedDup,
    Shape("unkeyed-unique", keyed = false, proven = false, dup = false),
    Shape("unkeyed-dup", keyed = false, proven = false, dup = true),
    Shape("empty", keyed = true, proven = true, dup = false, empty = true))

  /** A fixture and the id column its keyed shapes are keyed on; the
    * duplicate-id rows default to every row twice. */
  private final case class In(df: () => DataFrame, id: String,
      dupDf: Option[() => DataFrame] = None)

  private final case class Row(verb: String, op: String, rule: Rule, parent: In,
      inputs: Map[String, In] = Map.empty)(
      val build: (MetaFrame, Map[String, MetaFrame]) => MetaFrame)

  private val seedLineage = Seq(Map("op" -> "seed", "params" -> Map.empty))

  /** The unique shapes share the proven frame's rows; only the key state
    * differs. */
  private def frame(in: In, s: Shape): MetaFrame = {
    val rows =
      if (s.empty) in.df().limit(0)
      else if (s.dup) in.dupDf.fold(in.df().union(in.df()))(_())
      else in.df()
    val meta = Map[String, Any]("owner" -> "law", "lineage" -> seedLineage)
    val proven = MetaFrame(rows, meta).dropDuplicates(Seq(in.id))
    if (s.proven) proven
    else {
      val m = MetaFrame(if (s.dup) rows else proven.df, meta)
      if (s.keyed) m.withPrimaryKey(Seq(in.id)) else m
    }
  }

  /** (primaryKey, provenKey) the rule gives for the input shapes. */
  private def expected(rule: Rule, parentId: String,
      shapes: Map[String, Shape]): (Option[Seq[String]], Option[Seq[String]]) = {
    def claim(cols: Seq[String], proven: Boolean) = (Some(cols), Some(cols).filter(_ => proven))
    rule match {
      case Unique(cols @ _*) => claim(cols, proven = true)
      case SameAsParent if shapes("parent").keyed =>
        claim(Seq(parentId), shapes("parent").proven)
      case PerRow(cols, ins @ _*) if ins.forall(shapes(_).keyed) =>
        claim(cols, ins.forall(shapes(_).proven))
      case Claimed(cols, ins @ _*) =>
        claim(cols, ins.nonEmpty && ins.forall(shapes(_).proven))
      case _ => (None, None)
    }
  }

  /** Runs one case and returns the output's schema. */
  private def check(row: Row, shapes: Map[String, Shape]): StructType = {
    val label = s"${row.verb} ${shapes.toSeq.sortBy(_._1).map { case (r, s) => s"$r=${s.name}" }
      .mkString(" ")}"
    val out = row.build(frame(row.parent, shapes("parent")),
      row.inputs.map { case (r, in) => r -> frame(in, shapes(r)) }).persist()
    try {
      val (pk, proven) = expected(row.rule, row.parent.id, shapes)
      assert(out.primaryKey == pk, s"$label: primaryKey")
      assert(out.provenKey == proven, s"$label: provenKey")
      val lineage = out.metadata("lineage").asInstanceOf[Seq[Map[String, Any]]]
      assert(lineage.init == seedLineage && lineage.last("op") == row.op, s"$label: lineage")
      assert(out.metadata("owner") == "law", s"$label: parent metadata")
      // rows and distinct keys in one job (groupBy groups NULLs as a dedup does)
      val (rows, keys) = pk.fold((out.df.count(), 0L)) { k =>
        val r = out.df.groupBy(k.map(col): _*).count()
          .agg(coalesce(sum("count"), lit(0L)), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      if (!shapes("parent").empty) assert(rows > 0, s"$label: the fixture yields no rows")
      pk.foreach { k =>
        val deduped = out.dropDuplicates(k)
        assert((deduped.df eq out.df) == proven.isDefined, s"$label: elision")
        // an elided dedup must return the rows a real one does (one that
        // runs is the real one)
        if (proven.isDefined) assert(deduped.count() == keys, s"$label: dedup on the claimed key")
        val repeats = row.rule match {
          case PerRow(_, ins @ _*) => ins.exists(shapes(_).dup)
          case Claimed(_, ins @ _*) => ins.exists(shapes(_).dup)
          case _ => false
        }
        if (repeats) assert(rows > keys, s"$label: a duplicate id must repeat an output key")
      }
      out.df.schema
    } finally out.unpersist()
  }

  /** Cases run three at a time: most of a case is driver-side planning and
    * job scheduling over tiny data. */
  private lazy val pool = ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(3))

  override def afterAll(): Unit = pool.shutdown()

  /** Every parent shape with the other inputs proven, then each other
    * input keyed with duplicate ids under a proven parent. The empty
    * parent's result has the schema of the proven one. */
  private def runRow(row: Row): Unit = {
    val allProven = (row.inputs.keySet + "parent").map(_ -> Proven).toMap
    val cases = ParentShapes.map(s => allProven + ("parent" -> s)) ++
      row.inputs.keys.map(r => allProven + (r -> KeyedDup))
    val schemas = Await.result(
      Future.traverse(cases)(c => Future(check(row, c))(pool))(implicitly, pool), 10.minutes)
    def fields(i: Int) = schemas(i).fields.map(f => f.name -> f.dataType).toSeq
    assert(fields(ParentShapes.indexWhere(_.empty)) == fields(0),
      s"${row.verb}: empty-parent schema")
  }

  // ------------------------------------------------------------- fixtures

  private def local[A <: Product : scala.reflect.runtime.universe.TypeTag](
      rows: Seq[A], cols: String*): DataFrame =
    spark.createDataFrame(rows).toDF(cols: _*)

  private val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"

  // docs 1/2 identical, 3 a one-word edit of 1, 4/5 unrelated, 6 with NULL text
  private lazy val docs: DataFrame = local(Seq(
    (1L, base, "s0", "en", 0.9, 14, 1L),
    (2L, base, "s0", "de", 0.8, 14, 1L),
    (3L, base.replace("quiet", "noisy"), "s1", "en", 0.7, 14, 0L),
    (4L, "completely different content about database query engines and columnar storage",
      "s1", "de", 0.4, 11, 0L),
    (5L, "spark catalyst optimizer pushes filters below joins for scan pruning wins\n" +
      "contact me at someone@example.com", "s2", "en", 0.2, 16, 1L),
    (6L, null, "s2", "de", 0.1, 0, 0L)),
    "doc_id", "text", "source", "lang", "q", "nt", "label")
  /** Each doc twice, the second copy one character longer, so an operator
    * that collapses identical rows still sees two rows per id. */
  private def twice(df: DataFrame, textCol: String): DataFrame =
    df.union(df.withColumn(textCol, concat(col(textCol), lit("!"))))
  private lazy val docIn = In(() => docs, "doc_id", Some(() => twice(docs, "text")))
  /** Other text inputs, keyed by their own id. */
  private lazy val benchIn = In(() => docs.filter(col("doc_id") === 1L), "doc_id")
  private lazy val newerIn = In(() => docs.filter(col("doc_id") =!= 4L)
    .withColumn("text", when(col("doc_id") === 2L, lit("edited")).otherwise(col("text"))),
    "doc_id")
  private lazy val counts = Corpus.lmCounts(docs, "text")
  private lazy val countsIn = In(() => counts, "term")
  private lazy val merges = Corpus.bpeTrain(docs, "text", 2)
  private lazy val mergesIn = In(() => merges, "merge_rank")
  private lazy val model = Classifier.trainLogistic(docs, "doc_id", "text", "label",
    dim = 16, iters = 1)

  private lazy val others = local(Seq((7L, base), (8L, base.replace("fox", "fix"))),
    "oid", "otext")
  private lazy val otherIn = In(() => others, "oid", Some(() => twice(others, "otext")))

  private def ts(t: String) = Timestamp.valueOf(t)
  private lazy val events: DataFrame = local(Seq(
    (1L, 1L, ts("2024-01-01 00:00:00"), "view"),
    (2L, 1L, ts("2024-01-01 00:01:00"), "click"),
    (3L, 2L, ts("2024-01-01 00:02:00"), "view"),
    (4L, 2L, ts("2024-01-01 03:00:00"), "click")),
    "event_id", "user_id", "ts", "event_type")
  private lazy val eventIn = In(() => events, "event_id")
  private lazy val sessionStore = Events.sessionStore(events.filter(col("event_id") <= 2L),
    "user_id", "ts", "event_id", 1800)
  private lazy val sessionStoreIn = In(() => sessionStore, "user_id")

  private lazy val basketIn = In(() => local(Seq(
    (1L, 1L, "a"), (2L, 1L, "b"), (3L, 2L, "a"), (4L, 2L, "b"), (5L, 3L, "a")),
    "rid", "basket", "item"), "rid")
  private lazy val edgeIn = In(() => local(Seq((1L, 1L, 2L), (2L, 2L, 3L), (3L, 3L, 1L)),
    "eid", "s", "t"), "eid")

  private lazy val vecs: DataFrame = local(Seq(
    (11L, Seq(1.0f, 0.01f)), (12L, Seq(0.01f, 1.0f))), "vec_id", "embedding")
  private lazy val storeVecIn = In(() => local(Seq(
    (1L, Seq(1.0f, 0f)), (2L, Seq(0f, 1.0f))), "vec_id", "embedding"), "vec_id")
  private lazy val centroidIn = In(() => local(Seq(
    (0L, Seq(1.0f, 0f)), (1L, Seq(0f, 1.0f))), "cell", "cvec"), "cell")

  private lazy val quotesIn = In(() => local(Seq(
    ("a", ts("2024-01-01 00:00:10")), ("b", ts("2024-01-01 00:00:20"))), "k", "lts"), "k")
  private lazy val ticksIn = In(() => local(Seq(
    (1L, "a", ts("2024-01-01 00:00:05"), 1.0), (2L, "b", ts("2024-01-01 00:00:15"), 2.0)),
    "rid", "k", "rts", "px"), "rid")

  private lazy val ranked: DataFrame = local(Seq((9L, 1, 1L), (9L, 2, 3L), (8L, 1, 2L)),
    "query_id", "rank", "doc_id")
  private lazy val otherRankedIn = In(() => local(Seq((9L, 1, 3L), (9L, 2, 4L)),
    "query_id", "rank", "doc_id"), "doc_id")
  private lazy val queries = local(Seq((9L, "quick fox"), (8L, "query engines")), "qid", "qtext")
  private lazy val queriesIn = In(() => queries, "qid", Some(() => twice(queries, "qtext")))

  private lazy val rows: Seq[Row] = Seq(
    Row("dedupExact", "dedup_exact", Unique("content_hash"), docIn)(
      (p, _) => p.dedupExact("doc_id", "text")),
    Row("dedupMinHash", "dedup_minhash_lsh", Unique("doc_id"), docIn)(
      (p, _) => p.dedupMinHash("doc_id", "text")),
    Row("fuzzyEditPairs", "fuzzy_edit_pairs", Claimed(Seq("id_a", "id_b"), "parent"), docIn)(
      (p, _) => p.fuzzyEditPairs("doc_id", "text", 2)),
    Row("fuzzyEditJoin", "fuzzy_edit_join", Claimed(Seq("id_a", "id_b"), "parent", "other"),
      docIn, Map("other" -> otherIn))(
      (p, in) => p.fuzzyEditJoin("doc_id", "text", in("other"), "oid", "otext", 2)),
    Row("coOccurrenceOf", "co_occurrence", Unique("item_a", "item_b"), basketIn)(
      (p, _) => p.coOccurrenceOf("basket", "item", minPairCount = 1L)),
    Row("trianglesOf", "triangles", Unique("id"), edgeIn)((p, _) => p.trianglesOf("s", "t")),
    Row("entityResolved", "entity_resolve", Claimed(Seq("doc_id"), "parent"), docIn)(
      (p, _) => p.entityResolved("doc_id", "text", 2)),
    Row("asOfJoinBackward", "join_asof_backward", SameAsParent, quotesIn,
      Map("right" -> ticksIn))(
      (p, in) => p.asOfJoinBackward(in("right"), "k", "lts", "rts", Seq("px"))),
    Row("rangeJoinPointInInterval", "join_range_binned", NoKey,
      In(() => local(Seq((1L, 1.0), (2L, 5.0)), "pid", "p"), "pid"),
      Map("intervals" -> In(() => local(Seq((1L, 0.0, 2.0)), "iid", "lo", "hi"), "iid")))(
      (p, in) => p.rangeJoinPointInInterval(in("intervals"), "p", "lo", "hi", 1.0)),
    Row("dedupIncremental", "dedup_incremental", Claimed(Seq("id"), "parent"), docIn,
      Map("corpus" -> benchIn))(
      (p, in) => p.dedupIncremental(in("corpus"), "doc_id", "text")),
    Row("splitByHash", "split_hash", SameAsParent, docIn)((p, _) => p.splitByHash("doc_id", "s1")),
    Row("decontaminateAgainst", "decontaminate", PerRow(Seq("id"), "parent"), docIn,
      Map("benchmark" -> benchIn))(
      (p, in) => p.decontaminateAgainst(in("benchmark"), "doc_id", "text")),
    Row("stratifiedSampleBy", "stratified_sample", SameAsParent, docIn)(
      (p, _) => p.stratifiedSampleBy("lang", "doc_id", "s1", k = 1)),
    Row("qualityGateAgainst", "quality_gate_frozen", PerRow(Seq("id"), "parent"), docIn,
      Map("counts" -> countsIn))(
      (p, in) => p.qualityGateAgainst(in("counts"), "doc_id", "text", minTokens = 5L)),
    Row("assembleIngestBatch", "ingest_batch", PerRow(Seq("id"), "parent"), docIn,
      Map("corpus" -> benchIn, "benchmark" -> benchIn, "lmCounts" -> countsIn))(
      (p, in) => p.assembleIngestBatch(in("corpus"), in("benchmark"), in("lmCounts"),
        "doc_id", "text", "source", "lang")),
    Row("diffAgainst", "corpus_diff", PerRow(Seq("id"), "parent", "newer"), docIn,
      Map("newer" -> newerIn))((p, in) => p.diffAgainst(in("newer"), "doc_id", "text")),
    Row("repetitionStats", "repetition_stats", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.repetitionStats("doc_id", "text")),
    Row("dropRepeatedBlocks", "drop_repeated_blocks", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.dropRepeatedBlocks("doc_id", "text")),
    Row("lmScore", "lm_score", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.lmScore("doc_id", "text")),
    Row("lmScoreBigram", "lm_score_bigram", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.lmScoreBigram("doc_id", "text")),
    Row("qualityGate", "quality_gate", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.qualityGate("doc_id", "text", minTokens = 12L)),
    Row("tfidfTopTerms", "tfidf_top_terms", Unique("id", "rank"), docIn)(
      (p, _) => p.tfidfTopTerms("doc_id", "text", k = 2)),
    Row("capPerGroup", "cap_per_group", SameAsParent, docIn)(
      (p, _) => p.capPerGroup("lang", "q", "doc_id", cap = 1)),
    Row("assembleCorpus", "corpus_assembly", PerRow(Seq("id"), "parent"), docIn,
      Map("benchmark" -> benchIn))(
      (p, in) => p.assembleCorpus(in("benchmark"), "doc_id", "text", "source", "lang")),
    Row("lineDeduped", "line_dedup", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.lineDeduped("doc_id", "text")),
    Row("spanDeduped", "span_dedup", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.spanDeduped("doc_id", "text", spanLen = 4)),
    Row("c4Filtered", "c4_line_filter", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.c4Filtered("doc_id", "text")),
    Row("vocabCovered", "vocab_coverage", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.vocabCovered("doc_id", "text")),
    Row("packedSequences", "pack_sequences", Unique("shard", "seq_id", "start_in_seq"), docIn)(
      (p, _) => p.packedSequences("doc_id", "text", seqLen = 16, shardCol = "lang")),
    Row("bpeTrained", "bpe_train", Unique("merge_rank"), docIn)(
      (p, _) => p.bpeTrained("text", nMerges = 2)),
    Row("bpeSegmented", "bpe_segment", PerRow(Seq("id"), "parent"), docIn,
      Map("merges" -> mergesIn))((p, in) => p.bpeSegmented(in("merges"), "doc_id", "text")),
    Row("gopherRuled", "gopher_rules", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.gopherRuled("doc_id", "text")),
    Row("scoreBucketedBy", "score_buckets_by", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.scoreBucketedBy("lang", "doc_id", "q")),
    Row("ccnetTiered", "ccnet_tiers", PerRow(Seq("id"), "parent"), docIn,
      Map("counts" -> countsIn))(
      (p, in) => p.ccnetTiered(in("counts"), "doc_id", "text", "lang")),
    Row("qualityProfiled", "quality_profile", PerRow(Seq("id"), "parent"), docIn,
      Map("counts" -> countsIn))((p, in) => p.qualityProfiled(in("counts"), "doc_id", "text")),
    Row("charStatted", "char_stats", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.charStatted("doc_id", "text")),
    Row("gopherRepetitionRuled", "gopher_repetition", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.gopherRepetitionRuled("doc_id", "text")),
    Row("piiRedacted", "pii_redact_audited", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.piiRedacted("doc_id", "text")),
    Row("epochMixed", "epoch_mix", PerRow(Seq("doc_id"), "parent"), docIn)(
      (p, _) => p.epochMixed("doc_id", "source", "t", budget = 60L, maxEpochs = 2)),
    Row("curateCorpus", "corpus_curation", PerRow(Seq("id"), "parent"), docIn,
      Map("benchmark" -> benchIn))(
      (p, in) => p.curateCorpus(in("benchmark"), "doc_id", "text", "source", spanLen = 4)),
    Row("annotateText", "annotate_text", SameAsParent, docIn)((p, _) => p.annotateText("text")),
    Row("semanticDedupedAgainst", "semantic_dedup_incremental", PerRow(Seq("id"), "parent"),
      In(() => vecs, "vec_id"), Map("store" -> storeVecIn, "centroids" -> centroidIn))(
      (p, in) => p.semanticDedupedAgainst(in("store"), "vec_id", "embedding",
        in("centroids"), "cell", "cvec", threshold = 0.95)),
    Row("tokenBudgetSelected", "token_budget_select", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.tokenBudgetSelected("doc_id", "q", "nt", budget = 30L)),
    Row("softQualitySampled", "soft_quality_sample", PerRow(Seq("id"), "parent"), docIn)(
      (p, _) => p.softQualitySampled("doc_id", "q", tau = 0.9)),
    Row("sessionizedBy", "sessionize", PerRow(Seq("event_id"), "parent"), eventIn)(
      (p, _) => p.sessionizedBy("user_id", "ts", "event_id", 1800)),
    Row("sessionizedIncrementally", "sessionize_incremental",
      PerRow(Seq("event_id"), "parent"),
      In(() => events.filter(col("event_id") > 2L), "event_id"),
      Map("store" -> sessionStoreIn))(
      (p, in) => p.sessionizedIncrementally(in("store"), "user_id", "ts", "event_id", 1800)),
    Row("scd2Applied", "scd2_apply", NoKey, newerIn,
      Map("dim" -> In(() => Corpus.scd2Init(docs, "doc_id", Seq("text"), 1L), "id")))(
      (p, in) => p.scd2Applied(in("dim"), "doc_id", Seq("text"), 2L)),
    Row("sessionStatsOf", "session_stats", Unique("user_id", "session_idx"), eventIn)(
      (p, _) => p.sessionStatsOf("user_id", "ts", "event_id", "event_type", 1800)),
    Row("funnelOf", "funnel", Unique("user_id"), eventIn)(
      (p, _) => p.funnelOf("user_id", "ts", "event_type", Seq("view", "click"))),
    Row("checked", "dq_check", Claimed(Seq("check_name")), docIn)(
      (p, _) => p.checked(Seq(Checks.NotNull("text"), Checks.InRange("doc_id", 0, 10)))),
    Row("snapshotDiffAgainst", "snapshot_diff", PerRow(Seq("id"), "parent", "newer"), docIn,
      Map("newer" -> newerIn))(
      (p, in) => p.snapshotDiffAgainst(in("newer"), "doc_id", Seq("text"))),
    Row("canaryScanned", "canary_scan", PerRow(Seq("id", "canary"), "parent"), docIn)(
      (p, _) => p.canaryScanned("doc_id", "text", Seq("quick", "spark"))),
    Row("pageRankedInt", "pagerank_int", Unique("id"), edgeIn)(
      (p, _) => p.pageRankedInt("s", "t", iterations = 2)),
    Row("logisticTrained", "logistic_train", Unique("f"), docIn)(
      (p, _) => p.logisticTrained("doc_id", "text", "label", dim = 16, iters = 1)),
    Row("logisticScored", "logistic_score", PerRow(Seq("id"), "parent"), docIn,
      Map("model" -> In(() => model, "f")))(
      (p, in) => p.logisticScored(in("model"), "doc_id", "text", dim = 16)),
    Row("bm25TopKOf", "bm25_topk", Unique("query_id", "rank"), docIn,
      Map("queries" -> queriesIn))(
      (p, in) => p.bm25TopKOf("doc_id", "text", in("queries"), "qid", "qtext", k = 3)),
    Row("rrfFuseWith", "rrf_fuse", Unique("query_id", "rank"), In(() => ranked, "doc_id"),
      Map("others" -> otherRankedIn))((p, in) => p.rrfFuseWith(Seq(in("others")), k = 3)))

  test("every public PipelineSyntax verb has exactly one law row") {
    val verbs = classOf[PipelineSyntax.PipelineMetaFrame].getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) && !m.isSynthetic &&
        !m.getName.contains("$"))
      .map(_.getName).toSet -- Set("hashCode", "equals", "toString")
    val named = rows.map(_.verb)
    assert(named.distinct.size == named.size, "a verb has two rows")
    assert(named.toSet == verbs,
      s"rows without a verb: ${named.toSet -- verbs}; verbs without a row: ${verbs -- named}")
  }

  rows.foreach(row => test(s"key-rule law: ${row.verb}")(runRow(row)))
}
