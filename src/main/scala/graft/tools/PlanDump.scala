package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkEntry}
import graft.sources.Tables

/** Dev tool (r18 optimization round): dump `.explain("formatted")` output for
  * declared queries AND the bench-only query shapes to one file per query —
  * the `plans/r18/<name>_{before,after}.txt` evidence the optimization rounds
  * commit. Declared-query names resolve through [[SparkEntry.queries]];
  * the ten headline bench shapes (which exist only inside Bench.main) are
  * replicated here under their bench row names, as are the ops-row
  * compositions.
  *
  * Run: `runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>`.
  */
object PlanDump {

  /** The Bench.main headline shapes + ops compositions, by bench row name. */
  private def benchShapes(
      spark: SparkSession, sfDir: String): Map[String, () => DataFrame] = {
    def t(name: String) = Tables.loadMeta(spark, sfDir, name)
    import graft.operators.{Events, Graph, Retrieval, Similarity}
    Map(
      "q1_filter_project" -> (() =>
        t("lineitem").filter(col("l_quantity") > 25)
          .select("l_orderkey", "l_partkey", "l_quantity").df),
      "q2_groupby_agg" -> (() =>
        t("lineitem").groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity")).as("sum_qty"),
            avg(col("l_extendedprice")).as("avg_price"),
            count(lit(1)).as("n")).df),
      "q3_join_agg" -> (() =>
        t("orders")
          .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
          .groupBy("o_orderpriority")
          .agg(sum(col("l_extendedprice")).as("sum_price")).df),
      "q4_dropdup" -> (() => t("lineitem").dropDuplicates(Seq("l_orderkey")).df),
      "q5_window_topk" -> (() => {
        val w = Window.partitionBy(col("l_returnflag")).orderBy(desc("l_extendedprice"))
        t("lineitem").withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5).df
      }),
      "q6_sort_limit" -> (() => t("orders").orderBy(desc("o_totalprice")).limit(10).df),
      "q7_distinct" -> (() => t("lineitem").select("l_suppkey").distinct().df),
      "q8_union_agg" -> (() => {
        val a = t("customer").select(col("c_custkey").as("key"))
        val b = t("supplier").select(col("s_suppkey").as("key"))
        a.union(b).groupBy("key").count().df
      }),
      "q9_profit_shape" -> (() =>
        t("lineitem")
          .join(t("part"), col("l_partkey") === col("p_partkey"), "inner")
          .join(t("supplier"), col("l_suppkey") === col("s_suppkey"), "inner")
          .join(t("nation"), col("s_nationkey") === col("n_nationkey"), "inner")
          .join(t("orders"), col("l_orderkey") === col("o_orderkey"), "inner")
          .withColumn("o_year", year(col("o_orderdate")))
          .groupBy("n_name", "o_year")
          .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("profit")).df),
      "q18_volume_shape" -> (() => {
        val big = t("lineitem").groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 300)
        big.join(t("orders"), col("l_orderkey") === col("o_orderkey"), "inner")
          .join(t("customer"), col("o_custkey") === col("c_custkey"), "inner")
          .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
          .orderBy(desc("sum_qty"), col("o_orderkey"))
          .limit(100).df
      }),
      "ops_session_stats" -> (() =>
        Events.sessionStats(t("events").df, "user_id", "ts", "event_id",
          "event_type", gapSeconds = 14400)),
      "ops_funnel" -> (() =>
        Events.funnel(t("events").df, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))),
      "ops_bm25" -> (() => {
        val docs = t("documents").df
        val qs = docs.filter(col("doc_id") % 100 === 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), "\\s+"), 1, 5), " ").as("qtext"))
        Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 5)
      }),
      "ops_copurchase" -> (() =>
        Graph.coOccurrence(t("lineitem").df, "l_orderkey", "l_partkey",
          minPairCount = 2, maxBasketSize = 5)),
      "ops_triangles" -> (() => {
        val pairs = Graph.coOccurrence(t("lineitem").df, "l_orderkey",
            "l_partkey", minPairCount = 1, maxBasketSize = 5)
          .select(col("item_a"), col("item_b"))
        Graph.triangles(pairs, "item_a", "item_b", inputNormalized = true)
      }),
      "ops_hybrid_rrf" -> (() => {
        val docs = t("documents").df
        val emb = t("embeddings").df
        val qs = docs.filter(col("doc_id") % 100 === 3)
          .select(col("doc_id").as("qid"),
            array_join(slice(split(col("text"), "\\s+"), 1, 5), " ").as("qtext"))
        val dq = emb.filter(col("vec_id") % 100 === 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        val sparse = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
          .select("query_id", "rank", "doc_id")
        val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            dq, "query_id", "query_vec", k = 10)
          .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
        Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
      }))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    val spark = LocalSession(LocalSession.envCores, logLevel = "ERROR")
    Files.createDirectories(Paths.get(outDir))
    val bench = benchShapes(spark, sfDir)
    names.foreach { name =>
      val df =
        if (bench.contains(name)) bench(name)()
        else SparkEntry.queries(name)(spark, sfDir)
      // queryExecution.explainString is what .explain("formatted") prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
