package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft._
import graft.sources.Tables

/** Dev tool: dump formatted physical plans for the bench-critical queries so
  * pushdown / broadcast / window-group-limit behavior is inspectable.
  * Run: `sbt "runMain graft.tools.Explain [sfDir]"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(4)
    def t(name: String): MetaFrame = Tables.loadMeta(spark, sfDir, name)

    println("=== q1 filter+project (expect PushedFilters + pruned ReadSchema)")
    t("lineitem").filter(col("l_quantity") > 25)
      .select("l_orderkey", "l_partkey", "l_quantity").explain("formatted")

    println("=== q3 join+agg (expect broadcast of orders)")
    t("orders").join(t("lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
      .groupBy("o_orderpriority").agg(sum(col("l_extendedprice")).as("s")).explain("formatted")

    println("=== q5 window topk (expect WindowGroupLimit)")
    val w = Window.partitionBy(col("l_returnflag")).orderBy(desc("l_extendedprice"))
    t("lineitem").withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).explain("formatted")

    println("=== flagship 6-table join (expect broadcasts for dims, no BNLJ)")
    graft.queries.RelationalQueries.flagshipQueries("tpch_q5_local_supplier_volume")(spark, sfDir)
      .explain("formatted")

    println("=== binned range join (expect equi join on __bin, not BNLJ)")
    val bands = t("customer").df.groupBy("c_nationkey")
      .agg(min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
    graft.operators.RangeJoin.pointInInterval(
        t("supplier").df.select(col("s_suppkey"), col("s_acctbal")),
        "s_acctbal", bands, "lo", "hi", binWidth = 1000.0)
      .explain("formatted")

    spark.stop()
  }
}
