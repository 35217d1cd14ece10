package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.MetaFrame
import graft.sources.Tables

/** The paper's surface: the ten `graft.Bench` query shapes with seeded
  * parameters. Each operation loads its tables through `Tables.loadMeta`
  * (span `sources`), builds its frame through `MetaFrame` (span
  * `metaframe`, which encloses the loads) and runs one action (span
  * `action`). The result is returned as JSON for the oracle compare. */
final class Relational(dataDir: String, ops: IndexedSeq[Op], warmups: IndexedSeq[Op])
    extends Workload {

  private var spark: SparkSession = _

  /** Resolves every table once, so the session is ready to serve. */
  def setup(session: SparkSession): Unit = {
    spark = session
    Relational.TableNames.foreach(Tables.load(spark, dataDir, _))
  }
  private var warmed = false

  /** Both warm-up blocks the first time; once the JVM is warm, a later
    * phase of the traced run needs only one. */
  def warmup(spans: Spans): Unit = {
    (if (warmed) warmups.take(warmups.size / 2) else warmups).foreach(op => run(op, spans))
    warmed = true
  }
  def size: Int = ops.size
  def op(i: Int, spans: Spans): String = run(ops(i), spans)

  private def run(op: Op, spans: Spans): String = {
    def t(name: String): MetaFrame = spans("sources")(Tables.loadMeta(spark, dataDir, name))
    val (frame, collect) = spans("metaframe")(build(op, t))
    spans("action") {
      if (collect) Json.rows(frame.collect(), frame.df.columns.toSeq, frame.primaryKey)
      else Json.count(frame.count(), frame.primaryKey)
    }
  }

  /** The frame and whether the action collects it (else counts it). */
  private def build(op: Op, t: String => MetaFrame): (MetaFrame, Boolean) = op.shape match {
    case "q1_filter_project" =>
      (t("lineitem").filter(col("l_quantity") > op.double("t"))
        .select("l_orderkey", "l_partkey", "l_quantity"), false)
    case "q2_groupby_agg" =>
      val keys = op.list("keys")
      (t("lineitem").filter(col("l_discount") <= op.double("d"))
        .groupBy(keys.head, keys.tail: _*)
        .agg(sum(col("l_quantity")).as("sum_qty"),
          avg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("n")), true)
    case "q3_join_agg" =>
      (t("orders").filter(col("o_totalprice") > op.double("p"))
        .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
        .groupBy(op("key"))
        .agg(sum(col("l_extendedprice")).as("sum_price")), true)
    case "q4_dropdup" =>
      (t("lineitem").filter(col("l_shipdate") >= lit(op("since")).cast("timestamp"))
        .dropDuplicates(Seq(op("key"))), false)
    case "q5_window_topk" =>
      val w = Window.partitionBy(col(op("pkey"))).orderBy(desc("l_extendedprice"))
      (t("lineitem").filter(col("l_quantity") <= op.double("q"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= op.int("k"))
        .select(col(op("pkey")), col("rn"), col("l_extendedprice")), true)
    case "q6_sort_limit" =>
      (t("orders").filter(col("o_orderstatus") === op("status"))
        .orderBy(desc("o_totalprice")).limit(op.int("k"))
        .select("o_totalprice"), true)
    case "q7_distinct" =>
      (t("lineitem").filter(col("l_linenumber") <= op.int("maxline"))
        .select(op("col")).distinct(), false)
    case "q8_union_agg" =>
      val a = t("customer").filter(col("c_acctbal") > op.double("a"))
        .select(col("c_custkey").as("key"))
      val b = t("supplier").filter(col("s_acctbal") > op.double("a"))
        .select(col("s_suppkey").as("key"))
      (a.union(b).groupBy("key").count(), false)
    case "q9_profit_shape" =>
      (t("lineitem")
        .join(t("part").filter(col("p_size") <= op.int("size")),
          col("l_partkey") === col("p_partkey"), "inner")
        .join(t("supplier"), col("l_suppkey") === col("s_suppkey"), "inner")
        .join(t("nation"), col("s_nationkey") === col("n_nationkey"), "inner")
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"), "inner")
        .withColumn("o_year", year(col("o_orderdate")))
        .groupBy("n_name", "o_year")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("profit")), true)
    case "q18_volume_shape" =>
      val big = t("lineitem").groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > op.double("t"))
      (big.join(t("orders"), col("l_orderkey") === col("o_orderkey"), "inner")
        .join(t("customer"), col("o_custkey") === col("c_custkey"), "inner")
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(desc("sum_qty"), col("o_orderkey"))
        .limit(op.int("limit")), true)
    case other => throw new IllegalArgumentException(s"unknown shape $other")
  }
}

object Relational {
  val TableNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
}

/** One generated operation: a shape name and its parameters, read from a
  * line `shape key=value ...` (list values are comma-separated). */
final case class Op(shape: String, params: Map[String, String]) {
  def apply(k: String): String = params(k)
  def double(k: String): Double = params(k).toDouble
  def int(k: String): Int = params(k).toInt
  def list(k: String): Seq[String] = params(k).split(',').toSeq
}

object Op {
  def parse(line: String): Op = {
    val parts = line.trim.split("\\s+")
    Op(parts.head, parts.tail.map { kv =>
      val i = kv.indexOf('=')
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap)
  }
}

/** Minimal JSON writer for operation results and the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case t: java.sql.Timestamp => str(t.toLocalDateTime.toString)
    case t: java.time.LocalDateTime => str(t.toString)
    case t: java.time.Instant => str(t.toString)
    case d: java.sql.Date => str(d.toString)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def rows(rs: Array[Row], cols: Seq[String], pk: Option[Seq[String]]): String =
    obj(Seq("cols" -> cols, "rows" -> rs.map(_.toSeq).toSeq, "pk" -> pk))

  def count(n: Long, pk: Option[Seq[String]]): String = obj(Seq("count" -> n, "pk" -> pk))
}
