package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Layout
import graft.sources.Tables

/** Z-order layout: the z-value must be the exact Morton interleave of the
  * integer-exact value-range buckets (pinned vs a driver-side
  * recomputation), and [[Layout.cluster]] must actually deliver the
  * multi-column file locality that justifies the rewrite. */
class LayoutSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  private def df2(rows: (Long, Long, Long)*) = {
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("id", "x", "y")
  }

  /** Driver twin of the operator's bucket + interleave arithmetic. */
  private def zRef(x: Long, minX: Long, maxX: Long,
      y: Long, minY: Long, maxY: Long, bits: Int): Long = {
    val nb = 1L << bits
    val bx = ((x - minX) * nb) / (maxX - minX + 1)
    val by = ((y - minY) * nb) / (maxY - minY + 1)
    (0 until bits).map { i =>
      (((bx >> i) & 1L) << (i * 2)) + (((by >> i) & 1L) << (i * 2 + 1))
    }.sum
  }

  test("zval equals the driver-side Morton reference on every row") {
    val rows = for (x <- 0L to 16L; y <- Seq(0L, 3L, 7L, 100L, 255L))
      yield (x * 1000 + y, x, y)
    val got = Layout.withZValue(df2(rows: _*), Seq("x", "y"), bitsPerCol = 4)
      .select("id", "zval").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (xs, ys) = (rows.map(_._2), rows.map(_._3))
    rows.foreach { case (id, x, y) =>
      val want = zRef(x, xs.min, xs.max, y, ys.min, ys.max, 4)
      assert(got(id) == want, s"id=$id x=$x y=$y: got ${got(id)}, want $want")
    }
  }

  test("NULL values bucket to 0; constant column buckets to 0") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, Some(5L), 7L), (2L, None, 7L), (3L, Some(9L), 7L))
      .toDF("id", "x", "y")
    val got = Layout.withZValue(df, Seq("x", "y"), bitsPerCol = 3)
      .select("id", "zval").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // y is constant → its buckets are all 0; NULL x → bucket 0 → zval 0
    assert(got(2L) == 0L)
    assert(got(1L) == zRef(5L, 5L, 9L, 0L, 0L, 0L, 3))
  }

  test("non-integral columns and over-wide bit budgets are rejected") {
    val df = df2((1L, 2L, 3L)).withColumn("d", col("x").cast("double"))
    intercept[IllegalArgumentException] {
      Layout.withZValue(df, Seq("d"), bitsPerCol = 4)
    }
    intercept[IllegalArgumentException] {
      Layout.withZValue(df, Seq("x", "y"), bitsPerCol = 32)
    }
  }

  test("cluster delivers tight per-file ranges on BOTH zorder columns") {
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val out = TestSparkSession.freshDir("graft_zorder")
    Layout.cluster(li, Seq("l_partkey", "l_suppkey"), numPartitions = 16)
      .write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    def avgFileSpanFrac(c: String): Double = {
      val global = back.agg(min(col(c)).cast("double"),
        max(col(c)).cast("double")).head()
      val span = global.getDouble(1) - global.getDouble(0)
      val rows = back.groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("s"))
        .agg(avg(col("s"))).head()
      rows.getDouble(0) / span
    }
    val fx = avgFileSpanFrac("l_partkey")
    val fy = avgFileSpanFrac("l_suppkey")
    // a random/hash layout puts ~the full value range in every file
    // (fraction ≈ 1.0); z-order must tighten BOTH dimensions at once
    assert(fx < 0.5, s"l_partkey per-file span fraction $fx not clustered")
    assert(fy < 0.5, s"l_suppkey per-file span fraction $fy not clustered")
    // and the rewrite must not lose or duplicate rows
    assert(back.count() == li.count())
  }

  test("withZValue plans no exchange beyond the 1-row bounds broadcast") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val plan = Layout.withZValue(li, Seq("l_partkey", "l_suppkey"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"z-value must be row-local:\n$plan")
  }
}
