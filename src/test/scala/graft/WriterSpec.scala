package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** End-to-end write path: MetaWriter roundtrips through parquet, including a
  * partitioned layout (the physical-layout tool for scale: partition pruning
  * on read). */
class WriterSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  test("MetaWriter writes parquet and the data roundtrips") {
    val dir = TestSparkSession.freshDir("writer_spec_plain")
    val li = Tables.loadMeta(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    li.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
  }

  test("metadata sidecar survives a write/read roundtrip") {
    import graft.operators.PipelineSyntax._
    import graft.sources.MetaPersist
    val dir = TestSparkSession.freshDir("writer_spec_sidecar")
    val annotated = Tables.loadMeta(spark, "/root/testdata/sf0.001", "documents")
      .dedupExact("doc_id", "text")
      .setMetadata("owner" -> "pipeline-team")
    MetaPersist.writeParquet(annotated, dir)
    val back = MetaPersist.readParquet(spark, dir)
    assert(back.count() == annotated.count())
    assert(back.primaryKey.contains(Seq("content_hash")))
    assert(back.metadata("owner") == "pipeline-team")
    // elision proofs must NOT survive persistence
    assert(back.provenKey.isEmpty)
  }

  test("MetaWriter text terminal writes line-per-row files") {
    val dir = TestSparkSession.freshDir("writer_spec_text")
    val li = Tables.loadMeta(spark, "/root/testdata/sf0.001", "region").select("r_name")
    li.write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    assert(back.count() == li.count())
    assert(back.columns.sameElements(Array("value")))
  }

  test("MetaWriter exposes the jdbc terminal (no driver in this container — contract only)") {
    // zero-egress container has no JDBC driver to connect to; pin that the
    // facade forwards to DataFrameWriter.jdbc by asserting the failure comes
    // from driver resolution, not a MissingMethod on the facade
    val li = Tables.loadMeta(spark, "/root/testdata/sf0.001", "region")
    val err = intercept[Exception] {
      li.write.mode("overwrite").jdbc("jdbc:nodb://nowhere", "t", new java.util.Properties)
    }
    // the failure must be driver resolution reaching DriverManager (i.e. the
    // call got through the facade into DataFrameWriter.jdbc), not a facade
    // defect: either the SQLException itself or Spark's wrapped error class
    val chain = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain.exists(t => t.isInstanceOf[java.sql.SQLException] ||
      Option(t.getMessage).exists(m =>
        m.contains("No suitable driver") || m.contains("CANNOT_FIND_JDBC_DRIVER"))),
      s"expected a driver-resolution failure, got: $err")
  }

  test("partitionBy layout enables partition pruning on read") {
    val dir = TestSparkSession.freshDir("writer_spec_parted")
    val li = Tables.loadMeta(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    // physical layout: one directory per flag value
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(parts.sameElements(Array("l_returnflag=A", "l_returnflag=N", "l_returnflag=R")))
    // pruned read plans a partition filter on the directory column
    // (inputFiles is pre-pruning metadata, so inspect the physical plan)
    val pruned = spark.read.parquet(dir).filter(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"))
    val all = spark.read.parquet(dir)
    assert(pruned.count() > 0 && pruned.count() < all.count())
  }

  test("MetaWriterV2 end-to-end through a real V2 catalog: create/append/overwritePartitions") {
    // the built-in session catalog creates V1 tables (writeTo append
    // refuses them), so the spec registers a true V2 TableCatalog and
    // drives the whole DSv2 write path: logical V2 plans, WriteBuilder,
    // per-task DataWriters, driver-side commit
    spark.conf.set("spark.sql.catalog.graft_testcat", classOf[TestV2Catalog].getName)
    val tbl = "graft_testcat.writer_v2_spec"
    val mf = Tables.loadMeta(spark, "/root/testdata/sf0.001", "region")
      .setMetadata("owner" -> "writer-spec")
    try {
      // fluent config wraps (metadata carried); terminal create() is raw
      val w = mf.writeTo(tbl)
        .tableProperty("graft.test", "v2")
        .option("compression", "snappy")
      assert(w.metadata("owner") == "writer-spec",
        "fluent V2 config must carry the metadata map, like MetaWriter")
      w.create()
      val n = mf.count()
      assert(spark.table(tbl).count() == n)
      // append through a fresh wrapped writer doubles the rows
      mf.writeTo(tbl).append()
      assert(spark.table(tbl).count() == 2 * n)
      // dynamic overwrite restores a single copy
      mf.writeTo(tbl).overwritePartitions()
      assert(spark.table(tbl).count() == n)
      // values round-trip through the V2 scan
      val names = spark.table(tbl).select("r_name").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(names == mf.df.select("r_name").collect().map(_.getString(0)).sorted.toSeq)
      // create() on an existing table fails loudly (catalog contract)
      intercept[Exception] { mf.writeTo(tbl).create() }
      // documented boundary: the catalog table does NOT persist the
      // metadata map — reading back yields a bare frame to re-wrap
      assert(spark.table(tbl).schema.fieldNames.sameElements(mf.df.schema.fieldNames))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
  }
}
