package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's unit tests (tests/test_metaframe.py:19-151) plus
  * pinning tests for each quirk decision in SURVEY.md §7.3. */
class MetaFrameSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  /** The reference's 22-row fixture, verbatim (test_metaframe.py:23-49);
    * `date` stays a string to match createDataFrame inference (FIXTURES.md §1). */
  private def fixture: DataFrame = {
    import spark.implicits._
    Seq(
      ("p1", 6L, "2019-12-31"), ("p2", 4L, "2019-12-31"), ("p3", 10L, "2019-12-31"),
      ("p4", 4L, "2019-12-31"), ("p5", 3L, "2019-12-31"), ("p6", 7L, "2019-12-31"),
      ("p7", 18L, "2019-12-31"), ("p8", 44L, "2019-12-31"),
      ("p1", 6L, "2020-01-01"), ("p2", 4L, "2020-01-01"), ("p3", 10L, "2020-01-01"),
      ("p4", 4L, "2020-01-01"), ("p5", 3L, "2020-01-01"), ("p6", 7L, "2020-01-01"),
      ("p7", 18L, "2020-01-01"), ("p8", 44L, "2020-01-01"),
      ("p1", 16L, "2020-01-02"), ("p2", 4L, "2020-01-02"), ("p3", 3L, "2020-01-02"),
      ("p4", 6L, "2020-01-02"), ("p5", 7L, "2020-01-02"), ("p6", 7L, "2020-01-02")
    ).toDF("product_id", "quantity", "date")
  }

  private val metadata: Map[String, Any] = Map("foo" -> "bar")

  // ------------------------------------------------ test_invent_dataframe port

  test("construction, metadata, non-callables, getitem (test_metaframe.py:19-66)") {
    val mf = MetaFrame(fixture, metadata)
    assert(mf.df.isInstanceOf[DataFrame])
    assert(mf.metadata == metadata)
    assert(mf.columns.toSeq == Seq("product_id", "quantity", "date"))
    assert(mf("product_id").toString == col("product_id").toString)
    // action passthrough returns raw (count -> Long, reference :64 uses show)
    assert(mf.count() == 22L)
    assert(mf.metadata == metadata)
  }

  test("wrap-on-transform: withColumn, select (test_metaframe.py:68-75)") {
    var mf = MetaFrame(fixture, metadata)
    mf = mf.withColumn("new_col", lit(0))
    assert(mf.metadata == metadata)
    assert(mf.columns.toSeq == Seq("product_id", "quantity", "date", "new_col"))
    mf = mf.select("product_id", "new_col")
    assert(mf.metadata == metadata)
    assert(mf.columns.toSeq == Seq("product_id", "new_col"))
  }

  test("setMetadata merge-and-replace (test_metaframe.py:77-78, metaframe.py:179-186)") {
    val mf = MetaFrame(fixture, metadata).setMetadata("foo" -> "baz")
    assert(mf.metadata == Map("foo" -> "baz"))
  }

  // ------------------------------------------------- test__set_pk_after port

  test("pk initially empty (test_metaframe.py:114-116)") {
    assert(MetaFrame(fixture, metadata).primaryKey.isEmpty)
  }

  test("pk after groupBy / groupby (test_metaframe.py:119-123)") {
    val a = MetaFrame(fixture, metadata).groupBy("date").agg(sum("quantity").alias("quantity"))
    assert(a.primaryKey.contains(Seq("date")))
    val b = MetaFrame(fixture, metadata).groupby("date").agg(sum("quantity").alias("quantity"))
    assert(b.primaryKey.contains(Seq("date")))
    // metadata carried alongside pk (quirk Q6)
    assert(a.metadata("foo") == "bar")
  }

  test("pk after dropDuplicates variants (test_metaframe.py:126-147)") {
    val mf = MetaFrame(fixture, metadata)
    assert(mf.dropDuplicates(Seq("product_id")).primaryKey.contains(Seq("product_id")))
    assert(mf.dropDuplicates("product_id").primaryKey.contains(Seq("product_id")))
    assert(mf.select("product_id").dropDuplicates().primaryKey.contains(Seq("product_id")))
    assert(mf.drop_duplicates(Seq("product_id")).primaryKey.contains(Seq("product_id")))
    assert(mf.select("product_id").drop_duplicates().primaryKey.contains(Seq("product_id")))
  }

  test("pk after distinct (test_metaframe.py:150-151)") {
    val mf = MetaFrame(fixture, metadata)
    assert(mf.select("product_id").distinct().primaryKey.contains(Seq("product_id")))
  }

  // --------------------------------------------------- quirk pinning (§7.3)

  test("Q1: groupBy(Column) does not crash and does not infer pk") {
    val g = MetaFrame(fixture, metadata).groupBy(col("date")).count()
    assert(g.primaryKey.isEmpty)
    assert(g.metadata("foo") == "bar")
  }

  test("Q2: multi-column pk preserves caller argument order") {
    val g = MetaFrame(fixture, metadata).groupBy("date", "product_id").count()
    assert(g.primaryKey.contains(Seq("date", "product_id")))
    val g2 = MetaFrame(fixture, metadata).groupBy("product_id", "date").count()
    assert(g2.primaryKey.contains(Seq("product_id", "date")))
  }

  test("Q3: no-arg groupBy -> no pk") {
    val g = MetaFrame(fixture, metadata).groupBy().agg(sum("quantity").as("q"))
    assert(g.primaryKey.isEmpty)
  }

  test("Q4: rollup/cube wrapped but no pk") {
    val r = MetaFrame(fixture, metadata).rollup("date").count()
    assert(r.primaryKey.isEmpty)
    assert(r.metadata("foo") == "bar")
    val c = MetaFrame(fixture, metadata).cube("date").count()
    assert(c.primaryKey.isEmpty)
  }

  test("Q5: no-arg dropDuplicates/distinct -> pk = all columns") {
    val mf = MetaFrame(fixture, metadata)
    assert(mf.dropDuplicates().primaryKey.contains(Seq("product_id", "quantity", "date")))
    assert(mf.distinct().primaryKey.contains(Seq("product_id", "quantity", "date")))
  }

  test("Q6: pk set on MetaGroupedData flows through agg result") {
    val gd = MetaFrame(fixture, metadata).groupBy("date")
    assert(gd.metadata(MetaFrame.PrimaryKeyField) == Seq("date"))
    val out = gd.agg(Map("quantity" -> "sum"))
    assert(out.primaryKey.contains(Seq("date")))
  }

  test("§1.2 divergence: metadata is immutable — child updates never leak to parent") {
    val parent = MetaFrame(fixture, metadata)
    val child = parent.setMetadata("extra" -> 1)
    assert(!parent.metadata.contains("extra"))
    assert(child.metadata("extra") == 1)
    // and pk inference does not mutate the parent either
    parent.groupBy("date").count()
    assert(parent.primaryKey.isEmpty)
  }

  test("binary ops keep LEFT metadata (metaframe.py:114, SURVEY §2.2c)") {
    val left = MetaFrame(fixture, Map("side" -> "left"))
    val right = MetaFrame(fixture.withColumnRenamed("quantity", "q2"), Map("side" -> "right"))
    val joined = left.join(right, Seq("product_id", "date"), "inner")
    assert(joined.metadata("side") == "left")
    val unioned = left.union(MetaFrame(fixture, Map("side" -> "right")))
    assert(unioned.metadata("side") == "left")
  }

  test("facades preserve metadata (divergence §7.3: na / randomSplit / writer)") {
    val mf = MetaFrame(fixture, metadata).withColumn("maybe", when(col("quantity") > 10, col("quantity")))
    val filled = mf.na.fill(0L)
    assert(filled.metadata == metadata)
    assert(filled.filter(col("maybe") === 0).count() > 0)
    val splits = mf.randomSplit(Array(0.5, 0.5), seed = 42L)
    assert(splits.forall(_.metadata == metadata))
    assert(mf.write.mode("overwrite").metadata == metadata)
  }

  test("stat facade: crosstab/freqItems/sampleBy keep metadata, scalars pass raw") {
    val mf = MetaFrame(fixture, metadata)
    val ct = mf.stat.crosstab("product_id", "date")
    assert(ct.metadata == metadata && ct.count() == 8)
    val fi = mf.stat.freqItems(Seq("product_id"))
    assert(fi.metadata == metadata && fi.count() == 1)
    val sb = mf.stat.sampleBy("date", Map("2019-12-31" -> 1.0, "2020-01-01" -> 0.0, "2020-01-02" -> 0.0), 7L)
    assert(sb.metadata == metadata && sb.count() == 8)
    assert(mf.stat.corr("quantity", "quantity") == 1.0)
    assert(mf.stat.approxQuantile("quantity", Array(0.5), 0.01).length == 1)
  }

  test("stat facade: bloomFilter and countMinSketch sketch builders forward raw") {
    val mf = MetaFrame(fixture, metadata)
    val bf = mf.stat.bloomFilter("product_id", 100L, 0.03)
    val present = fixture.select("product_id").distinct()
      .collect().map(_.get(0))
    assert(present.forall(bf.mightContain), "no false negatives by construction")
    assert(!bf.mightContain("definitely-not-a-product-id-zzz"))
    val cms = mf.stat.countMinSketch("product_id", depth = 5, width = 100, seed = 42)
    assert(cms.totalCount() == fixture.count())
    // CMS never under-counts
    assert(present.forall(v => cms.estimateCount(v) >= 1L))
  }

  test("transform composes through the metadata layer") {
    val mf = MetaFrame(fixture, metadata)
    val out = mf.transform(_.filter(col("quantity") > 5)).transform(_.select("product_id"))
    assert(out.metadata == metadata)
    assert(out.columns.toSeq == Seq("product_id"))
  }

  // ------------------------------ pk-aware short-circuits (SURVEY §4.3)

  test("dedup after pk-verified lineage is elided (same underlying plan)") {
    val unique = MetaFrame(fixture, metadata).groupBy("product_id").agg(sum("quantity").as("q"))
    // unique on product_id ⇒ dropDuplicates on a superset is a no-op
    val elided = unique.dropDuplicates(Seq("product_id", "q"))
    assert(elided.df eq unique.df, "shuffle-free elision expected")
    assert(elided.primaryKey.contains(Seq("product_id", "q")))
    val elided2 = unique.distinct()
    assert(elided2.df eq unique.df)
    // and the flag survives row-preserving ops
    val filtered = unique.filter(col("q") > 0)
    assert(filtered.dropDuplicates(Seq("product_id")).df eq filtered.df)
  }

  test("union invalidates the verified flag: dedup actually runs and is correct") {
    val unique = MetaFrame(fixture, metadata).groupBy("product_id").agg(sum("quantity").as("q"))
    val doubled = unique.union(unique) // duplicates every row; pk metadata stays (reference-style)
    assert(doubled.primaryKey.contains(Seq("product_id"))) // stale, like the reference
    val deduped = doubled.distinct()
    assert(!(deduped.df eq doubled.df), "must not elide after union")
    assert(deduped.count() == unique.count())
  }

  test("generators invalidate the verified flag: explode then dedup runs") {
    val unique = MetaFrame(fixture, metadata).groupBy("product_id")
      .agg(sum("quantity").as("q"))
      .withColumn("arr", array(lit(1), lit(2)))
    val exploded = unique.select(col("product_id"), explode(col("arr")).as("e"))
    val deduped = exploded.dropDuplicates(Seq("product_id"))
    assert(!(deduped.df eq exploded.df), "must not elide after explode")
    assert(deduped.count() == 8)
  }

  test("long projection chain on a verified pk stays linear (memoized plan checks)") {
    val unique = MetaFrame(fixture, metadata).groupBy("product_id").agg(sum("quantity").as("q"))
    val t0 = System.nanoTime()
    val chained = (1 to 200).foldLeft(unique)((m, i) => m.withColumn(s"c$i", lit(i)))
    val secs = (System.nanoTime() - t0) / 1e9
    // each op analyzes only its own new plan once; Spark's analyzer dominates.
    // The pre-memoization version re-walked both plans per op — a 200-op
    // chain with a verified pk must stay comfortably inside this bound.
    assert(secs < 30.0, f"200-op chain took $secs%.1fs — quadratic re-analysis suspected")
    // semantics unchanged: the flag survived the chain, dedup still elides
    assert(chained.dropDuplicates(Seq("product_id")).df eq chained.df)
    // and a pk rewrite mid-chain still drops the verified flag
    val rewritten = chained.withColumn("product_id", lit(1))
    assert(!(rewritten.dropDuplicates(Seq("product_id")).df eq rewritten.df))
  }

  test("transpose reshapes rows to columns and drops pk; withMetadata keeps it") {
    import spark.implicits._
    val mf = MetaFrame(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), Map.empty)
      .dropDuplicates(Seq("k"))
    val tr = mf.transpose()
    // the former k values become columns; metadata dict survives, proof gone
    assert(tr.df.columns.toSet == Set("key", "a", "b"))
    assert(tr.metadata.contains(MetaFrame.PrimaryKeyField))
    assert(tr.provenKey.isEmpty)
    // column-level metadata attach is row-preserving: the proof survives
    val md = new org.apache.spark.sql.types.MetadataBuilder().putString("unit", "items").build()
    val withMd = mf.withMetadata("v", md)
    assert(withMd.df.schema("v").metadata.getString("unit") == "items")
    assert(withMd.provenKey.contains(Seq("k")))
    assert(withMd.dropDuplicates(Seq("k")).df eq withMd.df) // elision still proven
  }

  test("a hand-set primary key is a claim: changing it drops the proof, keeping it does not") {
    import spark.implicits._
    val proven = MetaFrame(Seq(("a", 1L), ("b", 1L)).toDF("k", "v"), Map.empty)
      .dropDuplicates(Seq("k"))
    // v repeats, so a dedup on it must really run after the key is moved there
    val moved = proven.withPrimaryKey(Seq("v"))
    assert(moved.primaryKey.contains(Seq("v")))
    assert(moved.dropDuplicates(Seq("v")).count() == 1L)
    assert(proven.setMetadata(MetaFrame.PrimaryKeyField -> Seq("v"))
      .dropDuplicates(Seq("v")).count() == 1L)
    // other entries, or the same key again, leave the proof standing
    val tagged = proven.setMetadata("owner" -> "spec").withPrimaryKey(Seq("k"))
    assert(tagged.dropDuplicates(Seq("k")).df eq tagged.df)
  }

  test("a proven frame's metadata, toString and writers hold only the user map plus primary_key") {
    val stream = spark.readStream.format("rate").load()
    val expected = Map("owner" -> "me", MetaFrame.PrimaryKeyField -> Seq("value"))
    for (proven <- Seq(
        MetaFrame(spark.range(3).toDF("value"), Map("owner" -> "me")).dropDuplicates(Seq("value")),
        MetaFrame(stream, Map("owner" -> "me")).dropDuplicates(Seq("value")))) {
      assert(proven.provenKey.contains(Seq("value")))
      assert(proven.metadata == expected)
      assert(proven.toString == s"${proven.df} metadata: $expected")
      if (proven.isStreaming) assert(proven.writeStream.metadata == expected)
      else assert(proven.write.metadata == expected)
    }
  }

  test("re-wrapping a proven frame's metadata around a fanned-out query carries no proof") {
    import spark.implicits._
    import graft.sources.Bucketing
    val proven = MetaFrame(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), Map("owner" -> "me"))
      .dropDuplicates(Seq("k"))
    val m = proven.metadata
    proven.createOrReplaceTempView("__proof_src")
    val fanned = spark.sql("SELECT * FROM __proof_src UNION ALL SELECT * FROM __proof_src")
    fanned.createOrReplaceTempView("__proof_fanned")
    try for (rewrapped <- Seq(MetaFrame(fanned, m), fanned.meta(m),
        Bucketing.table(spark, "__proof_fanned", metadata = m))) {
      assert(rewrapped.provenKey.isEmpty)
      val deduped = rewrapped.dropDuplicates(Seq("k"))
      assert(!(deduped.df eq rewrapped.df), "a re-wrapped frame's dedup must run")
      assert(deduped.count() == 2L)
    } finally {
      spark.catalog.dropTempView("__proof_src")
      spark.catalog.dropTempView("__proof_fanned"): Unit
    }
  }

  test("a column renamed onto a pk name, or a sample with replacement, is not proven unique") {
    import spark.implicits._
    val proven = MetaFrame(Seq((1L, 7L), (2L, 7L)).toDF("a", "b"), Map.empty)
      .dropDuplicates(Seq("a"))
    val swapped = proven.withColumnRenamed("a", "t").withColumnRenamed("b", "a")
    assert(swapped.dropDuplicates(Seq("a")).count() == 1L)
    assert(proven.drop("a").withColumnsRenamed(Map("b" -> "a"))
      .dropDuplicates(Seq("a")).count() == 1L)
    val resampled = proven.sample(true, 3.0, 7L)
    assert(resampled.dropDuplicates(Seq("a")).count() == resampled.df.dropDuplicates(Seq("a")).count())
    assert(!(resampled.dropDuplicates(Seq("a")).df eq resampled.df))
    // renaming or dropping another column, or sampling without replacement, keeps the proof
    val kept = proven.withColumnRenamed("b", "c").drop("c").sample(false, 0.5, 7L)
    assert(kept.dropDuplicates(Seq("a")).df eq kept.df)
  }

  test("overload forwarders: localCheckpoint(eager), observe(Observation), show int-truncate") {
    val mf = MetaFrame(fixture, metadata)
    // lazy local checkpoint keeps metadata and truncates lineage on action
    val cp = mf.localCheckpoint(false)
    assert(cp.metadata == metadata)
    assert(cp.count() == 22L)
    // Observation-based observe: metrics surface on the handle after an action
    val obs = new org.apache.spark.sql.Observation()
    val observed = mf.observe(obs, sum(col("quantity")).as("total_qty"))
    assert(observed.metadata == metadata)
    observed.count()
    assert(obs.get("total_qty").asInstanceOf[Long] == fixture.agg(sum("quantity")).head().getLong(0))
    // int-truncate show overloads execute (console-only; no result to assert)
    mf.show(2, 5)
    mf.show(2, 5, true)
  }

  test("typed forwarders compute through encoders and stay in the metadata layer") {
    import spark.implicits._
    val mf = MetaFrame(fixture, metadata)
    // fully typed map: decode → transform → re-encode, metadata intact
    val doubled = mf.mapTyped[(String, Long, String), (String, Long)](t => (t._1, t._2 * 2))
    assert(doubled.metadata == metadata)
    assert(doubled.df.columns.toSeq == Seq("_1", "_2"))
    assert(doubled.df.where(col("_1") === "p8").head().getLong(1) == 88L)
    // typed flatMap multiplies rows
    assert(mf.flatMapTyped[(String, Long, String), String](t => Seq(t._1, t._3)).count() == 44L)
    // row-level map with explicit encoder
    assert(mf.map(r => r.getString(0)).count() == 22L)
    // typed filter: row subset, values verified
    assert(mf.filterTyped[(String, Long, String)](_._2 > 20).count() == 2L)
    // groupByKey analogue: per-key aggregation via mapGroups
    val perProduct = mf.mapGroupsTyped[(String, Long, String), String, (String, Long)](_._1)(
        (k, it) => (k, it.map(_._2).sum))
      .df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perProduct("p1") == 28L && perProduct("p8") == 88L)
    // raw typed view: explicit metadata exit (same contract as .df)
    assert(mf.asTyped[(String, Long, String)].filter(_._2 > 20).count() == 2L)
  }

  test("implicit bridge: MetaFrame usable as DataFrame, DataFrame liftable via .meta") {
    val mf = MetaFrame(fixture, metadata)
    val df: DataFrame = mf // implicit conversion (SURVEY §1.5 isinstance analogue)
    assert(df.count() == 22L)
    val lifted = fixture.meta(Map("k" -> "v"))
    assert(lifted.metadata == Map("k" -> "v"))
  }

  test("PySpark-name delegation trim: fillna/dropna/subtract/rdd/printSchema(level)") {
    val spark2 = spark
    import spark2.implicits._
    val base = Seq(("p1", Some(1L)), ("p2", None), ("p3", Some(3L)))
      .toDF("product_id", "quantity")
    val mf = MetaFrame(base, Map("source" -> "t"))
    // fillna rides the metadata-keeping na facade (reference: raw result)
    val filled = mf.fillna(0L)
    assert(filled.metadata == Map("source" -> "t"))
    assert(filled.df.filter(col("quantity") === 0L).count() == 1L)
    assert(mf.fillna(9L, Seq("quantity")).df
      .filter(col("quantity") === 9L).count() == 1L)
    // dropna only removes rows → metadata AND pk-verified flag kept
    val unique = mf.groupBy("product_id")
      .agg(org.apache.spark.sql.functions.max(col("quantity")).as("q"))
    val dropped = unique.dropna()
    assert(dropped.provenKey.contains(Seq("product_id")),
      "row-subset op keeps the pk proof, like na.drop")
    assert(mf.dropna(Seq("quantity")).count() == 2L)
    assert(mf.dropna("any").count() == 2L && mf.dropna(1).count() == 3L)
    // subtract ≡ except, metadata kept
    val other = MetaFrame(base.filter(col("product_id") === "p1"), Map.empty[String, Any])
    val sub = mf.subtract(other)
    assert(sub.count() == 2L && sub.metadata == Map("source" -> "t"))
    // raw rdd escape hatch delegates (metadata lost by construction)
    assert(mf.rdd.count() == 3L)
    // printSchema(level) overload exists and runs
    mf.printSchema(1)
    // multi-column approxQuantile through the stat facade
    val qs = mf.fillna(0L).stat.approxQuantile(
      Array("quantity", "quantity"), Array(0.5), 0.0)
    assert(qs.length == 2 && qs(0).sameElements(qs(1)))
  }
}
