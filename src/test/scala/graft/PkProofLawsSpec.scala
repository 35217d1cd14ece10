package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Soundness of MetaFrame's own uniqueness proof: over random forwarder
  * chains (hand-set keys and public re-wraps of a frame's metadata
  * included) on a small frame with duplicate rows, an
  * elided `dropDuplicates` never returns more rows than the real one. Each
  * case runs Spark jobs, so the case count is capped. */
object PkProofLawsSpec extends Properties("PkProofLaws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(50)

  private lazy val spark = TestSparkSession.spark

  private val cols = Seq("a", "b", "c")

  private val rowsGen: Gen[Seq[(Long, Long, String)]] =
    Gen.choose(1, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 3L), Gen.oneOf("x", "y"))))

  private val keyGen: Gen[Seq[String]] = Gen.atLeastOne(cols).map(_.toSeq)
  private val numColGen: Gen[String] = Gen.oneOf("a", "b")

  private type Step = (MetaFrame, DataFrame) => MetaFrame

  /** One chain step over the current frame and the raw base frame; every
    * step keeps the column names a, b, c (a join may reorder them, so
    * steps refer to columns by name only). */
  private val stepGen: Gen[Step] = Gen.oneOf[Step](
    Gen.choose(0L, 3L).map(t => (m: MetaFrame, _: DataFrame) => m.filter(col("b") >= t)),
    Gen.const((m: MetaFrame, _: DataFrame) => m.select(m.columns.toSeq.map(col): _*)),
    numColGen.map(c => (m: MetaFrame, _: DataFrame) => m.withColumn(c, col(c) % 2)),
    Gen.zip(numColGen, Gen.oneOf(true, false)).map { case (k, grouped) =>
      (m: MetaFrame, base: DataFrame) =>
        val right =
          if (grouped) MetaFrame(base).groupBy(k).agg(count(lit(1)).as("n")).select(k)
          else MetaFrame(base.select(k))
        m.join(right, Seq(k))
    },
    Gen.const((m: MetaFrame, base: DataFrame) =>
      m.union(MetaFrame(base.select(m.columns.toSeq.map(col): _*)))),
    Gen.const((m: MetaFrame, base: DataFrame) => // re-wrap the metadata around a fan-out
      MetaFrame(m.df.union(base.select(m.columns.toSeq.map(col): _*)), m.metadata)),
    Gen.const((m: MetaFrame, _: DataFrame) => m.select(m.columns.toSeq.map(c =>
      if (c == "c") explode(array(col("c"), col("c"))).as("c") else col(c)): _*)),
    Gen.const((m: MetaFrame, _: DataFrame) => // swap a and b by renaming
      m.withColumnRenamed("a", "t").withColumnRenamed("b", "a").withColumnRenamed("t", "b")),
    Gen.choose(1, 10).map(n => (m: MetaFrame, _: DataFrame) => m.limit(n)),
    Gen.choose(0L, 9L).map(seed => (m: MetaFrame, _: DataFrame) => m.sample(true, 1.5, seed)),
    keyGen.map(k => (m: MetaFrame, _: DataFrame) => m.dropDuplicates(k)),
    keyGen.map(k => (m: MetaFrame, _: DataFrame) => m.withPrimaryKey(k)),
    Gen.const((m: MetaFrame, _: DataFrame) => m.distinct()))

  private val chainGen: Gen[Seq[Step]] = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, stepGen))

  property("an elided dropDuplicates returns the rows a real one does") =
    Prop.forAllNoShrink(rowsGen, Gen.option(keyGen), chainGen, keyGen) {
      (rows, start, steps, k) =>
        import spark.implicits._
        val base = rows.toDF("a", "b", "c")
        val init = start.fold(MetaFrame(base))(MetaFrame(base).dropDuplicates(_))
        // pinned once, so a limit or a shuffle reads the same rows both times
        val mf = steps.foldLeft(init)((m, f) => f(m, base)).persist()
        try (k +: mf.primaryKey.toSeq).forall(key =>
          mf.dropDuplicates(key).count() == mf.df.dropDuplicates(key).count())
        finally mf.unpersist()
    }
}
