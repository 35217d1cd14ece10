package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck laws for the metadata algebra (SURVEY.md §5.2 item 3).
  * Plan-only properties — no Spark jobs run, so many cases are cheap. */
object MetadataLawsSpec extends Properties("MetadataLaws") {

  private lazy val spark = TestSparkSession.spark

  private lazy val base: DataFrame = {
    import spark.implicits._
    Seq(("a", 1L, "x"), ("b", 2L, "y"), ("c", 3L, "x")).toDF("k1", "v", "k2")
  }

  private val metaGen: Gen[Map[String, Any]] =
    Gen.mapOf(Gen.zip(Gen.identifier, Gen.oneOf[Any](Gen.alphaStr, Gen.long, Gen.posNum[Int])))

  private val keysGen: Gen[Seq[String]] =
    Gen.atLeastOne(Seq("k1", "v", "k2")).map(_.toSeq)

  property("setMetadata is right-biased map union") =
    Prop.forAll(metaGen, metaGen) { (m1, m2) =>
      MetaFrame(base, m1).setMetadata(m2.toSeq: _*).metadata == m1 ++ m2
    }

  property("groupBy(ks).agg.primaryKey == Some(ks); other metadata survives") =
    Prop.forAll(keysGen, metaGen) { (ks, m) =>
      val out = MetaFrame(base, m).groupBy(ks.head, ks.tail: _*).agg(Map("v" -> "max"))
      out.primaryKey.contains(ks) && out.metadata == m + (MetaFrame.PrimaryKeyField -> ks)
    }

  property("dropDuplicates(ks).primaryKey == Some(ks)") =
    Prop.forAll(keysGen) { ks =>
      MetaFrame(base, Map.empty).dropDuplicates(ks).primaryKey.contains(ks)
    }

  property("child transformations never mutate the parent's metadata") =
    Prop.forAll(metaGen) { m =>
      val parent = MetaFrame(base, m)
      parent.setMetadata("mutant" -> 1)
      parent.groupBy("k1").count()
      parent.distinct()
      parent.metadata == m
    }

  property("wrap-closure: forwarders carry metadata unchanged") =
    Prop.forAll(metaGen) { m =>
      val mf = MetaFrame(base, m)
      mf.select("k1").metadata == m &&
        mf.filter(col("v") > 0).metadata == m &&
        mf.withColumn("w", lit(1)).metadata == m &&
        mf.orderBy("k1").metadata == m &&
        mf.limit(1).metadata == m
    }

  property("typed forwarders carry metadata; row functions drop the pk proof") =
    Prop.forAll(metaGen) { m =>
      import spark.implicits._
      val mf = MetaFrame(base, m)
      val meta = mf.metadata
      // every typed path stays inside the metadata layer...
      mf.map(r => r.getString(0)).metadata == meta &&
        mf.flatMap(r => Seq(r.getString(0))).metadata == meta &&
        mf.mapTyped[(String, Long, String), String](_._1).metadata == meta &&
        mf.flatMapTyped[(String, Long, String), String](t => Seq(t._1)).metadata == meta &&
        mf.filterTyped[(String, Long, String)](_._2 > 0).metadata == meta &&
        mf.mapGroupsTyped[(String, Long, String), String, (String, Long)](_._3)(
          (k, it) => (k, it.size.toLong)).metadata == meta &&
        // ...and none of the row-identity-changing ops keeps a proof
        mf.dropDuplicates(Seq("k1")).map(r => r.getString(0)).provenKey.isEmpty &&
        mf.dropDuplicates(Seq("k1")).mapTyped[(String, Long, String), String](_._1)
          .provenKey.isEmpty
    }

  property("typed filter is a row subset: the verified pk proof survives it alone") = {
    import spark.implicits._
    Prop.forAll(keysGen) { ks =>
      val keyed = MetaFrame(base, Map.empty).dropDuplicates(ks) // proves + verifies ks
      val filtered = keyed.filterTyped[(String, Long, String)](_._2 > 0)
      val mapped = keyed.mapTyped[(String, Long, String), (String, Long, String)](identity)
      // subset keeps the proof (typed filter never reserializes, so even the
      // column names survive): a later dedup on the same key elides...
      filtered.primaryKey.contains(ks) &&
        (filtered.dropDuplicates(ks).df eq filtered.df) &&
        // ...but an identity-typed MAP is still an arbitrary row function —
        // it re-encodes (tuple columns _1/_2/_3) and the PROOF is dropped:
        // deduplicating the new schema must really run
        mapped.provenKey.isEmpty &&
        !(mapped.dropDuplicates(Seq("_1")).df eq mapped.df)
    }
  }

  property("view boundary (deliberate): spark.sql over a registered view drops metadata") =
    Prop.forAll(metaGen) { m =>
      val mf = MetaFrame(base, m)
      mf.createOrReplaceTempView("__laws_view_boundary")
      try {
        // the catalog registers only the PLAN — sql() returns a bare frame,
        // so the metadata map and pk cannot round-trip (the reference has
        // the identical hole: its router registers and its sql is raw);
        // the documented recovery is the explicit re-wrap
        val back = spark.sql("SELECT * FROM __laws_view_boundary")
        back.isInstanceOf[DataFrame] &&
          MetaFrame(back, mf.metadata).metadata == m
      } finally spark.catalog.dropTempView("__laws_view_boundary"): Unit
    }
}
