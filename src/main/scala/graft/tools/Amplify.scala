package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.sources.Tables

/** Scale-rehearsal data amplifier: writes an sf1-equivalent dataset derived
  * from the driver's sf0.1 tables (no sf1 testdata is shipped and
  * `/root/testdata` is read-only), `copies`× the rows with the join graph
  * preserved:
  *
  *  - fact/dim tables that scale with sf (customer, supplier, part, orders,
  *    lineitem, events): `copies` key-shifted replicas — every key column
  *    (pk and fk alike) is offset by `i * KeyStride`, so each replica joins
  *    only within itself and fan-out per key is exactly the original;
  *  - region/nation: copied once (fixed-cardinality dims, TPC-H style);
  *  - documents: doc_id shifted; the text rewrite depends on `vocabMode`:
  *      - `"bijection"` (default): for replica i>0 every whitespace token
  *        is rewritten to a 16-hex (64-bit) digest keyed by i. The token
  *        map is injective up to digest collisions — negligible at this
  *        vocabulary size (birthday bound ≈ n²/2⁶⁵) — so token counts,
  *        shingle structure and within-replica Jaccard are preserved to
  *        that approximation while replicas share ~no shingles; the
  *        near-dup workload scales linearly instead of planting every doc
  *        in a 10-way duplicate clique (which would quadratically blow up
  *        any shingle-indexed join and measure a different workload, not a
  *        bigger one). The price: replica vocabularies are DISJOINT, so an
  *        LM trained on (or frozen against) the amplified corpus scores
  *        replica tokens as unseen and a quality gate drops most amplified
  *        docs — LM-gated composites measure collapsed work, not 10× work.
  *      - `"reuse"`: replica i>0 keeps the SOURCE vocabulary but
  *        deterministically permutes each doc's token sequence (sort by
  *        md5(token, position, i) — a replica-keyed total order). The
  *        token MULTISET is unchanged, so unigram LM statistics and the
  *        gate's keep fraction match the source exactly, while n-gram
  *        locality is destroyed: two independent hash-orders of a diverse
  *        token sequence share ~no 3-gram shingles, so replicas are not
  *        near-dups of the source or of each other and dedup stages still
  *        scale linearly. Use for LM-gated composite entries; keep
  *        bijection for dedup-focused entries (disjointness is the
  *        stronger guarantee there).
  *  - embeddings: vec_id shifted; replica i's vectors are component-rotated
  *    by i positions — norms and within-replica cosines are bit-preserved,
  *    cross-replica similarity is scrambled. KeyStride is a multiple of 64
  *    so the `vec_id % 64` centroid pattern recurs per replica.
  *
  * Run: `sbt "runMain graft.tools.Amplify [outDir] [copies]"`.
  */
object Amplify {
  val KeyStride = 10000000L // > any sf0.1 key; multiple of 64

  /** Fixed dense orthogonal mixing matrix (product of `dim` Householder
    * reflections whose unit vectors come from a splitmix64 stream — pure
    * integer mixing, so the fixture is platform-independent and
    * reproduces bit-for-bit). Orthogonal by construction (each factor
    * is); `dim` iid-ish reflections make it a GENERIC (near-Haar)
    * rotation — a handful of reflections, or a correlated vector family,
    * leaves most of the space near-identity and the dominant directions
    * still axis-aligned (measured: 3 sin-family reflections only dropped
    * the skewed corpus's per-coordinate variance spread 76.5×→58.0×). */
  def mixingMatrix(dim: Int): Seq[Seq[Float]] = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    var m = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    for (k <- 0 until dim) {
      val v0 = Array.tabulate(dim)(i => splitmix(k.toLong * dim + i).toDouble / Long.MaxValue)
      val n = math.sqrt(v0.map(x => x * x).sum)
      val v = v0.map(_ / n)
      val vm = Array.tabulate(dim)(j => (0 until dim).map(r => v(r) * m(r)(j)).sum)
      m = Array.tabulate(dim, dim)((i, j) => m(i)(j) - 2.0 * v(i) * vm(j))
    }
    m.map(_.map(_.toFloat).toSeq).toSeq
  }

  /** Anisotropize an embedding column: scale the first 8 coordinates 4×
    * and the rest 0.5× (8 dominant variance directions), then mix through
    * [[mixingMatrix]] so the dominant directions are CORRELATED and
    * non-axis-aligned — the covariance structure trained OPQ exists for,
    * which the near-isotropic testdata embeddings (per-coordinate variance
    * spread 1.31×) cannot exercise. Orthogonal mixing preserves the
    * skewed corpus's cosine ranking. */
  def anisotropize(vec: org.apache.spark.sql.Column, dim: Int = 64): org.apache.spark.sql.Column = {
    import graft.operators.Similarity
    val skewed = transform(vec, (x, i) =>
      (when(i < 8, x * lit(4.0f)).otherwise(x * lit(0.5f))).cast("float"))
    Similarity.applyRotation(skewed, mixingMatrix(dim))
  }

  /** Key columns to offset per table (pk + fks, so each replica is a closed
    * join subgraph). */
  val KeyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def replica(df: DataFrame, table: String, i: Int, vocabMode: String = "bijection",
      embedMode: String = "rotate"): DataFrame = {
    val off = KeyStride * i
    val shifted = KeyCols(table).foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(off)))
    table match {
      case "documents" if i > 0 && vocabMode == "reuse" =>
        // replica-keyed deterministic permutation of the token sequence:
        // (position makes duplicate tokens' keys unique → total order)
        val keyed = transform(split(col("text"), "\\s+"),
          (t, idx) => struct(
            md5(concat_ws("#", t, idx.cast("string"), lit(i))).as("k"), t.as("t")))
        val ordered = array_sort(keyed, (l, r) =>
          when(l("k") < r("k"), -1).when(l("k") > r("k"), 1).otherwise(0))
        shifted
          .withColumn("text", array_join(transform(ordered, s => s("t")), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "documents" if i > 0 =>
        shifted
          .withColumn("text",
            array_join(
              transform(split(col("text"), "\\s+"),
                t => substring(md5(concat_ws("#", t, lit(i))), 1, 16)),
              " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        val rot = i % 64
        val rotated =
          if (i > 0) concat(slice(col("embedding"), rot + 1, 64 - rot), slice(col("embedding"), 1, rot))
          else col("embedding")
        // "mix" = the anisotropic fixture: every replica (incl. 0) skews
        // then mixes, so the whole corpus carries the correlated,
        // non-axis-aligned covariance the OPQ measurements need
        val out = if (embedMode == "mix") anisotropize(rotated) else rotated
        shifted.withColumn("embedding", out)
      case _ => shifted
    }
  }

  def amplify(spark: SparkSession, srcDir: String, outDir: String, copies: Int,
      vocabMode: String = "bijection", embedMode: String = "rotate"): Unit = {
    require(Set("bijection", "reuse").contains(vocabMode),
      s"vocabMode must be bijection or reuse, got $vocabMode")
    require(Set("rotate", "mix").contains(embedMode),
      s"embedMode must be rotate or mix, got $embedMode")
    Tables.All.foreach { table =>
      val base = Tables.load(spark, srcDir, table)
      val out =
        if (!KeyCols.contains(table)) base // region/nation: fixed dims
        else (0 until copies).map(i => replica(base, table, i, vocabMode, embedMode))
          .reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[amplify] $table ($vocabMode) -> $outDir/$table.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/scale/sf1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val vocabMode = args.lift(2).getOrElse("bijection")
    val embedMode = args.lift(3).getOrElse("rotate")
    val spark = LocalSession(32)
    amplify(spark, "/root/testdata/sf0.1", outDir, copies, vocabMode, embedMode)
    spark.stop()
  }
}
