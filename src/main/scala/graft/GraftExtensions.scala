package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}
import org.apache.spark.sql.graftbridge

import graft.expressions.{BpeEncode, CharClassStats, FloatVectorDot, GopherRepetition, HadamardRotate, MinHashSignature, NgramRepetition, NormalizeText, PqAdcScore, PqEncode, ShingleHashes, SimHash64, TopKAgg}

/** SQL surface for the engine's native expressions (SURVEY.md §7.4):
  * registers `float_vector_dot`, `minhash_signature`, `shingle_hashes`,
  * `simhash64`, `normalize_text`, `ngram_repetition`, `pq_encode`,
  * `pq_adc_score`, `hadamard_rotate`, `bpe_encode`, `gopher_repetition`,
  * `char_class_stats` and the
  * `top_k_by_score` aggregate so
  * `spark.sql(...)` users get the same codegen'd hot paths as the Column
  * API.
  *
  * Two entry points:
  *   - cluster deploys: `spark.sql.extensions=graft.GraftExtensions`
  *     (standard `SparkSessionExtensions` injection at session build);
  *   - an already-running session: `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case IntegerLiteral(v) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }

  private[graft] val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq[(String, ExpressionInfo, Seq[Expression] => Expression)](
    ("float_vector_dot",
      new ExpressionInfo(classOf[FloatVectorDot].getName, "float_vector_dot"),
      { args =>
        require(args.length == 2, "float_vector_dot(a, b)")
        FloatVectorDot(args(0), args(1))
      }),
    ("minhash_signature",
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      { args =>
        require(args.length == 2 || args.length == 3,
          "minhash_signature(elementHashes, numHashes[, shingleWidth])")
        val width = if (args.length == 3) intArg(args(2), "minhash_signature", 3) else 1
        MinHashSignature(args(0), intArg(args(1), "minhash_signature", 2), width)
      }),
    ("shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      { args =>
        require(args.length == 2, "shingle_hashes(tokenHashes, width)")
        ShingleHashes(args(0), intArg(args(1), "shingle_hashes", 2))
      }),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      { args =>
        require(args.length == 1, "simhash64(tokenHashes)")
        SimHash64(args(0))
      }),
    ("normalize_text",
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      { args =>
        require(args.length == 1 || args.length == 2,
          "normalize_text(text[, form])")
        val form = if (args.length == 2) args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"normalize_text: form must be a string literal, got $other")
        } else "NFC"
        NormalizeText(args(0), form)
      }),
    ("ngram_repetition",
      new ExpressionInfo(classOf[NgramRepetition].getName, "ngram_repetition"),
      { args =>
        require(args.length == 1, "ngram_repetition(gramHashes)")
        NgramRepetition(args(0))
      }),
    ("pq_encode",
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      { args =>
        require(args.length == 2 || args.length == 3,
          "pq_encode(vec, codeword_vectors[, m])")
        val m = if (args.length == 3) intArg(args(2), "pq_encode", 3) else 8
        PqEncode(args(0), args(1), m)
      }),
    ("pq_adc_score",
      new ExpressionInfo(classOf[PqAdcScore].getName, "pq_adc_score"),
      { args =>
        require(args.length == 3, "pq_adc_score(lut, codes, ksub)")
        PqAdcScore(args(0), args(1), intArg(args(2), "pq_adc_score", 3))
      }),
    ("hadamard_rotate",
      new ExpressionInfo(classOf[HadamardRotate].getName, "hadamard_rotate"),
      { args =>
        require(args.length == 1, "hadamard_rotate(vec)")
        HadamardRotate(args(0))
      }),
    ("top_k_by_score",
      new ExpressionInfo(classOf[TopKAgg].getName, "top_k_by_score"),
      { args =>
        require(args.length == 2, "top_k_by_score(struct(score, id), k)")
        TopKAgg(args(0), intArg(args(1), "top_k_by_score", 2)).toAggregateExpression()
      }),
    ("char_class_stats",
      new ExpressionInfo(classOf[CharClassStats].getName, "char_class_stats"),
      { args =>
        require(args.length == 1, "char_class_stats(text)")
        CharClassStats(args(0))
      }),
    ("gopher_repetition",
      new ExpressionInfo(classOf[GopherRepetition].getName, "gopher_repetition"),
      { args =>
        require(args.length == 2, "gopher_repetition(tokenHashes, tokenLens)")
        GopherRepetition(args(0), args(1))
      }),
    ("bpe_encode",
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      { args =>
        require(args.length == 3, "bpe_encode(tokens, lhs_array, rhs_array)")
        // the merge table is driver-side metadata: both sides must fold
        // to constant string arrays (the trained-table collect, inlined)
        def stringsArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
            pos: Int): Seq[String] = {
          require(e.foldable, s"bpe_encode: argument $pos must be a foldable " +
            "string array (the collected merge table)")
          e.eval() match {
            case a: org.apache.spark.sql.catalyst.util.ArrayData =>
              a.toObjectArray(org.apache.spark.sql.types.StringType)
                .map(v => if (v == null) null else v.toString).toSeq
            case other => throw new IllegalArgumentException(
              s"bpe_encode: argument $pos must be an array literal, got $other")
          }
        }
        val lhs = stringsArg(args(1), 2)
        val rhs = stringsArg(args(2), 3)
        require(!lhs.contains(null) && !rhs.contains(null),
          "bpe_encode: merge symbols must not be NULL")
        BpeEncode.tableDefect(lhs.zip(rhs)).foreach(d =>
          throw new IllegalArgumentException(s"bpe_encode: $d"))
        BpeEncode(args(0), lhs, rhs)
      }),
  )
  // Note: the composite Column-level helpers (langId, qualityScore, cosine…)
  // are NOT registered here — a registry builder must return a catalyst
  // Expression tree, and round-tripping a composed Column through the bridge
  // embeds unresolved column nodes the analyzer won't touch inside a
  // function builder. SQL users compose those from the builtins they wrap.

  /** Registers the functions on an existing session (temp functions, this
    * session only). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      graftbridge.registerTempFunction(spark, name, builder)
    }
}
