package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE application for production merge tables.
  *
  * [[graft.operators.Corpus.bpeSegment]] compiles the trained table into a
  * chain of `nMerges` codegen'd `replace` calls — exact and
  * oracle-derivable, but the EXPRESSION TREE grows linearly with the
  * vocabulary: at the 8–256 merges the declared oracles pin it is ideal;
  * at a production 32k-merge table the projection has 32k nested calls
  * (codegen blows past the JIT method limit and falls back to an
  * interpreted 32k-deep tree, with every word walking all 32k patterns).
  * This expression holds the collected merge table as plain driver-side
  * metadata instead (the same bounded-artifact pattern as the ANN centroid
  * collect) and applies it per word with the standard rank-priority loop:
  * find the lowest-rank adjacent pair present, merge all its occurrences
  * left to right (scan resuming after each merge — the `replace`
  * non-overlap semantics), repeat. Per-word cost is O(len² · scan) in the
  * WORD length with an O(1) hash rank lookup — independent of table size,
  * which is what a 32k-merge tokenizer over 100 TB needs.
  *
  * Equivalence to the replace chain (applying each rank once, in rank
  * order) requires the table to be COMPONENT-MONOTONE with UNIQUE merged
  * outputs: every multi-character lhs/rhs must be the merged output of an
  * earlier rank, and no two ranks may produce the same output string.
  * Both trainers emit component-monotone tables by construction (a symbol
  * exists only once merged); output collisions are possible in principle
  * (two different pairs concatenating to the same string), and under one
  * a later merge could re-create a pair an earlier rank already passed —
  * the priority loop would merge it, the replace chain would not.
  * [[graft.operators.Corpus.bpeSegment]] therefore checks both
  * properties on the driver ([[BpeEncode.tableDefect]]) and runs this
  * expression only on a table that passes; any other table takes the
  * exact replace chain. Under the validated precondition every creator of a
  * pair occurrence has lower rank than the pair itself, so min-rank-first
  * merges exactly the occurrence set the rank-order chain merges.
  *
  * Null contract: NULL token array → NULL; a NULL token element → NULL
  * (fail loudly). Output is the per-word segmented rendering
  * (`sub+sub+…`), matching `bpeSegment`'s audit format element for
  * element. Codegen stays inside whole-stage via one referenced-object
  * call — the work is genuine per-row string processing, not expression
  * dispatch. */
object BpeEncode {
  def apply(tokens: Column, lhs: Seq[String], rhs: Seq[String]): Column =
    graftbridge.toColumn(BpeEncode(graftbridge.toExpression(tokens), lhs, rhs))

  /** Why the native loop cannot replace the rank-order `replace` chain
    * on `merges`, naming the offending rank; None when the table is
    * component-monotone with unique merged outputs. */
  def tableDefect(merges: Seq[(String, String)]): Option[String] = {
    val outputs = scala.collection.mutable.HashSet.empty[String]
    def component(s: String, side: String, r: Int): Option[String] =
      Option.unless(s.codePointCount(0, s.length) == 1 || outputs.contains(s))(
        s"BPE merge table is not component-monotone at rank $r: $side symbol " +
          s"'$s' is multi-character but not the merged output of an earlier rank")
    merges.iterator.zipWithIndex.map { case ((a, b), r) =>
      val defect = component(a, "lhs", r).orElse(component(b, "rhs", r)).orElse(
        Option.when(outputs.contains(a + b))(
          s"BPE merge table has a duplicate merged output '${a + b}' at rank $r; " +
            "the rank-priority loop could re-merge a passed rank"))
      outputs += a + b
      defect
    }.collectFirst { case Some(d) => d }
  }
}

case class BpeEncode(child: Expression, lhs: Seq[String], rhs: Seq[String])
    extends UnaryExpression {

  require(lhs.length == rhs.length, "lhs and rhs merge columns must align")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullable: Boolean = true

  override def prettyName: String = "bpe_encode"

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)

  // rank lookup keyed on lhs 0x1E rhs (the trainers exclude 0x1E/0x1F
  // from symbols, so the key is collision-free); built once per task
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](lhs.length * 2)
    var r = 0
    while (r < lhs.length) {
      // first occurrence wins, matching the replace chain's rank order
      m.putIfAbsent(lhs(r) + "\u001e" + rhs(r), Integer.valueOf(r))
      r += 1
    }
    m
  }
  @transient private lazy val lhsArr: Array[String] = lhs.toArray
  @transient private lazy val rhsArr: Array[String] = rhs.toArray

  /** One word through the rank-priority merge loop. */
  private def segWord(w: String): String = {
    // split into code points (the same units `split(w, '')` and the
    // oracle's regexp_extract_all(w, '.') produce)
    var syms = {
      val buf = new java.util.ArrayList[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val n = Character.charCount(cp)
        buf.add(w.substring(i, i + n))
        i += n
      }
      buf
    }
    var done = syms.size < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.size - 1) {
        val r = ranks.get(syms.get(i) + "\u001e" + syms.get(i + 1))
        if (r != null && r.intValue() < bestRank) bestRank = r.intValue()
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val a = lhsArr(bestRank)
        val b = rhsArr(bestRank)
        val out = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j + 1 < syms.size && syms.get(j) == a && syms.get(j + 1) == b) {
            out.add(a + b); j += 2
          } else {
            out.add(syms.get(j)); j += 1
          }
        }
        syms = out
      }
    }
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < syms.size) {
      if (k > 0) sb.append('+')
      sb.append(syms.get(k))
      k += 1
    }
    sb.toString
  }

  /** Whole-doc entry point shared by eval and codegen. */
  def encodeDoc(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null
      out(i) = UTF8String.fromString(segWord(tokens.getUTF8String(i).toString))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(t: Any): Any = encodeDoc(t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncode", this, classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, t => {
      s"""
         |${ev.value} = $ref.encodeDoc($t);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }
}
