package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram table function: one output row per window of `n`
  * whitespace-separated tokens, space-rejoined. A custom Catalyst
  * `Generator` — the table-valued step of the extension ladder after
  * scalar expressions ([[VecDot]]) and Aggregators (graft.functions.Udafs):
  * registered through the function registry it is SQL-callable as
  * `LATERAL VIEW graft_ngrams(text, 2)`, and `GenerateExec` streams its
  * rows without materializing a per-document array the way
  * `explode(transform(sequence(...)))` must (the staged-array formulation
  * the shingle pipelines use when they need the array anyway).
  *
  * Tokenization contract (pinned by the oracle): Spark's
  * `split(trim(text), "\\s+")` via [[TextExpressions.tokens]] — trim strips
  * spaces only, and leading/trailing tabs or newlines leave empty edge
  * tokens; a document with fewer than `n` tokens yields no rows; NULL
  * yields no rows. CodegenFallback is the normal cost model for
  * generators — the generator itself is invoked per input row by
  * GenerateExec while the surrounding stages stay inside whole-stage
  * codegen.
  */
case class NgramGenerator(child: Expression, n: Int)
  extends Generator with CodegenFallback {

  require(n >= 1, s"graft_ngrams: n must be >= 1, got $n")

  override def children: Seq[Expression] = Seq(child)

  override def elementSchema: StructType =
    StructType(StructField("gram", StringType) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val toks = TextExpressions.tokens(v.asInstanceOf[UTF8String])
      val space = UTF8String.fromString(" ")
      if (toks.length < n) Nil
      else (0 to toks.length - n).iterator.map { i =>
        InternalRow(UTF8String.concatWs(space, toks.slice(i, i + n): _*))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_ngrams"
}
