package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native table-generating function (the UDTF rung of the extension
  * ladder, alongside the scalar `CosineSim`, the UDAF `Aggregator`s,
  * the `FuseCosine` optimizer rule, the TopKPerKey Strategy/physical
  * operator, and the DSv2 connector): `graft_ngrams(text, n)` yields
  * one row per word n-gram of the tokenized input, usable anywhere
  * `explode` is — SELECT list or LATERAL VIEW — because it IS a
  * Catalyst `Generator`, planned through the same `GenerateExec` as
  * the built-ins (per-partition streaming expansion, no
  * materialization of the expanded relation).
  *
  * Tokenization is `Tokenizers.Alnum` (lower → split on
  * non-letter/digit runs → drop empties), so the DuckDB oracle replays
  * it with `Tokenizers.Alnum.sql`. A NULL text or
  * fewer than n tokens yields no rows (explode semantics, not a null
  * row). */
case class NGramsGen(child: Expression, n: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, n)

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_ngrams needs a string input, got ${child.dataType.sql}")
    else if (n.dataType != IntegerType || !n.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_ngrams needs a foldable int n-gram size")
    else TypeCheckResult.TypeCheckSuccess

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    val kv = n.eval(input)
    if (t == null || kv == null) Nil
    else {
      val k = kv.asInstanceOf[Int]
      val toks = graft.operators.Tokenizers.Alnum
        .words(t.asInstanceOf[UTF8String].toString)
      if (k <= 0 || toks.length < k) Nil
      else (0 to toks.length - k).map { i =>
        InternalRow(UTF8String.fromString(
          toks.slice(i, i + k).mkString(" ")))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), n = newChildren(1))
}
