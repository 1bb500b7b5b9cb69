package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Order-preserving reinterpretation of a double's IEEE-754 bits as a
  * SIGNED long: for any doubles a < b (NaN excluded),
  * `sortableBits(a) < sortableBits(b)` under plain long comparison.
  *
  * The mapping is the classic sortable-float trick (the same transform
  * radix-sort implementations and key-normalizing storage engines use,
  * e.g. HBase/Orderly key encoding): positive doubles keep their bit
  * pattern (already ordered, sign bit 0); negative doubles flip all
  * NON-sign bits (`bits ^ (bits >> 63 & Long.MaxValue)`), reversing the
  * magnitude order so more-negative sorts lower, while the kept sign bit
  * keeps them below every positive.
  *
  * Why it exists: the bucket census of
  * [[graft.ops.gridBucketPercentilesWith]]'s continuous chains needs a
  * VALUE-MONOTONE row → bucket function. Deriving buckets as
  * `floor((v−min)/width)` needs a min/max bounds pass first — a full
  * corpus scan + group exchange + broadcast spent only on bucket
  * geometry. `sortableBits(v) >> shift` is monotone BY CONSTRUCTION with
  * no data-dependent state: the bounds pass disappears from the plan.
  * The resulting buckets are exponent-adaptive (a fixed count of mantissa
  * slices per binade) rather than range-linear, which also keeps them
  * balanced under value skew. Exactness is unaffected — buckets only
  * partition the value domain; the refinement pass still reads true
  * values.
  *
  * Edge cases: -0.0 maps one bucket below +0.0 (both are "equal" keys to
  * the sort; splitting equal values across a bucket boundary cannot move
  * a rank because census-prefix + in-bucket rank only needs a monotone
  * non-decreasing bucket function). NaN maps above every finite value,
  * matching Spark's sort order, though percentile callers contract
  * NaN-free input.
  */
case class SortableDoubleBits(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sortable_bits"

  override protected def withNewChildInternal(newChild: Expression): SortableDoubleBits =
    copy(child = newChild)

  override def nullSafeEval(a: Any): Any = {
    val bits = java.lang.Double.doubleToLongBits(a.asInstanceOf[Double])
    bits ^ ((bits >> 63) & Long.MaxValue)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bits = ctx.freshName("bits")
      s"""
         |long $bits = Double.doubleToLongBits($a);
         |${ev.value} = $bits ^ (($bits >> 63) & Long.MAX_VALUE);
       """.stripMargin
    })
}
