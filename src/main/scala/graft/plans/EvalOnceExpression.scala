package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.DataType

/** Once-per-row evaluation barrier for an EXPENSIVE deterministic
  * expression.
  *
  * Catalyst's alias inlining happily duplicates a projection alias into
  * every consumer: `CollapseProject` merges stacked projections by
  * textual substitution, and predicate pushdown substitutes aliases into
  * the pushed condition. For a cheap expression that is free; for a
  * tokenize-everything kernel it multiplies the dominant per-row cost by
  * the number of references — and inside a codegen'd `FilterExec` (whose
  * short-circuit conjuncts preclude subexpression elimination, unlike
  * the interpreted predicate path, SPARK-33427) the duplicates REALLY
  * run. A 10-rule quality filter then pays the tokenize pass 10× per
  * row, or — worse — the inlined duplicates overflow the 64 KB generated
  * method limit and the whole stage silently drops to interpreted
  * execution.
  *
  * The barrier is one honest lie: it forwards eval/codegen to the child
  * untouched but declares itself NON-deterministic, which is exactly the
  * property every duplicating rule checks before inlining. The plan that
  * falls out is the one a query compiler should emit — one Project
  * computing the kernel once per row, consumers referencing its
  * attribute, and residual filters evaluated ABOVE it.
  *
  * The declaration alone would ALSO stop unrelated conjuncts from
  * pushing below the projection: Spark's `PushPredicateThroughNonJoin`
  * refuses any Project with a non-deterministic field (SPARK-13473), so
  * `.where(col("lang") === "en")` above a pinned scoring projection
  * would stall there and never reach the scan. The companion rule
  * [[PushThroughEvalOnce]] (registered alongside this function) restores
  * exactly that half: conjuncts are split, parts referencing only
  * pass-through columns push below the barrier, parts referencing the
  * pinned output stay above. Task retries re-run the child and get
  * the same value, so the declaration costs nothing semantically.
  */
case class EvalOnceExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_eval_once"

  // the barrier itself: every inlining/pushdown/folding rule keys off this
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): EvalOnceExpression =
    copy(child = newChild)
}

object EvalOnceExpression {
  /** Column-level wrapper: `evalOnce(expensive)` pins `expensive` to a
    * single per-row evaluation at its projection site. Requires the graft
    * extensions (it rides the same `call_function` registry as every
    * kernel). */
  def evalOnce(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_eval_once", c)
}
