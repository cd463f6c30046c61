package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.{DataType, NullType, ObjectType}

/** The one shape of a graft kernel expression. Each kernel is written once,
  * as a typed entry method named after its SQL function
  * (`DocKernels.cnf_extract`, `TextExprKernels.minhash_from_shingles`, ...)
  * that takes `UTF8String`, `Array[Byte]`, `ArrayData` or primitives. The
  * expression's [[replacement]] is a `StaticInvoke` of that method — or an
  * `Invoke` on a serializable model literal, for kernels that carry
  * model-sized state — and both evaluation paths run it: Catalyst
  * generates the direct, unboxed call, so the enclosing operator stays
  * whole-stage-codegen'd with no hand-written code per kernel.
  *
  * The expression keeps its own type checks, `prettyName`, `dataType` and
  * declared `nullable`, so analyzed plans, executed plans and output
  * schemas read as before. It delegates instead of extending
  * `RuntimeReplaceable`, whose `eval` is final and throws: kernel
  * expressions are also evaluated directly (constant folding, the kernel
  * identity specs).
  */
trait KernelExpression extends Expression {
  /** The typed entry-method call both evaluation paths run. */
  def replacement: Expression

  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def eval(input: InternalRow): Any = replacement.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    replacement.genCode(ctx)

  /** `entries.entry(args)`, `entries` being the object that declares the
    * entry method. A null argument yields null without a call unless
    * `propagateNull` is off (the kernels that map null to a status row).
    */
  protected final def call(entries: AnyRef, entry: String, args: Seq[Expression],
                           propagateNull: Boolean = true): Expression =
    StaticInvoke(entries.getClass, dataType, entry, args,
      propagateNull = propagateNull, returnNullable = nullable)

  /** `model.entry(args)` on a model literal. The literal rides the
    * generated stage's references (or the serialized expression), so any
    * state the model derives lazily is built once per task, never per row.
    */
  protected final def invokeModel(model: KernelModel, entry: String,
                                  args: Seq[Expression]): Expression =
    Invoke(Literal(model, ObjectType(model.getClass)), entry, dataType, args,
      returnNullable = nullable)
}

object KernelExpression {
  /** `e` typed as `t` when it is an untyped NULL (`f(NULL)` in SQL): the
    * entry methods are looked up by their argument types.
    */
  def typed(e: Expression, t: DataType): Expression =
    if (e.dataType == NullType) Cast(e, t) else e
}

/** A model literal for [[KernelExpression.invokeModel]]: value equality over
  * `state` (arrays compare element-wise) and a short, deterministic
  * `toString`. Anything costly to derive from the state belongs in a
  * `@transient lazy val`, so it is built once per deserialized copy.
  */
abstract class KernelModel extends Serializable {
  protected def state: Array[AnyRef]
  override def equals(o: Any): Boolean = o match {
    case m: KernelModel => m.getClass == getClass && java.util.Arrays.deepEquals(state, m.state)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.deepHashCode(state)
  override def toString: String = f"${getClass.getSimpleName}#$hashCode%08x"
}
