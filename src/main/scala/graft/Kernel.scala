package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** The one idiom for the engine's per-row compiled kernels: each kernel
  * is a plain method on a Scala object, called through Catalyst's
  * `StaticInvoke`. Generated code calls the method directly, inside the
  * surrounding whole-stage span; interpreted eval (codegen fallback,
  * `factoryMode=NO_CODEGEN`) calls the same method by reflection. One
  * implementation serves both paths, so they cannot disagree.
  *
  * Kernel methods take Catalyst's internal forms (`ArrayData`,
  * `UTF8String`, `InternalRow`, primitives for non-null scalars) and
  * return either a primitive, a boxed value (null allowed) or an
  * internal form. KernelPathsSpec runs every kernel under each codegen
  * setting. */
object Kernel {

  /** `owner.method(args…)` as an expression of type `dataType`.
    *  - `inputTypes`: one per argument; the analyzer checks the
    *    arguments against them (and casts where Spark casts implicitly).
    *  - `nullIn`: a null argument yields null without calling the method.
    *    When false, the method receives the null and decides.
    *  - `nullOut`: the method itself may return null. */
  def expr(owner: AnyRef, method: String, dataType: DataType,
           args: Seq[Expression], inputTypes: Seq[DataType],
           nullIn: Boolean = true, nullOut: Boolean = true): Expression = {
    require(args.length == inputTypes.length)
    StaticInvoke(owner.getClass, dataType, method, args, inputTypes,
      propagateNull = nullIn, returnNullable = nullOut)
  }

  /** [[expr]] over Columns, returning a Column. */
  def call(owner: AnyRef, method: String, dataType: DataType,
           args: Seq[Column], inputTypes: Seq[DataType],
           nullIn: Boolean = true, nullOut: Boolean = true): Column =
    ColumnBridge.column(expr(owner, method, dataType,
      args.map(ColumnBridge.expression), inputTypes, nullIn, nullOut))
}
