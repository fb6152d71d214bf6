package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** A request value bound into a serving plan: a [[Literal]] whose
  * generated code reads its value from the plan's references array instead
  * of writing it into the Java source.
  *
  * Spark writes long and int literals into generated code, so a plan that
  * differs from a cached one only in such a value (the next cursor page,
  * another `minheight`) compiles new whole-stage classes. With the value
  * bound, every request of one plan shape generates the same source and
  * reuses the compiled classes (the idea of SnappyData's `ParamLiteral`).
  * Other types are already referenced, not inlined, so they generate as a
  * plain literal.
  *
  * It is a `Literal` to every optimizer rule and to parquet pushdown:
  * [[KeysetBoundRule]] derives the leading-column bound from it, and the
  * bound reaches `PushedFilters` with its value. Constant folding keeps a
  * literal as it is, but folds an expression over one, so a bound value
  * must already have the type of the column it is compared with.
  */
class BoundLiteral(value: Any, dataType: DataType) extends Literal(value, dataType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = dataType match {
    case LongType | IntegerType if value != null =>
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "bound", v => s"$v = $ref.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    case _ => super.doGenCode(ctx, ev)
  }
}

object BoundLiteral {
  /** SQL name of the function that makes one: `graft_bound(<literal>)`. */
  val Name = "graft_bound"

  /** The function's builder: its one argument must be a literal. */
  def build(args: Seq[Expression]): Expression = args match {
    case Seq(l: Literal) => new BoundLiteral(l.value, l.dataType)
    case _ => throw new IllegalArgumentException(s"$Name takes one literal argument")
  }

  /** `v` as a bound value. `v` must have the compared column's type (a
    * `Long` for a BIGINT column, an `Int` for an INT one). */
  def apply(v: Any): Column = call_function(Name, lit(v))
}
