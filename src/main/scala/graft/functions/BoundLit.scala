package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** A literal whose value reaches generated code through the codegen
  * `references` array instead of the Java source.
  *
  * Spark's `Literal` writes a numeric value straight into the generated
  * Java (`-12.5D`, `7L`), and the codegen cache is keyed by that source
  * text, so every new value compiles a new class. Per-request values (a
  * tile's bbox and z/x/y, a service's `$cl`) would then compile one class
  * per request. A `BoundLit` attaches its value with `addReferenceObj` and
  * unboxes it once into an init-time field: two requests that differ only
  * in their values share one generated class.
  *
  * Everything else is `Literal`'s (`unapply`, `equals`, `sql`,
  * `foldable`), so constant folding, parquet pushdown, partition pruning,
  * in-memory batch stats and `OptimizeIn` treat it as a literal, and plan
  * text does not change. Limit: an expression Spark folds over a
  * `BoundLit` comes back as a plain `Literal` — `Cast(BoundLit(long),
  * double)` where a long var meets a double column, or `pow(2, $z)` in
  * the tile math — and is inlined again: still correct, compiled once
  * per distinct value.
  */
final class BoundLit(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("boundLit", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "boundLit",
        f => s"$f = $ref.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
}

object BoundLit {
  /** `lit(v)` with the value bound by reference: same type and value as
    * Spark's `lit` for any non-Column scalar. */
  def apply(v: Any): Column = {
    val l = Literal(v)
    Bridge.column(new BoundLit(l.value, l.dataType))
  }
}
