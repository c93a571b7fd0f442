package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The engine's base for an N-ary, null-safe Catalyst kernel: the first
  * null child makes the result null (later children are not evaluated);
  * otherwise the children's values go to [[evalNotNull]], whose null return
  * is a null result.
  *
  * The generated code does the same: it evaluates the children null-safely,
  * boxes their values and calls this instance's `evalNotNull` through a
  * reference object — so every kernel runs inside whole-stage codegen and
  * subexpression elimination without a static entry point of its own.
  * Engine kernels are either a `KernelExpression` or one of Spark's
  * Unary/Binary/Ternary/Quaternary templates with a static `defineCodeGen`
  * call (the primitive hot kernels, which take unboxed arguments); never
  * `CodegenFallback`, which ejects the whole Project from whole-stage
  * codegen (CLAUDE.md).
  */
abstract class KernelExpression extends Expression {
  override def nullable: Boolean = true
  // literal-argument calls participate in constant folding (and the
  // PipPrefilterRule's foldable-geometry detection)
  override def foldable: Boolean = children.forall(_.foldable)

  /** The kernel over the non-null child values, in child order. */
  def evalNotNull(values: Array[Any]): Any

  final override def eval(input: InternalRow): Any = {
    val cs   = children
    val vals = new Array[Any](cs.length)
    var i    = 0
    while (i < cs.length) {
      val v = cs(i).eval(input)
      if (v == null) return null
      vals(i) = v
      i += 1
    }
    evalNotNull(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this, classOf[KernelExpression].getName)
    val args   = ctx.freshName("args")
    val result = ctx.freshName("result")
    val codes  = children.map(_.genCode(ctx))
    val call = code"""
      Object $result = $kernel.evalNotNull($args);
      if ($result != null) {
        ${ev.isNull} = false;
        ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $result;
      }"""
    // child i's code runs only when children 0..i-1 are non-null
    val body = codes.zip(children).zipWithIndex.foldRight(call) {
      case (((c, child), i), inner) =>
        val boxed =
          if (CodeGenerator.isPrimitiveType(child.dataType))
            s"${CodeGenerator.boxedType(child.dataType)}.valueOf(${c.value})"
          else c.value.toString
        code"""
        ${c.code}
        if (!${c.isNull}) {
          $args[$i] = $boxed;
          $inner
        }"""
    }
    ev.copy(code = code"""
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      Object[] $args = new Object[${children.length}];
      $body""")
  }
}
