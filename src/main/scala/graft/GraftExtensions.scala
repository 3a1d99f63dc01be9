package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.{VecDot, VecNorm2}

/** Optimizer rule: `vec_dot(x, x)` → `vec_norm2(x)` whenever both
  * arguments are the SAME deterministic expression (canonicalized, so
  * aliases and cosmetic differences don't block it). The rewrite is
  * BIT-exact — both kernels fold `acc += xᵢ·xᵢ` left-to-right — and
  * halves the array reads in the generated loop (one `getDouble` per
  * element instead of two), which matters on the brute-force scans
  * where `vec_dot` is the whole inner loop. The algebraic-rewrite
  * layer every mature engine has, expressed as a standard Catalyst
  * `Rule[LogicalPlan]` injected through [[GraftExtensions]]. */
object RewriteSelfVecDot extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case VecDot(a, b) if a.deterministic &&
          a.canonicalized == b.canonicalized => VecNorm2(a)
    }
}

/** `SparkSessionExtensions` hook exposing the engine's native Catalyst
  * expressions to the RAW-SQL surface: with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions          // config, or
  *   SparkSession.builder.withExtensions(new GraftExtensions)
  * }}}
  *
  * `vec_dot(a, b)` and `vec_norm2(a)` become SQL functions planned as
  * the same codegen'd expressions the Column API uses ([[org.apache
  * .spark.sql.graft.VectorExpressions]]) — one engine, two dialects,
  * identical plans (asserted in SqlSurfaceSpec). This is the extension
  * point a deployment uses to make the library's functions available
  * to pure-SQL users (BI tools, `spark-sql` shells) without any Scala
  * import. The bloom probe is deliberately NOT registered: it carries
  * a driver-built filter object, which has no SQL literal form. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteSelfVecDot)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"vec_dot expects 2 arguments, got ${children.size}")
        VecDot(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_norm2"),
      new ExpressionInfo(classOf[VecNorm2].getName, "vec_norm2"),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"vec_norm2 expects 1 argument, got ${children.size}")
        VecNorm2(children.head)
      }))
  }
}
