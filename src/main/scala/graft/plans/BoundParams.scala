package graft.plans

import graft.sources.ArrayStore
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** A constant that generated code reads at run time instead of inlining.
  * Spark writes a `Literal` of a primitive type into the generated Java
  * source (`5L`, `0.25D`), and its codegen cache is keyed on that source,
  * so a request that differs from the last one only in its bounds or its
  * payload compiles new classes (~10 ms each). A bound parameter passes
  * its value in the class's `references` array and reads it once into a
  * field when the class is initialized: the source, and with it the
  * cached class, is the same for every value.
  */
case class BoundParam(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "param",
      v => s"$v = $ref;", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Rewrites the non-null Long, Double and Integer literals of filters and
  * projections into [[BoundParam]]s, in plans that scan the cell store
  * ([[ArrayStore.schema]]): the Deker requests (slice reads, patches,
  * placements), which differ from one another in exactly those values.
  * A warm request then compiles no class. Runs before whole-stage codegen
  * is collapsed (`GraftExtensions` injects it as a pre-columnar rule, which
  * plain planning and AQE's per-stage planning both apply).
  *
  * The scan itself is left alone: its partition filters and pushed data
  * filters keep their literals, so `array_id` directory pruning and
  * `i0`/`i1` row-group skipping are unchanged. Other plans are left alone
  * too: a curation pass repeats the same literals on every pass, so its
  * classes already come from the cache.
  */
object BoundParams extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!plan.exists(scansCellStore)) plan
    else plan.transform {
      case f: FilterExec => f.copy(condition = bind(f.condition))
      case p: ProjectExec =>
        p.copy(projectList = p.projectList.map(bind(_).asInstanceOf[NamedExpression]))
    }

  private def scansCellStore(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec => s.relation.schema == ArrayStore.schema
    case _ => false
  }

  private def bind(e: Expression): Expression = e.transform {
    case Literal(v, t @ (LongType | DoubleType | IntegerType)) if v != null => BoundParam(v, t)
  }
}
