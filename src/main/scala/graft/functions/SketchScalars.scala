package graft.sql

import graft.core.CardinalitySketch

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Scalar: cardinality estimate of a serialized sketch column
  * (the reference's estimate() over a stored sketch, src/estimator.rs:52-55).
  * Replaced by a `StaticInvoke` of `CardinalitySketch.estimateBytes`, which
  * whole-stage codegen calls directly.
  */
case class CeEstimate(child: Expression) extends RuntimeReplaceable with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ce_estimate expects a binary sketch column, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override lazy val replacement: Expression = StaticInvoke(CardinalitySketch.getClass,
    dataType, "estimateBytes", Seq(child), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): CeEstimate =
    copy(child = newChild)

  override def prettyName: String = "ce_estimate"
}

/** Scalar: pairwise union of two serialized sketches (the reference's merge,
  * src/estimator.rs:59-94, exposed column-wise for sketch arithmetic).
  */
case class CeUnion(left: Expression, right: Expression)
  extends RuntimeReplaceable with BinaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ce_union expects two binary sketch columns, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable || right.nullable

  override lazy val replacement: Expression = StaticInvoke(CardinalitySketch.getClass,
    dataType, "union", Seq(left, right), returnNullable = false)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CeUnion =
    copy(left = l, right = r)

  override def prettyName: String = "ce_union"
}

/** Scalar: the engine's canonical 64-bit item hash (wyhash-v1) of any
  * supported column — useful for pre-hashed pipelines (the reference's
  * `insert_hash` entry point, src/estimator.rs:104-106) and for deterministic
  * salting/bucketing that matches the sketch's view of the data.
  *
  * Unlike the scalar kernels it is not a `StaticInvoke`: its hash is a
  * closure picked per input type (a struct hashes field by field), which no
  * single static kernel signature can take.
  */
case class WyHash64Expr(child: Expression) extends UnaryExpression {
  @transient private lazy val hasher: Any => Long = SketchHashing.hasherFor(child.dataType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (SketchHashing.supported(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"wyhash64 does not support input type ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = hasher(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("hasher", hasher, classOf[Any => Long].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (Long) $h.apply($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WyHash64Expr =
    copy(child = newChild)

  override def prettyName: String = "wyhash64"
}
