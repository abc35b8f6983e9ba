package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

/** Conjunct-normalization math for [[RangeJoinRewrite]]: linear
  * decomposition of integral expressions and the canonical
  * [[JoinRewriteMath.Band]] form `la - rb REL bound` with `la` always
  * from the left side.
  */
private[graft] object JoinRewriteMath {

  val MaxBound: Long = 1L << 50

  /** A range conjunct normalized to `la - rb <= bound` (upper = true) or
    * `la - rb >= bound` (upper = false), with la from the left side and
    * rb from the right.
    */
  final case class Band(la: Attribute, rb: Attribute, bound: Long, upper: Boolean)

  def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  def litLong(l: Literal): Option[Long] = l.value match {
    case v: java.lang.Byte    => Some(v.longValue)
    case v: java.lang.Short   => Some(v.longValue)
    case v: java.lang.Integer => Some(v.longValue)
    case v: java.lang.Long    => Some(v.longValue)
    case _                    => None
  }

  /** Linear decomposition of an integral expression into attribute
    * coefficients plus a constant; None when the expression is not a
    * ±1-coefficient linear form these rules understand.
    */
  def decompose(e: Expression): Option[(Map[ExprId, (Attribute, Long)], Long)] =
    e match {
      case a: Attribute if isIntegral(a.dataType) =>
        Some(Map(a.exprId -> (a, 1L)) -> 0L)
      case l: Literal if isIntegral(l.dataType) =>
        litLong(l).map(v => Map.empty[ExprId, (Attribute, Long)] -> v)
      case Add(x, y, _) =>
        for ((cx, kx) <- decompose(x); (cy, ky) <- decompose(y))
          yield merge(cx, cy, 1L) -> (kx + ky)
      case Subtract(x, y, _) =>
        for ((cx, kx) <- decompose(x); (cy, ky) <- decompose(y))
          yield merge(cx, cy, -1L) -> (kx - ky)
      case UnaryMinus(x, _) =>
        decompose(x).map { case (c, k) =>
          c.map { case (id, (a, coef)) => id -> (a, -coef) } -> -k
        }
      // widening cast only — narrowing would change comparison semantics
      case c: Cast if c.dataType == LongType && isIntegral(c.child.dataType) =>
        decompose(c.child)
      case _ => None
    }

  def merge(
      a: Map[ExprId, (Attribute, Long)],
      b: Map[ExprId, (Attribute, Long)],
      sign: Long): Map[ExprId, (Attribute, Long)] =
    b.foldLeft(a) { case (acc, (id, (attr, coef))) =>
      val next = acc.get(id).map(_._2).getOrElse(0L) + sign * coef
      if (next == 0L) acc - id else acc + (id -> (attr, next))
    }

  /** Normalize one conjunct to a [[Band]] when it is a two-attribute
    * integral range bound crossing the join. Strict bounds are tightened
    * by 1 (integral types only).
    */
  def bandOf(
      c: Expression, left: LogicalPlan, right: LogicalPlan): Option[Band] = {
    val cmp = c match {
      case bc: BinaryComparison => bc
      case _                    => return None
    }
    val lin = for {
      (cl, kl) <- decompose(cmp.left)
      (cr, kr) <- decompose(cmp.right)
    } yield (merge(cl, cr, -1L), kl - kr) // lhs - rhs REL 0
    lin.flatMap { case (coefs, const) =>
      val attrs = coefs.values.toSeq
      val xOpt  = attrs.collectFirst { case (a, 1L) => a }
      val yOpt  = attrs.collectFirst { case (a, -1L) => a }
      (attrs.size, xOpt, yOpt) match {
        case (2, Some(x), Some(y)) =>
          // x - y + const REL 0  →  x - y REL -const (tighten strict by 1)
          val normalized = cmp match {
            case _: LessThan           => Some((-const - 1, true))
            case _: LessThanOrEqual    => Some((-const, true))
            case _: GreaterThan        => Some((-const + 1, false))
            case _: GreaterThanOrEqual => Some((-const, false))
            case _                     => None
          }
          normalized.flatMap { case (bound, upper) =>
            if (left.outputSet.contains(x) && right.outputSet.contains(y))
              Some(Band(x, y, bound, upper))
            else if (right.outputSet.contains(x) && left.outputSet.contains(y))
              // x - y <= B  ⇔  y - x >= -B (and dually)
              Some(Band(y, x, -bound, !upper))
            else None
          }
        case _ => None
      }
    }
  }

  def hasCrossEquiKey(
      conjuncts: Seq[Expression], l: LogicalPlan, r: LogicalPlan): Boolean = {
    def crossSides(a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && b.references.nonEmpty &&
        ((a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
          (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet)))
    conjuncts.exists {
      case EqualTo(a, b)       => crossSides(a, b)
      case EqualNullSafe(a, b) => crossSides(a, b)
      case _                   => false
    }
  }
}
