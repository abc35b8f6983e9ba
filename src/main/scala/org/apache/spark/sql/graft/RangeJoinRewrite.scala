package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite a pure band (interval) theta join into a
  * banded equi-join.
  *
  * A join whose only cross-side predicates are range bounds — e.g.
  * `b.t > a.t AND b.t - a.t <= W` — has no equi key, so Spark plans a
  * BroadcastNestedLoopJoin (or a cartesian product): every left row is
  * compared against every right row. At 100 TB that is the single worst
  * plan the engine can emit. But a band predicate `L <= x - y <= U`
  * admits the classic bucketing argument: split the number line into
  * buckets of width W = U - L; then `bucket(x)` can only equal
  * `bucket(y + L)` or `bucket(y + L) + 1`. Emitting the right side twice
  * (its bucket and successor) turns the join into an EQUI join on the
  * bucket id with the original predicate kept as a residual filter —
  * hash-partitionable, AQE-skew-splittable, candidate volume O(rows
  * within 2W) instead of O(n²). `AsOf.nearEventPairs` hand-writes this
  * shape; the rule makes the naive declarative form get the same plan
  * automatically, completing the extension ladder next to
  * [[WindowTopKRewrite]].
  *
  * Conservative preconditions, checked in [[tryRewrite]]:
  *  - inner/cross join, batch (not streaming) on both sides;
  *  - NO cross-side equi conjunct (if one exists Spark already hashes on
  *    it; rewriting would perturb a working plan);
  *  - a conjunct pair normalizing to `L <= la - rb <= U` with `la` an
  *    integral attribute from the left, `rb` from the right, and L, U
  *    foldable integral bounds with L <= U (strict bounds are tightened
  *    by 1 — integral types only, which is also why the rule does not
  *    touch float/decimal/timestamp-typed bands);
  *  - bound magnitudes below 2^50, so the shifted bucket arithmetic
  *    cannot overflow a long for any epoch-scale input.
  *
  * The rewrite keeps the ORIGINAL join condition as a filter above the
  * new join, so semantics are exactly preserved (nulls: a null la/rb
  * made the original predicate false; here it makes the bucket id null,
  * which the equi join drops — same result). A pair can never match in
  * both replicas of the right row because the two emitted bucket ids
  * differ, so no dedup step is needed. The rule cannot re-fire on its
  * own output: the rewritten join's bucket-equality conjunct IS an equi
  * key, which the precondition rejects — the fixed-point batch
  * terminates.
  *
  * Disable with `spark.graft.rangeJoinRewrite.enabled=false` (specs use
  * this to diff plans and results against the nested-loop form).
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  import JoinRewriteMath._

  private def tryRewrite(
      l: LogicalPlan,
      r: LogicalPlan,
      cond: Expression,
      hint: JoinHint): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // never re-fire on a join this rule (or the interval rewrite) built
    if (conjuncts.exists(_.references.exists(a =>
        a.name == "__graft_band" || a.name == "__graft_bin"))) return None
    if (hasCrossEquiKey(conjuncts, l, r)) return None
    val bands = conjuncts.flatMap(bandOf(_, l, r))
    // pick the first attribute pair carrying both an upper and a lower bound
    val byPair = bands.groupBy(b => (b.la.exprId, b.rb.exprId))
    byPair.values.view
      .flatMap { bs =>
        val uppers = bs.filter(_.upper).map(_.bound)
        val lowers = bs.filterNot(_.upper).map(_.bound)
        for {
          u  <- if (uppers.isEmpty) None else Some(uppers.min)
          lo <- if (lowers.isEmpty) None else Some(lowers.max)
          if lo <= u && math.abs(u) < MaxBound && math.abs(lo) < MaxBound
        } yield (bs.head.la, bs.head.rb, lo, math.max(u - lo, 1L))
      }
      .headOption
      .map { case (la, rb, lo, w) =>
        // Bucket keys are the bucket BASE value (x − x mod w), computed
        // in DECIMAL(38,0): decimal arithmetic cannot overflow for ANY
        // long attribute (|x| + |lo| ≪ 10^38), where the former
        // long-space subtract/add threw under ANSI for values near the
        // ±2^63 boundary (e.g. xxhash64-derived keys). No division
        // anywhere — equal buckets ⇔ equal bases (Pmod keeps the
        // remainder non-negative, so the base IS the floor alignment
        // for negative x too), and the neighbor bucket is base + w.
        val dec = DecimalType(38, 0)
        def toDec(e: Expression): Expression = Cast(e, dec)
        val wDec = toDec(Literal(w))
        def bucketBase(x: Expression): Expression = {
          val xd = toDec(x)
          Cast(Subtract(xd, Pmod(xd, wDec)), dec)
        }

        val lBand     = Alias(bucketBase(la), "__graft_band")()
        val leftProj  = Project(l.output :+ lBand, l)
        val rBase     = bucketBase(Add(toDec(rb), toDec(Literal(lo))))
        val rBandAttr = AttributeReference("__graft_band", dec)()
        val gen = Generate(
          Explode(CreateArray(Seq(rBase, Cast(Add(rBase, wDec), dec)))),
          unrequiredChildIndex = Nil,
          outer = false,
          qualifier = None,
          generatorOutput = Seq(rBandAttr),
          child = r)
        val joinCond = EqualTo(lBand.toAttribute, rBandAttr)
        val banded = Join(leftProj, gen, Inner, Some(joinCond), hint)
        Project(l.output ++ r.output, Filter(cond, banded))
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = SQLConf.get
      .getConfString("spark.graft.rangeJoinRewrite.enabled", "true") == "true"
    if (!enabled) plan
    else
      plan.transformUp {
        case j @ Join(l, r, Inner | Cross, Some(cond), hint)
            if !l.isStreaming && !r.isStreaming =>
          tryRewrite(l, r, cond, hint).getOrElse(j)
      }
  }
}
