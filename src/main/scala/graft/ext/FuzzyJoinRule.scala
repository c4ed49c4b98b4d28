package graft.ext

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import graft.functions.{EditDistanceWithin, JaroWinkler, WRatio}

/** A θ-join [[FuzzyJoinRule]] may rewrite: the join, its conjuncts, the
  * triggering conjunct `pred`, and pred's operands oriented so `a`
  * evaluates on the left child and `b` on the right (every supported
  * measure is symmetric, so swapping is free). */
private[ext] case class FuzzySite(j: Join, conjuncts: Seq[Expression],
    pred: Expression, a: Expression, b: Expression) {
  def left: LogicalPlan = j.left
  def right: LogicalPlan = j.right
  def residual: Seq[Expression] = conjuncts.filterNot(_ eq pred)
}

/** Optimizer rule: a thresholded fuzzy θ-join with no equi-key becomes a
  * filter-and-verify equi-join, automatically.
  *
  * `A join B on sim(a, b) >= t` has no equi-key, so Spark plans a
  * nested-loop join — |A|·|B| score evaluations. Each predicate family
  * below derives a SOUND candidate key from its threshold (every
  * qualifying pair shares a key) and keeps the original predicate as the
  * exact verify, so results are unchanged. The rule matches Inner/Cross
  * joins, leaves joins that already carry an equi-key alone (Spark
  * hash-joins those, and an explode would only add cost), orients the
  * operands, and requires both to be deterministic strings. The
  * families are tried in a fixed order — edit distance, Jaro-Winkler,
  * WRatio above 90, capped WRatio at or below 90 — each on its first
  * matching conjunct; when a family's rewrite declines, the next family
  * gets the join.
  *
  * Runs after [[BoundedLevenshteinRule]] in the same fixed-point batch,
  * so edit distance only needs to match the bounded form. Fires only on
  * native nodes (`lev_within`, `jaro_winkler`, `wratio`); the same
  * scores spelled in Spark built-ins are anonymous expression trees no
  * rule can recognize. Exclude it with
  * `spark.sql.optimizer.excludedRules=graft.ext.FuzzyJoinRule`.
  */
object FuzzyJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Largest edit distance rewritten: at k = 3 PassJoin's right-side
    * explode is 4·7² = 196 structs per row. */
  private val MaxLevK = 2
  /** Jaro-Winkler floor: below it α < 1/2 and the length buckets are too
    * coarse to pay for the explode. */
  private val MinJw = 0.9

  /** A conjunct a family triggers on: its operands (not yet oriented)
    * and the family's rewrite for the oriented site. */
  private case class Trigger(a: Expression, b: Expression,
      rewrite: FuzzySite => Option[LogicalPlan])

  /** `f >= t`, `f > t`, `t <= f`, `t < f` for a double literal t. */
  private def atLeast(e: Expression): Option[(Expression, Double)] = e match {
    case GreaterThanOrEqual(f, Literal(t: Double, DoubleType)) => Some((f, t))
    case GreaterThan(f, Literal(t: Double, DoubleType))        => Some((f, t))
    case LessThanOrEqual(Literal(t: Double, DoubleType), f)    => Some((f, t))
    case LessThan(Literal(t: Double, DoubleType), f)           => Some((f, t))
    case _ => None
  }

  /** The bounded edit-distance forms: the native `lev_within` node
    * BoundedLevenshteinRule normalizes to, plus the explicitly spelled
    * 3-arg `levenshtein` (left untouched by that rule but an equally
    * valid trigger). */
  private def bounded(e: Expression): Option[(Expression, Expression, Int)] = e match {
    case Levenshtein(a, b, Some(Literal(k: Int, IntegerType))) => Some((a, b, k))
    case EditDistanceWithin(a, b, Literal(k: Int, IntegerType)) => Some((a, b, k))
    case _ => None
  }

  /** Edit distance, k ≤ [[MaxLevK]]. `upperBound` records whether the
    * predicate accepts EVERY distance ≤ k (the `>= 0` forms) — only then
    * may the deletion rewrite's positional fast guard bypass the verify
    * DP; the `= m` forms pin an exact distance that construction alone
    * can't certify. */
  private def levenshtein(e: Expression): Option[Trigger] = {
    val hit = e match {
      case GreaterThanOrEqual(l, Literal(0, IntegerType)) => bounded(l).map((_, true))
      case LessThanOrEqual(Literal(0, IntegerType), r)    => bounded(r).map((_, true))
      case EqualTo(l, Literal(m: Int, IntegerType)) =>
        bounded(l).filter(t => m >= 0 && m <= t._3).map((_, false))
      case EqualTo(Literal(m: Int, IntegerType), r) =>
        bounded(r).filter(t => m >= 0 && m <= t._3).map((_, false))
      case _ => None
    }
    hit.collect { case ((a, b, k), upperBound) if k <= MaxLevK =>
      Trigger(a, b, s => Some(LevenshteinJoin.rewrite(s, k, upperBound)))
    }
  }

  /** Jaro-Winkler, t ∈ [[[MinJw]], 1). With the textbook constants
    * (boost 0.1·p·(1−jaro), p ≤ 4 — so jw ≤ 0.6·jaro + 0.4):
    *
    *   jw(a,b) ≥ t  ⟹  jaro ≥ j := (t − 0.4) / 0.6
    *                ⟹  m/|a| ≥ 3j − 2  and  m/|b| ≥ 3j − 2  (other Jaro
    *                    terms are ≤ 1), with m ≤ min(|a|,|b|)
    *                ⟹  min(|a|,|b|) ≥ α·max(|a|,|b|),  α := 3j − 2,
    *
    * so the geometric length bucket of [[LengthScaleRewrite]] is sound.
    * Content signatures are NOT: the Winkler prefix boost is optional (a
    * high-scoring pair may share no prefix), Jaro matches chars across a
    * window in any order (no segment survives verbatim, and matched chars
    * need not form a common subsequence — no reduction to edit distance),
    * and the remaining multiset-overlap prefix filter keys on single
    * characters, a hot-key degeneration over small alphabets. At t = 1.0,
    * α = 1 and the bucket base degenerates, so the family stops below it.
    */
  private def jaroWinkler(e: Expression): Option[Trigger] = atLeast(e).collect {
    case (JaroWinkler(a, b), t) if t >= MinJw && t < 1.0 =>
      val alpha = 3.0 * ((t - 0.4) / 0.6) - 2.0
      Trigger(a, b, LengthScaleRewrite.rewrite(_, alpha, "__graft_jwbk"))
  }

  /** WRatio, t ∈ (90, 100): the dispatch's own damping makes the length
    * bucket sound, with α = t/100.
    *   - partial legs only exist on the lenRatio ≥ 1.5 branch, scaled by
    *     0.9 (or 0.6 beyond 8×) — their ceiling is exactly 90.0;
    *   - the full-ratio leg at score ≥ t bounds lev(a,b) ≤
    *     (1 − t/100)·max(|a|,|b|), hence min ≥ (t/100)·max;
    *   - the token-sort leg is a 0.95-damped full ratio of the
    *     token-SORTED strings, and splitting on a single space and
    *     rejoining with single spaces is LENGTH-PRESERVING, so score ≥ t
    *     bounds min ≥ (t/95)·max — stronger than the full leg's bound.
    * At t ≤ 90 a partial leg can qualify on an unbounded length ratio,
    * which is the capped family's regime.
    */
  private def wratioBucket(e: Expression): Option[Trigger] = atLeast(e).collect {
    case (WRatio(a, b), t) if t > 90.0 && t < 100.0 =>
      Trigger(a, b, LengthScaleRewrite.rewrite(_, t / 100.0, "__graft_wrbk"))
  }

  /** WRatio, t ∈ (45, 90], with literal length caps on both operands —
    * the reference's cutoff-60 regime (see [[WRatioCapJoin]]). */
  private def wratioCapped(e: Expression): Option[Trigger] = atLeast(e).collect {
    case (WRatio(a, b), t) if t > 45.0 && t <= 90.0 =>
      Trigger(a, b, WRatioCapJoin.rewrite(_, t))
  }

  private val families: Seq[Expression => Option[Trigger]] =
    Seq(levenshtein, jaroWinkler, wratioBucket, wratioCapped)

  /** `l = r` / `l <=> r` with one operand per side: the join already has
    * an equi-key. */
  private def sideEqui(c: Expression, left: LogicalPlan, right: LogicalPlan): Boolean = {
    def split(l: Expression, r: Expression): Boolean =
      l.references.nonEmpty && r.references.nonEmpty &&
        ((canEvaluate(l, left) && canEvaluate(r, right)) ||
          (canEvaluate(l, right) && canEvaluate(r, left)))
    c match {
      case EqualTo(l, r)       => split(l, r)
      case EqualNullSafe(l, r) => split(l, r)
      case _                   => false
    }
  }

  /** The site of conjunct `c`, when the trigger's operands are
    * deterministic strings that evaluate one on each side of `j`. */
  private def site(j: Join, conjuncts: Seq[Expression], c: Expression,
      t: Trigger): Option[FuzzySite] = {
    val oriented =
      if (canEvaluate(t.a, j.left) && canEvaluate(t.b, j.right)) Some((t.a, t.b))
      else if (canEvaluate(t.b, j.left) && canEvaluate(t.a, j.right)) Some((t.b, t.a))
      else None
    oriented.collect {
      case (a, b) if Seq(a, b).forall(x => x.deterministic && x.dataType == StringType) =>
        FuzzySite(j, conjuncts, c, a, b)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner | Cross, Some(cond), _) =>
      val conjuncts = splitConjunctivePredicates(cond)
      if (conjuncts.exists(sideEqui(_, left, right))) j
      else families.iterator.flatMap { family =>
        conjuncts.iterator.flatMap { c =>
          family(c).flatMap(t => site(j, conjuncts, c, t).map(s => (t, s)))
        }.nextOption().flatMap { case (t, s) => t.rewrite(s) }
      }.nextOption().getOrElse(j)
  }
}
