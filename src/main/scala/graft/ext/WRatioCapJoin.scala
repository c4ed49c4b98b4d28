package graft.ext

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types._

/** The capped WRatio family of [[FuzzyJoinRule]]: thresholded WRatio
  * θ-joins AT OR BELOW the 90.0 partial-leg ceiling — the reference's
  * actual operating regime (fuzzy_search.py:57 scores WRatio at cutoff
  * 60) — become an EXACT two-branch candidate union when the join
  * condition also carries literal length caps on both operands:
  *
  *   A join B on wratio(a, b) >= t AND length(a) <= La AND length(b) <= Lb
  *
  * The family above 90 relies on the dispatch damping alone; below the
  * ceiling a 0.9-damped partial window reaches t on an unbounded length
  * ratio, so no single length-scale key is sound. The length caps bound
  * the partial-leg window count, and the PassJoin-style pigeonhole
  * machinery applies. The rewrite decomposes the join into two DISJOINT
  * branches whose union is the exact join:
  *
  * BRANCH 1 — bucket-near pairs (|Δbucket| ≤ 2 under the geometric
  * length buckets of [[LengthScaleRewrite]], α = t/100). All pairs
  * qualifying through the FULL leg (score ≥ t ⟹ lev ≤ (1−t/100)·max ⟹
  * min ≥ (t/100)·max, since lev ≥ |len diff|) or the TOKEN-SORT leg
  * (0.95-damped, and token sorting is length-preserving, so min ≥
  * (t/95)·max — stronger) are bucket-near. The branch is the shared
  * exploded-bucket equi-join with `wratio ≥ t` as the exact verify;
  * each pair appears at most once (the 5 candidate buckets are
  * distinct).
  *
  * BRANCH 2 — bucket-far pairs (|Δbucket| > 2 kept as an explicit
  * conjunct, which makes the branches disjoint BY PREDICATE, not by
  * hope). A far pair cannot qualify through the full or token-sort leg
  * (the α bound above caps Δbucket at 1 + float slop ≤ 2), so its
  * winning leg is a PARTIAL: lenRatio ≥ 1.5, and
  * `partial(sh, lo) · damp ≥ t` with damp ∈ {0.9, 0.855, 0.6, 0.57}
  * (raw/token-sorted × the ≥8× 0.6 scale). The loosest damp bounds the
  * best same-length window: ∃ window w of lo, |w| = |sh| = m, with
  * lev(sh, w) ≤ m·(1 − t/85.5) =: k. The PassJoin pigeonhole (Li,
  * Deng, Feng 2011: an alignment with ≤ k edits leaves ≥ 1 of any
  * k+1-part contiguous partition untouched) then guarantees one of
  * sh's k+1 even segments occurs VERBATIM in w, hence in lo. The
  * branch equi-joins the sh side's exploded segments (tagged R/T for
  * the raw/token-sorted form) against the lo side's distinct
  * substrings of the statically known segment-length set, and verifies
  * `wratio ≥ t`. Per-row fanout is bounded by the caps: ≤ 2·pMax
  * segments on the sh side, ≤ Σ_ℓ(Llo − ℓ + 1) substrings on the lo
  * side — both compile-time constants of (t, La, Lb).
  *
  * EXACTLY-ONCE in branch 2 without row ids: several segments of a
  * pair may match, so the join carries a FIRST-MATCH-RANK predicate —
  * the candidate's static (form, segment) rank must equal the least
  * rank whose segment is contained in the lo form (a CaseWhen over the
  * ≤ 2·pMax static slots, each a guarded Contains). A qualifying far
  * pair survives on exactly one candidate row; every other candidate
  * row of the same pair fails the equality. The two directions
  * (left-as-shorter / right-as-shorter) are disjoint by the
  * 3·len(sh) ≤ 2·len(lo) conjunct (lenRatio ≥ 1.5 cannot hold both
  * ways), so the union is duplicate-free overall.
  *
  * SLACK: segment counts use k = ⌊m·c⌋ + 1 (one extra allowed edit
  * over the analytic bound) so the 6-decimal HALF_UP rounding inside
  * WRatio and any float-boundary wobble can only OVER-generate
  * candidates. Candidate-set inflation never changes results — the
  * verify is the exact predicate — which is also why the DuckDB twin
  * can replay the same construction without cross-engine float-boundary
  * risk.
  *
  * Fires for t ∈ (45, 90] (above → the length-bucket family; below 45
  * the segments shrink toward 2-grams and the candidate join
  * degenerates). DECLINES (and leaves the nested loop) when either cap
  * is missing or beyond 512, or the slot budget (pMax > 16) would blow
  * up the static expression tree.
  */
private[ext] object WRatioCapJoin extends PredicateHelper {

  /** Static-slot budget per form (segments per row ≤ 2·PMaxBudget). */
  private val PMaxBudget = 16
  /** Largest accepted length cap — beyond this the lo-side substring
    * fanout stops being a sane constant. */
  private val MaxCap = 512

  /** A predicate possibly bounding the (alias-resolved) operand `x`. */
  private case class CapWitness(cond: Expression, x: Expression)

  private def litInt(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    case Literal(v: Long, LongType) if v <= Int.MaxValue => Some(v.toInt)
    case _ => None
  }
  private def isLenOf(e: Expression, x: Expression): Boolean = e match {
    case Length(ch) => ch.semanticEquals(x)
    case _ => false
  }

  /** Literal length cap this conjunct places on `x` (length(x) <= L /
    * length(x) < L and mirrored spellings). */
  private def capOn(c: Expression, x: Expression): Option[Int] = c match {
    case LessThanOrEqual(l, r) if isLenOf(l, x) => litInt(r)
    case LessThan(l, r) if isLenOf(l, x)        => litInt(r).map(_ - 1)
    case GreaterThanOrEqual(l, r) if isLenOf(r, x) => litInt(l)
    case GreaterThan(l, r) if isLenOf(r, x)        => litInt(l).map(_ - 1)
    case _ => None
  }

  /** Literal length FLOOR this conjunct places on `x` — optional, but
    * it prunes the static segment-length set 𝕃 (a probe known ≥ 11
    * chars never produces 2-char segments, so the lo side skips the
    * unselective short-substring explode). */
  private def minOn(c: Expression, x: Expression): Option[Int] = c match {
    case GreaterThanOrEqual(l, r) if isLenOf(l, x) => litInt(r)
    case GreaterThan(l, r) if isLenOf(l, x)        => litInt(r).map(_ + 1)
    case LessThanOrEqual(l, r) if isLenOf(r, x) => litInt(l)
    case LessThan(l, r) if isLenOf(r, x)        => litInt(l).map(_ + 1)
    case _ => None
  }

  // ---- expression builders (all constructed resolved; no analyzer) ----

  /** concat_ws(" ", sort_array(split(c, " "))) — value-identical to
    * WRatioImpl.tokenSort (InvariantSpec pins the built-in parity). */
  private def tokenSort(e: Expression): Expression =
    ConcatWs(Seq(Literal(" "),
      SortArray(StringSplit(e, Literal(" "), Literal(-1)), Literal(true))))

  private def intL(e: Expression): Expression = Cast(e, LongType)

  /** Row-level segment count p = min(⌊m·c⌋ + 2, m), m = length(sh):
    * ⌊m·c⌋ is the analytic edit bound, +1 slack, +1 for parts = k+1;
    * clamped at m so every segment is non-empty (k < m always holds for
    * a QUALIFYING pair — lev of equal-length strings ≤ m and t > 0 —
    * so the clamp never cuts below the sound count). */
  private def partsExpr(m: Expression, c: Double): Expression =
    Least(Seq(
      Add(intL(Floor(Multiply(Cast(m, DoubleType), Literal(c)))), Literal(2L)),
      intL(m)))

  /** Driver-side twin of [[partsExpr]]. */
  private def partsOf(m: Int, c: Double): Int =
    math.min(math.floor(m * c).toInt + 2, m)

  /** Segment j of the even k+1-partition of `form` (chars
    * [⌊j·m/p⌋, ⌊(j+1)·m/p⌋)); integer arithmetic only. */
  private def segExpr(form: Expression, m: Expression, p: Expression, j: Int): Expression = {
    val mL = intL(m)
    val start = IntegralDivide(Multiply(Literal(j.toLong), mL), p)
    val end = IntegralDivide(Multiply(Literal(j + 1L), mL), p)
    Substring(form,
      Cast(Add(start, Literal(1L)), IntegerType),
      Cast(Subtract(end, start), IntegerType))
  }

  /** All lengths an even partition can produce over m ∈ [lshMin, lsh]. */
  private def segLengths(lshMin: Int, lsh: Int, c: Double): Seq[Int] = {
    val out = scala.collection.mutable.SortedSet.empty[Int]
    for (m <- lshMin to lsh) {
      val p = partsOf(m, c)
      for (j <- 0 until p) {
        val len = ((j + 1).toLong * m / p - j.toLong * m / p).toInt
        if (len > 0) out += len
      }
    }
    out.toSeq
  }

  /** Tagged distinct substrings of `form` with lengths in `lens`:
    * array_distinct(concat(per-length filtered transforms)). */
  private def substrArray(form: Expression, tag: String, lens: Seq[Int]): Expression = {
    val perLen = lens.map { l =>
      val i = NamedLambdaVariable("i", LongType, nullable = false)
      val gen = ArrayTransform(
        // Long-typed sequence — the zone id is irrelevant but
        // TimeZoneAwareExpression.resolved demands one be set.
        new Sequence(Literal(1L),
          Greatest(Seq(Subtract(Add(intL(Length(form)), Literal(1L)), Literal(l.toLong)),
            Literal(1L))),
          Some(Literal(1L)), Some("UTC")),
        LambdaFunction(
          Concat(Seq(Literal(tag),
            Substring(form, Cast(i, IntegerType), Literal(l)))),
          Seq(i)))
      val s = NamedLambdaVariable("s", StringType, nullable = true)
      ArrayFilter(gen,
        LambdaFunction(EqualTo(Length(s), Literal(l + tag.length)), Seq(s)))
    }
    ArrayDistinct(Concat(perLen))
  }

  def rewrite(s: FuzzySite, t: Double): Option[LogicalPlan] = {
    // The caps are usually NOT in the join condition by the time this
    // rule runs: they are single-side predicates, so
    // PushDownPredicates has already moved them into the children.
    // Harvest bounds from the remaining conjuncts AND from each
    // side's Filter nodes (where they are GUARANTEES — every row
    // below already satisfies them).
    // Walk Project/Filter chains, rewriting the tracked operand
    // through Project aliases so a cap below a rename still matches.
    def harvest(plan: LogicalPlan, x: Expression): Seq[CapWitness] = plan match {
      case Project(projList, child) =>
        val m = projList.collect {
          case al: Alias => al.toAttribute.exprId -> al.child
        }.toMap
        val x2 = x.transformUp {
          case ar: AttributeReference if m.contains(ar.exprId) => m(ar.exprId)
        }
        harvest(child, x2)
      case Filter(fc, child) =>
        splitConjunctivePredicates(fc).map(CapWitness(_, x)) ++ harvest(child, x)
      case _ => Nil
    }
    def bounds(side: LogicalPlan, x: Expression): (Option[Int], Int) = {
      val cs = s.conjuncts.map(CapWitness(_, x)) ++ harvest(side, x)
      (cs.flatMap(w => capOn(w.cond, w.x)).reduceOption(_ min _),
        math.max(1, cs.flatMap(w => minOn(w.cond, w.x)).reduceOption(_ max _)
          .getOrElse(1)))
    }
    val (capA, minA) = bounds(s.left, s.a)
    val (capB, minB) = bounds(s.right, s.b)
    (capA, capB) match {
      case (Some(la), Some(lb))
          if la >= 1 && lb >= 1 && la <= MaxCap && lb <= MaxCap =>
        build(s, t, la, lb, minA, minB)
      case _ => None
    }
  }

  private def build(s: FuzzySite, t: Double, la: Int, lb: Int,
      minA: Int, minB: Int): Option[LogicalPlan] = {
    import s.{a, b, pred}
    val alpha = t / 100.0
    // Loosest window bound across the partial legs (0.9·0.95 = 0.855
    // damping; the ≥8× 0.6 scale demands a HIGHER window score, so it
    // is covered). Negative cR/cS (t near the ceiling) just means that
    // leg needs an exact window — partsExpr's +2 keeps p ≥ 2.
    val c = math.max(1.0 - t / 90.0, math.max(1.0 - t / 85.5, 0.0))
    // Effective shorter-side caps: direction demands 3·|sh| ≤ 2·|lo|.
    val lshL = math.min(la, 2 * lb / 3)
    val lshR = math.min(lb, 2 * la / 3)
    val pMaxL = if (lshL >= 1) partsOf(lshL, c) else 0
    val pMaxR = if (lshR >= 1) partsOf(lshR, c) else 0
    if (math.max(pMaxL, pMaxR) > PMaxBudget) return None

    // Branch 1: the shared bucket equi-join (exact verify = pred).
    val b1 = LengthScaleRewrite.rewrite(s, alpha, "__graft_wrbk")
      .getOrElse(return None)

    val bkA = LengthScaleRewrite.bucket(a, alpha)
    val bkB = LengthScaleRewrite.bucket(b, alpha)
    val far = GreaterThan(Abs(Subtract(bkA, bkB)), Literal(2L))

    def branch2(shOnLeft: Boolean): Option[LogicalPlan] = {
      val (sh, lo, lsh, lshMin, pMax) =
        if (shOnLeft) (a, b, lshL, minA, pMaxL) else (b, a, lshR, minB, pMaxR)
      if (lsh < 1 || lshMin > lsh || pMax < 1) return None
      val lens = segLengths(lshMin, lsh, c)
      val (shPlan, loPlan) = if (shOnLeft) (s.left, s.right) else (s.right, s.left)

      // sh side: project the token-sorted form once, then posexplode
      // the 2·pMax static candidate slots (null = slot beyond this
      // row's p; null keys never equi-match).
      val shTs = Alias(tokenSort(sh), "__graft_wrts_s")()
      val shProj = Project(shPlan.output :+ shTs, shPlan)
      val m = Length(sh)
      val p = partsExpr(m, c)
      def slot(form: Expression, tag: String, jdx: Int): Expression =
        If(LessThan(Literal(jdx.toLong), p),
          Concat(Seq(Literal(tag), segExpr(form, m, p, jdx))),
          Literal(null, StringType))
      val slots =
        (0 until pMax).map(slot(sh, "R", _)) ++
        (0 until pMax).map(slot(shTs.toAttribute, "T", _))
      val posAttr = AttributeReference("__graft_wrpos", IntegerType, nullable = false)()
      val segAttr = AttributeReference("__graft_wrseg", StringType, nullable = true)()
      val shGen = Generate(PosExplode(CreateArray(slots)),
        Nil, outer = false, None, Seq(posAttr, segAttr), shProj)

      // lo side: project the token-sorted form, explode the tagged
      // distinct substrings of the static length set.
      val loTs = Alias(tokenSort(lo), "__graft_wrts_l")()
      val loProj = Project(loPlan.output :+ loTs, loPlan)
      val subAttr = AttributeReference("__graft_wrsub", StringType, nullable = true)()
      val loGen = Generate(
        Explode(Concat(Seq(
          substrArray(lo, "R", lens),
          substrArray(loTs.toAttribute, "T", lens)))),
        Nil, outer = false, None, Seq(subAttr), loProj)

      // First-match rank over the static slots: Contains guarded by
      // slot existence (substring beyond p would be "" and Contains
      // (x, "") is true — the guard keeps phantom slots out).
      // INVARIANT (exactly-once proof): Contains is BYTE-level
      // UTF8String containment while the lo side enumerates
      // CHAR-boundary substrings; the two agree because valid UTF-8 is
      // self-synchronizing — a byte-level match of a whole-code-point
      // segment can only start on a code-point boundary, so every
      // Contains hit has an equi-joined substring candidate at that
      // rank. Spark StringType guarantees valid UTF-8 for decoded
      // data; a future binary-ish input path that smuggles malformed
      // bytes into StringType would void this and could drop a
      // qualifying pair (firstMatch picking a rank with no candidate).
      val ranks = (0 until 2 * pMax).map { r =>
        val (form, lof, jdx) =
          if (r < pMax) (sh, lo, r) else (shTs.toAttribute, loTs.toAttribute, r - pMax)
        val hit = And(LessThan(Literal(jdx.toLong), p),
          Contains(lof, segExpr(form, m, p, jdx)))
        (hit, Literal(r))
      }
      val firstMatch = CaseWhen(ranks, None)

      val direction = LessThanOrEqual(
        Multiply(Literal(3), Length(sh)), Multiply(Literal(2), Length(lo)))
      val cond2 = (Seq(
        EqualTo(segAttr, subAttr),
        direction, far,
        EqualTo(posAttr, firstMatch),
        pred) ++ s.residual).reduce(And)
      val (l2, r2) = if (shOnLeft) (shGen, loGen) else (loGen, shGen)
      Some(Project(s.j.output, Join(l2, r2, Inner, Some(cond2), JoinHint.NONE)))
    }

    val branches = Seq(Some(b1), branch2(shOnLeft = true),
      branch2(shOnLeft = false)).flatten
    // A direction with a degenerate cap (2·cap/3 = 0) admits no
    // qualifying pair, so dropping its branch is sound; Union needs
    // ≥ 2 children.
    Some(if (branches.size == 1) branches.head else Union(branches))
  }
}
