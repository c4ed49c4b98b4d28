package graft.ext

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The edit-distance family of [[FuzzyJoinRule]]: `levenshtein(a, b) <= k`
  * (k ≤ 2) becomes a signature equi-join — banded prefilter + exact
  * verify.
  *
  * The hand-built escape from the nested loop is a blocked sim-join
  * (`graft.api.Search.blockedSimJoin`, cf. the reference's full scan at
  * fuzzy_search.py:54-60); this rewrite derives that shape for ANY user
  * query that spells the predicate the natural way, using a blocking key
  * that is SOUND for edit distance (substring blocks are not: an edit can
  * change any chosen block). Two signature schemes, by k:
  *
  * **Deletion neighborhood** (k = 1; FastSS, Bocek et al. 2007, after
  * Mor & Fraenkel 1982): sigs(s) = {s} ∪ {s minus char i : i a run
  * start}. Two strings at distance ≤ 1 share a signature (substitution at
  * p: delete p from both; indel: the shorter string IS a deletion
  * signature of the longer), and restricting to run starts enumerates
  * each DISTINCT one-deletion neighbor exactly once, which makes the
  * shared distinct signature UNIQUE for every pair at distance exactly 1
  * (equal pairs share everything and are pinned to the identity×identity
  * coordinate by a row-local conjunct). So
  *
  *   explode both sides: (pos ∈ {-1} ∪ run-starts, sig)   — ≤ len+1 rows
  *   equi-join on sig; keep (pos_a = pos_b = -1) iff a = b;
  *   verify levenshtein(a, b, 1) >= 0
  *
  * emits each qualifying pair exactly once with no dedup aggregate. The
  * key is a near-unique string, so the join stays selective even when the
  * whole corpus shares a long literal prefix (ids, URLs, "customer#…") —
  * the distribution where positional segments collapse to one hot key and
  * the equi-join degenerates to the |A|·|B| scan it was meant to replace
  * (caught by the sf1 scale checkpoint). Cost: ~runs(s)+1 explode rows of
  * ~len bytes each, i.e. O(len²) shuffle bytes per row.
  *
  * **Positional segments** (k = 2; PassJoin, Li et al., VLDB 2011): split
  * `a` into k+1 contiguous segments; ≤ k edits leave some segment
  * surviving VERBATIM in `b`, shifted by at most k positions. Therefore
  *
  *   explode A:  (len(a), i, segment_i(a))                 — k+1 rows
  *   explode B:  (lcand, i, substr(b, start_i(lcand)+δ, len_i(lcand)))
  *               for lcand ∈ len(b)±k, i ∈ 0..k, δ ∈ -k..k — (k+1)(2k+1)² rows
  *   equi-join on the triple, verify levenshtein(a, b, k) >= 0
  *
  * with exact output multiplicity: a pair may match on several (i, δ)
  * coordinates, so a row-local conjunct keeps only the lexicographically
  * smallest matching coordinate (unrolled — k is a literal). Explode
  * fanout is constant and each signature is ~len/(k+1) bytes — O(len)
  * shuffle bytes per row — but positional segments inherit the corpus's
  * entropy: a shared prefix puts every row in one bucket.
  *
  * Note: at k=2 the 75-struct explode exceeds janino's method-size limit,
  * so that one Generate stage falls back to interpreted eval (Spark logs a
  * WARN and continues) — still far cheaper than the nested-loop DP it
  * replaces; k=1 stays fully codegen'd.
  */
private[ext] object LevenshteinJoin {

  /** Deletion neighborhood for k = 1 (skew-proof), segments above. */
  def rewrite(s: FuzzySite, k: Int, upperBound: Boolean): LogicalPlan =
    if (k == 1) deletionRewrite(s, upperBound) else segmentRewrite(s, k)

  /** floor((i*len)/(k+1)) on non-negative operands, as IntegerType. */
  private def segStart(len: Expression, i: Int, k: Int): Expression =
    Cast(new IntegralDivide(
      Multiply(Cast(len, LongType), Literal(i.toLong)), Literal((k + 1).toLong)),
      IntegerType)

  private def segLen(len: Expression, i: Int, k: Int): Expression =
    Subtract(segStart(len, i + 1, k), segStart(len, i, k))

  /** segment_i of `s` split into k+1 even chunks by its own length. */
  private def segment(s: Expression, len: Expression, i: Int, k: Int): Expression =
    Substring(s, Add(segStart(len, i, k), Literal(1)), segLen(len, i, k))

  /** substring of `b` at segment i's position (for source length lcand)
    * shifted by d; null when the shifted start falls before the string
    * (null never equi-matches and COALESCEs to no-match in verify). */
  private def shifted(b: Expression, lcand: Expression, i: Int, d: Int, k: Int): Expression = {
    val pos = Add(segStart(lcand, i, k), Literal(d + 1))
    If(GreaterThanOrEqual(pos, Literal(1)),
      Substring(b, pos, segLen(lcand, i, k)),
      Literal(null, StringType))
  }

  /** One side of the deletion-neighborhood join: explode `s` into
    * (pos, sig) rows — pos = -1 carries the identity signature (sig = s),
    * pos = i ≥ 0 the string minus its i-th char, generated only at run
    * starts (i = 0 or s[i] ≠ s[i-1]) so each distinct neighbor appears
    * exactly once. A null `s` explodes to no rows (inner-join semantics).
    */
  private def deletionSide(plan: LogicalPlan, s: Expression, tag: String)
      : (LogicalPlan, Attribute, Attribute) = {
    val pos = AttributeReference(s"__graft_${tag}pos", IntegerType, nullable = false)()
    // timeZoneId must be pre-filled: the analyzer's ResolveTimeZone has
    // already run, and an unresolved TimeZoneAwareExpression fails the
    // optimizer's plan-validation (integer sequences never consult it).
    val gen = Generate(
      Explode(Sequence(Literal(-1), Subtract(Length(s), Literal(1)), None,
        Some(SQLConf.get.sessionLocalTimeZone))),
      Nil, outer = false, None, Seq(pos), plan)
    val runStart = Or(LessThanOrEqual(pos, Literal(0)),
      Not(EqualTo(Substring(s, Add(pos, Literal(1)), Literal(1)),
        Substring(s, pos, Literal(1)))))
    val sig = If(EqualTo(pos, Literal(-1)), s,
      Concat(Seq(Substring(s, Literal(1), pos),
        Substring(s, Add(pos, Literal(2)), Length(s)))))
    val sigAl = Alias(sig, s"__graft_${tag}sig")()
    val proj = Project(plan.output ++ Seq(pos, sigAl), Filter(runStart, gen))
    (proj, pos, sigAl.toAttribute)
  }

  private def deletionRewrite(s: FuzzySite, upperBound: Boolean): LogicalPlan = {
    import s.{a, b, pred}
    val (leftD, lpos, lsig) = deletionSide(s.left, a, "l")
    val (rightD, rpos, rsig) = deletionSide(s.right, b, "r")
    // Equal pairs share every signature; pin them to the identity
    // coordinate. Distance-1 pairs share exactly ONE distinct signature
    // (substitution at p: all matching deletion coordinates produce the
    // same string delete(a,p) = delete(b,p); indel: the one run-start
    // deletion of the longer side), so no further dedup is needed; the
    // verify predicate rejects distance ≥ 2 signature collisions.
    val eqPin = Or(Not(EqualTo(a, b)),
      And(EqualTo(lpos, Literal(-1)), EqualTo(rpos, Literal(-1))))
    // Positional fast guard (upper-bound predicates only): the matched
    // coordinate can certify distance ≤ 1 WITHOUT the DP —
    //   lpos = rpos = -1:  sig equality is a = b, distance 0;
    //   exactly one side -1:  identity = one-deletion of the other,
    //     distance exactly 1 (lengths differ by 1);
    //   lpos = rpos = p ≥ 0:  delete(a,p) = delete(b,p) means a and b
    //     agree everywhere except possibly position p — distance ≤ 1.
    // Only cross-position deletion collisions (lpos ≠ rpos, both ≥ 0,
    // distance ≤ 2 but possibly 2) still pay the bounded DP. On the sf1
    // autojoin that skips the verify for all 3.3 M true matches and runs
    // it only on the 7.7 M cross-position candidates. An exact-distance
    // predicate (lev = m) can't use the ≤-certificate, so it keeps the
    // full verify.
    val verify =
      if (upperBound)
        Or(Or(EqualTo(lpos, rpos),
          Or(EqualTo(lpos, Literal(-1)), EqualTo(rpos, Literal(-1)))), pred)
      else pred
    // Leading 64-bit hash equi-key: implied by sig equality (so the
    // candidate set and multiplicity argument are untouched — this is
    // NOT hash-only joining), but it puts a long first in the join key,
    // so the exchange partitions and the sort-merge compares resolve on
    // 8 bytes instead of walking two ~len-byte strings that share the
    // corpus's literal prefix.
    val sigHash = EqualTo(XxHash64(Seq(lsig), 42L), XxHash64(Seq(rsig), 42L))
    val newCond =
      (Seq(sigHash, EqualTo(lsig, rsig), verify, eqPin) ++ s.residual).reduce(And)
    Project(s.j.output, Join(leftD, rightD, Inner, Some(newCond), JoinHint.NONE))
  }

  private def segmentRewrite(s: FuzzySite, k: Int): LogicalPlan = {
    import s.{a, b}
    val lenA = Length(a)
    val lenB = Length(b)

    // left explode: one (i, segment) row per segment
    val lStructs = (0 to k).map { i =>
      CreateNamedStruct(Seq(
        Literal("i"), Literal(i),
        Literal("seg"), segment(a, lenA, i, k)))
    }
    val lGen = Explode(CreateArray(lStructs))
    val lField = lGen.elementSchema.head
    val lAttr = AttributeReference("__graft_lseg", lField.dataType, lField.nullable)()
    val leftG = Generate(lGen, Nil, outer = false, None, Seq(lAttr), s.left)

    // right explode: every (source-length, i, shift) candidate
    val rStructs = for {
      c <- -k to k; i <- 0 to k; d <- -k to k
    } yield {
      val lcand = Add(lenB, Literal(c))
      CreateNamedStruct(Seq(
        Literal("lcand"), lcand,
        Literal("i"), Literal(i),
        Literal("delta"), Literal(d),
        Literal("sub"), shifted(b, lcand, i, d, k)))
    }
    val rGen = Explode(CreateArray(rStructs))
    val rField = rGen.elementSchema.head
    val rAttr = AttributeReference("__graft_rseg", rField.dataType, rField.nullable)()
    val rightG = Generate(rGen, Nil, outer = false, None, Seq(rAttr), s.right)

    def lf(i: Int, n: String) = GetStructField(lAttr, i, Some(n))
    def rf(i: Int, n: String) = GetStructField(rAttr, i, Some(n))
    val keys = Seq(
      EqualTo(lf(0, "i"), rf(1, "i")),
      EqualTo(lf(1, "seg"), rf(3, "sub")),
      EqualTo(lenA, rf(0, "lcand")))

    // exact-once multiplicity: keep only the lexicographically
    // smallest matching (i, δ) coordinate for this pair — for every
    // smaller coordinate, require its (row-local) match to fail.
    val iRow = rf(1, "i")
    val dRow = rf(2, "delta")
    val minMatch = (for { i0 <- 0 to k; d0 <- -k to k } yield {
      val lexLt = Or(LessThan(Literal(i0), iRow),
        And(EqualTo(Literal(i0), iRow), LessThan(Literal(d0), dRow)))
      val matches = Coalesce(Seq(
        EqualTo(shifted(b, lenA, i0, d0, k), segment(a, lenA, i0, k)),
        Literal(false)))
      Or(Not(lexLt), Not(matches))
    }).toSeq

    val newCond = (keys ++ Seq(s.pred) ++ minMatch ++ s.residual).reduce(And)
    Project(s.j.output, Join(leftG, rightG, Inner, Some(newCond), JoinHint.NONE))
  }
}
