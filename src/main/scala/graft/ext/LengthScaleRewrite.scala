package graft.ext

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types._

/** Shared machinery of [[FuzzyJoinRule]]'s geometric LENGTH-SCALE
  * bucket rewrites (Jaro-Winkler, WRatio above 90, and the bucket-near
  * branch of [[WRatioCapJoin]]): when a thresholded similarity predicate
  * implies `min(|a|,|b|) ≥ α·max(|a|,|b|)`, a qualifying pair's
  * geometric length buckets (base 1/α) differ by at most 1 (±2 carried
  * for floating-point slop at boundaries), so the θ-join becomes:
  * explode the left side into its 5 candidate buckets (constant fanout,
  * distinct values) and equi-join on the bucket, keeping the original
  * predicate as the exact verify — never worse than the nested loop it
  * replaces. On a fixed-length corpus every row lands in one bucket and
  * the join degenerates to the scan it replaced, with fanout 5.
  */
private[ext] object LengthScaleRewrite {

  /** Smallest usable ln(1/α): below this every length lands in one
    * astronomically-numbered bucket (the whole corpus on one shuffle
    * key) — callers fall back to the unrewritten join instead. */
  val MinLogAlpha = 1e-6

  /** floor(ln(max(len,1)) / ln(1/α)) as LongType. Long, not Int: for
    * thresholds driving α within ~1e-9 of 1, the quotient can exceed
    * Int range — a 32-bit cast would wrap (non-ANSI) or error (ANSI),
    * and wrapped buckets straddling the Int boundary silently break
    * the |Δbucket| ≤ 2 contract. No realistic length/threshold pair
    * escapes Long range (Spark's double→long cast saturates rather
    * than wraps even if one did), and [[MinLogAlpha]] rejects the
    * degenerate-α regime before it gets here. */
  def bucket(s: Expression, alpha: Double): Expression =
    Cast(Floor(Divide(
      Log(Cast(Greatest(Seq(Length(s), Literal(1))), DoubleType)),
      Literal(math.log(1.0 / alpha)))), LongType)

  /** The exploded-bucket equi-join: left side generates its 5 candidate
    * buckets under `attrName`, the join gains `bucket(b) = candidate`
    * as an equi-conjunct, `pred` stays as the exact verify. Returns
    * None when α is non-positive or degenerate (caller keeps the
    * original join). */
  def rewrite(s: FuzzySite, alpha: Double, attrName: String): Option[LogicalPlan] = {
    if (alpha <= 0.0 || math.log(1.0 / alpha) < MinLogAlpha) None
    else {
      val bk = AttributeReference(attrName, LongType, nullable = false)()
      val cands = (-2 to 2).map(d => Add(bucket(s.a, alpha), Literal(d.toLong)))
      val leftG = Generate(Explode(CreateArray(cands)),
        Nil, outer = false, None, Seq(bk), s.left)
      val newCond = (Seq(
        EqualTo(bk, bucket(s.b, alpha)), s.pred) ++ s.residual).reduce(And)
      Some(Project(s.j.output, Join(leftG, s.right, Inner, Some(newCond), JoinHint.NONE)))
    }
  }
}
