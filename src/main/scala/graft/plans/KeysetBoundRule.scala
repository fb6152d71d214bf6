package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule for keyset (cursor-resume) predicates — the
  * SURVEY §7.2 "optional Catalyst work": rewrite cursor row-value
  * comparisons into leading-column range predicates for file skipping.
  *
  * A keyset predicate (O2, BoundedScan.hs:256-280) reaches the engine as
  * the expanded OR-chain
  *
  *   (h < v) OR (h = v AND rk < w) OR (h = v AND rk = w AND idx > i)
  *
  * Parquet row-group stats cannot prune on a disjunction, so a scan
  * filtered only by this reads every row group. But every disjunct implies
  * `h <= v` — a plain range predicate stats DO prune on. This rule derives
  * such implied bounds: for every top-level conjunct that is an OR of ≥ 2
  * disjuncts, if ALL disjuncts imply the same non-strict bound
  * `attr <= lit` (or `attr >= lit`) — via a `<`, `<=`, or `=` conjunct on
  * that attribute — the bound is added as a new conjunct. Adding an implied
  * predicate never changes query results; it only enables pushdown.
  *
  * This rule is the only place the bound is made: it serves
  * [[BoundedScan.resumePredicate]] (whose long and int cursor values are
  * [[BoundLiteral]]s, and whose other values arrive as cast string
  * literals, folded to plain literals by constant folding in the same
  * optimizer batch) and any user-written keyset filter (`spark.sql`
  * included) alike. It is a fixpoint: once the bound is present it is
  * never re-added.
  */
object KeysetBoundRule extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  private def disjuncts(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => disjuncts(l) ++ disjuncts(r)
    case other    => Seq(other)
  }

  /** Non-strict bounds implied by one disjunct: (attr, isUpper, literal).
    * An equality implies both directions. Conservative: only bare
    * attribute-vs-literal comparisons participate. */
  private def implied(disjunct: Expression): Seq[(Attribute, Boolean, Literal)] =
    conjuncts(disjunct).flatMap {
      case LessThan(a: Attribute, l: Literal)            => Seq((a, true, l))
      case LessThanOrEqual(a: Attribute, l: Literal)     => Seq((a, true, l))
      case GreaterThan(l: Literal, a: Attribute)         => Seq((a, true, l))
      case GreaterThanOrEqual(l: Literal, a: Attribute)  => Seq((a, true, l))
      case GreaterThan(a: Attribute, l: Literal)         => Seq((a, false, l))
      case GreaterThanOrEqual(a: Attribute, l: Literal)  => Seq((a, false, l))
      case LessThan(l: Literal, a: Attribute)            => Seq((a, false, l))
      case LessThanOrEqual(l: Literal, a: Attribute)     => Seq((a, false, l))
      case EqualTo(a: Attribute, l: Literal)             => Seq((a, true, l), (a, false, l))
      case EqualTo(l: Literal, a: Attribute)             => Seq((a, true, l), (a, false, l))
      case _                                             => Nil
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val cs = conjuncts(cond)
      val derived = cs.flatMap { c =>
        val ds = disjuncts(c)
        if (ds.length < 2) Nil
        else {
          val perDisjunct = ds.map(implied)
          perDisjunct.head.filter { case (a, upper, l) =>
            perDisjunct.tail.forall(_.exists { case (a2, u2, l2) =>
              a2.semanticEquals(a) && u2 == upper && l2.semanticEquals(l)
            })
          }
        }
      }.map { case (a, upper, l) =>
        if (upper) LessThanOrEqual(a, l) else GreaterThanOrEqual(a, l)
      }
      // fixpoint: only add bounds not already conjoined
      val missing = derived.foldLeft(Seq.empty[Expression]) { (acc, d) =>
        if ((cs ++ acc).exists(_.semanticEquals(d))) acc else acc :+ d
      }
      if (missing.isEmpty) f
      else Filter(missing.foldLeft(cond)(And(_, _)), child)
  }
}
