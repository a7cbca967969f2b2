package perfbench

import graft.core.LiveJdbc
import org.apache.spark.sql.{DataFrame, Row}

/** The correctness checks behind `failed`: each compares an output of
  * the program with an outcome known independently of it.
  */
object Checks {

  /** sf0.01-shaped `lineitem` has fewer distinct (l_orderkey,
    * l_linenumber) pairs than rows, so its composite primary key must
    * fail with the engine's duplicate-key error.
    */
  val DuplicateKeyStatement = "ADD CONSTRAINT LINEITEM_PK PRIMARY KEY"

  def statusOk(p: LiveJdbc.Planned, status: String): Boolean =
    if (p.sql.contains(DuplicateKeyStatement)) status.startsWith("ERROR") && status.contains("duplicate key")
    else status == LiveJdbc.expectedStatus(p.kind)

  /** Statements whose outcome differs from the plan mapped through
    * `LiveJdbc.expectedStatus`; a missing or extra outcome counts too.
    */
  def migrate(planned: Seq[LiveJdbc.Planned], outcomes: Seq[LiveJdbc.Outcome]): Int =
    planned.map(Option(_)).zipAll(outcomes.map(Option(_)), None, None).count {
      case (Some(p), Some(o)) => o.stmt != p.sql || !statusOk(p, o.status)
      case _ => true
    }

  /** Rows in one frame and not the other, counted in both directions
    * (multiset semantics).
    */
  def rowDiff(a: DataFrame, b: DataFrame): Long = a.exceptAll(b).count() + b.exceptAll(a).count()

  /** The same rows in any order (multiset semantics). */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = a.map(_.toString).sorted == b.map(_.toString).sorted
}
