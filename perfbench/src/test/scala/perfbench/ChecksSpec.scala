package perfbench

import graft.core.LiveJdbc
import graft.ops.Movement
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Each correctness check passes on the expected output and fails on a
  * deliberately perturbed one.
  */
class ChecksSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false").getOrCreate()

  private val planned = LiveJdbc.plan(Movement.fixtureColumnMeta, Movement.fixtureKeyMeta)
  private val expected = planned.map { p =>
    val status =
      if (p.sql.contains(Checks.DuplicateKeyStatement)) "ERROR: ... would have caused a duplicate key value ..."
      else LiveJdbc.expectedStatus(p.kind)
    LiveJdbc.Outcome(p.ord, p.sql, status)
  }

  test("migrate: the planned outcome stream passes; a changed, missing or too-good outcome fails") {
    assert(planned.size == 45)
    assert(Checks.migrate(planned, expected) == 0)
    val i = planned.indexWhere(_.kind == "load")
    assert(Checks.migrate(planned, expected.updated(i, expected(i).copy(status = "ERROR: lock timeout"))) == 1)
    assert(Checks.migrate(planned, expected.dropRight(1)) == 1)
    val pk = planned.indexWhere(_.sql.contains(Checks.DuplicateKeyStatement))
    assert(Checks.migrate(planned, expected.updated(pk, expected(pk).copy(status = "applied"))) == 1)
  }

  test("sync: equal tables pass; one changed target row fails in both directions") {
    import spark.implicits._
    val source = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    assert(Checks.rowDiff(source, Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v")) == 0)
    assert(Checks.rowDiff(source, Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v")) == 2)
    assert(Checks.rowDiff(source, Seq((1L, "a"), (2L, "b")).toDF("k", "v")) == 1)
    assert(Checks.rowDiff(source, Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "c")).toDF("k", "v")) == 1)
  }

  test("search: the same hits in any order pass; a dropped or changed hit fails") {
    import org.apache.spark.sql.Row
    val hits = Seq(Row(1L, 7L, 900L), Row(2L, 3L, 800L), Row(3L, 9L, 700L))
    assert(Checks.sameRows(hits, hits.reverse))
    assert(!Checks.sameRows(hits, hits.dropRight(1)))
    assert(!Checks.sameRows(hits, hits.updated(1, Row(2L, 4L, 800L))))
  }
}
