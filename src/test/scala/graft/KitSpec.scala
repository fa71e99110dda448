package graft

import graft.fixtures.FixtureGen
import graft.tools.{Kit, Probe}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The shared tool kit: medians, the truth digest and Probe's up-front
  * argument checks.
  */
class KitSpec extends AnyFunSuite {

  test("median of odd, even and empty samples") {
    assert(Kit.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Kit.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val e = intercept[IllegalArgumentException](Kit.median(Nil))
    assert(e.getMessage.contains("median of an empty sample"))
  }

  test("truth digest does not depend on doc order") {
    val docs = FixtureGen.corpus(6, 60).map(_.doc)
    val (rows, digest) = Kit.truth(docs)
    assert(rows > 0)
    assert(Kit.truth(docs.reverse) == ((rows, digest)))
    assert(Kit.truth(docs.tail)._2 != digest)
  }

  test("Probe rejects reps < 2 and unknown queries before any session") {
    val before = SparkSession.getDefaultSession
    def rejects(args: String*): String =
      intercept[IllegalArgumentException](Probe.main(args.toArray)).getMessage
    assert(rejects("/nonexistent", "1").contains("reps must be >= 2"))
    assert(rejects("/nonexistent", "x").contains("is not a number"))
    assert(rejects("/nonexistent").contains("usage: Probe"))
    assert(rejects("/nonexistent", "3", "no_such_query")
      .contains("unknown queries: no_such_query"))
    assert(rejects("/nonexistent", "3", "--plans")
      .contains("--plans needs a directory"))
    // no session was started, nor an existing one stopped
    assert(SparkSession.getDefaultSession == before)
    assert(before.forall(!_.sparkContext.isStopped))
  }
}
