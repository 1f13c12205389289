package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on session setup in the main tree. [[GraftSession]] is the one
  * session factory and [[Profile]] the one diagnostic main; Bench and
  * Verify keep their inline setup because benchmark harnesses read their
  * stdout and timing. Like [[PrivateCacheSpec]], each test also fails when
  * an allowed file no longer does what it is allowed to, so the lists
  * only shrink. */
class SessionFactorySpec extends AnyFunSuite {

  private def filesWhoseCode(p: String => Boolean): Set[String] =
    MainTree.files.filter(f => p(MainTree.code(f))).map(MainTree.owner).toSet

  test("no main-tree file other than GraftSession, Bench and Verify calls " +
       "SparkSession.builder()") {
    assert(filesWhoseCode(_.contains("SparkSession.builder()")) ===
      Set("GraftSession", "Bench", "Verify"))
  }

  test("the main tree has four mains: Bench, Verify, ScaledReplica and Profile") {
    assert(filesWhoseCode(_.contains("def main(")) ===
      Set("Bench", "Verify", "ScaledReplica", "Profile"))
  }

  test("no main-tree file reads GRAFT_NO_REWRITE or GRAFT_STAGE_DETAIL") {
    assert(filesWhoseCode(c =>
      c.contains("GRAFT_NO_REWRITE") || c.contains("GRAFT_STAGE_DETAIL")) === Set.empty)
  }
}
