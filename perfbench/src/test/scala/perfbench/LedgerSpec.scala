package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's failure accounting: a throw or a wrong output marks its
  * operation failed, once.
  */
class LedgerSpec extends AnyFunSuite {

  test("a clean operation is attempted and not failed") {
    val l = new Ledger
    val (id, r) = l.attempt("op")(41 + 1)
    l.verify(id, "op")(Ledger.same("answer", 42, r.get))
    assert(l.attempted == 1 && l.failed == 0 && r.contains(42))
  }

  test("a throw counts as failed and yields no value") {
    val l = new Ledger
    val (_, r) = l.attempt("op")(throw new IllegalStateException("boom"))
    assert(r.isEmpty && l.attempted == 1 && l.failed == 1)
    assert(l.failures.head.contains("IllegalStateException"))
  }

  test("a wrong output counts as failed, once however many checks fail") {
    val l = new Ledger
    val (id, _) = l.attempt("op")(7)
    l.verify(id, "rows")(Ledger.same("rows", 8, 7))
    l.verify(id, "status")(Ledger.diff("status", Map("a" -> 1L), Map("a" -> 2L, "b" -> 1L)))
    val (id2, _) = l.attempt("op")(8)
    l.verify(id2, "rows")(Ledger.same("rows", 8, 8))
    assert(l.attempted == 2 && l.failed == 1)
  }

  test("a check that throws counts as failed") {
    val l = new Ledger
    val (id, _) = l.attempt("op")(())
    l.verify(id, "check")(throw new RuntimeException("no state"))
    assert(l.failed == 1)
  }

  test("diff names every differing and missing entry") {
    val d = Ledger.diff("status", Map("a" -> 1L, "b" -> 2L), Map("a" -> 1L, "b" -> 3L, "c" -> 1L))
    assert(d == Seq("status[b] expected 2 got 3", "status[c] expected - got 1"))
  }
}
