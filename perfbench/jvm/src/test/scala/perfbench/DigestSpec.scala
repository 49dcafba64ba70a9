package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val cols = Seq("k", "x", "tags")
  private val rows = Seq(
    Row("a", 1.25, Seq(1, 2)),
    Row("b", null, Seq.empty[Int]),
    Row("c", 0.1 + 0.2, Seq(3)))

  test("the digest of a fixed result is stable") {
    // pinned: a change here changes every line of digests.tsv, which
    // must then be recorded again from a commit known to be correct
    assert(Digest.of(cols, rows) == "3:e4e034737f86b2b9")
  }

  test("row order does not matter") {
    assert(Digest.of(cols, rows.reverse) == Digest.of(cols, rows))
  }

  test("floating noise below twelve significant digits does not matter") {
    val noisy = rows.updated(2, Row("c", 0.3, Seq(3)))
    assert(Digest.canonDouble(0.1 + 0.2) == Digest.canonDouble(0.3))
    assert(Digest.of(cols, noisy) == Digest.of(cols, rows))
    assert(Digest.canonDouble(-0.0) == Digest.canonDouble(0.0))
  }

  test("a corrupted value, a lost row, a duplicate row or a renamed column changes it") {
    val base = Digest.of(cols, rows)
    assert(Digest.of(cols, rows.updated(0, Row("a", 1.2500001, Seq(1, 2)))) != base)
    assert(Digest.of(cols, rows.updated(0, Row("a", 1.25, Seq(2, 1)))) != base)
    assert(Digest.of(cols, rows.tail) != base)
    assert(Digest.of(cols, rows :+ rows.head) != base)
    assert(Digest.of(Seq("k", "y", "tags"), rows) != base)
  }

  test("null, empty string and nested values render distinctly") {
    assert(Digest.canon(null) != Digest.canon(""))
    assert(Digest.canon(Row(Row(1), Map("b" -> 2, "a" -> 1))) ==
      "((1),{a->1,b->2})")
  }
}
