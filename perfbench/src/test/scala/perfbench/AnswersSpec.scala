package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AnswersSpec extends AnyFunSuite {

  private def row(kv: (String, Any)*): Map[Any, Any] = kv.toMap

  test("the digest ignores map entry order but not row order") {
    val a = Vector(row("x" -> 1L, "y" -> "a"), row("x" -> 2L, "y" -> "b"))
    val b = Vector(row("y" -> "a", "x" -> 1L), row("y" -> "b", "x" -> 2L))
    assert(Answers.digest(a) == Answers.digest(b))
    assert(Answers.digest(a) != Answers.digest(a.reverse))
  }

  test("the digest absorbs last-bit float noise and sees real differences") {
    val sum = 0.1 + 0.2 + 0.3
    val sumReversed = 0.3 + 0.2 + 0.1
    assert(sum != sumReversed)
    assert(Answers.digest(Vector(row("s" -> sum))) == Answers.digest(Vector(row("s" -> sumReversed))))
    assert(Answers.digest(Vector(row("s" -> 5.5))) != Answers.digest(Vector(row("s" -> 5.5001))))
    assert(Answers.digest(Vector(row("s" -> 0.0))) == Answers.digest(Vector(row("s" -> -0.0))))
  }

  test("the digest tells types and boundaries apart") {
    assert(Answers.digest(Vector(row("v" -> 1L))) != Answers.digest(Vector(row("v" -> "1"))))
    assert(Answers.digest(Vector("ab", "c")) != Answers.digest(Vector("a", "bc")))
    assert(Answers.digest(Vector(row("v" -> null))) != Answers.digest(Vector(row("v" -> "N"))))
  }

  test("pinned answers survive a save and load") {
    val p = java.nio.file.Files.createTempFile("answers", ".tsv")
    val m = Map(("sf0.001", "q1") -> Answer(3, "ab", 12.0), ("sf0.01", "q2") -> Answer(0, "cd", 7.0))
    Answers.save(p, m)
    assert(Answers.load(p) == m)
    java.nio.file.Files.delete(p)
  }
}
