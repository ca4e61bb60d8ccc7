package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SummarySpec extends AnyFunSuite {

  test("percentiles interpolate linearly between order statistics") {
    val xs = (1 to 9).map(_.toDouble)
    assert(Main.percentile(xs, 0.5) == 5.0)
    assert(Main.percentile(xs, 0.75) == 7.0)
    assert(Main.percentile(Vector(1.0, 2.0), 0.75) == 1.75)
    assert(Main.percentile(Vector(3.0), 0.75) == 3.0)
    assert(Main.percentile(Vector.empty, 0.5).isNaN)
  }
}
