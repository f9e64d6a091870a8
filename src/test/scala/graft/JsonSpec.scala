package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ListMap

/** `Json.fixed` against the `f"%.nf"` spelling the hand-built bench
  * lines used: seeded doubles over every magnitude a bench field takes
  * and beyond, ties at the last kept digit, negatives that round to
  * zero, and the non-finite values `%f` would have printed as bare
  * `NaN`/`Infinity`. Pure JVM, no SparkSession. */
class JsonSpec extends AnyFunSuite {

  private def write(v: Any): String = Json.mapper.writeValueAsString(v)

  test("fixed(x, n) writes what f\"%.nf\" writes, over 100k+ seeded doubles") {
    val r = new java.util.Random(20261019L)
    val xs = Seq.fill(30000)(r.nextDouble() * 100) ++                       // seconds, loads
      Seq.fill(30000)(math.pow(10, r.nextDouble() * 24 - 12) *               // every magnitude
        (if (r.nextBoolean()) 1 else -1)) ++
      Seq.fill(20000)(java.lang.Double.longBitsToDouble(r.nextLong())) ++  // any bit pattern
      Seq.fill(20000)((r.nextInt(2000000) - 1000000) / 1e4 + 0.00005) ++     // ties past 4 places
      Seq.fill(10000)((r.nextInt(2000) - 1000) / 1e3 + 0.0005) ++            // ties past 3 places
      Seq(0.0, -0.0, -0.001, -0.4, 0.5, 1.5, 2.5, -1.0, 0.125, 0.2915, 1015234.5, 3.9e6)
    val finite = xs.filter(x => !x.isNaN && !x.isInfinite)
    assert(finite.length >= 100000)
    for (n <- Seq(0, 2, 3, 4); x <- finite)
      assert(write(Seq(Json.fixed(x, n))) == s"[${s"%.${n}f".format(x)}]", s"x=$x n=$n")
  }

  test("fixed writes a non-finite value as null and keeps ListMap order") {
    assert(write(ListMap("nan" -> Json.fixed(Double.NaN, 2),
      "inf" -> Json.fixed(Double.PositiveInfinity, 3), "a" -> 1, "z" -> Json.fixed(-0.0, 2),
      "m" -> None)) == """{"nan":null,"inf":null,"a":1,"z":-0.00,"m":null}""")
  }
}
