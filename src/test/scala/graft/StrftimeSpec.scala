package graft

import graft.timefmt.Strftime

import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter

class StrftimeSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("default reference format translates and parses") {
    // csvplayback.py:198-206 default
    val j = Strftime.toJava("%Y-%m-%d %H:%M:%S.%f%z")
    assert(j == "yyyy-MM-dd HH:mm:ss.SSSSSS[XXX][XX]")
    val parsed = OffsetDateTime.parse("2019-12-12 10:00:00.000125+0000",
      DateTimeFormatter.ofPattern(j))
    assert(parsed.getNano == 125000)
    // %z also reads +HH:MM and Z, as Python's strptime %z does
    for ((z, secs) <- Seq("+05:30" -> 19800, "-0800" -> -28800, "Z" -> 0))
      assert(OffsetDateTime.parse(s"2019-12-12 10:00:00.000125$z", DateTimeFormatter.ofPattern(j))
        .getOffset.getTotalSeconds == secs, z)
  }

  test("escaped percent and literal letters") {
    assert(Strftime.toJava("%Y%%%m") == "yyyy'%'MM")
    assert(Strftime.toJava("%YT%m") == "yyyy'T'MM")
    assert(Strftime.toJava("at %H") == "'at' HH")
  }

  test("unknown directive raises (reference parity: hard failure)") {
    intercept[IllegalArgumentException](Strftime.toJava("%Q"))
    intercept[IllegalArgumentException](Strftime.toJava("trailing%"))
  }
}
