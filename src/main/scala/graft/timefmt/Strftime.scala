package graft.timefmt

/** Translates Python/C strftime patterns (the reference's `timestampFormat`,
  * csvplayback.py:198-206, default `%Y-%m-%d %H:%M:%S.%f%z`) into Java
  * `DateTimeFormatter` patterns usable by Spark's `to_timestamp` /
  * `date_format`.
  *
  * Literal alphabetic characters are single-quoted so they are not
  * misread as Java pattern letters; `'` becomes `''`.
  */
object Strftime {

  private val directives: Map[Char, String] = Map(
    'Y' -> "yyyy", // 4-digit year
    'y' -> "yy",
    'm' -> "MM",
    'd' -> "dd",
    'H' -> "HH",
    'I' -> "hh",
    'M' -> "mm",
    'S' -> "ss",
    'f' -> "SSSSSS", // microseconds (6 digits)
    'z' -> "[XXX][XX]", // python %z: +HH:MM, +HHMM or Z (no one java pattern reads all three)
    'Z' -> "zz",
    'j' -> "DDD",
    'a' -> "EEE",
    'A' -> "EEEE",
    'b' -> "MMM",
    'B' -> "MMMM",
    'p' -> "a")

  /** A format whose only `%z` is its last directive, split into the
    * format before it and the one after it (literals and `%%` only);
    * None otherwise. */
  def endingOffset(strftime: String): Option[(String, String)] = {
    var last = -1
    var offsets = 0
    var i = 0
    while (i < strftime.length) {
      if (strftime.charAt(i) == '%' && i + 1 < strftime.length) {
        if (strftime.charAt(i + 1) != '%') last = i
        if (strftime.charAt(i + 1) == 'z') offsets += 1
        i += 2
      } else i += 1
    }
    if (offsets == 1 && strftime.charAt(last + 1) == 'z')
      Some(strftime.take(last) -> strftime.drop(last + 2))
    else None
  }

  /** @throws IllegalArgumentException on an unknown %-directive
    *         (mirrors the reference's hard failure on bad formats). */
  def toJava(strftime: String): String = {
    val out = new StringBuilder
    var i = 0
    var quoted = false
    def closeQuote(): Unit = if (quoted) { out.append('\''); quoted = false }
    while (i < strftime.length) {
      val c = strftime.charAt(i)
      if (c == '%') {
        if (i + 1 >= strftime.length)
          throw new IllegalArgumentException(s"dangling % in strftime pattern '$strftime'")
        val d = strftime.charAt(i + 1)
        if (d == '%') { closeQuote(); out.append("'%'") }
        else directives.get(d) match {
          case Some(j) => closeQuote(); out.append(j)
          case None =>
            throw new IllegalArgumentException(s"unsupported strftime directive %$d in '$strftime'")
        }
        i += 2
      } else {
        if (c.isLetter) {
          if (!quoted) { out.append('\''); quoted = true }
          out.append(c)
        } else {
          closeQuote()
          if (c == '\'') out.append("''") else out.append(c)
        }
        i += 1
      }
    }
    closeQuote()
    out.toString
  }
}
