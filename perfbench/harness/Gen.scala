package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Deterministic, random-access generator of the playback CSV.
  *
  * Row `i` of seed `s` is a pure function of `(s, i)`, so the checks can
  * recompute the expected reading for any delivered `row_idx` without
  * keeping the file in memory. Shape follows the reference's vibration
  * export: two channels, a `user_ts` with a constant 125 µs delta, plus
  * one int and one string column.
  *
  * Channel values are multiples of 1/1024, printed as their exact
  * decimal expansion, so the parsed double is bit-exact and the check
  * compares with `==`.
  */
object Gen {
  val Header = "channel1,channel2,user_ts,counter,tag"
  val StepMicros = 125L
  private val Tags = Array("idle", "run", "warm", "cool", "spin", "hold", "ramp", "trip",
    "load", "lift", "drop", "push", "pull", "stop", "wait", "fault")
  // 2019-12-12T10:00:00Z, the reference export's first reading
  private val Epoch0Micros = 1576144800L * 1000000L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def h(seed: Long, i: Long, k: Int): Long =
    mix(mix(seed) ^ (i * 4 + k))

  /** Channel `k` (0 or 1) of row `i` in 1/1024 units, in [-2^19, 2^19). */
  def chanUnits(seed: Long, i: Long, k: Int): Long = (h(seed, i, k) >>> 44) - (1L << 19)

  def channel(seed: Long, i: Long, k: Int): Double = chanUnits(seed, i, k) / 1024.0

  def channelStr(u: Long): String = {
    val a = math.abs(u)
    val frac = ((a % 1024) * 9765625L).toString // a/1024 has at most 10 decimals
    val sb = new java.lang.StringBuilder(24)
    if (u < 0) sb.append('-')
    sb.append(a / 1024).append('.')
    var pad = 10 - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac).toString
  }

  def counter(seed: Long, i: Long): Int = ((h(seed, i, 2) >>> 33) % 1000000L).toInt

  def tag(seed: Long, i: Long): String = Tags((h(seed, i, 3) >>> 60).toInt)

  /** Seed-dependent start hour, so no two seeds share timestamps; a
    * file stays far inside one day (1.75M rows × 125 µs < 4 min). */
  def baseMicros(seed: Long): Long = Epoch0Micros + java.lang.Math.floorMod(seed, 8L) * 3600L * 1000000L

  def tsMicros(seed: Long, i: Long): Long = baseMicros(seed) + i * StepMicros

  /** `%Y-%m-%d %H:%M:%S.%f%z` for a UTC instant. */
  def tsStr(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val us = Math.floorMod(micros, 1000000L)
    val t = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
    val sb = new java.lang.StringBuilder(31)
    sb.append(t.getYear).append('-')
    two(sb, t.getMonthValue).append('-')
    two(sb, t.getDayOfMonth).append(' ')
    two(sb, t.getHour).append(':')
    two(sb, t.getMinute).append(':')
    two(sb, t.getSecond).append('.')
    val f = us.toString
    var pad = 6 - f.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(f).append("+0000").toString
  }

  private def two(sb: java.lang.StringBuilder, v: Int): java.lang.StringBuilder =
    (if (v < 10) sb.append('0') else sb).append(v)

  def line(seed: Long, i: Long): String =
    channelStr(chanUnits(seed, i, 0)) + "," + channelStr(chanUnits(seed, i, 1)) + "," +
      tsStr(tsMicros(seed, i)) + "," + counter(seed, i) + "," + tag(seed, i)

  /** Writes header + `rows` data lines; gzip when the name ends `.gz`.
    * With `blankEvery > 0`, channel1 of every row `i % blankEvery == 1`
    * is left empty (the NaN-injected variant for the CleanCsv step).
    * Blocks of lines are formatted on `nproc` threads and written in
    * order. */
  def write(path: Path, seed: Long, rows: Long, blankEvery: Int = 0): Unit = {
    val threads = Runtime.getRuntime.availableProcessors
    Files.createDirectories(path.getParent)
    val raw = Files.newOutputStream(path)
    val os =
      if (path.toString.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw, 1 << 16)
      else new java.io.BufferedOutputStream(raw, 1 << 20)
    val block = 65536L
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      os.write((Header + "\n").getBytes(StandardCharsets.UTF_8))
      (0L until rows by block).grouped(threads).foreach { wave =>
        wave.map { from =>
          pool.submit(new java.util.concurrent.Callable[Array[Byte]] {
            def call(): Array[Byte] = {
              val sb = new java.lang.StringBuilder(((block + 1) * 72).toInt)
              var i = from
              while (i < math.min(rows, from + block)) {
                val l = line(seed, i)
                sb.append(if (blankEvery > 0 && i % blankEvery == 1) l.substring(l.indexOf(',')) else l)
                  .append('\n')
                i += 1
              }
              sb.toString.getBytes(StandardCharsets.UTF_8)
            }
          })
        }.foreach(f => os.write(f.get()))
      }
    } finally {
      pool.shutdown()
      os.close()
    }
  }
}
