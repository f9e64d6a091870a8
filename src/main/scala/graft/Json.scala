package graft

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.util.RawValue
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer and reader: every JSON the engine and its mains
  * print (the bench lines, Verify's oracle_sql.json, the playback
  * offset-log record) is an ordered `ListMap`/`Seq` tree serialized by
  * [[mapper]], and every JSON they read goes through its `readTree`. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN).build()

  /** `x` with `n` decimals, spelled as `f"%.nf"` spells it ("-0.00" for
    * a negative that rounds to zero); a NaN or infinity becomes `null`. */
  def fixed(x: Double, n: Int): AnyRef = if (!java.lang.Double.isFinite(x)) null else {
    val d = java.math.BigDecimal.valueOf(x).setScale(n, java.math.RoundingMode.HALF_UP)
    if (d.signum == 0 && 1 / x < 0) new RawValue("-" + d.toPlainString) else d
  }
}
