package graft

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The one JSON codec for every machine-readable line the mains print or
  * write: the library escapes strings, and numbers go in as BigDecimal
  * written plain, so a value's scale is its printed form and no JVM
  * locale can turn a decimal point into a comma. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder()
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    .build()

  def obj(): ObjectNode = mapper.createObjectNode()

  /** `v` rounded half-up to `scale` decimals (the digits `%.Nf` prints). */
  def dec(v: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP)
}
