package graft

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The project's one JSON module (Jackson, as bundled with Spark): the
  * writer of every file and line the mains emit, and the reader of the
  * GeoJSON the portal's survey cells carry. Scala maps, sequences,
  * options and primitives serialize directly; build objects as
  * `ListMap`s to keep key order.
  *
  * Reading accepts what a hand-edited CSV cell plausibly holds beyond
  * strict JSON: raw control characters inside strings, a backslash
  * before any character, and the number forms `+1`, `.5`, `5.` and
  * `01`. Everything else follows Jackson's defaults, its limits
  * included (nesting deeper than 1,000 levels is refused).
  */
object Json {
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS,
      JsonReadFeature.ALLOW_BACKSLASH_ESCAPING_ANY_CHARACTER,
      JsonReadFeature.ALLOW_LEADING_PLUS_SIGN_FOR_NUMBERS,
      JsonReadFeature.ALLOW_LEADING_DECIMAL_POINT_FOR_NUMBERS,
      JsonReadFeature.ALLOW_TRAILING_DECIMAL_POINT_FOR_NUMBERS,
      JsonReadFeature.ALLOW_LEADING_ZEROS_FOR_NUMBERS)
    .build()

  def apply(value: Any): String = mapper.writeValueAsString(value)

  /** The document's first JSON value as a tree; anything after it is
    * not read. Throws a `JsonProcessingException` (an `IOException`) on
    * text Jackson refuses. */
  def tree(text: String): JsonNode = mapper.readTree(text)
}
