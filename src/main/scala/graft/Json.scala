package graft

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer of the measurement apparatus: Bench's artifact and
  * summary line, ScaleOracle's section and Verify's `oracle_sql.json` /
  * `failures.json`.
  *
  * A document is a tree of `ListMap`s (key order is the order the tree
  * was built in), `Seq`s, `Option`s (None is null), strings, booleans and
  * numbers; [[dec]] fixes a number's decimals. Non-ASCII is written as
  * `\uXXXX`, so a capture in any platform charset keeps it intact.
  */
object Json {

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(JsonWriteFeature.ESCAPE_NON_ASCII)
    .build()

  def write(tree: Any): String = mapper.writeValueAsString(tree)

  def read(json: String): JsonNode = mapper.readTree(json)

  /** `v` rounded half-up to `places` decimals, written with exactly
    * that many.
    */
  def dec(v: Double, places: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(places, java.math.RoundingMode.HALF_UP)
}
