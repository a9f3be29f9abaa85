package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The entry points' one JSON codec: jackson with the Scala module, so
  * Scala maps (key order kept for `ListMap`/`LinkedHashMap`), sequences
  * and numbers write as JSON, and every string is escaped. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(value: Any): String = mapper.writeValueAsString(value)

  def read(text: String): JsonNode = mapper.readTree(text)
}
