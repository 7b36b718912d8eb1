package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Input specs are read as Jackson trees; results are written from plain
  * Scala values (Map, Seq, String, numbers, Boolean).
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def render(v: Any): String = mapper.writeValueAsString(v)
}
