package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out through the Jackson that ships with Spark. Objects are
  * written from `ListMap`s so keys keep their insertion order. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (mapper.writerWithDefaultPrettyPrinter.writeValueAsString(v) + "\n").getBytes("UTF-8"))
}
