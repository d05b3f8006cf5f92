package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's own files: the plan run.py writes and the raw
  * record the JVM hands back, built from Scala maps, sequences and values.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(p: Path): JsonNode = mapper.readTree(Files.readAllBytes(p))

  def write(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)
}
