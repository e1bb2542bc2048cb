package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: java.nio.file.Path, value: Any): Unit = {
    mapper.writeValue(path.toFile, value)
    ()
  }
}
