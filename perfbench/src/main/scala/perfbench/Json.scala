package perfbench

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's output lines: an object keeps its field order. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def obj(fields: Seq[(String, Any)]): String = mapper.writeValueAsString(ListMap(fields: _*))
}
