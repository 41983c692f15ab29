package perfbench

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the run and event records, written with the Jackson that
  * Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** An object whose fields keep the order they are given in. */
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def write(value: Any): String = mapper.writeValueAsString(value)
}
