package gatebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the raw run file, through the Jackson build Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
