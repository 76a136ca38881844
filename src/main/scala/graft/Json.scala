package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The JSON writer of every file and line the mains emit (Jackson, as
  * bundled with Spark). Scala maps, sequences, options and primitives
  * serialize directly; build objects as `ListMap`s to keep key order.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def apply(value: Any): String = mapper.writeValueAsString(value)
}
