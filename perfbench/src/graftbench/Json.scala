package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Result and span records: insertion-ordered maps, written with the
  * Jackson that ships with Spark. */
object Json {
  type Obj = mutable.LinkedHashMap[String, Any]
  def Obj(entries: (String, Any)*): Obj = mutable.LinkedHashMap(entries: _*)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
