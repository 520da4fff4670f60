package erbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON in/out (Jackson ships with Spark). */
object Json {
  def read(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    java.lang.Double.toString(v)
  }
}
