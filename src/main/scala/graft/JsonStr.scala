package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** A JSON string literal for the one-line records the mains print:
  * Jackson does the escaping, so a path, index name or error message
  * holding a quote or backslash cannot break the record. */
private[graft] object JsonStr {
  private val mapper = new ObjectMapper()

  def apply(v: String): String = mapper.writeValueAsString(v)
}
