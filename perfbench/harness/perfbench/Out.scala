package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Append-only JSON-lines record of one run. Every line is flushed as it
  * is written, so a run killed mid-query still leaves everything it
  * finished; the reader counts the missing execution as a hang. */
final class Out(path: String) {
  private val w = new BufferedWriter(new OutputStreamWriter(
    new FileOutputStream(path, true), StandardCharsets.UTF_8))

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.write(Out.json(("kind" -> kind) +: fields))
    w.write('\n')
    w.flush()
  }

  def close(): Unit = w.close()
}

object Out {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON object with the fields in order; `None` becomes null. */
  def json(fields: Seq[(String, Any)]): String =
    mapper.writeValueAsString(ListMap(fields: _*))
}
