package graft

import org.scalatest.funsuite.AnyFunSuite

/** One way to do each thing: the engine builds sessions in one place
  * (`GraftSession`) and keeps session-scoped state in one store
  * (`graft.io.PersistRegistry`). Fails when either pattern appears
  * anywhere else under src/main/scala, so neither can grow back. */
class StructureGuardSpec extends AnyFunSuite {
  private val sources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  // whitespace is dropped before matching, so a pattern split across
  // lines (`ConcurrentHashMap[` + newline + `(SparkSession`) still hits
  private def offenders(pattern: String, allowed: String): Seq[String] = {
    val re = pattern.r
    sources.filterNot(_.getName == allowed).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try re.findFirstIn(src.mkString.replaceAll("\\s+", "")).isDefined
      finally src.close()
    }.map(_.getPath)
  }

  test("the scan sees the engine sources") {
    assert(sources.size > 100, s"only ${sources.size} sources under src/main/scala")
  }

  test("SparkSession.builder appears only in GraftSession") {
    val hits = offenders("""SparkSession\.builder""", "GraftSession.scala")
    assert(hits.isEmpty, hits.mkString("use GraftSession.local instead:\n", "\n", ""))
  }

  test("no session-keyed ConcurrentHashMap outside the store") {
    // keyed by a session or a (session, ...) tuple, qualified or not
    val hits = offenders("""ConcurrentHashMap\[\(?([\w.]+\.)?SparkSession\b""",
      "PersistRegistry.scala")
    assert(hits.isEmpty,
      hits.mkString("memoize through PersistRegistry / Stage instead:\n", "\n", ""))
  }
}
