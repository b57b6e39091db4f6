package graft

import org.scalatest.funsuite.AnyFunSuite

/** One way to do each thing: the engine builds sessions in one place
  * (`GraftSession`), keeps session-scoped state in one store
  * (`graft.io.PersistRegistry`), writes per-row kernels one way
  * (plain methods called through `graft.Kernel`), runs streams one
  * way (`StreamOps.drainToTable`, which alone picks the checkpoint
  * file manager), opens file streams one way (`Tables.stream`),
  * persists query-path frames one way (`PersistRegistry.trackPersist`),
  * cuts lineage one way (`graft.operators.Fixpoint.cut`) and fetches a
  * graph's edges to the driver one way (`graft.graph.DriverEdges`). Fails
  * when another pattern appears under src/main/scala, so none can grow
  * back. */
class StructureGuardSpec extends AnyFunSuite {
  private val sources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  // whitespace is dropped before matching, so a pattern split across
  // lines (`ConcurrentHashMap[` + newline + `(SparkSession`) still hits
  private def offenders(pattern: String, allowed: String*): Seq[String] = {
    val re = pattern.r
    sources.filterNot(f => allowed.contains(f.getName)).filter { f =>
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

  test("kernels are plain methods: no hand-written codegen, no CodegenFallback") {
    // a Java-string doGenCode is a second implementation that must agree
    // with eval bit for bit; CodegenFallback drops the projection out of
    // whole-stage codegen. graft.Kernel gives both paths one method.
    val hits = offenders("""override(protected)?def(doGenCode|genCode)\(|(with|extends)CodegenFallback\b""", "")
    assert(hits.isEmpty,
      hits.mkString("write the kernel as a method called through graft.Kernel:\n", "\n", ""))
  }

  test("streams start and drain only in StreamOps.drainToTable") {
    // the helper owns the sink name, the drain, the stop, the state
    // metrics and the confs the drain runs under; a stream started
    // elsewhere forks a process per checkpoint rename again
    val hits = offenders("""\.writeStream\b|processAllAvailable""", "StreamOps.scala")
    assert(hits.isEmpty,
      hits.mkString("run the stream through StreamOps.drainToTable instead:\n", "\n", ""))
  }

  test("the checkpoint file manager is picked only in StreamOps") {
    // drainToTable picks the manager for every stream and restores the
    // caller's choice; a second place setting the conf or naming a
    // manager class would fork a process per checkpoint file again
    val hits = offenders("""checkpointFileManagerClass|CheckpointFileManager""",
      "StreamOps.scala", "LocalCheckpointFileManager.scala")
    assert(hits.isEmpty,
      hits.mkString("let StreamOps.drainToTable pick the checkpoint manager:\n", "\n", ""))
  }

  test("frames persist through the store: no .cache(), no .persist( in a query") {
    // an untracked persist outlives clearPackCaches; library code that
    // persists and unpersists in one scope may call persist directly
    val hits = offenders("""\.cache\(\)""") ++
      offenders("""\.persist\(""").filter(_.contains("graft/queries/"))
    assert(hits.isEmpty, hits.distinct.mkString(
      "persist through graft.io.PersistRegistry.trackPersist instead:\n", "\n", ""))
  }

  test("file streams open only through Tables.stream") {
    // one place pairs a table's schema with its file filter
    val hits = offenders("""readStream\.schema\(""", "Tables.scala")
    assert(hits.isEmpty,
      hits.mkString("open the stream with graft.io.Tables.stream instead:\n", "\n", ""))
  }

  test("lineage is cut only through Fixpoint") {
    // one place decides how state is truncated, so making the cut
    // survive a lost executor is a change to Fixpoint.cut alone
    val hits = offenders("""localCheckpoint\(""", "Fixpoint.scala")
    assert(hits.isEmpty,
      hits.mkString("cut lineage with graft.operators.Fixpoint.cut instead:\n", "\n", ""))
  }

  test("graph code probes an edge count only in DriverEdges") {
    // one size rule decides when a graph loop runs on the driver; a
    // second probe would pick its own threshold, or collect unprobed
    val hits = offenders("""\.limit\((?:[^()]|\([^()]*\))*\)\.count\(\)""",
      "DriverEdges.scala").filter(_.contains("graft/graph/"))
    assert(hits.isEmpty,
      hits.mkString("fetch edges with graft.graph.DriverEdges.fetch instead:\n", "\n", ""))
  }

  test("MlPack runs the pairwise-corr build only in its two graph memos") {
    // every call must sit in corrGraph (r4-rounded, persisted) or corrNet
    // (unrounded, collected): a per-query copy rebuilds a graph the
    // session already holds
    val f = sources.find(_.getName == "MlPack.scala")
      .getOrElse(fail("MlPack.scala not found"))
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val text = try src.mkString finally src.close()
    // a call's owner is the nearest definition opening before it
    val defs = """\b(?:def|class|object)\s+(\w+)""".r.findAllMatchIn(text).toSeq
    val calls = """Analytics\.pairwiseCorr\(""".r.findAllMatchIn(text)
      .map(_.start).toSeq
    assert(calls.nonEmpty, "no pairwise-corr build found in MlPack")
    val owners = calls.map(at =>
      defs.takeWhile(_.start < at).lastOption.map(_.group(1)).getOrElse("?"))
    val stray = owners.filterNot(Set("corrGraph", "corrNet"))
    assert(stray.isEmpty,
      stray.mkString("read MlPack.corrGraph or corrNet instead of building in: ", ", ", ""))
  }
}
