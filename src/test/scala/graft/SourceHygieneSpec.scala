package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins every src/main source file as plain text: a literal NUL byte makes
  * grep classify the file as binary, so text audits (leak scans, reviews)
  * silently skip it. Use the backslash-u0000 escape in string literals instead.
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("no src source file contains a literal NUL byte") {
    val root = Paths.get("src")
    val offenders = Files
      .walk(root)
      .iterator()
      .asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readAllBytes(p).contains(0.toByte))
      .map(_.toString)
      .toList
    assert(offenders.isEmpty, s"binary-classified sources: $offenders")
  }

  /** Every Scala source under `dir`. */
  private def sourceFiles(dir: String): List[Path] = Files
    .walk(Paths.get(dir))
    .iterator()
    .asScala
    .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
    .toList

  /** Text of every Scala source under `dir`. */
  private def sources(dir: String): List[String] =
    sourceFiles(dir).map(Files.readString)

  test("src/main reads exactly the three documented spark.graft keys") {
    // README "Configuration": every other size threshold is a named
    // constant at its use site, and the cutover ceilings are bounded by
    // spark.graft.local.edges through graft.operators.Cutover
    def literals(re: scala.util.matching.Regex): Set[String] =
      sources("src/main").flatMap(re.findAllMatchIn(_).map(_.group(1))).toSet
    assert(literals("\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r) == Set(
      "spark.graft.local.edges",
      "spark.graft.mutation.broadcastKeys",
      "spark.graft.index.dir"))
    assert(literals("\"(GRAFT_[A-Z]+_DEBUG|GRAFT_NO_PREWARM)\"".r).isEmpty)
  }

  test("no tuple of two eager Cutover.collect probes in src/main") {
    // a tuple evaluates both probes; chain them in a for-comprehension
    // so the second runs only when the first stayed under the cap
    val collect = """(?:graft\.operators\.)?Cutover\.collect\("""
    val pair = ("""\(\s*""" + collect + """(?:[^()]|\([^()]*\))*\)\s*,\s*""" +
      collect).r
    assert(sources("src/main").flatMap(pair.findAllIn(_)).isEmpty)
  }

  test("the procedures share one node-argument decoder") {
    val defs = sources("src/main/scala/graft/procedures")
      .map("""def nodeIdOf\b""".r.findAllIn(_).size).sum
    assert(defs == 1)
  }

  test("every traversal orients its edges through one Expand.oriented") {
    // Out, In and Both (a reversed copy without self-loops) are written
    // once; Expand.orientedTriples is the driver twin
    val main = sources("src/main")
    assert(main.map("""def oriented\b""".r.findAllIn(_).size).sum == 1)
    val gone = Seq("orientAs", "orientedBoth", "orientedStructEdges",
      "propFilteredOrientedEdges")
    assert(gone.filter(n => main.exists(_.contains(n))).isEmpty)
  }

  test("src/main writes spark.sql.codegen keys at exactly one site") {
    // the codegen mode is session state the engine owns: ExecutionMode
    // sets it for every version the engine loads or plans on, so no other
    // write can leave a stale mode behind
    val writers = sourceFiles("src/main")
      .filter(p => Files.readString(p).contains("\"spark.sql.codegen."))
    assert(writers.map(_.getFileName.toString) == List("ExecutionMode.scala"))
    assert("""conf\.set\(""".r.findAllIn(Files.readString(writers.head)).size == 1)
    assert(sources("src/main").forall(
      """SQLConf\.\w*CODEGEN""".r.findFirstIn(_).isEmpty))
  }

  test("no src/main file but GraphState names adjacencyBySrc") {
    // the benchmark's set-up alias of allEdges; the engine reads the edge
    // frames themselves and pushes its filters into the scans
    val users = sourceFiles("src/main")
      .filter(Files.readString(_).contains("adjacencyBySrc"))
      .map(_.getFileName.toString)
    assert(users == List("GraphState.scala"))
  }

  test("src/main materializes through Scratch.cp and frees no block by hand") {
    // a block lives as long as some frame that reads it: the
    // ContextCleaner frees checkpoint blocks once no version or frame
    // reaches them, so no registry may free one that a live version reads
    val checkpointers = sourceFiles("src/main")
      .filter(Files.readString(_).contains("localCheckpoint("))
      .map(_.getFileName.toString)
    assert(checkpointers == List("Scratch.scala"))
    val main = sources("src/main")
    assert(Seq("WeakReference", "Scratch.sweep", "trackPersisted")
      .filter(n => main.exists(_.contains(n))).isEmpty)
    // a version's derived frames are checkpoints it owns, never
    // CacheManager entries that outlive it
    assert(!Files.readString(Paths.get("src/main/scala/graft/core/GraphState.scala"))
      .contains(".persist("))
  }
}
