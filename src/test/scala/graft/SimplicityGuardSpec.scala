package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards, no Spark session: every session is built by
  * [[LocalSession]], `spark.graft.checkpointDir` is the engine's only
  * own conf key, no operator writes a session's conf (a cut plans its
  * subtree in a child session), and no operator reads the environment or
  * prints (diagnostics live in the tools) — so a removed builder copy,
  * settled conf-gated arm, session-wide set/restore or env-gated print
  * cannot come back one file at a time. */
class SimplicityGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, Seq[String])] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

  /** `file:line` of every line matching `re` in files under `under`,
    * outside files named in `except`. */
  private def hits(re: scala.util.matching.Regex, except: Set[String] = Set.empty,
      under: Seq[String] = Seq("")): Seq[String] =
    for {
      (p, lines) <- sources
      if !except(p.getFileName.toString) && under.exists(d => p.startsWith(root.resolve(d)))
      (line, i) <- lines.zipWithIndex if re.findFirstIn(line).nonEmpty
    } yield s"$p:${i + 1}: ${line.trim}"

  test("SparkSession.builder appears only in LocalSession.scala") {
    assert(sources.exists(_._1.getFileName.toString == "LocalSession.scala"))
    val found = hits("""SparkSession\s*\.\s*builder""".r, except = Set("LocalSession.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("spark.graft.checkpointDir is the only spark.graft.* conf key") {
    val found = hits(""""spark\.graft\.(?!checkpointDir")""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
    assert(hits(""""spark\.graft\.checkpointDir"""".r).size == 1)
  }

  test("graft.ops and graft.recon never write a session's conf") {
    assert(sources.exists(_._1.startsWith(root.resolve("graft/recon"))))
    val found = hits("""conf\s*\.\s*(set|unset)\s*\(""".r,
      under = Seq("graft/ops", "graft/recon"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("graft.ops and graft.recon never read the environment or print") {
    val found = hits("""sys\s*\.\s*env\b|System\s*\.\s*getenv\b|\bprintln\s*\(""".r,
      under = Seq("graft/ops", "graft/recon"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("graft.ops never drops to RDDs") {
    assert(sources.exists(_._1.startsWith(root.resolve("graft/ops"))))
    val found = hits("""\.rdd\b|mapPartitionsWithIndex""".r, under = Seq("graft/ops"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no withShufflePartitions scope anywhere") {
    val found = hits("""withShufflePartitions""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
