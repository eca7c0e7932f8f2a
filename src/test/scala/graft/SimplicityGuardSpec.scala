package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards, no Spark session: every session is built by
  * [[LocalSession]], `spark.graft.checkpointDir` is the engine's only
  * own conf key, no operator writes a session's conf (a cut plans its
  * subtree in a child session), no operator reads the environment or
  * prints (diagnostics live in the tools), every operator entry point
  * has a caller outside the specs, and no doc comment is stacked onto
  * another — so a removed builder copy, settled conf-gated arm,
  * session-wide set/restore, env-gated print or spec-only twin cannot
  * come back one file at a time. */
class SimplicityGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): Seq[Path] = {
    assert(Files.isDirectory(dir), s"run from the repository root: $dir missing")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  private def sources: Seq[(Path, Seq[String])] =
    scalaFiles(root).map(p => p -> Files.readAllLines(p).asScala.toSeq)

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

  /** `src` with every comment blanked and line breaks kept. String
    * literals stay: a name inside an interpolation (`${Obj.f(..)}` in an
    * oracle SQL) is a real call. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def copyTo(j: Int): Unit = { out ++= src.substring(i, j); i = j }
    def blankTo(j: Int): Unit = { out ++= src.substring(i, j).filter(_ == '\n'); i = j }
    def endOf(close: String, from: Int): Int = {
      val j = src.indexOf(close, from)
      if (j < 0) src.length else j + close.length
    }
    while (i < src.length) {
      if (src.startsWith("/*", i)) blankTo(endOf("*/", i + 2))
      else if (src.startsWith("//", i)) {
        val nl = src.indexOf('\n', i)
        blankTo(if (nl < 0) src.length else nl)
      }
      else if (src.startsWith("\"\"\"", i)) copyTo(endOf("\"\"\"", i + 3))
      else if (src.startsWith("'\\", i) && i + 3 < src.length && src(i + 3) == '\'') copyTo(i + 4)
      else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') copyTo(i + 3)
      else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo((j + 1) min src.length)
      } else copyTo(i + 1)
    }
    out.toString
  }

  test("every def under graft.{ops,recon,streaming} has a non-comment reference " +
      "in src/main or reconbench/src") {
    // callers: the library and the reconciliation benchmark, never the specs
    val callers: Map[Path, String] = (scalaFiles(root) ++ scalaFiles(Paths.get("reconbench/src")))
      .map(p => p -> code(new String(Files.readAllBytes(p), "UTF-8"))).toMap
    val mod = """(?:(?:final|sealed|abstract|case|implicit|override|lazy|inline|@\w+|""" +
      """(?:private|protected)(?:\[\w+\])?)\s+)*"""
    val decl = ("""^(\s*)(""" + mod + """)(object|class|trait)\s+(\w+)""").r
    val defn = ("""^(\s*)(""" + mod + """)def\s+([A-Za-z_]\w*)""").r
    // (file, line, owner, enclosed by a plain object, name): public and
    // package-private defs; `override`s are called through their parent
    val defs = for {
      (p, src) <- callers.toSeq
      if Seq("graft/ops", "graft/recon", "graft/streaming").exists(d => p.startsWith(root.resolve(d)))
      (owner, ln, inObject, name) <- {
        var owner = ""
        var scopes = List.empty[(Int, String)] // (indent, kind), innermost first
        src.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, i) =>
          decl.findPrefixMatchOf(line).foreach { m =>
            val ind = m.group(1).length
            if (ind == 0) owner = m.group(4)
            // an object that extends a type is called through that type,
            // like a class instance
            val kind = if (m.after.toString.contains("extends")) "class" else m.group(3)
            scopes = (ind, kind) :: scopes.dropWhile(_._1 >= ind)
          }
          defn.findPrefixMatchOf(line).toSeq.flatMap { m =>
            val mods = m.group(2).split("\\s+").toSet
            val hidden = mods("override") || mods("private") || mods("protected") ||
              mods("private[this]")
            val ind = m.group(1).length
            val encl = scopes.dropWhile(_._1 >= ind).headOption.map(_._2)
            if (hidden) Nil else Seq((owner, i + 1, encl.contains("object"), m.group(3)))
          }
        }
      }
    } yield (p, ln, owner, inObject, name)

    def imports(src: String, owner: String, name: String): Boolean =
      raw"""import\s+[\w.]*\b$owner\.(_|$name\b|\{[^}]*\b$name\b[^}]*\})""".r
        .findFirstIn(src).nonEmpty

    val dead = defs.filterNot { case (p, _, owner, inObject, name) =>
      val qualified = raw"""\b$owner\s*\.\s*$name\b""".r
      // a class or trait member is called on an instance of any name
      val onInstance = raw"""\.\s*$name\b""".r
      val bare = raw"""(?<![\w.])$name\b""".r
      val declared = raw"""\bdef\s+$name\b""".r
      callers.exists { case (f, src) =>
        (owner.nonEmpty && qualified.findFirstIn(src).nonEmpty) ||
          (!inObject && onInstance.findFirstIn(src).nonEmpty) ||
          ((f == p || imports(src, owner, name)) &&
            bare.findAllIn(src).size > declared.findAllIn(src).size)
      }
    }.map { case (p, ln, owner, _, name) => s"$p:$ln: $owner.$name" }.sorted
    assert(defs.size > 100, s"the def scan found only ${defs.size} defs")
    assert(dead.isEmpty, dead.mkString("\nno caller in src/main or reconbench/src:\n", "\n", ""))
  }

  test("no doc comment directly follows another") {
    val found = for {
      (p, lines) <- sources
      (Seq(a, b), i) <- lines.sliding(2).zipWithIndex
      if a.trim.endsWith("*/") && b.trim.startsWith("/**")
    } yield s"$p:${i + 1}: ${a.trim} / ${b.trim}"
    assert(found.isEmpty, found.mkString("\nthe first doc comment documents nothing:\n", "\n", ""))
  }
}
