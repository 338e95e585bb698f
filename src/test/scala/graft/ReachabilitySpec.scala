package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Regrowth check (no Spark): every production declaration under
  * `src/main/scala` must be named by some other production source or by the
  * benchmark (`perfbench/src`). A def that only specs call is code no shipped
  * path reaches; it is deleted, not kept alive by its own spec.
  *
  * The scan is textual: comments are stripped, then identifier tokens are
  * counted per source group (main, test, perfbench) and a declaration's own
  * name token is subtracted. A name shared by two declarations counts as
  * used if either is, so the scan can miss dead code. `override` and
  * `implicit` members are reached by their framework and are skipped. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  /** References that only specs call, kept because specs check a shipped path
    * against them; an object named here covers its members. */
  private val References = Set(
    "scorePairsSparse", "scorePairsSparseFast", // reference scorers
    "minhashSignature", "lshBandKeys",          // reference minhash banding
    "trainRanking", "labeledPairs",             // reference dense trainer
    "antecedentRecall", "connectivityRecall",   // blocking-recall measures
    "parseClusters",                            // CoNLL reader
    "ErFixture",                                // scripted-corpus fixture
    "CoreFeatureNames")                         // NER trainer feature subset

  /** Entry points reached by name from outside the code: the
    * `spark.sql.extensions` class and the `runMain` / spark-submit objects,
    * whose `main` is covered too. */
  private val EntryPoints = Set("GraftExtensions", "Verify", "SparkEntry", "Run", "Bench")

  private lazy val main = group("src/main/scala")
  private lazy val tests = group("src/test/scala")
  private lazy val bench = group("perfbench/src")

  private def filesDeclaring(objects: Set[String]): Set[String] =
    main.decls.filter(o => o.kw == "object" && objects(o.name)).map(_.file).toSet
  private lazy val referenceFiles = filesDeclaring(References)
  private lazy val entryFiles = filesDeclaring(EntryPoints)

  private def allowed(d: Decl): Boolean =
    References(d.name) || EntryPoints(d.name) || referenceFiles(d.file) ||
      (d.name == "main" && entryFiles(d.file))

  test("reachability: every production declaration has a caller outside the specs") {
    assert(main.decls.size > 500 && main.decls.size < 20000,
      s"implausible declaration count: ${main.decls.size}")
    val declared = main.declCounts
    val specOnly = main.decls.filterNot(allowed).filter { d =>
      main.refs(d.name) - declared(d.name) + bench.refs(d.name) -
        bench.declCounts.getOrElse(d.name, 0) <= 0
    }
    val report = specOnly.map { d =>
      val t = tests.refs(d.name) - tests.declCounts.getOrElse(d.name, 0)
      s"${d.kw} ${d.name} (${d.file}): ${if (t > 0) s"$t spec references" else "no reference"}"
    }
    assert(report.isEmpty, "production declarations no shipped path reaches:\n" +
      report.mkString("\n"))
  }

  test("reachability: every allowlisted name is still declared") {
    val names = main.decls.map(_.name).toSet
    val stale = (References ++ EntryPoints) -- names
    assert(stale.isEmpty, s"allowlist names no production declaration: $stale")
  }

  test("reachability: comment stripping keeps code and string literals") {
    val src = "def a = 1 // gone1\n/* gone2 /* gone3 */ gone4 */ val e = \"// kept\"\n" +
      "val f = '\"' /* gone5 */\nval g = \"\"\"a \" /* kept2 */\"\"\""
    val s = stripComments(src)
    Seq("def a = 1", "val e", "\"// kept\"", "val f = '\"'", "/* kept2 */").foreach(k =>
      assert(s.contains(k), s"$k missing from: $s"))
    (1 to 5).foreach(i => assert(!s.contains(s"gone$i"), s"gone$i survived: $s"))
    assert(declarations("x", s).map(_.name) === Seq("a", "e", "f", "g"))
    assert(declarations("x", "override def h = 1; implicit val i = 2").isEmpty)
  }
}

object ReachabilitySpec {
  final case class Decl(file: String, kw: String, name: String)

  final case class Group(decls: Seq[Decl], tokens: Map[String, Int]) {
    lazy val declCounts: Map[String, Int] = decls.groupBy(_.name).view.mapValues(_.size).toMap
    def refs(name: String): Int = tokens.getOrElse(name, 0)
  }

  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val Declaration = ("""((?:(?:override|implicit|private|protected|final|lazy|""" +
    """case|sealed|abstract)(?:\[\w+\])?\s+)*)\b(def|val|var|class|object|trait|type)""" +
    """\s+([A-Za-z_][A-Za-z0-9_]*)""").r

  def group(dir: String): Group = {
    val root = Paths.get(dir)
    val files: Seq[Path] =
      if (!Files.isDirectory(root)) Nil
      else Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val code = files.map(f => f.toString -> stripComments(Files.readString(f)))
    Group(code.flatMap { case (f, c) => declarations(f, c) },
      code.flatMap { case (_, c) => Ident.findAllIn(c) }
        .groupBy(identity).view.mapValues(_.size).toMap)
  }

  def declarations(file: String, code: String): Seq[Decl] =
    Declaration.findAllMatchIn(code).collect {
      case m if !m.group(1).contains("override") && !m.group(1).contains("implicit") =>
        Decl(file, m.group(2), m.group(3))
    }.toSeq

  /** `src` with `//` and (nested) `/* */` comments blanked; string and char
    * literals are kept verbatim, since a name inside one can be a reference
    * (an interpolated `$x`, a class name given to Spark). */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        out.append(src.substring(i, j)); i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out.append(src.substring(i, j)); i = j
      } else if (src.charAt(i) == '\'' && i + 2 < n && src.charAt(i + 2) == '\'') {
        out.append(src.substring(i, i + 3)); i += 3
      } else if (src.charAt(i) == '\'' && i + 3 < n && src.charAt(i + 1) == '\\' &&
          src.charAt(i + 3) == '\'') {
        out.append(src.substring(i, i + 4)); i += 4
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
        out.append(' ')
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out.append(' '); i = j
      } else { out.append(src.charAt(i)); i += 1 }
    }
    out.toString
  }
}
