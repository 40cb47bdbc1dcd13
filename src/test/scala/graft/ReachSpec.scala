package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every top-level type under `src/main/scala` is reached from an entry
  * point: a main, a class Spark loads by name, or perfbench's driver, which
  * compiles against this library. A source scan, like [[SessionSpec]]'s:
  * starting from those roots, a type is reached when the code of a reached
  * type (or of perfbench) names it. Comments never count, so a scaladoc
  * link cannot keep dead code alive; tests never count, so nothing stays
  * for a test alone. A class (or trait) with a companion object is scanned
  * apart from it: naming the object does not reach the class, which only
  * `new X`, `extends`/`with X` or `X` in a type position reaches.
  */
class ReachSpec extends AnyFunSuite {
  import ReachSpec._

  /** Roots the scan cannot find from code, one reason each. */
  private val allowlist: Map[String, String] = Map(
    "graft.Bench" -> "main: the bench driver",
    "graft.Verify" -> "main: the correctness driver",
    "graft.Cli" -> "main: the command line",
    "graft.tools.GenScale" -> "main: scaled dataset generator",
    "graft.tools.ListQueries" -> "main: prints the registered query names",
    "graft.tools.Measure" -> "main: per-query build/exec measurement",
    "graft.tools.StateScale" -> "main: state-ledger scale run",
    "graft.tools.StreamSoak" -> "main: streaming soak",
    "graft.GraftExtensions (class)" -> "loaded by name through spark.sql.extensions",
    "graft.sources.v2.JiraFixtureSource (class)" -> "DSv2 provider loaded by format name",
    "graft.sources.v2.JiraHttpSource (class)" -> "DSv2 provider loaded by format name")

  private lazy val main = sources(Paths.get("src/main/scala"))
  private lazy val types = main.flatMap(_.types)

  test("every top-level src/main type is reached from an entry point") {
    val byName = types.map(t => t.id -> t).toMap
    val unknown = allowlist.keySet -- byName.keySet
    assert(unknown.isEmpty, s"allowlisted types that do not exist: $unknown")
    allowlist.collect { case (fqn, why) if why.startsWith("main:") => fqn }.foreach { fqn =>
      assert(byName(fqn).code.contains("def main("), s"$fqn is allowlisted as a main")
    }
    val roots = sources(Paths.get("perfbench/src/main/scala")).map(f => (f, f.body))
    val reached = reach(types, allowlist.keySet, roots)
    val dead = types.map(_.id).filterNot(reached).sorted
    assert(dead.isEmpty, s"types no entry point reaches: ${dead.mkString(", ")}")
  }

  test("the scan resolves names by package, ignores comments and other packages") {
    def src(rel: String, text: String) = Source.parse(rel, text)
    val jql = src("graft/jql/Builder.scala",
      "package graft.jql\n\nobject Builder { def b = Helper.x }\n\nobject Helper { val x = 1 }\n")
    val user = src("graft/Cli.scala",
      "package graft\n\n// [[graft.jql.Gone]]\n/** Gone */\nobject Cli {\n" +
        "  val a = jql.Builder.b\n  type Gone = SparkSession.Gone\n}\n")
    val gone = src("graft/jql/Gone.scala", "package graft.jql\n\nobject Gone\n")
    // a class and its companion: naming the object reaches only the object;
    // `new`, `extends`/`with` and type positions reach the class
    val companions = src("graft/jobs/Loop.scala",
      "package graft.jobs\n\nobject Loop { def parse = 1 }\n\n" +
        "final class Loop { def tick = Loop.parse }\n\n" +
        "object Pool\n\nclass Pool\n\nobject Step\n\ntrait Step\n\n" +
        "object Cell\n\nclass Cell\n\ncase class Row(a: Int)\n\nobject Row\n")
    val jobsUser = src("graft/jobs/Runner.scala",
      "package graft.jobs\n\nobject Runner {\n  val n = Loop.parse + Row(1).a\n" +
        "  val p = new Pool\n  object S extends Step\n  def c(x: Seq[Cell]): Option[Cell] = None\n}\n")
    val all = Seq(jql, user, gone, companions, jobsUser).flatMap(_.types)
    val reached = reach(all, Set("graft.Cli", "graft.jobs.Runner"), Nil)
    assert(reached == Set("graft.Cli", "graft.jql.Builder", "graft.jql.Helper",
      "graft.jobs.Runner", "graft.jobs.Loop", "graft.jobs.Row",
      "graft.jobs.Pool", "graft.jobs.Pool (class)", "graft.jobs.Step",
      "graft.jobs.Step (class)", "graft.jobs.Cell", "graft.jobs.Cell (class)"))
  }
}

object ReachSpec {

  /** A top-level type: its fully qualified name and its code. A case class
    * merges with its companion object (the companion's `apply` builds it);
    * any other class or trait with a companion is its own `classOnly` type.
    */
  final case class TopType(file: Source, name: String, code: String,
      classOnly: Boolean = false) {
    def fqn: String = if (file.pkg.isEmpty) name else s"${file.pkg}.$name"
    def id: String = if (classOnly) s"$fqn (class)" else fqn
  }

  final case class Source(rel: String, pkg: String, imports: Seq[String], body: String) {
    private val decl =
      ("(?m)^((?:(?:final|sealed|abstract|case|implicit|private(?:\\[\\w+\\])?)\\s+)*)" +
        "(object|class|trait)\\s+(\\w+)").r

    lazy val types: Seq[TopType] = {
      val ds = decl.findAllMatchIn(body).toSeq
      ds.zipWithIndex
        .map { case (m, i) =>
          val isObject = m.group(2) == "object"
          val isCase = m.group(1).split("\\s+").contains("case")
          (m.group(3), isObject || isCase,
            body.substring(m.start, if (i + 1 < ds.size) ds(i + 1).start else body.length))
        }
        .groupBy(_._1).toSeq
        .flatMap { case (n, parts) =>
          val (merged, classes) = parts.partition(_._2)
          if (merged.isEmpty || classes.isEmpty) Seq(TopType(this, n, parts.map(_._3).mkString("\n")))
          else Seq(TopType(this, n, merged.map(_._3).mkString("\n")),
            TopType(this, n, classes.map(_._3).mkString("\n"), classOnly = true))
        }
    }

    /** Whether `code` (text of this file) names `t`: qualified by its
      * package (or a relative tail of it), or bare where this file's
      * package or imports bring it into scope.
      */
    def names(code: String, t: TopType): Boolean = {
      def isPkg(path: String) = path == t.file.pkg || t.file.pkg.endsWith("." + path)
      val inScope = pkg == t.file.pkg || imports.exists { i =>
        importRe.findFirstMatchIn(i).exists { m =>
          isPkg(m.group(1)) && (m.group(2) == "_" || m.group(2) == t.name ||
            (m.group(2).startsWith("{") && s"\\b${t.name}\\b".r.findFirstIn(m.group(2)).isDefined))
        }
      }
      val ref = if (t.classOnly) classRef(t.name) else s"(?<![\\w.])([\\w.]*?)\\.?\\b${t.name}\\b".r
      ref.findAllMatchIn(code).exists { m =>
        val q = m.subgroups.find(_ != null).getOrElse("")
        if (q.isEmpty) inScope else isPkg(q)
      }
    }
  }

  private val charLit = "'(\\\\.|[^\\\\'\\n])'".r

  /** A reference to the CLASS `name`, not to its companion object:
    * `new X`, `extends X`, `with X`, or a type position (`: X`, `[X`, `X#`);
    * the group that matched holds the qualifier. `X.member` names the
    * object.
    */
  private def classRef(name: String) =
    (s"(?:(?:\\bnew|\\bextends|\\bwith)\\s+|:\\s*|\\[\\s*)([\\w.]*?)\\.?\\b$name\\b(?!\\.)|" +
      s"(?<![\\w.])([\\w.]*?)\\.?\\b$name#").r

  private val importRe = "^([\\w.]+)\\.(_|\\w+|\\{[^}]*\\})\\s*$".r

  object Source {
    def parse(rel: String, text: String): Source = {
      val body = stripComments(text)
      val pkgs = "(?m)^package ([\\w.]+)\\s*$".r.findAllMatchIn(body).map(_.group(1)).toSeq
      val imports = "(?m)^\\s*import\\s+([\\w.]+\\.(?:_|\\w+|\\{[^}]*\\}))".r
        .findAllMatchIn(body).map(_.group(1)).toSeq
      Source(rel, pkgs.mkString("."), imports, body)
    }
  }

  def sources(root: Path): Seq[Source] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => Source.parse(root.relativize(p).toString,
        new String(Files.readAllBytes(p), "UTF-8")))

  /** The fixpoint: roots, then every type the code of a reached type (or of
    * a root file) names.
    */
  def reach(types: Seq[TopType], roots: Set[String],
      rootCode: Seq[(Source, String)]): Set[String] = {
    var reached = roots
    var grew = true
    while (grew) {
      val code = rootCode ++ types.filter(t => reached(t.id)).map(t => (t.file, t.code))
      val next = reached ++ types.filterNot(t => reached(t.id))
        .filter(t => code.exists { case (f, c) => f.names(c, t) })
        .map(_.id)
      grew = next.size > reached.size
      reached = next
    }
    reached
  }

  /** `text` with every `//` and (nested) block comment blanked out; string
    * and character literals are kept, so a comment marker inside one is
    * not mistaken for a comment.
    */
  def stripComments(text: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = text.length
    def at(s: String) = text.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && text(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (text(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        var j = text.indexOf("\"\"\"", i + 3)
        if (j < 0) j = n else { while (j + 3 < n && text(j + 3) == '"') j += 1; j += 3 }
        out ++= text.substring(i, j)
        i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n') j += (if (text(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= text.substring(i, j)
        i = j
      } else {
        // a character literal such as '"' must not open a string
        val char = if (text(i) == '\'') charLit.findPrefixOf(text.substring(i, math.min(n, i + 4)))
          else None
        out ++= char.getOrElse(text(i).toString)
        i += char.fold(1)(_.length)
      }
    }
    out.toString
  }
}
