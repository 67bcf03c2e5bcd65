package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** The library takes its behaviour from its arguments and the session
  * it is given, not from switches on the side: no file under
  * src/main/scala/graft reads an environment variable or a
  * `spark.graft.*` conf key, except the entry points that turn a
  * process's environment into arguments (Bench, Verify, Plans, tools/).
  * Nor does it write the conf of the session it is given.
  */
class LibrarySwitchSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")
  private val entryPoints = Set("Bench.scala", "Verify.scala", "Plans.scala")
  private val switch = """sys\.env|System\.getenv|"spark\.graft\.""".r

  private def sources(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) { if (f.getName == "tools" && d == root) Nil else sources(f) }
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** `pattern`'s hits in library code, one "file:line: code" each. */
  private def hits(pattern: scala.util.matching.Regex): Seq[String] = {
    val files = sources(root).filterNot(f =>
      f.getParentFile == root && entryPoints.contains(f.getName))
    assert(files.size > 50, s"source tree not found under ${root.getAbsolutePath}")
    for {
      f <- files
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if pattern.findFirstIn(code).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${n + 1}: $code"
  }

  test("library code reads no env var and no spark.graft.* conf key") {
    val found = hits(switch)
    assert(found.isEmpty, found.mkString("switches in library code:\n", "\n", ""))
  }

  /** A conf write on the caller's session reaches every other query on
    * it, including ones other threads are planning at the time. A query
    * that must plan without AQE runs through `GraftFrames.collectStatic`,
    * which prepares its plan without touching the conf. */
  test("library code writes no session conf") {
    val found = hits("""\.conf\.(set|unset)\(""".r)
    assert(found.isEmpty, found.mkString("conf writes in library code:\n", "\n", ""))
  }
}
