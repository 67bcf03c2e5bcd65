package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** The library takes its behaviour from its arguments and the session
  * it is given, not from switches on the side: no file under
  * src/main/scala/graft reads an environment variable or a
  * `spark.graft.*` conf key, except the entry points that turn a
  * process's environment into arguments (Bench, Verify, Plans, tools/).
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

  test("library code reads no env var and no spark.graft.* conf key") {
    val files = sources(root).filterNot(f =>
      f.getParentFile == root && entryPoints.contains(f.getName))
    assert(files.size > 50, s"source tree not found under ${root.getAbsolutePath}")
    val hits = for {
      f <- files
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if switch.findFirstIn(code).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${n + 1}: $code"
    assert(hits.isEmpty, hits.mkString("switches in library code:\n", "\n", ""))
  }
}
