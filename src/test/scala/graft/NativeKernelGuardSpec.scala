package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/**
 * One pattern for native functions: a Scala kernel method, called from a
 * Column builder through `Invoke`/`StaticInvoke` (README, "Native
 * functions"). A hand-written Catalyst expression would bring back a second
 * implementation — its own `eval` and generated Java — that no suite runs
 * with codegen off. Spark's stream-row plumbing in
 * `org/apache/spark/sql/graftbridge` lies outside the scanned tree.
 */
class NativeKernelGuardSpec extends AnyFunSuite {

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("no file under src/main/scala/graft defines doGenCode or extends Unary/Binary/TernaryExpression") {
    val files = scalaFiles(new File("src/main/scala/graft"))
    assert(files.size > 50, s"scanned ${files.size} files: is the working directory the project root?")
    val bespoke = """def\s+doGenCode\b|(extends|with)\s+(Unary|Binary|Ternary)Expression\b""".r
    val hits = for {
      f <- files
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      if bespoke.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
