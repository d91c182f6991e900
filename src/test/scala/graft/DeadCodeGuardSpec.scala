package graft

import org.scalatest.funsuite.AnyFunSuite

/** Engine code is there because something runs it: every `def` under
  * src/main/scala must be named somewhere besides its own declaration, in
  * src/main, src/test or perfbench/src. A query, a spec or a perfbench call
  * that reaches it names it; a def nothing names is code no one needs, and
  * a COVERAGE.md row that cites it is a claim nothing checks. `override`s
  * are exempt, since Spark or the JVM calls them; so a def that implements
  * an abstract member says `override`.
  *
  * Comments are stripped first (`/* */` blocks and whole-line `//`), so a
  * scaladoc that names a def is not a use of it. The check is still by
  * name only, so it is a lower bound on dead code: an unreferenced def
  * whose name is overloaded, appears in a string or a trailing `//`
  * comment, or is a common word that occurs elsewhere for another reason
  * (`apply`, `count`, a local val) passes.
  */
class DeadCodeGuardSpec extends AnyFunSuite {
  test("every non-override def under src/main/scala is named somewhere else") {
    import ParquetReadGuardSpec.{scalaFiles, sources, withoutComments}
    def code(files: Seq[(String, String)]) =
      files.map { case (f, text) => (f, withoutComments(text)) }
    val main = code(sources)
    val uses = (main ++ code(scalaFiles("src/test")) ++
        code(scalaFiles("perfbench/src")))
      .flatMap { case (_, text) => raw"\w+".r.findAllIn(text) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val dead = for {
      (file, text) <- main
      line <- text.linesIterator
      m <- raw"\bdef\s+(\w+)".r.findAllMatchIn(line)
      if raw"\boverride\b".r.findFirstIn(line.take(m.start)).isEmpty &&
        uses(m.group(1)) == 1
    } yield s"$file: ${m.group(1)}"
    if (dead.nonEmpty)
      fail(s"${dead.size} defs named nowhere else:\n${dead.mkString("\n")}")
  }
}
