package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine reads no `graft.*` system property and no `GRAFT_*` environment
  * variable: its behaviour is set by `JobConfig`/`RunnerConfig` (or
  * `settings.json`) alone, and a spec that must reach the far side of a gate
  * uses a defaulted parameter or a `private[graft]` seam instead. The scan
  * covers every package under `src/main/scala/graft/`; the top-level
  * entry-point mains (`JobMain`, `Bench`, `BenchExtra`, `Verify`, `CdcDemo`)
  * read their deployment environment and are not scanned. A read whose key
  * is not a string literal fails too — it cannot be checked. */
class NoEngineKnobSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private val readCall =
    ("""(?:sys\.props|sys\.env|System\.getProperty|System\.getenv|""" +
      """Properties\.(?:propOrElse|propOrNone|propOrEmpty|propOrNull|envOrElse|envOrNone|envOrSome))""" +
      """\s*(?:\.\s*(?:get|getOrElse|contains|apply)\s*)?\(\s*(\S)""").r
  private val engineKey = """"(?:graft\.|GRAFT_)""".r

  /** `file:line: snippet` of every forbidden read in `text`. */
  private def offending(file: Path, text: String): Seq[String] =
    readCall.findAllMatchIn(text).toSeq.collect {
      case m if m.group(1) != "\"" ||
          engineKey.findPrefixOf(text.substring(m.start(1))).nonEmpty =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        val end = text.indexOf('\n', m.start) match { case -1 => text.length; case e => e }
        s"${root.relativize(file)}:$line: ${text.substring(m.start, end).trim}"
    }

  test("engine packages read no graft.* system property and no GRAFT_* env var") {
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val packages = Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    val names = packages.map(_.getFileName.toString).toSet
    val engine = Set("apply", "lake", "runner", "feed", "rules", "functions", "model", "ops")
    assert(engine.subsetOf(names), s"engine packages missing from the scan: ${engine -- names}")
    val sources = packages.flatMap(p =>
      Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq)
    assert(sources.nonEmpty)
    val hits = sources.sortBy(_.toString)
      .flatMap(f => offending(f, new String(Files.readAllBytes(f), "UTF-8")))
    assert(hits.isEmpty,
      s"${hits.size} engine knob read(s) — make it a constant, a config field or a " +
        s"private[graft] seam:\n${hits.mkString("\n")}")
  }
}
