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

  /** `file:line: snippet` of the source line holding offset `at`. */
  private def located(file: Path, text: String, at: Int): String = {
    val line = text.substring(0, at).count(_ == '\n') + 1
    val end = text.indexOf('\n', at) match { case -1 => text.length; case e => e }
    s"${root.relativize(file)}:$line: ${text.substring(at, end).trim}"
  }

  /** `file:line: snippet` of every forbidden read in `text`. */
  private def offending(file: Path, text: String): Seq[String] =
    readCall.findAllMatchIn(text).toSeq.collect {
      case m if m.group(1) != "\"" ||
          engineKey.findPrefixOf(text.substring(m.start(1))).nonEmpty =>
        located(file, text, m.start)
    }

  private def scalaFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString)

  private def read(f: Path): String = new String(Files.readAllBytes(f), "UTF-8")

  /** End offset of the object member whose definition starts at `defAt`:
    * where the next member of the object begins. */
  private def memberEnd(text: String, defAt: Int): Int =
    """\n  (?:/\*\*|def |private|val |\})""".r
      .findFirstMatchIn(text.substring(defAt)).map(defAt + _.start)
      .getOrElse(text.length)

  /** `text` with every comment line blanked to spaces of the same length, so
    * offsets into it still locate the original line. */
  private def codeOnly(text: String): String =
    text.split("\n", -1).map { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) " " * l.length else l
    }.mkString("\n")

  test("engine packages read no graft.* system property and no GRAFT_* env var") {
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val packages = Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    val names = packages.map(_.getFileName.toString).toSet
    val engine = Set("apply", "lake", "runner", "feed", "rules", "functions", "model", "ops")
    assert(engine.subsetOf(names), s"engine packages missing from the scan: ${engine -- names}")
    val sources = packages.flatMap(scalaFiles)
    assert(sources.nonEmpty)
    val hits = sources.sortBy(_.toString).flatMap(f => offending(f, read(f)))
    assert(hits.isEmpty,
      s"${hits.size} engine knob read(s) — make it a constant, a config field or a " +
        s"private[graft] seam:\n${hits.mkString("\n")}")
  }

  /** One launch path: a stream is started only by `CdcRunner.launch` (query
    * name, checkpoint, foreachBatch, trigger), and no code registers a
    * session-wide listener. Scans every file under `src/main/scala/graft/`,
    * the entry-point mains included. */
  test("streams start only through CdcRunner.launch; no session listener is registered") {
    val launchFile = root.resolve("runner/CdcRunner.scala")
    val launchText = read(launchFile)
    val defAt = launchText.indexOf("def launch(")
    assert(defAt >= 0, s"no launch function in $launchFile")
    val defEnd = memberEnd(launchText, defAt)
    val token = """\bwriteStream\b|\bTrigger\.|\baddListener\b""".r
    val outside = scalaFiles(root).flatMap { f =>
      val text = read(f)
      token.findAllMatchIn(text).toSeq.collect {
        case m if m.matched == "addListener" || f != launchFile ||
            m.start < defAt || m.start >= defEnd =>
          located(f, text, m.start)
      }
    }
    assert(outside.isEmpty,
      s"${outside.size} stream launch or listener site(s) outside CdcRunner.launch:\n" +
        outside.mkString("\n"))
    assert("""\bwriteStream\b""".r.findAllMatchIn(launchText).size == 1)
  }

  /** One writer per lake file kind: outside `graft.lake`, no code publishes a
    * file by atomic move or link, writes parquet into a table's data or
    * quarantine dir, or writes into a quarantine dir (the post-transform
    * marker included) — `LakeTable` owns each of those writes, and
    * `LakeTable.publish` holds the one `ATOMIC_MOVE` inside `lake/`. Two
    * atomic moves write no table and are exempt: the WAL eviction ledger
    * (streaming checkpoint) and the feed writer's staged-file renames.
    * Comment lines are not scanned. */
  test("table files are written only inside graft.lake; lake/ holds one ATOMIC_MOVE") {
    val lakeDir = root.resolve("lake")
    val exempt = Map(
      root.resolve("runner/CdcRunner.scala") -> "def writeEvictionLedger(",
      root.resolve("feed/ChangeFeed.scala") -> "def writeFeed(")
    val atomicMove = """StandardCopyOption\.ATOMIC_MOVE""".r
    val publishes = """StandardCopyOption\.ATOMIC_MOVE|Files\.createLink\b""".r
    val tableWrite = ("""\.parquet\([^\n]*(?:dataDir|quarantineDir)\(|""" +
      """\bdef\s+markPostTransform\b|""" +
      """Files\.write(?:String)?\([^\n]*quarantineDir\(""").r
    val outside = scalaFiles(root).filterNot(_.startsWith(lakeDir)).flatMap { f =>
      val text = read(f)
      val code = codeOnly(text)
      val span = exempt.get(f).map { d =>
        val at = code.indexOf(d)
        assert(at >= 0, s"exempt function $d not found in $f")
        at until memberEnd(code, at)
      }.getOrElse(0 until 0)
      (publishes.findAllMatchIn(code).filterNot(m => span.contains(m.start)) ++
        tableWrite.findAllMatchIn(code)).map(m => located(f, text, m.start)).toSeq
    }
    assert(outside.isEmpty,
      s"${outside.size} table write(s) outside graft.lake — go through the " +
        s"LakeTable writer of that file kind:\n${outside.mkString("\n")}")
    val inLake = scalaFiles(lakeDir).flatMap { f =>
      val text = read(f)
      atomicMove.findAllMatchIn(codeOnly(text)).map(m => located(f, text, m.start)).toSeq
    }
    assert(inLake.size == 1,
      s"lake/ must publish through ONE ATOMIC_MOVE (LakeTable.publish):\n${inLake.mkString("\n")}")
  }

  /** One stored-row codec: `graft.lake.StoredRows` alone turns change events
    * into stored rows (the engine columns `_lsn`/`_deleted`). The merge
    * (`apply/`) and the runners (`runner/`) build none themselves: no
    * `StructField`, `.as` or `withColumn` naming an engine column. Comment
    * lines are not scanned. */
  test("apply/ and runner/ build no stored row; graft.lake.StoredRows owns the layout") {
    val storedRow =
      """StructField\("_(?:lsn|deleted)"|\.as\("_(?:lsn|deleted)"\)|withColumn\("_(?:lsn|deleted)"""".r
    val hits = Seq("apply", "runner").flatMap(d => scalaFiles(root.resolve(d))).flatMap { f =>
      val text = read(f)
      storedRow.findAllMatchIn(codeOnly(text)).map(m => located(f, text, m.start)).toSeq
    }
    assert(hits.isEmpty,
      s"${hits.size} stored-row build(s) outside graft.lake.StoredRows:\n${hits.mkString("\n")}")
    assert(storedRow.findAllMatchIn(read(root.resolve("lake/StoredRows.scala"))).nonEmpty)
  }
}
