package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.<Name>` a script or doc tells a reader to run must still
  * exist: deleting a main that tools/ drives (lc_r11.sh -> ChunkedParity,
  * sf1_spot.sh -> DedupAudit, jw_fuzz.py -> JwFuzz) fails here instead of
  * the next time someone runs the script. */
class EntryPointsSpec extends AnyFunSuite {

  private val named = """graft\.([A-Z][A-Za-z0-9]*)""".r

  test("every graft.<Main> named in tools/, README.md and the verify skill loads") {
    val scripts = Files.list(Paths.get("tools")).iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".sh") || p.toString.endsWith(".py"))
    val docs = Seq(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md"))
    val refs = (scripts ++ docs).sortBy(_.toString).flatMap { p =>
      named.findAllMatchIn(Files.readString(p)).map(m => (p.toString, m.group(1)))
    }.distinct
    // an empty scan (wrong working directory) must not pass vacuously
    assert(refs.exists(_._2 == "Verify"), s"scan found: $refs")
    val missing = refs.collect {
      case (p, n) if Try(Class.forName(s"graft.$n", false,
          getClass.getClassLoader)).isFailure => s"$p: graft.$n"
    }
    assert(missing.isEmpty, s"named but not on the classpath: ${missing.mkString("; ")}")
  }
}
