package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** In-repo stand-in for the reference MovieLens fixture `test_data1.txt`
  * (FIXTURES.md §1): 20 `userid::movieid::rating::timestamp` lines, all
  * `userid = 1`, unique movieids, every 0.5 step in [0.0, 5.0] present,
  * integer ratings written without a decimal point. Lines 1, 2 and 11 are the
  * documented reference lines; the rest are NOT the reference's content, only
  * rows with its documented properties (one 4.5 row, nine rows in [1.5, 3.5]).
  *
  * The specs that assert engine behaviour load `path`; only the golden
  * byte-parity tests read the reference files themselves.
  */
object RatingsFixture {

  private val Lines: Seq[String] = Seq(
    "1::122::5::838985046",
    "1::185::4.5::838983525",
    "1::231::4::838983392",
    "1::292::3.5::838983421",
    "1::316::3::838983392",
    "1::329::2.5::838983392",
    "1::355::2::838984474",
    "1::356::1.5::838983653",
    "1::362::1::838984885",
    "1::364::0.5::838983707",
    "1::370::0::838984596",
    "1::377::3.5::838983834",
    "1::420::3::838983834",
    "1::466::2.5::838984679",
    "1::480::2::838983653",
    "1::520::4::838984679",
    "1::539::5::838984068",
    "1::586::1::838984068",
    "1::588::0.5::838983339",
    "1::589::0::838983778"
  )

  /** The fixture written once per JVM to a temp file (no trailing newline). */
  lazy val path: String = {
    val f = Files.createTempFile("graft-ratings", ".txt")
    f.toFile.deleteOnExit()
    Files.write(f, Lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    f.toString
  }
}
