package graft.queries

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Oracle-text golden: one sha256 per gate of its whitespace-normalized
  * `SparkEntry.oracleSql` text, at the default centroid chunk count.
  *
  * The recorded digests (`src/test/resources/oracle_text.sha256`,
  * `sha256sum`-style `<digest>  <gate>` lines sorted by gate) pin every
  * oracle string, so a refactor of the oracle builders (shared CTE
  * helpers, one cosine text) proves it left each gate's SQL unchanged
  * instead of relying on a hand diff of the two maps. A deliberate oracle
  * change re-records its gate's line; [[OracleTextSpec.render]] prints the
  * whole file.
  */
class OracleTextSpec extends AnyFunSuite {

  test("oracle text: every gate's normalized oracle SQL matches its recorded sha256") {
    assume(SimilarityQueries.centroidChunks == 1024,
      "the digests are recorded at the default centroid chunk count")
    val in = getClass.getResourceAsStream(OracleTextSpec.Resource)
    assert(in != null, s"missing resource ${OracleTextSpec.Resource}")
    val recorded = try {
      new String(in.readAllBytes(), StandardCharsets.UTF_8).linesIterator
        .filter(_.trim.nonEmpty)
        .map { line =>
          val Array(d, name) = line.trim.split("\\s+", 2)
          name -> d
        }.toMap
    } finally in.close()
    val now = OracleTextSpec.digests
    val changed = now.keySet.intersect(recorded.keySet).filter(n => now(n) != recorded(n))
    val added = now.keySet -- recorded.keySet
    val removed = recorded.keySet -- now.keySet
    def names(s: Set[String]) = if (s.isEmpty) "none" else s.toSeq.sorted.mkString(", ")
    if (changed.nonEmpty || added.nonEmpty || removed.nonEmpty)
      fail(s"oracle text differs from the recorded digests: changed [${names(changed)}]; " +
        s"added [${names(added)}]; removed [${names(removed)}]")
  }
}

object OracleTextSpec {

  val Resource = "/oracle_text.sha256"

  /** Runs of whitespace collapse to one space; leading/trailing dropped —
    * line breaks and `stripMargin` indentation are layout, not SQL. */
  def normalize(sql: String): String = sql.trim.split("\\s+").mkString(" ")

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def digests: Map[String, String] =
    SparkEntry.oracleSql.map { case (name, sql) => name -> sha256(normalize(sql)) }

  /** The resource file's text for the current oracle strings. */
  def render: String =
    digests.toSeq.sortBy(_._1).map { case (n, d) => s"$d  $n\n" }.mkString
}
