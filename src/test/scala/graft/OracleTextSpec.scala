package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the rendered text of every oracle in [[SparkEntry.oracleSql]].
  * `src/test/resources/oracle_sql.sha256` holds one SHA-256 of each
  * key's UTF-8 SQL, in `sha256sum` layout. The oracle SQL is composed
  * from shared Scala fragments (stripMargin'd templates interpolated
  * into other templates), so a refactor can change the SQL a key renders
  * without changing any SQL a reader sees in the source; this spec sees
  * it. An intended oracle edit updates the digest file with the lines
  * the failure prints. Needs no Spark session. */
class OracleTextSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private val pinned: Map[String, String] = {
    val in = getClass.getResourceAsStream("/oracle_sql.sha256")
    assert(in != null, "oracle_sql.sha256 missing from the test resources")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty)
      .map { l => val Array(h, k) = l.split("  ", 2); k -> h }.toMap
    finally in.close()
  }

  test("every rendered oracle matches its pinned digest") {
    val rendered = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    val added = (rendered.keySet -- pinned.keySet).toSeq.sorted
    val removed = (pinned.keySet -- rendered.keySet).toSeq.sorted
    val changed = (rendered.keySet & pinned.keySet).toSeq.sorted
      .filter(k => rendered(k) != pinned(k))
    def lines(ks: Seq[String]) = ks.map(k => s"  ${rendered(k)}  $k").mkString("\n")
    if (added.nonEmpty || removed.nonEmpty || changed.nonEmpty)
      fail(s"oracle text drifted from oracle_sql.sha256:\n" +
        s"changed (${changed.size}):\n${lines(changed)}\n" +
        s"added (${added.size}):\n${lines(added)}\n" +
        s"removed (${removed.size}): ${removed.mkString(", ")}")
  }

  test("every registered query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries === oracles,
      s"queries without an oracle: ${(queries -- oracles).toSeq.sorted.mkString(", ")}; " +
        s"oracles without a query: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
  }
}
