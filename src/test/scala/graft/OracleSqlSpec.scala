package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bytes of every oracle SQL string. `perfbench/mix_oracle.json`
  * keys its DuckDB counts by these bytes, and `oracle_sql.json` (what
  * Verify hands the DuckDB compare) is written from them, so a refactor
  * of the strings must leave them byte-identical. A deliberate change to
  * an oracle updates `Pinned` and records the new value in CHANGES.md. */
class OracleSqlSpec extends AnyFunSuite {
  /** sha256 of the UTF-8 lines `name \t sql \n`, sorted by name. */
  val Pinned = "d8589e10876c66310fd4f2f8ce7956358fa665b214305ec2c24b2024375eef47"

  test("oracleSql bytes are unchanged") {
    val text = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => s"$name\t$sql\n" }.mkString
    val sha = MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(SparkEntry.oracleSql.size == 276)
    assert(sha == Pinned)
  }
}
