package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Pins the driver registry and the DuckDB oracle text without a
  * SparkSession: a refactor that builds queries or oracle entries from
  * data (gate tables, shared SQL fragments) must leave both unchanged.
  * The digest covers every `name\tsql` line of `SparkEntry.oracleSql`,
  * sorted and joined by newlines; an intended oracle change updates it
  * together with the reason. */
class RegistrySpec extends AnyFunSuite {

  test("the registry holds 281 queries") {
    assert(SparkEntry.queries.size === 281)
  }

  test("every oracle entry names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries with no query: $orphans")
  }

  test("the oracle text is unchanged") {
    val lines = SparkEntry.oracleSql.toSeq
      .map { case (name, sql) => s"$name\t$sql" }.sorted.mkString("\n")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(digest === "67e3d359a06f5d6fd33e95c7ffc15644e3625fc27eeec0425ea1f2f82801c7c0")
  }
}
