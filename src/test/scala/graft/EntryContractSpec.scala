package graft

import graft.entry.Query
import org.scalatest.funsuite.AnyFunSuite

/** Contract checks on `SparkEntry`'s `queries` and `oracleSql` maps, which
  * are built from the per-area query registry under `graft.entry`. */
class EntryContractSpec extends AnyFunSuite {

  test("queries and oracleSql bind the same 69 names") {
    assert(SparkEntry.queries.size == 69)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("the registry loads: no query name is bound twice") {
    assert(SparkEntry.registry.size == 69)
    val q = Query("q00_dup", "SELECT 1")((s, _) => s.emptyDataFrame)
    val e = intercept[IllegalArgumentException](SparkEntry.index(Seq(q, q)))
    assert(e.getMessage.contains("q00_dup"), e.getMessage)
  }

  test("oracle pin: the oracle SQL of every query is unchanged") {
    // MD5 over the oracles sorted by name, NUL between name and SQL and SOH
    // between entries. Any edit to an oracle string changes it; if the
    // change is intended, recompute the pin and say why in CHANGES.md.
    val canon = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k + "\u0000" + v }.mkString("\u0001")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(md5 == "c16e78649ee994bd880c827a4e954b2a")
  }
}
