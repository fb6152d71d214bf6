package graft

import java.sql.DriverManager

import graft.operators.RichList
import org.scalatest.funsuite.AnyFunSuite

/** S7 — JDBC richlist source against embedded Derby databases (one per
  * chain, like the reference's per-chain sqlite files): the
  * latest-row-per-key SQL is pushed down, chains union, and topBalances
  * produces the reference's aggregate-across-chains result. */
class JdbcRichListSpec extends AnyFunSuite with SparkSpec {

  private val Table = "\"coin_coin-table\""

  private def mkChainDb(name: String, rows: Seq[(String, Long, String)]): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val c = DriverManager.getConnection(url)
    try {
      c.createStatement().execute(
        s"CREATE TABLE $Table (rowkey VARCHAR(64), txid BIGINT, rowdata VARCHAR(512))")
      val ps = c.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?)")
      rows.foreach { case (k, t, d) =>
        ps.setString(1, k); ps.setLong(2, t); ps.setString(3, d)
        ps.executeUpdate()
      }
    } finally c.close()
    s"jdbc:derby:memory:$name"
  }

  test("per-chain pushdown returns only latest rows; chains union; " +
       "top balances match the reference aggregation") {
    val u0 = mkChainDb("c0", Seq(
      ("alice", 1L, """{"balance": 10.0}"""),
      ("alice", 2L, """{"balance": 25.5}"""),          // latest on chain 0
      ("bob",   1L, """{"x": {"balance": "5.25"}}"""))) // nested + stringy
    val u1 = mkChainDb("c1", Seq(
      ("alice", 7L, """{"balance": 6.5}""")))
    val rows = RichList.coinRowsJdbc(spark, Map(0L -> u0, 1L -> u1), Table)
    // pushdown: stale (alice,1) never crosses the wire
    val got = rows.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((0L, "alice", 2L), (0L, "bob", 1L), (1L, "alice", 7L)))

    val top = RichList.topBalancesJdbc(spark, Map(0L -> u0, 1L -> u1), Table)
      .collect().map(r => r.getString(0) -> r.getDecimal(1).doubleValue())
    assert(top.toSeq == Seq("alice" -> 32.0, "bob" -> 5.25))
  }

  /** The reference reads `pact-v1-chain-N.sqlite` files directly
    * (exec/Chainweb/RichList.hs:35-78). No sqlite-jdbc jar is obtainable
    * in this offline sandbox, so the path above is proven against Derby —
    * but the production code is dialect-agnostic JDBC, and this smoke
    * test activates by itself the moment a sqlite-jdbc jar lands on the
    * classpath (drop it in `lib/` and rerun): it builds a real
    * `pact-v1-chain-0.sqlite` file via the driver and runs the exact same
    * latest-per-key pushdown + top-balance aggregation against it. */
  test("sqlite smoke: activates when sqlite-jdbc is on the classpath") {
    val driver =
      try { Class.forName("org.sqlite.JDBC"); true }
      catch { case _: ClassNotFoundException => false }
    assume(driver, "sqlite-jdbc not on classpath — skipped (offline sandbox)")

    val f = java.nio.file.Files.createTempDirectory("graft_sqlite")
      .resolve("pact-v1-chain-0.sqlite")
    val url = s"jdbc:sqlite:$f"
    val c = DriverManager.getConnection(url)
    try {
      c.createStatement().execute(
        s"CREATE TABLE $Table (rowkey TEXT, txid INTEGER, rowdata TEXT)")
      val ps = c.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?)")
      Seq(("alice", 1L, """{"balance": 10.0}"""),
          ("alice", 2L, """{"balance": 25.5}"""),
          ("bob",   1L, """{"balance": 5.25}""")).foreach { case (k, t, d) =>
        ps.setString(1, k); ps.setLong(2, t); ps.setString(3, d)
        ps.executeUpdate()
      }
    } finally c.close()

    val top = RichList.topBalancesJdbc(spark, Map(0L -> url), Table)
      .collect().map(r => r.getString(0) -> r.getDecimal(1).doubleValue())
    assert(top.toSeq == Seq("alice" -> 25.5, "bob" -> 5.25))
  }
}
