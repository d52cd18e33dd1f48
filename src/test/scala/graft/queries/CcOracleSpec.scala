package graft.queries

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** The oracle's unrolled connected components, run in DuckDB itself: a
  * component the fixed rounds cannot settle must fail the query, never
  * come back with wrong labels. */
class CcOracleSpec extends AnyFunSuite {

  /** Runs `sql` through python3's duckdb module: Right(rows as text) or
    * Left(the error output). Cancels when python3 or duckdb is absent. */
  private def duck(sql: String): Either[String, String] = {
    val probe = try Seq("python3", "-c", "import duckdb").! catch { case _: Exception => 1 }
    if (probe != 0) cancel("python3 with duckdb is not available")
    val out, err = new StringBuilder
    val code = (Seq("python3", "-c",
      "import duckdb, sys\nfor r in duckdb.sql(sys.stdin.read()).fetchall(): print(*r)") #<
      new java.io.ByteArrayInputStream(sql.getBytes("UTF-8")))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    if (code == 0) Right(out.toString) else Left(err.toString)
  }

  /** A path of n nodes whose p-th node has id `(p * step) % n`, edges in
    * both directions; the components' (rows, distinct comps, min, max). */
  private def pathComponents(n: Int, step: Int): Either[String, String] =
    duck(s"WITH e AS (SELECT (i * $step) % $n AS src, ((i + 1) * $step) % $n AS dst " +
      s"FROM range(0, ${n - 1}) t(i) UNION ALL SELECT ((i + 1) * $step) % $n, " +
      s"(i * $step) % $n FROM range(0, ${n - 1}) t(i)), " +
      PipelineQueries.ccUnrolledCtes("e") +
      " SELECT count(*), count(DISTINCT comp), min(comp), max(comp) FROM c")

  test("unrolled CC gives min id on a 200-node path and raises where it cannot converge") {
    // ids ascending along the path: one component labelled 0
    assert(pathComponents(200, 1) == Right("200 1 0 0\n"))
    // 300 nodes with ids 119·p mod 300 along the path: 8 rounds leave
    // several labels, so the check round fails the query
    val scrambled = pathComponents(300, 119)
    assert(scrambled.left.exists(_.contains("did not converge")), scrambled)
    // ascending ids settle up to 511 nodes in 8 rounds, not 600
    val long = pathComponents(600, 1)
    assert(long.left.exists(_.contains("did not converge")), long)
  }
}
