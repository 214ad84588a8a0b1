package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.OracleDialect

/** VERDICT r6 #7: the DuckDB decimal bridge must be applied in ONE place.
  * Golden-pins the macro lowering against the round-6 hand-written text and
  * lints the oracle sources so no inline bridge can creep back in.
  */
class OracleDialectSpec extends AnyFunSuite {

  test("V2D(SUM(DEC6(x))) lowers to the exact round-6 bridge text") {
    assert(OracleDialect.expand("V2D(SUM(DEC6(l_quantity)))") ===
      "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)")
  }

  test("nested parens in the measure survive lowering verbatim") {
    assert(OracleDialect.expand("V2D(SUM(DEC6(l_extendedprice * (1 - l_discount))))") ===
      "CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)")
  }

  test("windowed sums keep the OVER clause inside the bridge") {
    assert(OracleDialect.expand("V2D(SUM(DEC6(x)) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))") ===
      "CAST(CAST(SUM(CAST(x AS DECIMAL(25,6))) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)")
    assert(OracleDialect.expand("V2D(SUM(dec_price) OVER w7)") ===
      "CAST(CAST(SUM(dec_price) OVER w7 AS VARCHAR) AS DOUBLE)")
  }

  test("DEC0 lowers to the scaled-integer accumulator; bare V2D bridges a decimal column") {
    assert(OracleDialect.expand("SUM(DEC0(sv * sv))") ===
      "SUM(CAST(sv * sv AS DECIMAL(25,0)))")
    assert(OracleDialect.expand("V2D(st.sum_i) / 1000000.0") ===
      "CAST(CAST(st.sum_i AS VARCHAR) AS DOUBLE) / 1000000.0")
  }

  test("multi-line macro bodies lower with the body verbatim") {
    val in = "V2D(SUM(CASE WHEN o_orderstatus = 'F'\n  THEN DEC6(o_totalprice) END))"
    assert(OracleDialect.expand(in) ===
      "CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F'\n  THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS VARCHAR) AS DOUBLE)")
  }

  test("macro-free SQL is untouched and unbalanced macros fail loudly") {
    val plain = "SELECT CAST(CAST(epoch(ts) AS BIGINT) AS VARCHAR) FROM t"
    assert(OracleDialect.expand(plain) === plain)
    assertThrows[IllegalArgumentException] {
      OracleDialect.expand("V2D(SUM(x)")
    }
  }

  test("every oracleSql value is fully lowered — no macro heads survive expansion") {
    val leftovers = SparkEntry.oracleSql.collect {
      case (name, sql) if Seq("V2D(", "DEC6(", "DEC0(").exists(sql.contains) => name
    }
    assert(leftovers.isEmpty, s"unexpanded macros in: $leftovers")
  }

  test("every query has an oracle and every oracle names a query") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("lowered oracles carry the bridge wherever a decimal surfaces as DOUBLE") {
    // every DECIMAL(25,6)/(25,0) accumulator in the lowered SQL came from a
    // macro, so the precision literal count must equal the DEC6+DEC0 usage
    // in the dialect sources — i.e. no hand-written accumulator text exists.
    val lowered = SparkEntry.oracleSql.values.mkString("\n")
    assert(lowered.contains(" AS DECIMAL(25,6))"), "battery lost its decimal sums?")
    assert(!lowered.contains("V2D") && !lowered.contains("DEC6") && !lowered.contains("DEC0"))
  }

  test("source lint: no hand-written bridge or precision literal in SparkEntry.scala") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    assert(!src.contains("AS VARCHAR) AS DOUBLE"),
      "hand-written decimal bridge found — use OracleDialect's V2D macro")
    assert(!src.contains("DECIMAL(25,"),
      "inline decimal precision found — use OracleDialect's DEC6/DEC0 macros")
  }
}
