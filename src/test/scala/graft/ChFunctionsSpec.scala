package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.ChFunctions._

/** ClickHouse-compatible scalar semantics (SURVEY §2.5 Q5–Q8, §2.3 P3):
  * out-of-range → '', missing JSON key → ''/0, the chat_id indexing quirk.
  * JSON keys are extracted as the analytics MV extracts them: `json_tuple`,
  * then the ClickHouse default (`chString`/`chUInt`/`chEpochTimestamp`). */
class ChFunctionsSpec extends SparkSpec {

  private def subjects = {
    import spark.implicits._
    Seq(
      "globex.supprt.u1.chat9.bot.user.view.ctx1",
      "globex.supprt.u1",
      "globex",
      "",
      "a.b.c.d.",
      "one.two.three.four"
    ).toDF("subject")
  }

  test("subjectSegment is 1-indexed with '' out of range (Q7)") {
    val r = subjects
      .select((1 to 9).map(n => subjectSegment(col("subject"), n)): _*)
      .collect()
    assert(r(0).toSeq === Seq("globex", "supprt", "u1", "chat9", "bot", "user", "view", "ctx1", ""))
    assert(r(1).toSeq === Seq("globex", "supprt", "u1", "", "", "", "", "", ""))
    assert(r(2).toSeq === Seq("globex", "", "", "", "", "", "", "", ""))
    // CH splitByChar('', '.') yields one empty segment; so does Spark split.
    assert(r(3).toSeq === Seq("", "", "", "", "", "", "", "", ""))
    // trailing dot produces a trailing empty segment, not an out-of-range ''
    assert(r(4).toSeq === Seq("a", "b", "c", "d", "", "", "", "", ""))
  }

  test("chatId = Go parts[3] = 4th segment = MV session_id, not user_id (§2.5 quirk)") {
    val r = subjects.select(chatId(col("subject")), subjectSegment(col("subject"), 4)).collect()
    r.foreach(row => assert(row.getString(0) === row.getString(1)))
    assert(r(0).getString(0) === "chat9")
    assert(r(5).getString(0) === "four")
    assert(r(1).getString(0) === "")
  }

  test("jsonString: missing key/malformed json/mistyped → '' (Q5)") {
    import spark.implicits._
    val df = Seq(
      """{"text":"hi","n":7}""",
      """{"other":1}""",
      "not json",
      ""
    ).toDF("data")
    val r = df.select(json_tuple(col("data"), "text", "missing"))
      .select(chString(col("c0")), chString(col("c1"))).collect()
    assert(r(0).toSeq === Seq("hi", ""))
    assert(r(1).toSeq === Seq("", ""))
    assert(r(2).toSeq === Seq("", ""))
    assert(r(3).toSeq === Seq("", ""))
  }

  test("jsonEpochTimestamp: missing/non-numeric → epoch 0 = 1970-01-01 (Q6)") {
    import spark.implicits._
    val df = Seq(
      """{"timestamp":1704067200}""",
      """{"timestamp":"oops"}""",
      """{}"""
    ).toDF("data")
    val r = df.select(json_tuple(col("data"), "timestamp"))
      .select(chEpochTimestamp(col("c0")).cast("string")).collect()
    assert(r(0).getString(0) === "2024-01-01 00:00:00")
    assert(r(1).getString(0) === "1970-01-01 00:00:00")
    assert(r(2).getString(0) === "1970-01-01 00:00:00")
  }

  test("jsonUInt: numeric-as-string parses, missing → 0") {
    import spark.implicits._
    val df = Seq("""{"k":"42"}""", """{"k":42}""", """{}""").toDF("data")
    val r = df.select(json_tuple(col("data"), "k")).select(chUInt(col("c0"))).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(42L, 42L, 0L))
  }

  test("toYYYYMM matches ClickHouse toYYYYMM (Q1 partition key)") {
    import spark.implicits._
    val df = Seq("2024-01-31 23:59:59", "2024-12-01 00:00:00").toDF("s")
      .select(toYYYYMM(to_timestamp(col("s"))).as("m"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("202401", "202412"))
  }

  test("dsum is partitioning-independent (decimal accumulation)") {
    import spark.implicits._
    val vals = (1 to 1000).map(i => i * 0.1)
    val one = vals.toDF("v").coalesce(1).agg(dsum(col("v"))).head.getDouble(0)
    val many = vals.toDF("v").repartition(7).agg(dsum(col("v"))).head.getDouble(0)
    assert(one === many)
  }
}
