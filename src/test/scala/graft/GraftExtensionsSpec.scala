package graft

import org.apache.spark.sql.AppliedExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/** SQL registration of the custom codegen expressions: values must match
  * the Column DSL exactly, and the SparkSessionExtensions path must
  * register the same list a live `spark.sql.extensions` session gets. */
class GraftExtensionsSpec extends SparkSpec {

  test("registered SQL functions match the Column DSL bit-for-bit") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark) // idempotent re-registration
    import spark.implicits._
    val df = Seq(
      ("abc def ghi jkl", Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      ("", Array(0.5f, -0.5f), Array(2.0f, 2.0f)))
      .toDF("text", "va", "vb")
    df.createOrReplaceTempView("ext_probe")
    val viaSql = spark.sql(
      """SELECT graft_polyhash(text) AS h, graft_shingles(text) AS sh3,
        |  graft_shingles(text, 2) AS sh2, graft_vec_dot(va, vb) AS d,
        |  graft_simhash64(text) AS sig, graft_cdc_chunks(text) AS cdc,
        |  graft_ahash64(text) AS ah
        |FROM ext_probe""".stripMargin).collect()
    val viaDsl = df.select(
      TextFunctions.polyHash(col("text")).as("h"),
      TextFunctions.shingles(col("text")).as("sh3"),
      TextFunctions.shingles(col("text"), 2).as("sh2"),
      VectorFunctions.dot(col("va"), col("vb")).as("d"),
      TextFunctions.simhash64(col("text")).as("sig"),
      TextFunctions.cdcChunks(col("text")).as("cdc"),
      TextFunctions.ahash64(col("text")).as("ah")).collect()
    assert(viaSql.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).toSeq === viaDsl.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).toSeq)
  }

  test("shingle size must be a positive integer literal") {
    GraftFunctions.register(spark)
    spark.range(1).createOrReplaceTempView("ext_one")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles('a b c', 0) FROM ext_one").collect()
    }
    assert(e.getMessage.contains("graft_shingles"))
  }

  test("GraftExtensions injects the same function list the registry API registers") {
    val reg = AppliedExtensions.functionRegistry(new GraftExtensions)
    GraftFunctions.functions.foreach { case (id, _, _) =>
      assert(reg.functionExists(id), s"missing ${id.funcName}")
    }
    assert(reg.listFunction().map(_.funcName).toSet ===
      Set("graft_polyhash", "graft_shingles", "graft_vec_dot",
        "graft_simhash64", "graft_cdc_chunks", "graft_ahash64"))
    // builders actually build: a 1-arg polyhash resolves to the expression
    val built = reg.lookupFunction(FunctionIdentifier("graft_polyhash"),
      Seq(org.apache.spark.sql.catalyst.expressions.Literal("x")))
    assert(built.isInstanceOf[graft.expressions.PolyHash])
  }
}
