package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("custom expressions are callable from SQL after registration") {
    val spark = SparkSpec.session
    Graft.install(spark)
    val row = spark.sql(
      """SELECT simhash64(split('a b c', ' ')) = simhash64(split('a b c', ' ')) AS eq,
        |       cosine_sim(array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |                  array(CAST(2.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS cos,
        |       cosine_sim(array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |                  array(CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) AS zero_norm
        |""".stripMargin).head()
    assert(row.getBoolean(0))
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
    assert(row.isNullAt(2))
  }

  test("registration is idempotent") {
    val spark = SparkSpec.session
    Graft.install(spark)
    Graft.install(spark)
    assert(spark.sql("SELECT simhash64(array('x'))").head().getLong(0) ===
      spark.sql("SELECT simhash64(array('x'))").head().getLong(0))
  }
}
