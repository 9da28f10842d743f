package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** `AHash60` — the native 60-strip average-hash expression. The
  * oracle gate already hash-verifies it end-to-end (q313/q314/q317);
  * this spec pins the expression-level contracts directly: the
  * documented integer formula, codegen == interpreted evaluation,
  * code-point (not byte) strip positions for multi-byte text, and
  * the old split+explode+window pipeline's result on the same input.
  */
class AHashSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation straight from the documented formula:
    * strip(p) = (p * 60) div n over code points, bit s set iff
    * ss*tc > ts*sc. */
  private def ref(text: String): Long = {
    val cps = text.codePoints().toArray
    val n = cps.length.toLong
    if (n == 0) return 0L
    val ss = new Array[Long](60); val sc = new Array[Long](60)
    var ts = 0L
    for ((cp, p) <- cps.zipWithIndex) {
      val s = ((p.toLong * 60L) / n).toInt
      ss(s) += cp; sc(s) += 1; ts += cp
    }
    (0 until 60).foldLeft(0L)((acc, s) =>
      if (ss(s) * n > ts * sc(s)) acc | (1L << s) else acc)
  }

  private val samples = Seq(
    "", "a", "abc",
    "the quick brown fox jumps over the lazy dog " * 3,
    ("x" * 59) + "y",            // exactly 60 chars, one odd tail
    "z" * 60,                    // uniform: no strip above the mean
    "áéíóú çãõ ü ñ " * 8,        // 2-byte UTF-8 code points
    "日本語のテキスト例です" * 9, // 3-byte code points
    "mixed ascii と 日本語 y más " * 5)

  test("matches the documented integer formula (static helper)") {
    for (s <- samples)
      assert(AHash60.hash(UTF8String.fromString(s)) === ref(s), s"text=$s")
  }

  test("codegen and interpreted evaluation agree") {
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val viaExpr = df.select(col("id"), AHash.ahash60(col("text")).as("ah"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // force the interpreted path through a deserialized closure-free
    // local relation with codegen off
    val saved = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = df.select(col("id"), AHash.ahash60(col("text")).as("ah"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaExpr === interp)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", saved)
    assert(viaExpr === samples.zipWithIndex
      .map { case (s, i) => (i.toLong, ref(s)) }.toMap)
  }

  test("reproduces the old split+posexplode+window pipeline bit-for-bit") {
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
      .withColumn("n", length(col("text")).cast("long"))
      .filter(col("n") >= 1)
    val wdoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val old = df
      .select(col("doc_id"), col("n"),
        posexplode(split(col("text"), "")).as(Seq("p0", "ch")))
      .filter(col("ch") =!= "")
      .select(col("doc_id"), col("n"), col("p0"),
        ascii(col("ch")).cast("long").as("b"))
      .withColumn("strip", expr("(p0 * 60) div n"))
      .groupBy("doc_id", "strip")
      .agg(sum("b").as("ss"), count(lit(1)).as("sc"))
      .withColumn("ts", sum("ss").over(wdoc))
      .withColumn("tc", sum("sc").over(wdoc))
      .withColumn("bit",
        when(col("ss") * col("tc") > col("ts") * col("sc"), 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(sum(expr("shiftleft(bit, CAST(strip AS INT))")).as("ah"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val now = df.select(col("doc_id"), AHash.ahash60(col("text")).as("ah"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(now === old)
  }

  test("registered SQL function resolves") {
    graft.Graft.install(spark)
    assert(spark.sql("SELECT ahash60('z') = ahash60('z') AS eq")
      .collect().head.getBoolean(0))
  }
}
