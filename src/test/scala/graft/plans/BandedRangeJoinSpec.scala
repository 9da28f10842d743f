package graft.plans

import graft.SparkSpec
import graft.ops.RangeJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The banded range-join rewrite: result equivalence against the
  * naive nested-loop plan, the physical shape (equi-join on the band,
  * no nested loop), the conf-gated automatic path, and the guards.
  */
class BandedRangeJoinSpec extends SparkSpec {

  import spark.implicits._

  // deterministic pseudo-random rows: negatives, duplicates, nulls,
  // and inverted/empty intervals all represented
  private def points: DataFrame = {
    val rnd = new scala.util.Random(7)
    (1 to 400).map { i =>
      val v = rnd.nextInt(2000) - 1000
      (i.toLong, if (i % 19 == 0) None else Some(v.toLong))
    }.toDF("p_id", "p")
  }

  private def intervals: DataFrame = {
    val rnd = new scala.util.Random(13)
    (1 to 120).map { i =>
      val lo = rnd.nextInt(2200) - 1100
      val w = rnd.nextInt(200) - 20 // ~10% inverted (lo > hi)
      (i.toLong,
        if (i % 17 == 0) None else Some(lo.toLong),
        if (i % 23 == 0) None else Some((lo + w).toLong))
    }.toDF("i_id", "lo", "hi")
  }

  private def naive: DataFrame =
    points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("p_id", "i_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("banded equals naive across band widths (incl. negatives, nulls, empty intervals)") {
    val expected = pairs(naive)
    assert(expected.nonEmpty)
    for (bin <- Seq(1L, 7L, 64L, 1000L, 100000L)) {
      assert(pairs(RangeJoin.banded(naive, bin)) === expected,
        s"bin=$bin diverged")
    }
  }

  test("strict bounds stay strict through the residual") {
    val strict = points.join(intervals, $"p" > $"lo" && $"p" < $"hi")
    assert(pairs(RangeJoin.banded(strict, 50L)) === pairs(strict))
  }

  test("bounds may be expressions: point within [t, t + 100] of the other side") {
    val anchors = Seq((1L, 0L), (2L, 500L), (3L, -300L)).toDF("a_id", "t")
    val p = points.na.drop()
    val naive2 = p.join(anchors, $"p" >= $"t" && $"p" <= $"t" + lit(100L))
    val got = RangeJoin.banded(naive2, 64L)
      .select("p_id", "a_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = naive2
      .select("p_id", "a_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === exp)
  }

  test("timestamp domain bands on epoch micros") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:03:30"),
      (3L, "2024-01-01 11:00:00"), (4L, "2024-01-02 09:59:59"))
      .toDF("e_id", "s").select($"e_id", $"s".cast("timestamp").as("ts"))
    val win = Seq(
      (10L, "2024-01-01 10:00:00", "2024-01-01 10:05:00"),
      (11L, "2024-01-02 09:00:00", "2024-01-02 10:00:00"))
      .toDF("w_id", "a", "b")
      .select($"w_id", $"a".cast("timestamp").as("w_lo"), $"b".cast("timestamp").as("w_hi"))
    val naiveT = ev.join(win, $"ts" >= $"w_lo" && $"ts" <= $"w_hi")
    val got = RangeJoin.banded(naiveT, 300L * 1000 * 1000)
      .select("e_id", "w_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (2L, 10L), (4L, 11L)))
  }

  test("physical plan: equi-join on the band, no nested loop") {
    withAutoBroadcastOff {
      val nl = naive.queryExecution.executedPlan.toString
      assert(nl.contains("NestedLoopJoin") || nl.contains("CartesianProduct"),
        s"premise broken — naive plan should be a nested loop:\n$nl")
      val banded = RangeJoin.banded(naive, 64L).queryExecution.executedPlan.toString
      assert(!banded.contains("NestedLoopJoin") && !banded.contains("CartesianProduct"),
        s"banded plan still nested-loop:\n$banded")
      assert(banded.contains("SortMergeJoin") || banded.contains("ShuffledHashJoin"),
        s"banded plan lacks an equi-join:\n$banded")
    }
  }

  test("conf-gated optimizer rule rewrites the declarative join automatically") {
    graft.Graft.install(spark)
    withAutoBroadcastOff {
      try {
        spark.conf.set(BandedRangeJoin.BinSizeConf, "64")
        val plan = naive.queryExecution.executedPlan.toString
        assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
          s"rule did not fire:\n$plan")
        assert(pairs(naive) === {
          spark.conf.unset(BandedRangeJoin.BinSizeConf)
          pairs(naive)
        })
      } finally spark.conf.unset(BandedRangeJoin.BinSizeConf)
    }
  }

  // interval-interval overlap: two interval relations, nulls and
  // ~10% inverted intervals on both sides (an inverted [s, e] can
  // still overlap under the predicate — it must not be dropped)
  private def ivL: DataFrame = {
    val rnd = new scala.util.Random(29)
    (1 to 150).map { i =>
      val s = rnd.nextInt(2000) - 1000
      val w = rnd.nextInt(160) - 16
      (i.toLong,
        if (i % 13 == 0) None else Some(s.toLong),
        if (i % 21 == 0) None else Some((s + w).toLong))
    }.toDF("l_id", "s1", "e1")
  }

  private def ivR: DataFrame = {
    val rnd = new scala.util.Random(31)
    (1 to 170).map { i =>
      val s = rnd.nextInt(2400) - 1200
      val w = rnd.nextInt(120) - 12
      (i.toLong,
        if (i % 11 == 0) None else Some(s.toLong),
        if (i % 19 == 0) None else Some((s + w).toLong))
    }.toDF("r_id", "s2", "e2")
  }

  private def naiveOverlap: DataFrame =
    ivL.join(ivR, $"s1" <= $"e2" && $"s2" <= $"e1")

  /** Multiset of pairs — exactly-once emission must survive, so a
    * duplicate-collapsing Set compare would hide bugs.
    */
  private def pairSeq(df: DataFrame): Seq[(Long, Long)] =
    df.select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("overlap shape equals naive across band widths, each pair exactly once") {
    val expected = pairSeq(naiveOverlap)
    assert(expected.nonEmpty)
    assert(expected.size === expected.toSet.size) // premise: unique pairs
    for (bin <- Seq(1L, 13L, 100L, 5000L)) {
      assert(pairSeq(RangeJoin.banded(naiveOverlap, bin)) === expected,
        s"bin=$bin diverged")
    }
  }

  test("overlap physical plan: band equi-join, no nested loop") {
    withAutoBroadcastOff {
      val nl = naiveOverlap.queryExecution.executedPlan.toString
      assert(nl.contains("NestedLoopJoin") || nl.contains("CartesianProduct"))
      val banded = RangeJoin.banded(naiveOverlap, 100L)
        .queryExecution.executedPlan.toString
      assert(!banded.contains("NestedLoopJoin") && !banded.contains("CartesianProduct"),
        s"banded overlap still nested-loop:\n$banded")
      assert(banded.contains("__graft_band_cell"), s"no band cell in:\n$banded")
    }
  }

  test("overlap rewrites even with a same-key equi-conjunct (q145 shape)") {
    val rnd = new scala.util.Random(37)
    val base = (1 to 300).map { i =>
      val s = rnd.nextInt(300)
      (i.toLong % 5, i.toLong, s.toLong, (s + rnd.nextInt(40)).toLong)
    }.toDF("k", "id", "s", "e")
    val a = base.select($"k", $"id".as("l_id"), $"s".as("s1"), $"e".as("e1"))
    val b = base.select($"k".as("k2"), $"id".as("r_id"), $"s".as("s2"), $"e".as("e2"))
    val naiveKeyed = a.join(b,
      $"k" === $"k2" && $"l_id" < $"r_id" && $"s1" <= $"e2" && $"s2" <= $"e1")
    val banded = RangeJoin.banded(naiveKeyed, 32L)
    assert(pairSeq(banded) === pairSeq(naiveKeyed))
    val plan = banded.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_band_cell"), s"band key missing in:\n$plan")
  }

  test("date domain bands on epoch days") {
    val a = Seq((1L, "1997-01-05", "1997-02-10"), (2L, "1997-06-01", "1997-06-02"))
      .toDF("l_id", "sa", "ea")
      .select($"l_id", $"sa".cast("date").as("s1"), $"ea".cast("date").as("e1"))
    val b = Seq((10L, "1997-02-01", "1997-03-01"), (11L, "1997-07-01", "1997-07-02"))
      .toDF("r_id", "sb", "eb")
      .select($"r_id", $"sb".cast("date").as("s2"), $"eb".cast("date").as("e2"))
    val naiveD = a.join(b, $"s1" <= $"e2" && $"s2" <= $"e1")
    val got = RangeJoin.banded(naiveD, 30L)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L)))
  }

  test("conf-gated rule also fires for the overlap shape") {
    graft.Graft.install(spark)
    withAutoBroadcastOff {
      try {
        spark.conf.set(BandedRangeJoin.BinSizeConf, "100")
        val plan = naiveOverlap.queryExecution.executedPlan.toString
        assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
          s"rule did not fire on overlap:\n$plan")
      } finally spark.conf.unset(BandedRangeJoin.BinSizeConf)
    }
  }

  test("guard: joins with a cross-side equi-key are left untouched") {
    val l = Seq((1L, 5L)).toDF("k", "v")
    val r = Seq((1L, 0L, 10L)).toDF("k2", "lo2", "hi2")
    val keyed = l.join(r, $"k" === $"k2" && $"v" >= $"lo2" && $"v" <= $"hi2")
    val ex = intercept[IllegalArgumentException](RangeJoin.banded(keyed, 10L))
    assert(ex.getMessage.contains("no rewritable"))
  }

  test("guard: outer joins and single-bound conditions are not rewritten") {
    val single = points.join(intervals, $"p" >= $"lo")
    intercept[IllegalArgumentException](RangeJoin.banded(single, 10L))
    val outer = points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi", "left")
    intercept[IllegalArgumentException](RangeJoin.banded(outer, 10L))
  }

  private def withAutoBroadcastOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
