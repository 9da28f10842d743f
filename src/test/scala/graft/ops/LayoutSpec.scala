package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side Morton decode: inverse of Layout.zValue. */
  private def deinterleave(z: Long, bits: Int): (Long, Long) = {
    var a = 0L; var b = 0L
    (0 until bits).foreach { i =>
      a |= ((z >> (2 * i + 1)) & 1L) << i
      b |= ((z >> (2 * i)) & 1L) << i
    }
    (a, b)
  }

  test("zValue round-trips for the full 6-bit × 6-bit grid") {
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val rows = grid.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue(col("a"), col("b"), 6).as("z"))
      .collect()
    assert(rows.length === 4096)
    rows.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z >= 0L && z < 4096L)
      assert(deinterleave(z, 6) === ((a, b)), s"z=$z does not decode to ($a,$b)")
    }
    // bijective: 4096 distinct z values
    assert(rows.map(_.getLong(2)).distinct.length === 4096)
  }

  /** Driver-side N-dim Morton decode: inverse of Layout.zValueN. */
  private def deinterleaveN(z: Long, n: Int, bits: Int): Seq[Long] =
    (0 until n).map { d =>
      (0 until bits).map(i => ((z >> (i * n + (n - 1 - d))) & 1L) << i)
        .reduce(_ | _)
    }

  test("zValueN round-trips and is bijective on a 3-dim 4-bit grid") {
    val grid = for (a <- 0L until 16L; b <- 0L until 16L; c <- 0L until 16L)
      yield (a, b, c)
    val rows = grid.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        Layout.zValueN(Seq(col("a"), col("b"), col("c")), 4).as("z"))
      .collect()
    assert(rows.length === 4096)
    rows.foreach { r =>
      val (a, b, c, z) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(z >= 0L && z < 4096L)
      assert(deinterleaveN(z, 3, 4) === Seq(a, b, c),
        s"z=$z does not decode to ($a,$b,$c)")
    }
    assert(rows.map(_.getLong(3)).distinct.length === 4096)
  }

  test("zValueN(2 dims) equals the dedicated 2-dim interleave") {
    val grid = (for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)).toDF("a", "b")
    val mismatches = grid.select(
        Layout.zValue(col("a"), col("b"), 5).as("z2"),
        Layout.zValueN(Seq(col("a"), col("b")), 5).as("zn"))
      .filter(col("z2") =!= col("zn")).count()
    assert(mismatches === 0L)
  }

  test("zValueN locality: an aligned segment bounds every dimension") {
    // any aligned 512-value z segment covers a cube of at most 8^3
    val rows = (for (a <- 0L until 16L; b <- 0L until 16L; c <- 0L until 16L)
      yield (a, b, c)).toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        Layout.zValueN(Seq(col("a"), col("b"), col("c")), 4).as("z"))
      .collect().map(r => (r.getLong(3) >> 9, r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (seg, cells) =>
      for ((get, dim) <- Seq[((Long, Long, Long, Long)) => Long](_._2, _._3, _._4)
          .zip(Seq("a", "b", "c"))) {
        val vs = cells.map(get)
        assert(vs.max - vs.min <= 7, s"segment $seg spans $dim ${vs.min}..${vs.max}")
      }
    }
  }

  test("curve locality: one z-range segment bounds both dimensions") {
    // any aligned 64-value z segment (one q98 zbucket) covers a
    // rectangle of at most 8×8 in (a, b) space — the pruning property
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val byBucket = grid
      .map { case (a, b) =>
        val z = (0 until 6).map(i =>
          (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))).reduce(_ | _)
        (z >> 6, a, b)
      }
      .groupBy(_._1)
    byBucket.foreach { case (bucket, cells) =>
      val as = cells.map(_._2); val bs = cells.map(_._3)
      assert(as.max - as.min <= 7, s"zbucket $bucket spans a-range ${as.min}..${as.max}")
      assert(bs.max - bs.min <= 7, s"zbucket $bucket spans b-range ${bs.min}..${bs.max}")
    }
  }

  test("hilbertValue is a bijection onto [0, 4^bits) on the full grid") {
    val bits = 5
    val side = 1L << bits
    val grid = for (a <- 0L until side; b <- 0L until side) yield (a, b)
    val rows = grid.toDF("a", "b")
      .select(col("a"), col("b"),
        Layout.hilbertValue(col("a"), col("b"), bits).as("h"))
      .collect()
    val hs = rows.map(_.getLong(2))
    assert(hs.min === 0L && hs.max === side * side - 1)
    assert(hs.distinct.length === (side * side).toInt)
  }

  test("hilbert adjacency: consecutive curve positions are adjacent cells") {
    // THE Hilbert property (Morton order fails it): |Δx| + |Δy| == 1
    // for every consecutive pair, so range-partitioned files cover
    // compact blobs with no diagonal jumps
    val bits = 5
    val side = 1L << bits
    val grid = for (a <- 0L until side; b <- 0L until side) yield (a, b)
    val byD = grid.toDF("a", "b")
      .select(col("a"), col("b"),
        Layout.hilbertValue(col("a"), col("b"), bits).as("h"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Array((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"jump from ($x1,$y1) to ($x2,$y2)")
    }
  }

  test("hilbert file envelopes are no looser than z-order on the same grid") {
    // lay the same 64x64 grid out in 16 files along each curve and
    // compare the summed per-file bounding-box area — the standard
    // clustering-quality metric (smaller boxes => tighter min/max
    // stats => better pruning)
    val bits = 6
    val side = 1L << bits
    val grid = (for (a <- 0L until side; b <- 0L until side) yield (a, b))
      .toDF("a", "b")
    def area(curve: org.apache.spark.sql.Column): Long =
      grid.withColumn("c", curve)
        .withColumn("f", ntile(16).over(
          org.apache.spark.sql.expressions.Window.orderBy("c")))
        .groupBy("f")
        .agg(((max("a") - min("a") + 1) * (max("b") - min("b") + 1)).as("box"))
        .agg(sum("box")).head().getLong(0)
    val hilbert = area(Layout.hilbertValue(col("a"), col("b"), bits))
    val morton = area(Layout.zValue(col("a"), col("b"), bits))
    assert(hilbert <= morton,
      s"hilbert total box area $hilbert should not exceed z-order $morton")
  }

  test("hilbert_index SQL function matches the Column API and the scalar walk") {
    graft.Graft.install(spark)
    val rows = spark.range(0, 4096L)
      .selectExpr("id div 64 AS x", "id % 64 AS y")
      .selectExpr("x", "y", "hilbert_index(x, y, 6) AS h")
      .collect()
    assert(rows.length === 4096)
    rows.foreach { r =>
      val (x, y, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // codegen path (query above) == interpreted scalar == Column API
      assert(h === graft.functions.HilbertIndex.index(6, x, y))
    }
    assert(rows.map(_.getLong(2)).distinct.length === 4096)
  }
}
