package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {

  // reference Morton implementation (bit-by-bit, the slow obvious way)
  private def mortonRef(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zValue2 matches the bit-by-bit reference on random inputs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong)) ++
      Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L))
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zValue2(col("a"), col("b"), 16).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) =>
      assert(z == mortonRef(a, b, 16), s"morton($a,$b)")
    }
  }

  test("z-curve locality: adjacent codes differ little in both columns") {
    // points sorted by z-code: consecutive points share high bits, so
    // both coordinates stay close — the property file skipping rests on
    val s = spark
    import s.implicits._
    val pts = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val sortedByZ = pts.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zValue2(col("a"), col("b"), 6).as("z"))
      .orderBy("z").as[(Long, Long, Long)].collect()
    // each quarter of the z-range covers exactly one 32x32 quadrant
    val quarter = sortedByZ.length / 4
    for (q <- 0 until 4) {
      val slice = sortedByZ.slice(q * quarter, (q + 1) * quarter)
      val (as, bs) = (slice.map(_._1), slice.map(_._2))
      assert(as.max - as.min <= 31 && bs.max - bs.min <= 31,
        s"quadrant $q spans (${as.min}..${as.max}, ${bs.min}..${bs.max})")
    }
  }

  test("normalized maps min/max to the ends of the bit range") {
    val s = spark
    import s.implicits._
    val df = Seq(10.0, 20.0, 30.0).toDF("v")
    val n = df.select(ZOrder.normalizedAll(df, Seq("v"), 8).head.as("n"))
      .as[Long].collect().sorted
    assert(n.head == 0L && n.last == 255L && n(1) == 128L)
  }

  test("null values cluster deliberately in bucket 0, never the top strip") {
    val s = spark
    import s.implicits._
    val df = Seq(Some(10.0), None, Some(30.0)).toDF("v")
    val n = df.select(ZOrder.normalizedAll(df, Seq("v"), 8).head.as("n"), col("v"))
      .collect().map(r => Option(r.get(1)).map(_.toString) -> r.getLong(0)).toMap
    assert(n(None) == 0L,
      "least() skips nulls — an unguarded null landed in bucket 255")
    assert(n(Some("30.0")) == 255L)
  }

  test("zValue2 rejects bits=32 (bit 63 is the sign; z order would break)") {
    intercept[IllegalArgumentException] {
      ZOrder.zValue2(col("a"), col("b"), 32)
    }
  }
}
