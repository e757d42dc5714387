package graft.pipeline

import graft.SparkSpec
import graft.pipeline.Mpeg1.{Copy, Delta, Skip}

/** Hand-rolled MPEG-1 I/P decoder: golden header bytes, flat-intra
  * exactness, motion compensation (full- and half-pel), skipped-MB
  * copy, DC-only residual accumulation, and subset rejection. */
class Mpeg1Spec extends SparkSpec {
  import spark.implicits._

  private def mean(p: Array[Byte]): Double =
    p.map(_ & 0xff).sum.toDouble / p.length

  test("golden bytes: sequence header, picture header, sequence end") {
    val s = Mpeg1.encode(32, 32, 100, Nil)
    // start code + 0xB3, then 12+12 bits of 32x32 -> 02 00 20
    assert(s.take(7).map(_ & 0xff).toSeq ==
      Seq(0x00, 0x00, 0x01, 0xB3, 0x02, 0x00, 0x20))
    // aspect 0001, rate 0011, 18x'1' bitrate, marker, vbv 0, flags 000:
    // 0001 0011 | 1111 1111 | 1111 1111 | 1110 0000 | 0000 0000
    assert(s.slice(7, 12).map(_ & 0xff).toSeq ==
      Seq(0x13, 0xFF, 0xFF, 0xE0, 0x00))
    // picture start code follows byte-aligned
    assert(s.slice(12, 16).map(_ & 0xff).toSeq == Seq(0x00, 0x00, 0x01, 0x00))
    // stream ends with sequence_end_code
    assert(s.takeRight(4).map(_ & 0xff).toSeq == Seq(0x00, 0x00, 0x01, 0xB7))
  }

  test("flat I-picture round-trips exactly (every pixel, every DC value)") {
    for (l0 <- Seq(20, 100, 219)) {
      val frames = Mpeg1.decodeFrames(Mpeg1.encode(32, 32, l0, Nil))
      assert(frames.length == 1)
      assert(frames.head.length == 32 * 32)
      assert(frames.head.forall(b => (b & 0xff) == l0), s"L0=$l0")
    }
    // per-MB DC values exercise the DC differential VLC in both signs
    val quad = Mpeg1.decodeFrames(Mpeg1.encode(32, 32, 0, Nil,
      lumaPerMb = Some(Seq(50, 200, 130, 70)))).head
    def at(x: Int, y: Int) = quad(y * 32 + x) & 0xff
    assert(at(0, 0) == 50 && at(16, 0) == 200 &&
      at(0, 16) == 130 && at(16, 16) == 70)
  }

  test("P-picture full-pel motion compensation rearranges macroblocks") {
    // I frame: MBs A=60 B=120 C=180 in one 48x16 row; P frame moves
    // MB1 <- MB0 and MB2 <- MB1 via dx = -16 (negative full-pel MVs,
    // differential coding between them), MB0 copies itself (MV 0)
    val p = Seq[Mpeg1.PMb](Copy(0, 0), Copy(-16, 0), Copy(-16, 0))
    val frames = Mpeg1.decodeFrames(Mpeg1.encode(48, 16, 0,
      Seq(p), lumaPerMb = Some(Seq(60, 120, 180))))
    assert(frames.length == 2)
    val f1 = frames(1)
    def mbMean(mb: Int) = {
      var s = 0
      for (y <- 0 until 16; x <- 0 until 16) s += f1(y * 48 + mb * 16 + x) & 0xff
      s / 256.0
    }
    assert(mbMean(0) == 60.0 && mbMean(1) == 60.0 && mbMean(2) == 120.0)
  }

  test("half-pel prediction averages across a macroblock boundary") {
    // prev: MB0=100, MB1=200. P with full_pel=0: MB0 Copy(1, 0) = half a
    // pixel right -> columns 0..14 stay 100, column 15 averages into MB1:
    // (100+200+1)/2 = 150 (the spec's +1 rounding)
    val p = Seq[Mpeg1.PMb](Copy(1, 0), Copy(0, 0))
    val f1 = Mpeg1.decodeFrames(Mpeg1.encode(32, 16, 0, Seq(p),
      lumaPerMb = Some(Seq(100, 200)), halfPel = true))(1)
    def at(x: Int, y: Int) = f1(y * 32 + x) & 0xff
    for (y <- 0 until 16) {
      assert(at(0, y) == 100 && at(14, y) == 100)
      assert(at(15, y) == 150, s"half-pel boundary at row $y: ${at(15, y)}")
      assert(at(16, y) == 200)
    }
  }

  test("DC-only residuals accumulate and skipped MBs copy through") {
    // the analytic luma shift the oracle replays: level 1 -> +3
    // ((2+1)*8=24 -> odd-guard 23 -> 23/8 -> 2.875 -> 3), level ±2 -> ±5
    val one = Mpeg1.decodeFrames(
      Mpeg1.encode(32, 32, 100, Seq(Seq.fill(4)(Delta(1): Mpeg1.PMb))))
    assert(mean(one(1)) == 103.0)
    val full = Seq.fill(4)(Delta(2): Mpeg1.PMb)
    val partial = Seq[Mpeg1.PMb](Delta(-2), Skip, Skip, Delta(-2))
    val frames = Mpeg1.decodeFrames(
      Mpeg1.encode(32, 32, 100, Seq(full, partial)))
    assert(frames.length == 3)
    assert(mean(frames(0)) == 100.0)
    assert(mean(frames(1)) == 105.0) // +5 everywhere
    // -5 on first/last MB only: mean = 105 - 5 * (2/4)
    assert(mean(frames(2)) == 102.5)
    // and the untouched (skipped) MBs still hold 105
    val f2 = frames(2)
    assert((f2(0) & 0xff) == 100 && (f2(16) & 0xff) == 105)
  }

  test("subset violations reject loudly, and the registry converts them to decoded=false") {
    import org.apache.spark.sql.functions._
    // truncated garbage
    intercept[Exception] { Mpeg1.decodeFrames(Array[Byte](0, 0, 1, 0xB3.toByte, 1)) }
    // a B-picture header (type 3) must be refused, not mis-decoded
    val bw = new Mpeg1.BitWriter
    bw.startCode(0xB3)
    bw.put(32, 12); bw.put(32, 12); bw.put(1, 4); bw.put(3, 4)
    bw.put(0x3FFFF, 18); bw.put(1, 1); bw.put(0, 10); bw.put(0, 1)
    bw.put(0, 1); bw.put(0, 1)
    bw.startCode(0x00)
    bw.put(0, 10); bw.put(3, 3); bw.put(0xFFFF, 16)
    val e = intercept[IllegalArgumentException] {
      Mpeg1.decodeFrames(bw.bytes)
    }
    assert(e.getMessage.contains("only I/P"))
    // through the registry: one decoded=false row, no task failure
    Mpeg1.register()
    val media = Seq((1L, Mpeg1.synthMpeg1(1)), (2L, bw.bytes))
      .toDF("id", "payload")
      .select(col("id").as("media_id"), col("payload"),
        struct(lit("mpeg1").as("codec"), lit(32).as("width"),
          lit(32).as("height"), lit(0).as("channels")).as("meta"))
    val out = Multimodal.codecFrameSamples(spark, media, stride = 1)
      .collect().groupBy(_.media_id)
    assert(out(1L).forall(_.decoded))
    assert(out(2L).length == 1 && !out(2L).head.decoded)
  }

  test("AC coefficients: run-level VLC, escape coding, zigzag, intra dequant") {
    // Hand-assembled 16x16 I-picture whose first luma block carries DC +
    // two AC coefficients — one through the B.14 VLC ((0,2) = '0100'+s),
    // one through ESCAPE (run 2, level 100) — exercising the table and
    // escape paths the DC-only fixtures never touch. Expected pixels are
    // recomputed here with an independent IDCT over the dequantized
    // coefficients (intra: (2*level*q*Q[zz])/16, oddified).
    val bw = new Mpeg1.BitWriter
    bw.startCode(0xB3)
    bw.put(16, 12); bw.put(16, 12); bw.put(1, 4); bw.put(3, 4)
    bw.put(0x3FFFF, 18); bw.put(1, 1); bw.put(0, 10); bw.put(0, 1)
    bw.put(0, 1); bw.put(0, 1)
    bw.startCode(0x00)
    bw.put(0, 10); bw.put(1, 3); bw.put(0xFFFF, 16); bw.put(0, 1)
    bw.startCode(0x01)
    bw.put(8, 5); bw.put(0, 1) // qscale 8
    bw.putBits("1"); bw.put(1, 1) // addr inc 1, intra
    // block 0: dc_size 5 ('1110'), diff +22 (bits 10110) -> dc 128+22=150
    bw.putBits("1110"); bw.put(22, 5)
    // AC 1: (run 0, level +2) = '0100' + sign 0
    bw.putBits("0100"); bw.put(0, 1)
    // AC 2: ESCAPE (run 2, level 100): '000001' + run 6b + level 8b
    bw.putBits("000001"); bw.put(2, 6); bw.put(100, 8)
    bw.putBits("10") // EOB
    // blocks 1..5: DC-only at the predictor (diff 0: luma '100', chroma '00')
    for (blk <- 1 until 6) {
      bw.putBits(if (blk < 4) "100" else "00")
      bw.putBits("10")
    }
    bw.startCode(0xB7)
    val frame = Mpeg1.decodeFrames(bw.bytes).head
    // independent expectation: dequantized coefficients at zigzag 0,1,4
    // (zigzag position 1 -> raster (0,1) = horizontal frequency 1;
    // zz 4 = 1+run2+1 -> raster 9 = (1,1))
    def deq(level: Int, zz: Int, q: Array[Int]): Int = {
      var r = (2 * level * 8 * q(zz)) / 16
      if ((r & 1) == 0 && r != 0) r -= Integer.signum(r)
      math.min(2047, math.max(-2048, r))
    }
    val intraQ = Array(8, 16, 19, 22, 26) // zz 0..4 of the default matrix
    val c01 = deq(2, 1, intraQ)    // 32 -> oddified 31
    val c11 = deq(100, 4, intraQ)  // 2600 -> 2599 -> saturates at 2047
    assert(c01 == 31 && c11 == 2047)
    def cos(k: Int, u: Int) = math.cos((2 * k + 1) * u * math.Pi / 16.0) *
      (if (u == 0) 1.0 / math.sqrt(2) else 1.0)
    for (y <- 0 until 8; x <- 0 until 8) {
      val v = (cos(x, 0) * cos(y, 0) * (150 * 8) +
        cos(x, 1) * cos(y, 0) * c01 +
        cos(x, 1) * cos(y, 1) * c11) / 4.0
      val expect = math.max(0, math.min(255, math.floor(v + 0.5).toInt))
      assert((frame(y * 16 + x) & 0xff) == expect, s"pixel ($x,$y)")
    }
    // the DC-only neighbor block (block 1, columns 8..15) stays flat 150
    assert((frame(8) & 0xff) == 150 && (frame(15) & 0xff) == 150)
  }

  test("synthMpeg1 frame means match the analytic m06 oracle formula") {
    for (id <- 0L to 8L) {
      val l0 = ((id * 29) % 200 + 20).toDouble
      val nf = (4 + id % 3).toInt
      val frames = Mpeg1.decodeFrames(Mpeg1.synthMpeg1(id))
      assert(frames.length == nf, s"id=$id")
      val expect = Seq(l0, l0, l0 + 5, l0 + 7.5, l0 + 7.5, l0 + 12.5).take(nf)
      val got = frames.map(mean)
      assert(got == expect, s"id=$id: $got vs $expect")
    }
  }
}
