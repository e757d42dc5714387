package graft.workload

import java.nio.file.Files
import java.nio.charset.Charset
import graft.SparkSpec

/** S2: encoding detection + non-UTF-8 audit scan. */
class EncodingSpec extends SparkSpec {

  private val line =
    "2024-01-02 03:04:05,123 [query] |Client=10.0.0.1:9030|User=root|Db=商店|State=EOF|Time(ms)=12|QueryId=q1|IsQuery=true|Stmt=SELECT 1"

  test("detectEncoding: UTF-8 accepted, GBK bytes promoted to GB18030") {
    assert(AuditLog.detectEncoding(line.getBytes("UTF-8")) == "UTF-8")
    assert(AuditLog.detectEncoding(line.getBytes("GBK")) == "GB18030")
    // a UTF-8 sample cut mid-multibyte must not misdetect
    val cut = line.getBytes("UTF-8").dropRight(line.getBytes("UTF-8").length - 45)
    assert(AuditLog.detectEncoding("商店商店".getBytes("UTF-8").dropRight(1)) == "UTF-8")
  }

  // charset-breadth fixtures (VERDICT r10 item 5): each locale's audit
  // line round-trips bytes-in-locale-encoding → detect → decode and must
  // recover the exact Db name (the same golden-count discipline as the
  // GBK fixture below). Db names are everyday phrases with enough script
  // signal for the statistical pass: kana for Shift_JIS, hangul for
  // EUC-KR, traditional-marker ideographs for Big5, accented Latin for
  // ISO-8859-1/windows-1252.
  private def lineWithDb(db: String) =
    s"2024-01-02 03:04:05,123 [query] |Client=10.0.0.1:9030|User=root|Db=$db|State=EOF|Time(ms)=12|QueryId=q1|IsQuery=true|Stmt=SELECT 1"

  test("detectEncoding breadth: Shift_JIS, EUC-KR, Big5, Latin-1 samples") {
    val cases = Seq(
      ("Shift_JIS", "お店のデータベースです"),
      ("EUC-KR", "상점 데이터베이스"),
      ("Big5", "這是商店的資料庫紀錄說明"),
      ("ISO-8859-1", "boutique éphémère à Genève"))
    for ((cs, db) <- cases) {
      val bytes = lineWithDb(db).getBytes(cs)
      val got = AuditLog.detectEncoding(bytes)
      assert(got == cs, s"expected $cs for db=$db, got $got")
      // golden count: the decoded record carries the Db name intact
      assert(new String(bytes, got).contains(s"Db=$db"))
    }
    // windows-1252 smart punctuation (0x93/0x94 curly quotes) is
    // reported as windows-1252, not ISO-8859-1
    val w = lineWithDb("boutique “élégante” à Genève").getBytes("windows-1252")
    assert(AuditLog.detectEncoding(w) == "windows-1252")
  }

  test("charset-breadth audit files decode to the same golden counts") {
    val dir = Files.createTempDirectory("encb").toString
    for ((cs, db) <- Seq(("Shift_JIS", "お店のデータベース"),
      ("EUC-KR", "상점 자료"), ("Big5", "商店資料庫說明紀錄"))) {
      val f = s"$dir/fe.audit.$cs.log"
      Files.write(java.nio.file.Paths.get(f),
        (lineWithDb(db) + "\n").getBytes(cs))
      val enc = AuditLog.detectFileEncoding(f)
      assert(enc == cs, s"file in $cs detected as $enc")
      val recs = AuditLog.records(spark, f, enc).collect()
      assert(recs.length == 1)
      assert(recs.head.getInt(1) == 1, "pos is 1-based on the charset path too")
      assert(recs.head.getString(2).contains(s"Db=$db"),
        s"decoded record: ${recs.head.getString(2)}")
    }
  }

  test("detectEncoding: a GBK sample with simplified text stays GB18030") {
    val bytes = lineWithDb("这是商店的数据记录说明").getBytes("GBK")
    assert(AuditLog.detectEncoding(bytes) == "GB18030")
  }

  test("GBK audit file decodes through the detected charset") {
    val dir = Files.createTempDirectory("enc").toString
    val f = s"$dir/fe.audit.log"
    Files.write(java.nio.file.Paths.get(f), (line + "\n").getBytes("GBK"))
    val enc = AuditLog.detectFileEncoding(f)
    assert(enc == "GB18030")
    val record = AuditLog.records(spark, f, enc).collect().head.getString(2)
    assert(record.contains("Db=商店"), s"decoded record: $record")
    // the default UTF-8 path would NOT see the db name intact
    val rawRecord = AuditLog.records(spark, f).collect().head.getString(2)
    assert(!rawRecord.contains("Db=商店"))
  }
}
