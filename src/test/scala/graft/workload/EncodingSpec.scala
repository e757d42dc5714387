package graft.workload

import java.nio.file.Files
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
      val bytes = (lineWithDb(db) + "\n").getBytes(cs)
      Files.write(java.nio.file.Paths.get(f), bytes)
      val enc = AuditLog.detectEncoding(bytes)
      assert(enc == cs, s"file in $cs detected as $enc")
      val recs = AuditLog.records(spark, f).collect()
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
    // one GBK file and one UTF-8 file in one directory: each task
    // detects its own file's charset
    val dir = Files.createTempDirectory("enc")
    Files.write(dir.resolve("fe.audit.gbk.log"), (line + "\n").getBytes("GBK"))
    val utf8Line = line.replace("Db=商店", "Db=数据库").replace("q1", "q2")
    Files.write(dir.resolve("fe.audit.utf8.log"), (utf8Line + "\n").getBytes("UTF-8"))
    val recs = AuditLog.records(spark, dir.toString).collect()
      .map(r => r.getString(0).split('/').last -> r.getString(2)).toMap
    assert(recs.keySet == Set("fe.audit.gbk.log", "fe.audit.utf8.log"))
    assert(recs("fe.audit.gbk.log") == line, s"decoded record: ${recs("fe.audit.gbk.log")}")
    assert(recs("fe.audit.utf8.log") == utf8Line)
  }

  test("a UTF-16 audit file fails with a message naming it") {
    val dir = Files.createTempDirectory("enc16")
    val f = dir.resolve("fe.audit.utf16.log")
    Files.write(f, (line + "\n").getBytes("UTF-16"))
    val e = intercept[Exception](AuditLog.records(spark, f.toString).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("fe.audit.utf16.log") && m.contains("UTF-16")),
      msgs.mkString(" | "))
  }
}
