package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** io/Merge — keyed partition-scoped upsert into hive-partitioned
  * parquet. The io13 query proves oracle-level semantics; this spec
  * pins the stats contract and the loud error paths. */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("merge_spec")
    d.toFile.deleteOnExit()
    s"$d/t"
  }

  private val base = Seq(
    (1L, "en", 10L), (2L, "en", 20L), (3L, "de", 30L), (4L, "fr", 40L))
    .toDF("id", "part", "v")

  test("mergeInto upserts matched keys, inserts new ones, conserves rows") {
    val root = freshRoot()
    base.write.partitionBy("part").parquet(root)
    val updates = Seq((2L, "en", 99L), (5L, "en", 50L), (6L, "xx", 60L))
      .toDF("id", "part", "v")
    val st = Merge.mergeInto(spark, root, updates, Seq("id"), "part")
    assert(st.touchedPartitions == Seq("en", "xx"))
    // counts are scoped to the touched partitions (en: ids 1,2 before;
    // en ids 1,2,5 + xx id 6 after) — untouched de/fr never counted
    assert(st.beforeTouched == 2L && st.updates == 3L &&
      st.matched == 1L && st.inserted == 2L && st.afterTouched == 4L)
    val out = spark.read.parquet(root).orderBy("id")
      .select("id", "part", "v").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "en", 10L), (2L, "en", 99L), (3L, "de", 30L),
      (4L, "fr", 40L), (5L, "en", 50L), (6L, "xx", 60L)))
  }

  test("untouched partitions keep their files byte-identical") {
    val root = freshRoot()
    base.write.partitionBy("part").parquet(root)
    def files(p: String): Set[(String, Long)] =
      new java.io.File(s"$root/part=$p").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).toSet
    val deBefore = files("de"); val frBefore = files("fr")
    Merge.mergeInto(spark, root,
      Seq((1L, "en", 11L)).toDF("id", "part", "v"), Seq("id"), "part")
    assert(files("de") == deBefore && files("fr") == frBefore,
      "merge must not rewrite partitions the update batch never names")
  }

  test("moving a key across partitions is a loud error, not a duplicate") {
    val root = freshRoot()
    base.write.partitionBy("part").parquet(root)
    val e = intercept[IllegalArgumentException] {
      // id=3 lives in de; the update claims en — but only en is scoped,
      // so honoring it would leave a stale copy in de
      Merge.mergeInto(spark, root,
        Seq((3L, "en", 99L)).toDF("id", "part", "v"), Seq("id"), "part")
    }
    assert(e.getMessage.contains("partition"))
  }

  test("a replayed batch re-merges idempotently, untouched files byte-identical") {
    val root = freshRoot()
    base.write.partitionBy("part").parquet(root)
    def readTable(): Seq[(Long, String, Long)] =
      spark.read.parquet(root).orderBy("id")
        .select("id", "part", "v").as[(Long, String, Long)].collect().toSeq
    def files(p: String): Set[(String, Long)] =
      new java.io.File(s"$root/part=$p").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).toSet
    // batch 0: update key 2, insert key 5
    Merge.mergeInto(spark, root,
      Seq((2L, "en", 99L), (5L, "en", 50L)).toDF("id", "part", "v"), Seq("id"), "part")
    // batch 1: re-update key 5, insert key 6
    val batch1 = Seq((5L, "en", 55L), (6L, "xx", 60L)).toDF("id", "part", "v")
    Merge.mergeInto(spark, root, batch1, Seq("id"), "part")
    val settled = readTable()
    val deFiles = files("de"); val frFiles = files("fr")
    // the crash window: batch 1's files landed but its caller did not
    // record it, so the caller re-runs batch 1 with the same rows
    Merge.mergeInto(spark, root, batch1, Seq("id"), "part")
    assert(readTable() == settled,
      "replayed batch must leave the table in the same state")
    assert(files("de") == deFiles && files("fr") == frFiles,
      "untouched partitions must stay byte-identical across the replay")
    assert(settled == Seq((1L, "en", 10L), (2L, "en", 99L), (3L, "de", 30L),
      (4L, "fr", 40L), (5L, "en", 55L), (6L, "xx", 60L)))
  }

  test("duplicate update keys fail loudly BEFORE any file is rewritten") {
    val root = freshRoot()
    base.write.partitionBy("part").parquet(root)
    def files(p: String): Set[(String, Long)] =
      new java.io.File(s"$root/part=$p").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).toSet
    val enBefore = files("en")
    val e = intercept[IllegalArgumentException] {
      // two CDC events for key 2 in one batch — SQL MERGE rejects this
      Merge.mergeInto(spark, root,
        Seq((2L, "en", 98L), (2L, "en", 99L), (7L, "en", 70L))
          .toDF("id", "part", "v"), Seq("id"), "part")
    }
    assert(e.getMessage.contains("more than once"))
    assert(files("en") == enBefore,
      "the guard must fire before the destructive rewrite")
    // the silent case: duplicate keys that match NOTHING would insert
    // the key twice and pass a pure conservation check
    intercept[IllegalArgumentException] {
      Merge.mergeInto(spark, root,
        Seq((8L, "en", 80L), (8L, "en", 81L)).toDF("id", "part", "v"),
        Seq("id"), "part")
    }
  }

  test("null merge keys are rows, not sentinels: they match null-safely") {
    val root = freshRoot()
    Seq((Option(1L), "en", 10L), (Option.empty[Long], "en", 20L))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(root)
    // the null-key update must REPLACE the null-key target row (<=> match)
    val st = Merge.mergeInto(spark, root,
      Seq((Option.empty[Long], "en", 99L)).toDF("id", "part", "v"),
      Seq("id"), "part")
    assert(st.matched == 1L && st.inserted == 0L && st.afterTouched == 2L)
    val out = spark.read.parquet(root).orderBy(col("v"))
      .select("id", "v").collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1))).toSeq
    assert(out == Seq((Some(1L), 10L), (None, 99L)))
  }

  test("schema and key contracts are enforced") {
    val root = freshRoot()
    base.write.partitionBy("part").parquet(root)
    intercept[IllegalArgumentException] {
      Merge.mergeInto(spark, root,
        Seq((1L, "en")).toDF("id", "part"), Seq("id"), "part")
    }
    intercept[IllegalArgumentException] {
      Merge.mergeInto(spark, root, base, Seq("part"), "part")
    }
  }
}
