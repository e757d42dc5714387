package graft.anon

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** Golden tests mirroring the reference's parser/anonymizer suite
  * (reference: src/parser/custom_test.go:10-83) + the N5 consistency
  * property as ScalaCheck. */
class AnonymizerSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  test("golden: every identifier -> foo, keywords/functions/engine/props preserved") {
    val sql = """CREATE TABLE t1 (
dt_month varchar(6) NULL,
company_code varchar(40) NULL
) ENGINE=OLAP
DUPLICATE KEY(dt_month)
COMMENT 'OLAP'
DISTRIBUTED BY HASH(dt_month) BUCKETS 10
PROPERTIES (
"replication_allocation" = "tag.location.default:1",
'bloom_filter_columns' = "dt_month, company_code"
);
select count(dt_month), data from t1"""
    val got = Anonymizer.anonymizeSqlWith(_ => "foo", sql)
    val want = """CREATE TABLE foo (
foo varchar(6) NULL,
foo varchar(40) NULL
) ENGINE=OLAP
DUPLICATE KEY(foo)
COMMENT 'OLAP'
DISTRIBUTED BY HASH(foo) BUCKETS 10
PROPERTIES (
"replication_allocation" = "tag.location.default:1",
'bloom_filter_columns' = "foo,foo"
);
select count(foo), foo from foo"""
    assert(got == want)
  }

  test("golden: identity rewrite round-trips (modulo backtick stripping)") {
    val sqls = Seq(
      "select day(`c`) from `t`",
      "select `TABLE_NAME`, `COLUMN_NAME` from `information_schema`.`columns` where table_schema = 'db_haixin' order by table_name,ordinal_position",
      """select @@abc, @abc, abc (asdad), ADD(1), json_extract(data,"$.foo1") from table1""")
    for (sql <- sqls) {
      val got = Anonymizer.anonymizeSqlWith(identity, sql)
      assert(got == sql.replace("`", ""), s"for: $sql")
    }
  }

  test("quoted identifiers colliding with keywords stay identifiers AND parseable") {
    // `order` is an identifier BY QUOTATION: the keyword escape must not
    // keep it verbatim-and-bare (unparseable). Hashed, the alias is safe
    // bare; under identity the emission must re-quote it.
    assert(Anonymizer.anonymizeSqlWith(w => s"x_$w", "select `order` from t1")
      == "select x_order from x_t1")
    assert(Anonymizer.anonymizeSqlWith(identity, "select `order` from t1")
      == "select `order` from t1")
  }

  test("variables are never rewritten; string literals survive") {
    val ctx = new Anonymizer.Context("hash")
    val got = Anonymizer.anonymizeSql(ctx,
      "select @@version, @user_var, col_x from my_tbl where col_s = 'secret_name'")
    assert(got.contains("@@version") && got.contains("@user_var"))
    assert(got.contains("'secret_name'"))
    assert(!got.contains("col_x") && !got.contains("my_tbl") && !got.contains("col_s"))
  }

  test("an unterminated literal keeps its whole body") {
    // a lone quote is an empty unterminated literal, not an error
    assert(Anonymizer.anonymizeSqlWith(_ => "x", "SELECT a FROM t WHERE b = '") ==
      "SELECT x FROM x WHERE x = '")
    // the last character of an unterminated property value is an id too
    assert(Anonymizer.anonymizeSqlWith(_.toUpperCase,
      "PROPERTIES (\"bloom_filter_columns\" = \"a,bc") ==
      "PROPERTIES (\"bloom_filter_columns\" = \"A,BC\"")
  }

  test("hash method: 8-byte hex, min length, reserved ids kept") {
    val ctx = new Anonymizer.Context("hash", minLength = 3)
    assert(ctx.anonymize("ab") == "ab")                   // below min length
    assert(ctx.anonymize("mysql") == "mysql")             // reserved
    assert(ctx.anonymize("information_schema") == "information_schema")
    val h = ctx.anonymize("my_table")
    assert(h.matches("[0-9a-f]{16}"))
    assert(ctx.anonymize("MY_TABLE") == h)                // case-insensitive
  }

  test("comment hiding masks COMMENT literals only") {
    val ctx = new Anonymizer.Context("hash")
    val got = Anonymizer.anonymizeSql(ctx,
      "CREATE TABLE t (c int COMMENT 'sensitive', d varchar(5)) COMMENT 'top secret'", hideComments = true)
    assert(!got.contains("sensitive") && !got.contains("top secret"))
    assert(got.contains("'**"))
  }

  test("minihash: a, b, ... sequence, keyword skipping, dict round-trip") {
    val ctx = new Anonymizer.Context("minihash")
    val a = ctx.anonymize("first_id")
    val b = ctx.anonymize("second_id")
    val c = ctx.anonymize("third_id")
    assert(a == "a" && b == "b" && c == "c")
    assert(ctx.anonymize("FIRST_ID") == "a")             // consistent
    // dict persists and reloads into a consistent context
    val yaml = ctx.dictYaml
    val ctx2 = new Anonymizer.Context("minihash",
      initialDict = Anonymizer.loadDictYaml(yaml))
    assert(ctx2.anonymize("second_id") == "b")
    assert(ctx2.anonymize("fresh_id") == "d")            // continues after @@last
  }

  test("minihash increment: z -> aa carry and keyword skip") {
    val dict = ('a' to 'z').map(ch => s"h_$ch" -> ch.toString).toMap +
      ("@@last" -> "z")
    val ctx = new Anonymizer.Context("minihash", initialDict = dict)
    assert(ctx.anonymize("overflow_id") == "aa")
    assert(ctx.anonymize("next_id") == "ba")
    // skipping keywords: force @@last just before 'if'
    val ctx2 = new Anonymizer.Context("minihash",
      initialDict = Map("@@last" -> "hf"))  // next would be 'if' (keyword)
    assert(ctx2.anonymize("x_id") == "jf")
  }

  // ---- N5: consistency invariant (ScalaCheck) ------------------------

  private val idGen: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(7, Gen.oneOf(Gen.alphaNumChar, Gen.const('_')))
  } yield (h :: t).mkString

  test("property: same identifier (case-insensitive) -> same alias, across statements") {
    val ctx = new Anonymizer.Context("minihash")
    check(Prop.forAll(idGen, idGen) { (t: String, c: String) =>
      (t != c && !Anonymizer.Keywords.contains(t.toLowerCase) &&
        !Anonymizer.Keywords.contains(c.toLowerCase)) ==> {
        val s1 = Anonymizer.anonymizeSql(ctx, s"select $c from $t")
        val s2 = Anonymizer.anonymizeSql(ctx, s"select ${c.toUpperCase} from ${t.toUpperCase} where $c > 0")
        val a1 = s1.stripPrefix("select ").split(" from ")
        val a2 = s2.stripPrefix("select ").split(" from | where ")
        a1(0) == a2(0) && a1(1) == a2(1).split(" ")(0)
      }
    })
  }

  test("property: anonymized SELECT still parses (replayability)") {
    val ctx = new Anonymizer.Context("hash")
    check(Prop.forAll(idGen, idGen) { (t: String, c: String) =>
      (!Anonymizer.Keywords.contains(t.toLowerCase) &&
        !Anonymizer.Keywords.contains(c.toLowerCase)) ==> {
        val anon = Anonymizer.anonymizeSql(ctx,
          s"select $c, count(*) from $t group by $c order by $c limit 5")
        graft.workload.ParseValidate(anon)
      }
    })
  }
}
