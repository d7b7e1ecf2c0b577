package graft

import graft.sources._
import org.apache.spark.sql.functions._
import scala.concurrent.duration._

/** Dialect SQL-builder shapes (exact-string tests mirroring the
  * reference's pure builders, SURVEY.md §5), schema normalization, and
  * config validation matrices. */
class SourcesSpec extends SparkSpec {

  private val t = TableId(db = "inst", schema = "sch", name = "lineitem")

  test("mysql-style scan/probe/minmax SQL shapes (S1/S3/A1-A2)") {
    assert(MySqlStyle.scanSql(t, Seq("a", "b"), Seq("a > 1", "k >= 1 and k < 5"))
      == "select `a`,`b` from `inst`.`sch`.`lineitem` where (a > 1) and (k >= 1 and k < 5)")
    assert(MySqlStyle.scanSql(t, Seq("*"), Nil)
      == "select * from `inst`.`sch`.`lineitem`")
    assert(MySqlStyle.probeSql(t, Seq("a"))
      == "select `a` from `inst`.`sch`.`lineitem` where (1 = 2)")
    assert(MySqlStyle.minMaxSql(t, "k", "")
      == "select min(`k`) as min_key, max(`k`) as max_key from `inst`.`sch`.`lineitem`")
  }

  test("mysql-style insert/replace SQL (S7/S8)") {
    val small = TableId(name = "t")
    assert(MySqlStyle.insertSql(small, Seq("a", "b"), 2)
      == "insert into `t`(`a`,`b`) values (?,?),(?,?)")
    assert(MySqlStyle.replaceSql(small, Seq("a"), 1)
      == "replace into `t`(`a`) values (?)")
  }

  test("delete-by-keys SQL: per-row key disjuncts, typed binds (upsert half)") {
    import org.apache.spark.sql.types._
    val small = TableId(name = "t")
    assert(MySqlStyle.deleteByKeysSql(small,
        Seq(("k", LongType), ("s", StringType)), 2)
      == "delete from `t` where (`k` = ? and `s` = ?) or (`k` = ? and `s` = ?)")
    // oracle-style: positional :n continues across rows and time keys
    // get the conversion-wrapped bind like every other write path
    assert(OracleStyle.deleteByKeysSql(small, Seq(("d", DateType)), 2)
      == "delete from \"t\" where (\"d\" = to_date(:1,'yyyy-mm-dd hh24:mi:ss'))" +
        " or (\"d\" = to_date(:2,'yyyy-mm-dd hh24:mi:ss'))")
  }

  test("oracle-style quoting and :n bind vars (S6/S9)") {
    val small = TableId(name = "t")
    assert(OracleStyle.insertSql(small, Seq("a", "b"), 2)
      == "insert into \"t\"(\"a\",\"b\") values (:1,:2),(:3,:4)")
    assert(OracleStyle.arrayInsertSql(small, Seq("a", "b"))
      == "insert into \"t\"(\"a\",\"b\") values (:1,:2)")
  }

  test("oracle time binds wrap in to_date/to_timestamp (field.go:55-65)") {
    import org.apache.spark.sql.types._
    val small = TableId(name = "t")
    val cols = Seq(("id", LongType), ("d", DateType), ("ts", TimestampType))
    // a bare :n bound to a time string raises ORA-01861 — the reference
    // wraps each time bind in an explicit-mask conversion
    assert(OracleStyle.insertSqlTyped(small, cols, 2)
      == "insert into \"t\"(\"id\",\"d\",\"ts\") values " +
        "(:1,to_date(:2,'yyyy-mm-dd hh24:mi:ss')," +
        "to_timestamp(:3,'yyyy-mm-dd hh24:mi:ss.ff9'))," +
        "(:4,to_date(:5,'yyyy-mm-dd hh24:mi:ss')," +
        "to_timestamp(:6,'yyyy-mm-dd hh24:mi:ss.ff9'))")
    assert(OracleStyle.arrayInsertSqlTyped(small, cols)
      == "insert into \"t\"(\"id\",\"d\",\"ts\") values " +
        "(:1,to_date(:2,'yyyy-mm-dd hh24:mi:ss')," +
        "to_timestamp(:3,'yyyy-mm-dd hh24:mi:ss.ff9'))")
    // TimestampNTZ wraps the same way; non-time types stay bare
    assert(OracleStyle.bindVarTyped(0, TimestampNTZType)
      == "to_timestamp(:1,'yyyy-mm-dd hh24:mi:ss.ff9')")
    assert(OracleStyle.bindVarTyped(0, StringType) == ":1")
    // MySQL style never wraps — `?` binds accept JDBC temporals directly
    assert(MySqlStyle.insertSqlTyped(small, cols, 1)
      == "insert into `t`(`id`,`d`,`ts`) values (?,?,?)")
    // the bound VALUE pairs with the wrapper: formatted strings the
    // explicit mask parses (date at midnight seconds, ts with ff9 digits)
    assert(OracleStyle.writeTime(java.sql.Date.valueOf("2024-03-05"))
      == "2024-03-05 00:00:00")
    assert(OracleStyle.writeTime(
        java.sql.Timestamp.valueOf("2024-03-05 01:02:03.123456789"))
      == "2024-03-05 01:02:03.123456789")
    assert(MySqlStyle.writeTime(java.sql.Date.valueOf("2024-03-05"))
      == java.sql.Date.valueOf("2024-03-05"))
  }

  test("row-wise insert binds honor NULL/''/time write conventions") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s", StringType),
      StructField("n", LongType), StructField("ts", TimestampType)))
    val ts = java.sql.Timestamp.valueOf("2024-03-05 01:02:03")
    val rows = Seq(
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](null, 7L, ts), schema),
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any]("x", null, null), schema))
    // Oracle: NULL string binds as '' (oracle/field.go:255-263), the
    // timestamp binds as the formatted string its to_timestamp mask parses
    assert(OracleStyle.rowBindArgs(rows).toSeq ==
      Seq("", 7L, "2024-03-05 01:02:03.000000000", "x", null, null))
    // MySQL: NULL stays NULL, temporals pass through as JDBC values
    assert(MySqlStyle.rowBindArgs(rows).toSeq ==
      Seq(null, 7L, ts, "x", null, null))
    assert(OracleStyle.rowBindArgs(Seq.empty).isEmpty)
  }

  test("dialect registry: lookup + panic-on-duplicate") {
    assert(Dialects("mysql") == MySqlStyle)
    intercept[IllegalArgumentException](Dialects.register(MySqlStyle))
    intercept[NoSuchElementException](Dialects("nope"))
  }

  test("split key/range type matrix (X3)") {
    def sc(rt: String) =
      SplitConfig(key = "k", range = Some(SplitRange(rt, "1", "9")))
    assert(sc("bigint").checkType("long").isRight)
    assert(sc("bigint").checkType("string").isRight)
    assert(sc("string").checkType("string").isRight)
    assert(sc("time").checkType("time").isRight)
    assert(sc("time").checkType("long").isLeft)
    assert(sc("bigint").checkType("time").isLeft)
    assert(SplitConfig(key = "k").checkType("long").isRight) // no range
  }

  test("querySql split: one union branch per statement, union == whole (X4)") {
    Tables.registerAll(spark, Sf0)
    val cfg = ReaderConfig(table = TableId(name = "nation"),
      querySql = Seq(
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 8",
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey BETWEEN 8 AND 15",
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey > 15"))
    val df = QuerySqlReader.read(spark, cfg)
    // plan shape: one independent branch per statement (reference runs
    // one task per statement — job.go:123-131); CombineUnions flattens
    // the chain to a single n-ary Union
    val unions = df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.size == 1 && unions.head.children.size == 3,
      s"expected one 3-branch Union:\n${df.queryExecution.optimizedPlan}")
    // the slices partition the key space: union == plain scan
    val whole = spark.sql("SELECT n_nationkey, n_name FROM nation")
    assert(df.exceptAll(whole).isEmpty && whole.exceptAll(df).isEmpty)
    // empty statement list is a config error
    intercept[IllegalArgumentException](
      QuerySqlReader.read(spark, ReaderConfig(table = TableId(name = "nation"))))
  }

  test("reference JSON job configs load into the typed configs") {
    val rj =
      """{"column": ["a", "k"],
        | "connection": {"url": "jdbc:mysql://h:3306/d",
        |   "table": {"db": "inst", "schema": "sch", "name": "lineitem"}},
        | "where": "a > 5",
        | "split": {"key": "k", "timeAccuracy": "min",
        |   "range": {"type": "bigint", "left": "1", "right": "99"}},
        | "querySql": []}""".stripMargin
    val rc = ConfigJson.reader(rj)
    assert(rc.columns == Seq("a", "k"))
    assert(rc.table == TableId("inst", "sch", "lineitem"))
    assert(rc.where == "a > 5")
    assert(rc.split.key == "k" && rc.split.timeAccuracy == "min")
    assert(rc.split.range.contains(SplitRange("bigint", "1", "99")))
    // defaults when fields are absent (reference defaults)
    val rcd = ConfigJson.reader(
      """{"connection": {"table": {"name": "t"}}}""")
    assert(rcd.columns == Seq("*") && rcd.where == "" &&
      rcd.split.key == "" && rcd.split.timeAccuracy == "day" &&
      rcd.split.range.isEmpty && rcd.querySql.isEmpty)
    // the parsed config drives the read plan end-to-end
    val plan = JdbcReadPlan.plan(rc.copy(numPartitions = 2), MySqlStyle,
      bounds = Some((BigInt(1), BigInt(99))))
    assert(plan.predicates.size == 2 &&
      plan.statements.head.endsWith("where (a > 5)"))

    val wj =
      """{"column": ["a"],
        | "connection": {"table": {"name": "t"}},
        | "writeMode": "replace", "batchSize": 2500,
        | "batchTimeout": "500ms",
        | "preSQL": ["truncate table t"], "postSQL": ["analyze table t"]}"""
        .stripMargin
    val wc = ConfigJson.writer(wj)
    assert(wc.writeMode == "replace" && wc.batchSize == 2500)
    assert(wc.batchTimeout == 500.millis)
    assert(wc.preSql == Seq("truncate table t") &&
      wc.postSql == Seq("analyze table t"))
    assert(wc.execMode == "Normal") // default
    // writer defaults mirror writer/config.go:20-23
    val wcd = ConfigJson.writer("""{"connection": {"table": {"name": "t"}}}""")
    assert(wcd.batchSize == 1000 && wcd.batchTimeout == 1.second &&
      wcd.writeMode == "insert")
  }

  test("jdbc read plan assembles scan SQL + split predicates + where") {
    val base = ReaderConfig(columns = Seq("a", "k"),
      table = TableId(name = "t"), numPartitions = 4,
      split = SplitConfig(key = "k"))
    // split mode: bare scan statement + 4 range predicates
    val p = JdbcReadPlan.plan(base, MySqlStyle,
      bounds = Some((BigInt(0), BigInt(99))))
    assert(p.statements == Seq("select `a`,`k` from `t`"))
    assert(p.predicates == Seq(
      "`k` >= 0 and `k` < 25", "`k` >= 25 and `k` < 50",
      "`k` >= 50 and `k` < 75", "`k` >= 75 and `k` <= 99"))
    // user where stays inside the statement; predicates carry only the
    // slice (the where may name a column the projection drops)
    val pw = JdbcReadPlan.plan(base.copy(where = "a > 5"), MySqlStyle,
      bounds = Some((BigInt(0), BigInt(99))))
    assert(pw.predicates == p.predicates)
    assert(pw.statements == Seq("select `a`,`k` from `t` where (a > 5)"))
    // unsplit: where folds into the single statement
    val pu = JdbcReadPlan.plan(base.copy(numPartitions = 1, where = "a > 5"),
      MySqlStyle, bounds = Some((BigInt(0), BigInt(99))))
    assert(pu.statements == Seq("select `a`,`k` from `t` where (a > 5)"))
    assert(pu.predicates.isEmpty)
    // no bounds probe -> unsplit
    assert(JdbcReadPlan.plan(base, MySqlStyle, None).predicates.isEmpty)
    // querySql passthrough beats everything (job.go:123-131)
    val pq = JdbcReadPlan.plan(base.copy(
      querySql = Seq("select 1", "select 2")), MySqlStyle, None)
    assert(pq.statements == Seq("select 1", "select 2") &&
      pq.predicates.isEmpty)
  }

  test("oracle ''==NULL and trimChar value conventions (field.go:193,260)") {
    // read matrix: (value, isChar, trimChar) -> expected, per dialect
    val cases = Seq(
      // Oracle: '' -> NULL before any trim; CHAR pad trims when knob set
      (OracleStyle, "", false, false, null),
      (OracleStyle, "", true, true, null),
      (OracleStyle, "pad  ", true, true, "pad"),
      (OracleStyle, "pad  ", true, false, "pad  "),
      (OracleStyle, "  ", true, true, ""), // null-check precedes trim
      (OracleStyle, "  ", false, true, "  "), // not CHAR -> no trim
      (OracleStyle, null, true, true, null),
      // MySQL-style: '' stays '', trim still applies to CHAR
      (MySqlStyle, "", false, false, ""),
      (MySqlStyle, " a ", true, true, "a"),
      (MySqlStyle, null, true, true, null))
    cases.foreach { case (d, v, isChar, tc, want) =>
      assert(d.readString(v, isChar, tc) == want,
        s"${d.name}.readString($v, $isChar, $tc)")
    }
    // write side: NULL binds as '' only where '' IS NULL
    assert(OracleStyle.writeString(null) == "")
    assert(OracleStyle.writeString("x") == "x")
    assert(MySqlStyle.writeString(null) == null)
    // DataFrame surface mirrors the pure function
    import spark.implicits._
    val df = Seq(("", "pad  "), (null, null), ("x", " y ")).toDF("s", "c")
    val out = SchemaNormalize.applyReadConventions(df, OracleStyle,
        trimChar = true, charCols = Set("c"))
      .as[(String, String)].collect().toSeq
    assert(out == Seq((null, "pad"), (null, null), ("x", "y")))
    // non-Oracle dialect: '' survives, only CHAR trim applies
    val out2 = SchemaNormalize.applyReadConventions(df, MySqlStyle,
        trimChar = true, charCols = Set("c"))
      .as[(String, String)].collect().toSeq
    assert(out2 == Seq(("", "pad"), (null, null), ("x", "y")))
  }

  test("duplicate column rename by ordinal (schema normalization)") {
    val df = spark.range(1).select(lit(1).as("c"), lit(2).as("c"),
      lit(3).as("C"), lit(4).as("d"))
    val out = SchemaNormalize.dedupColumnNames(df)
    assert(out.columns.toSeq == Seq("c", "c1", "C2", "d"))
  }

  test("unsupported-type rejection lists offenders") {
    val ok = Tables.lineitem(spark, Sf0).schema
    assert(SchemaNormalize.requireSupported(ok).isRight)
    val bad = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.CalendarIntervalType)))
    val res = SchemaNormalize.requireSupported(bad)
    assert(res.isLeft && res.swap.exists(_.contains("x")))
  }

  test("CSV and JSONL roundtrips survive quotes, newlines, commas, " +
      "unicode, NULL, and empty string") {
    import spark.implicits._
    val nasty = Seq(
      (1L, Option("plain"), "en"),
      (2L, Option("embedded \"quotes\" and, commas"), "en"),
      (3L, Option("multi\nline\r\ntext"), "fr"),
      (4L, Option("unicode 日本語 éè 😀"), "zh"),
      (5L, None, "de"),
      (6L, Option(""), "es"),
      (7L, Option("backslash \\ and \\N literal"), "en"))
      .toDF("id", "text", "lang")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toSeq).toSeq
    val want = sorted(nasty)

    val jd = "/tmp/graft_spec_jsonl"
    nasty.write.mode("overwrite").json(jd)
    assert(sorted(spark.read.schema(nasty.schema).json(jd)) == want)

    val cd = "/tmp/graft_spec_csv"
    nasty.write.mode("overwrite")
      .option("quoteAll", true).option("escape", "\"")
      .option("nullValue", "\\N")
      .csv(cd)
    val back = sorted(spark.read.schema(nasty.schema)
      .option("multiLine", true).option("escape", "\"")
      .option("nullValue", "\\N")
      .csv(cd))
    assert(back == want)
  }
}
