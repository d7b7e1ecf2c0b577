package graft

import graft.sinks.{ExecMode, ResilientBatchWriter, RetryJudge, RowSink}
import graft.sources._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.util.Properties
import scala.util.Using

/** Live JDBC end-to-end over embedded Derby (in-memory databases, Derby
  * 10.16 from the Spark classpath): the dialect builders, the split read
  * planner, and the resilient writer executing against a REAL database —
  * genuine connections, transactions, and SQLExceptions. This is the
  * runtime half of S5-S9 that the pure SQL-text specs cannot reach.
  */
class JdbcLiveSpec extends SparkSpec {

  private def memUrl(db: String) = s"jdbc:derby:memory:$db;create=true"
  private val d = DerbyStyle

  private def withConn[A](url: String)(f: java.sql.Connection => A): A =
    Using.resource(JdbcLive.connect(url))(f)

  private def exec(url: String, sql: String*): Unit =
    withConn(url) { c =>
      Using.resource(c.createStatement()) { st =>
        sql.foreach(st.executeUpdate)
      }
    }

  private def queryLongs(url: String, sql: String): Seq[Long] =
    withConn(url) { c =>
      Using.resource(c.createStatement()) { st =>
        Using.resource(st.executeQuery(sql)) { rs =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (rs.next()) buf += rs.getLong(1)
          buf.toSeq
        }
      }
    }

  test("live dialect registers through the public registry seam") {
    JdbcLive.ensureDerbyRegistered()
    JdbcLive.ensureDerbyRegistered() // idempotent, no dup panic
    assert(Dialects("derby").quote("a") == "\"a\"")
  }

  test("live split read: bounds probe + slice predicates, one partition per slice") {
    val url = memUrl("readdb")
    exec(url, """create table "people"("id" bigint, "name" varchar(100))""")
    withConn(url) { c =>
      Using.resource(
        c.prepareStatement("""insert into "people" values (?, ?)""")) { ps =>
        (0 until 100).foreach { i =>
          ps.setLong(1, i.toLong); ps.setString(2, s"name_$i")
          ps.executeUpdate()
        }
      }
    }
    val cfg = ReaderConfig(columns = Seq("id", "name"),
      table = TableId(name = "people"),
      where = "\"id\" >= 10",
      split = SplitConfig(key = "id"), numPartitions = 4)
    val df = JdbcLive.read(spark, url, cfg, d)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 90) // user WHERE composed into every slice
    // every slice carried rows: equal-width split over a dense key
    val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.forall(_ > 0), perPart.mkString(","))
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (10L until 100L).sum)
  }

  test("live split read: the user WHERE may filter on an unprojected column") {
    val url = memUrl("wheredb")
    exec(url, """create table "w"("id" bigint, "grp" bigint)""")
    withConn(url) { c =>
      Using.resource(c.prepareStatement("""insert into "w" values (?, ?)""")) {
        ps => (0 until 100).foreach { i =>
          ps.setLong(1, i.toLong); ps.setLong(2, i % 3L); ps.executeUpdate()
        }
      }
    }
    val cfg = ReaderConfig(columns = Seq("id"), table = TableId(name = "w"),
      where = "\"grp\" = 0",
      split = SplitConfig(key = "id"), numPartitions = 4)
    val df = JdbcLive.read(spark, url, cfg, d)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.columns.toSeq == Seq("id"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L).filter(_ % 3 == 0))
  }

  test("live bounds probe: empty table -> None -> unsplit plan") {
    val url = memUrl("emptydb")
    exec(url, """create table "e"("id" bigint)""")
    assert(JdbcLive.bounds(url, d, TableId(name = "e"), "id").isEmpty)
    val cfg = ReaderConfig(table = TableId(name = "e"),
      split = SplitConfig(key = "id"), numPartitions = 4)
    val df = JdbcLive.read(spark, url, cfg, d)
    assert(df.rdd.getNumPartitions == 1 && df.count() == 0)
  }

  test("live querySql passthrough: one single-partition read per statement") {
    val url = memUrl("qsqldb")
    exec(url, """create table "t"("v" bigint)""",
      """insert into "t" values (1),(2),(3),(4)""")
    val cfg = ReaderConfig(table = TableId(name = "t"), querySql = Seq(
      """select "v" from "t" where "v" <= 2""",
      """select "v" from "t" where "v" > 2"""))
    val df = JdbcLive.read(spark, url, cfg, d)
    assert(df.count() == 4)
  }

  test("live schema probe: zero-row 1=2 statement yields the table schema") {
    val url = memUrl("probedb")
    exec(url,
      """create table "s"("k" bigint not null, "txt" varchar(50), """ +
        """"amt" double, "ts" timestamp, "dec" decimal(10,2))""")
    val schema = JdbcLive.probeSchema(url, d, TableId(name = "s"))
    assert(schema.map(f => (f.name, f.dataType)) == Seq(
      ("k", LongType), ("txt", StringType), ("amt", DoubleType),
      ("ts", TimestampType), ("dec", DecimalType(10, 2))))
    assert(!schema("k").nullable && schema("txt").nullable)
  }

  test("live write: Tx batches through ResilientBatchWriter land exactly once") {
    val url = memUrl("writedb")
    JdbcLive.createTable(url, d, TableId(name = "sink_tbl"), StructType(Seq(
      StructField("id", LongType), StructField("label", StringType),
      StructField("ts", TimestampType))))
    import spark.implicits._
    val df = (0 until 57).map(i =>
        (i.toLong, s"row_$i", java.sql.Timestamp.valueOf(s"2026-01-01 00:00:${i % 60}")))
      .toDF("id", "label", "ts").repartition(3)
    val cfg = WriterConfig(table = TableId(name = "sink_tbl"),
      execMode = ExecMode.Tx, batchSize = 10)
    val dlq = JdbcLive.write(df, url, cfg, d)
    assert(dlq.count() == 0)
    assert(queryLongs(url, """select count(*) from "sink_tbl"""") == Seq(57L))
    assert(queryLongs(url, """select sum("id") from "sink_tbl"""")
      == Seq((0L until 57L).sum))
    // timestamps round-tripped through the bind path
    assert(queryLongs(url,
      """select count(*) from "sink_tbl" where "ts" is null""") == Seq(0L))
  }

  test("live upsert sink: replace-by-key is idempotent across redeliveries") {
    val url = memUrl("upsertdb")
    val t = TableId(name = "ups_tbl")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("n", DoubleType)))
    JdbcLive.createTable(url, d, t, schema, primaryKey = Seq("k"))
    import spark.implicits._
    val cfg = WriterConfig(table = t, execMode = ExecMode.Tx, batchSize = 3)
    // local copy: the sink factory must not capture the spec instance
    val dial = DerbyStyle
    def put(rows: (Long, String, Double)*): Unit = {
      val dlq = ResilientBatchWriter.write(
        rows.toDF("k", "v", "n").repartition(2), cfg,
        RetryJudge.forDialect(dial.name),
        _ => new JdbcUpsertRowSink(url, dial, t, schema, Seq("k")))
      assert(dlq.count() == 0)
    }
    put((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    // overlapping redelivery: 2 updated, 3 identical, 4 new
    put((2L, "B", 20.0), (3L, "c", 3.0), (4L, "d", 4.0))
    // exact redelivery of the whole second batch (at-least-once replay)
    put((2L, "B", 20.0), (3L, "c", 3.0), (4L, "d", 4.0))
    assert(queryLongs(url, """select count(*) from "ups_tbl"""") == Seq(4L))
    assert(queryLongs(url,
      """select cast(sum("n") as bigint) from "ups_tbl"""") == Seq(28L))
    val v2 = withConn(url) { c =>
      Using.resource(c.createStatement()) { st =>
        Using.resource(
          st.executeQuery("""select "v" from "ups_tbl" where "k" = 2""")) {
          rs => rs.next(); rs.getString(1)
        }
      }
    }
    assert(v2 == "B")
  }

  test("ledger sink: append redelivery is exactly-once; failure rolls the partition back") {
    val url = memUrl("ledgerdb")
    val t = TableId(name = "facts")
    val lt = TableId(name = "facts_ledger")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    JdbcLive.createTable(url, d, t, schema)
    JdbcLedgerSink.createLedger(url, d, lt)
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, i * 0.5)).toDF("id", "v")
      .repartition(4)
    val cfg = WriterConfig(table = t, execMode = ExecMode.Normal,
      batchSize = 7)
    val dial = DerbyStyle
    def deliver(epoch: Long): Unit = {
      val dlq = ResilientBatchWriter.write(df, cfg,
        RetryJudge.forDialect(dial.name),
        pid => new JdbcLedgerSink(url, dial, t, lt, schema, epoch))
      assert(dlq.count() == 0)
    }
    deliver(epoch = 1L)
    deliver(epoch = 1L) // foreachBatch redelivery: every partition skips
    assert(queryLongs(url, """select count(*) from "facts"""") == Seq(40L))
    deliver(epoch = 2L) // a NEW epoch appends again
    assert(queryLongs(url, """select count(*) from "facts"""") == Seq(80L))
    assert(queryLongs(url,
      """select count(*) from "facts_ledger"""") == Seq(8L))

    // failure mid-partition: nothing persists (single-tx rollback), and
    // the failed epoch can be redelivered cleanly afterwards
    class FailingSink(epoch: Long) extends JdbcLedgerSink(
        url, dial, t, lt, schema, epoch) {
      private var batches = 0
      override def writeBatch(rows: Seq[Row]): Unit = {
        batches += 1
        // dies BEFORE the second batch's statement (a crash, not a
        // server-reported error: the mysql judge neither retries nor
        // degrades it, so the task fails and the tx rolls back)
        if (batches == 2) throw new RuntimeException("task dies mid-write")
        super.writeBatch(rows)
      }
    }
    val before = queryLongs(url, """select count(*) from "facts"""").head
    intercept[Exception] {
      ResilientBatchWriter.write(df.repartition(1), cfg,
        RetryJudge.mysql,
        pid => new FailingSink(3L))
    }
    assert(queryLongs(url, """select count(*) from "facts"""")
      == Seq(before), "failed partition must leave no partial rows")
    deliver(epoch = 3L)
    assert(queryLongs(url, """select count(*) from "facts"""")
      == Seq(before + 40L))

    // speculative duplicate: a second committer for the same
    // (epoch, part) hits the ledger PK and rolls back
    val s1 = new JdbcLedgerSink(url, dial, t, lt, schema, 9L)
    val s2 = new JdbcLedgerSink(url, dial, t, lt, schema, 9L)
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericRowWithSchema(Array[Any](999L, 1.0), schema): Row
    s1.open(0); s2.open(0) // both probe before either commits
    s1.writeBatch(Seq(row)); s2.writeBatch(Seq(row))
    s1.complete(); s1.close()
    intercept[java.sql.SQLException] { s2.complete() }
    s2.close()
    assert(queryLongs(url,
      """select count(*) from "facts" where "id" = 999""") == Seq(1L))
  }

  test("live degrade: real constraint violations quarantine row-wise to the DLQ") {
    val url = memUrl("dlqdb")
    JdbcLive.createTable(url, d, TableId(name = "uniq_tbl"), StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      primaryKey = Seq("id"))
    import spark.implicits._
    // ids 0..19 plus dups of 5 and 7 -> two genuine
    // SQLIntegrityConstraintViolationExceptions from Derby
    val rows = ((0 until 20).map(i => (i.toLong, s"v$i")) ++
      Seq((5L, "dup5"), (7L, "dup7"))).toDF("id", "v").coalesce(1)
    val cfg = WriterConfig(table = TableId(name = "uniq_tbl"),
      batchSize = 100, ignoreOneByOneError = true)
    val dlq = JdbcLive.write(rows, url, cfg, d)
    assert(dlq.count() == 2)
    val errs = dlq.collect().map(_.getString(1)).toSeq
    assert(errs.forall(_.toLowerCase.contains("duplicate key")), errs)
    assert(queryLongs(url, """select count(*) from "uniq_tbl"""") == Seq(20L))
  }

  test("live judge: Derby's SQLException classifies as data error, not retry") {
    val e = intercept[java.sql.SQLException] {
      exec(memUrl("judgedb"), "create table nope syntax error")
    }
    val judge = RetryJudge.forDialect("mysql")
    assert(!judge.shouldRetry(e) && judge.isDataError(e))
  }

  test("live tx rollback: a failed Tx batch leaves no partial rows behind") {
    val url = memUrl("txdb")
    JdbcLive.createTable(url, d, TableId(name = "tx_tbl"), StructType(Seq(
      StructField("id", LongType))), primaryKey = Seq("id"))
    val schema = StructType(Seq(StructField("id", LongType)))
    val sink = new JdbcRowSink(url, d, TableId(name = "tx_tbl"), schema)
    sink.open(0)
    try {
      def gr(v: Long): Row =
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          Array[Any](v), schema)
      sink.begin()
      sink.writeBatch(Seq(gr(1L)))
      intercept[java.sql.SQLException] { sink.writeBatch(Seq(gr(1L))) }
      sink.rollback()
      assert(queryLongs(url, """select count(*) from "tx_tbl"""") == Seq(0L))
      sink.begin(); sink.writeBatch(Seq(gr(1L), gr(2L))); sink.commit()
      assert(queryLongs(url, """select count(*) from "tx_tbl"""") == Seq(2L))
    } finally sink.close()
  }

  test("exec-mode matrix: Normal/Stmt/Tx/StmtTx x insert/replace all land " +
      "exactly once on a live database") {
    // the reference's full writer execution grid (W3 x S7/S8), one spec
    // table driving all 8 combinations end-to-end through
    // ResilientBatchWriter against live Derby. Insert combos verify
    // count/sum; replace combos additionally redeliver an overlapping
    // batch and must stay idempotent (replace-by-key, no dup rows).
    import spark.implicits._
    val dial = DerbyStyle
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    val rows = (0L until 23L).map(i => (i, i * 1.5)).toDF("k", "v")
      .repartition(3)
    val overlap = (11L until 34L).map(i => (i, i * 1.5)).toDF("k", "v")
      .repartition(2)
    for (mode <- ExecMode.All; replace <- Seq(false, true)) {
      val clue = s"mode=$mode replace=$replace"
      val url = memUrl(s"matrix_${mode}_$replace")
      val t = TableId(name = "m_tbl")
      // replace needs the PK for the delete+insert pair; a PK under
      // plain insert would also reject redelivered dups instead of
      // exercising the append path, so insert combos go keyless
      JdbcLive.createTable(url, dial, t, schema,
        primaryKey = if (replace) Seq("k") else Seq.empty)
      val cfg = WriterConfig(table = t, execMode = mode, batchSize = 5)
      def sink(pid: Int): RowSink =
        if (replace) new JdbcUpsertRowSink(url, dial, t, schema, Seq("k"))
        else new JdbcRowSink(url, dial, t, schema)
      val dlq = ResilientBatchWriter.write(rows, cfg,
        RetryJudge.forDialect(dial.name), sink)
      assert(dlq.count() == 0, clue)
      assert(queryLongs(url, """select count(*) from "m_tbl"""")
        == Seq(23L), clue)
      assert(queryLongs(url,
        """select cast(sum("v") * 2 as bigint) from "m_tbl"""")
        == Seq(3L * (0L until 23L).sum), clue)
      if (replace) {
        // overlapping redelivery: 11..22 replaced in place, 23..33 new
        val dlq2 = ResilientBatchWriter.write(overlap, cfg,
          RetryJudge.forDialect(dial.name), sink)
        assert(dlq2.count() == 0, clue)
        assert(queryLongs(url, """select count(*) from "m_tbl"""")
          == Seq(34L), clue)
        assert(queryLongs(url,
          """select cast(sum("v") * 2 as bigint) from "m_tbl"""")
          == Seq(3L * (0L until 34L).sum), clue)
      }
    }
  }

  test("live roundtrip: parquet -> batch writer -> split read-back matches source") {
    val url = memUrl("rtdb")
    val src = spark.read.parquet(s"$Sf0/supplier.parquet")
    JdbcLive.dropTableIfExists(url, d, TableId(name = "supplier_rt"))
    JdbcLive.createTable(url, d, TableId(name = "supplier_rt"), src.schema)
    val dlq = JdbcLive.write(src, url,
      WriterConfig(table = TableId(name = "supplier_rt"), batchSize = 50), d)
    assert(dlq.count() == 0)
    val back = JdbcLive.read(spark, url,
      ReaderConfig(table = TableId(name = "supplier_rt"),
        split = SplitConfig(key = "s_suppkey"), numPartitions = 4), d)
    assert(back.count() == src.count())
    val a = back.orderBy("s_suppkey").collect().toSeq
    val b = src.orderBy("s_suppkey").collect().toSeq
      .map(r => Row(r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    assert(a == b)
  }
}
