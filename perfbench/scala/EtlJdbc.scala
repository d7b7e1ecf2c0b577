package perfbench

import java.sql.{Connection, Date}

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import org.json4s.JString
import org.json4s.jackson.JsonMethods

import graft.sinks.{ResilientBatchWriter, RetryJudge}
import graft.sources._

/** `etl_jdbc`: the DB-to-DB deployment shape. A seeded lineitem-shaped
  * source table (about 60k rows) sits in one embedded in-memory Derby
  * database. Each write op is one JSON job: `ConfigJson` -> `JdbcLive.read`
  * with a key-range split over N slices -> `ResilientBatchWriter.write`
  * into a second in-memory Derby database, either as a plain insert into
  * a fresh table or as a key upsert (`JdbcUpsertRowSink`) into one
  * long-lived table. Each read op is a split read-back of the upsert
  * target. Both databases are in memory: nothing is flushed to disk, so
  * the durability policy cannot differ between two checkouts. */
class EtlJdbc extends Workload {
  import EtlJdbc._

  private var ctx: Ctx = _
  private var srcUrl: String = _
  private var dstUrl: String = _
  // source model: rows ordered by key, first row index of each order key
  private var rows: Array[Array[Any]] = _
  private var firstRow: Array[Int] = _
  // upsert target model: job number that last wrote each source row
  private var lastJob: Array[Long] = _
  private var upsertCount = 0L
  private val upserted = mutable.ArrayBuffer.empty[Int]
  private var jobNo = 0L

  def setup(c: Ctx): Unit = {
    ctx = c
    val tag = s"${ProcessHandle.current().pid()}"
    srcUrl = s"jdbc:derby:memory:perfbench_src_$tag;create=true"
    dstUrl = s"jdbc:derby:memory:perfbench_dst_$tag;create=true"
    JdbcLive.ensureDerbyRegistered()
    generate(new scala.util.Random(c.seed))
    JdbcLive.createTable(srcUrl, DerbyStyle, Source, Schema, Keys)
    load()
    JdbcLive.createTable(dstUrl, DerbyStyle, Upserts,
      StructType(Schema.fields :+ StructField("job", LongType)), Keys)
    lastJob = Array.fill(rows.length)(-1L)
  }

  private def generate(rng: scala.util.Random): Unit = {
    val buf = mutable.ArrayBuffer.empty[Array[Any]]
    firstRow = new Array[Int](Orders + 1)
    val day0 = Date.valueOf("1995-01-01").getTime
    for (o <- 0 until Orders) {
      firstRow(o) = buf.size
      for (line <- 1 to 1 + rng.nextInt(7)) {
        buf += Array[Any](o.toLong, line, rng.nextInt(20000).toLong,
          rng.nextInt(1000).toLong, (1 + rng.nextInt(50)).toDouble,
          math.round((900 + rng.nextDouble() * 104100) * 100) / 100.0,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
          new Date(day0 + rng.nextInt(2500) * 86400000L))
      }
    }
    firstRow(Orders) = buf.size
    rows = buf.toArray
  }

  private def load(): Unit = Using.resource(JdbcLive.connect(srcUrl)) { conn =>
    conn.setAutoCommit(false)
    val cols = Schema.fieldNames.map(DerbyStyle.quote).mkString(",")
    val ps = conn.prepareStatement(s"insert into ${DerbyStyle.quoteTable(Source)}" +
      s"($cols) values (${Schema.fields.map(_ => "?").mkString(",")})")
    rows.grouped(2000).foreach { chunk =>
      chunk.foreach { r =>
        var j = 0
        while (j < r.length) { ps.setObject(j + 1, r(j)); j += 1 }
        ps.addBatch()
      }
      ps.executeBatch()
    }
    ps.close()
    conn.commit()
  }

  /** Seed-drawn job parameters: a key range of about 1000 orders and one
    * of three filters that each keep about two thirds of the rows. */
  private final case class Job(no: Long, lo: Int, hi: Int, filter: Int,
      cols: Seq[String])

  private def drawJob(rng: scala.util.Random): Job = {
    jobNo += 1
    val lo = rng.nextInt(Orders - Width)
    val filter = rng.nextInt(Filters.size)
    // the filter column is always projected: with a split, JdbcLive.read
    // applies `where` to the projected subquery, so a filter on a column
    // outside `column` fails in the database
    val extra = rng.shuffle(Schema.fieldNames.toSeq.drop(2))
      .take(3 + rng.nextInt(6)).toSet + Filters(filter)._3
    Job(jobNo, lo, lo + Width - 1, filter,
      Schema.fieldNames.toSeq.filter(c => Keys.contains(c) || extra(c)))
  }

  private def where(j: Job): String =
    s""""l_orderkey" between ${j.lo} and ${j.hi} and ${Filters(j.filter)._1}"""

  private def selected(j: Job): Iterator[Int] =
    (firstRow(j.lo) until firstRow(j.hi + 1)).iterator
      .filter(i => Filters(j.filter)._2(rows(i)))

  private def readerJson(cols: Seq[String], table: String, w: String): String =
    s"""{"column": [${cols.map(c => "\"" + c + "\"").mkString(", ")}],
       | "connection": {"table": {"name": "$table"}},
       | "where": ${JsonMethods.compact(JString(w))},
       | "split": {"key": "l_orderkey"}}""".stripMargin

  private def read(url: String, json: String): DataFrame = {
    val cfg = ConfigJson.reader(json).copy(numPartitions = ctx.cores)
    // lazy until the writer or collect runs it: this span is the split
    // planning (min/max bounds probe, slicing, JDBC schema probe)
    Trace.span("sources.read")(JdbcLive.read(ctx.spark, url, cfg, DerbyStyle))
  }

  private def write(df: DataFrame, json: String,
      keys: Seq[String] = Nil): DataFrame = {
    val cfg = ConfigJson.writer(json)
    if (Trace.on) {
      Trace.add("sources.split.partitions", df.rdd.getNumPartitions.toDouble)
      Trace.add("sinks.batch.size", cfg.batchSize.toDouble)
    }
    Trace.span("sinks.write")(ResilientBatchWriter.write(df, cfg,
      RetryJudge.forDialect(DerbyStyle.name),
      sinkFactory(dstUrl, cfg.table, df.schema, keys)))
  }

  private def insertJob(j: Job): Op = {
    val n = selected(j).size // source rows only: counted before the clock
    Op.timed("write", "etl_insert") {
      val table = s"job_${j.no}"
      val df = read(srcUrl, readerJson(j.cols, Source.name, where(j)))
      Trace.span("sinks.ddl")(JdbcLive.createTable(dstUrl, DerbyStyle,
        TableId(name = table), df.schema))
      val dlq = write(df, s"""{"writeMode": "insert", "batchSize": 500,
         | "batchTimeout": "1s", "connection": {"table": {"name": "$table"}}}"""
        .stripMargin)
      Outcome(n, () => {
        try {
          Check.require(dlq.count() == 0, s"$table: rows in the dead-letter queue")
          val idx = j.cols.map(Schema.fieldIndex)
          val want = Check.Digest.of(selected(j).map(i => idx.map(rows(i))).toSeq)
          val got = digestOf(dstUrl, s"select ${j.cols.map(DerbyStyle.quote)
            .mkString(",")} from ${DerbyStyle.quote(table)}")
          Check.require(got == want, s"$table: target $got, source $want")
        } finally {
          dlq.unpersist()
          JdbcLive.dropTableIfExists(dstUrl, DerbyStyle, TableId(name = table))
        }
      })
    }
  }

  private def upsertJob(j: Job): Op = {
    val sel = selected(j).toArray // source rows only: drawn before the clock
    Op.timed("write", "etl_upsert") {
      val df = read(srcUrl, readerJson(Schema.fieldNames.toSeq, Source.name,
        where(j))).withColumn("job", lit(j.no))
      val dlq = write(df, s"""{"writeMode": "replace", "execMode": "Tx",
         | "batchSize": 100, "batchTimeout": "1s",
         | "connection": {"table": {"name": "${Upserts.name}"}}}""".stripMargin,
        Keys)
      Outcome(sel.length, () => {
        sel.foreach { i => if (lastJob(i) < 0) upsertCount += 1; lastJob(i) = j.no }
        upserted += j.lo
        try {
          Check.require(dlq.count() == 0, "upsert: rows in the dead-letter queue")
          checkUpserts(j.lo, j.hi)
          val total = Using.resource(JdbcLive.connect(dstUrl)) { c =>
            scalar(c, s"select count(*) from ${DerbyStyle.quote(Upserts.name)}")
          }
          Check.require(total == upsertCount,
            s"upsert target has $total rows, expected $upsertCount")
        } finally dlq.unpersist()
      })
    }
  }

  private def upsertModel(lo: Int, hi: Int): Check.Digest =
    Check.Digest.of((firstRow(lo) until firstRow(hi + 1))
      .filter(lastJob(_) >= 0).map(i => rows(i).toSeq :+ lastJob(i)))

  private def checkUpserts(lo: Int, hi: Int): Unit = {
    val got = digestOf(dstUrl, s"select * from ${DerbyStyle.quote(Upserts.name)}" +
      s""" where "l_orderkey" between $lo and $hi""")
    val want = upsertModel(lo, hi)
    Check.require(got == want, s"upsert target [$lo,$hi]: $got, model $want")
  }

  /** A split read-back of a window that starts at a key range an earlier
    * upsert wrote; the window is drawn when the op is prepared, so it can
    * target fresh upserts. */
  private def readBack(rng: scala.util.Random): Op = Op("read",
    "etl_readback", () => {
      val lo = if (upserted.isEmpty) 0 else upserted(rng.nextInt(upserted.size))
      val hi = math.min(Orders - 1, lo + 2 * Width)
      () => {
        val df = read(dstUrl, readerJson(Schema.fieldNames.toSeq :+ "job",
          Upserts.name, s""""l_orderkey" between $lo and $hi"""))
        val got = Trace.span("sources.collect")(df.collect())
        Outcome(got.length, () => {
          val d = Check.Digest.of(got.toSeq.map(_.toSeq))
          val want = upsertModel(lo, hi)
          Check.require(d == want, s"read-back [$lo,$hi]: $d, model $want")
        })
      }
    })

  def warmup(): Seq[Op] = {
    val rng = new scala.util.Random(ctx.seed ^ 0x5eedL)
    Seq(insertJob(drawJob(rng)), upsertJob(drawJob(rng)), readBack(rng))
  }

  def cycleSeconds: Double = 2.0

  def cycle(c: Int): Seq[Op] = {
    val rng = new scala.util.Random(ctx.seed * 1000003L + c)
    Seq(insertJob(drawJob(rng)), upsertJob(drawJob(rng)), readBack(rng))
  }

  private def scalar(c: Connection, sql: String): Long =
    Using.resource(c.createStatement()) { st =>
      Using.resource(st.executeQuery(sql)) { rs => rs.next(); rs.getLong(1) }
    }

  private def digestOf(url: String, sql: String): Check.Digest =
    Using.resource(JdbcLive.connect(url)) { c =>
      Using.resource(c.createStatement()) { st =>
        Using.resource(st.executeQuery(sql)) { rs =>
          val n = rs.getMetaData.getColumnCount
          var d = Check.Digest.empty
          while (rs.next()) {
            d = d + Check.rowHash((1 to n).map { k =>
              rs.getObject(k) match {
                case i: java.lang.Integer => i.intValue
                case l: java.lang.Long => l.longValue
                case x: java.lang.Double => x.doubleValue
                case other => other
              }
            })
          }
          d
        }
      }
    }
}

object EtlJdbc {
  val Orders = 15000
  val Width = 250
  val Source: TableId = TableId(name = "lineitem")
  val Upserts: TableId = TableId(name = "ups")
  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val Schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))

  /** The sink each writer task opens, wrapped in the timing wrapper. Built
    * here so the closure Spark ships to tasks holds only its arguments. */
  def sinkFactory(url: String, table: TableId, schema: StructType,
      keys: Seq[String]): Int => graft.sinks.RowSink = pid =>
    new TimedSink(
      if (keys.isEmpty) new JdbcRowSink(url, DerbyStyle, table, schema)
      else new JdbcUpsertRowSink(url, DerbyStyle, table, schema, keys), pid)

  /** (SQL predicate, the same predicate over a model row, its column). */
  val Filters: IndexedSeq[(String, Array[Any] => Boolean, String)] =
    IndexedSeq(
      (""""l_quantity" > 16""", r => r(4).asInstanceOf[Double] > 16,
        "l_quantity"),
      (""""l_returnflag" <> 'R'""", r => r(8) != "R", "l_returnflag"),
      (""""l_discount" < 0.07""", r => r(6).asInstanceOf[Double] < 0.07,
        "l_discount"))
}
