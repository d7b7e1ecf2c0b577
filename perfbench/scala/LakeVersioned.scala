package perfbench

import java.io.File

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.sinks.VersionedTable

/** `lake_versioned`: commits beside reads on one `VersionedTable`. Set-up
  * writes a keyed base table of 20k rows in 8 key-range files and grows
  * the log with 5 small appends. Timed commits (`upsert`, `merge`,
  * `append`, `deleteWhere`, two SQL `MERGE INTO` through the DSv2 catalog,
  * one of them an update by key, and a `compact` every cycle) draw their
  * keys from the seed with a skew towards recently written keys; reads
  * (a selective `readWhere` on the
  * latest version, `readWhere` on an older version, `changeFeed` over the
  * last versions) are interleaved with them. An in-memory model of the
  * key -> row state at every version checks each read, and the whole
  * latest table is checked against it after every `compact`,
  * `deleteWhere` and SQL update. */
class LakeVersioned extends Workload {
  import LakeVersioned._

  private var ctx: Ctx = _
  private var root: String = _
  private type State = HashMap[Long, (Long, String)]
  private var state: State = HashMap.empty
  private val snaps = mutable.Map.empty[Long, State]
  private var head = -1L
  private var nextKey = 0L
  private val recent = mutable.ArrayBuffer.empty[Long]
  private var keyPool: IndexedSeq[Long] = IndexedSeq.empty
  private var sqlNo = 0

  def setup(c: Ctx): Unit = {
    ctx = c
    val warehouse = new File(c.work, "lake")
    new File(warehouse, "db").mkdirs()
    root = new File(warehouse, "db/t").getPath
    val rng = new scala.util.Random(c.seed)
    val base = (0L until BaseRows).map(k => (k, value(rng), "base"))
    nextKey = BaseRows
    commit(VersionedTable.write(frame(base).repartitionByRange(8, col("k")),
      root))(base.foldLeft(state)((s, r) => s.updated(r._1, (r._2, r._3))))
    (0 until SetupAppends).foreach { _ =>
      val rows = newKeys(20).map(k => (k, value(rng), "a"))
      commit(VersionedTable.append(frame(rows), root))(applyRows(rows))
    }
  }

  private def value(rng: scala.util.Random): Long = rng.nextInt(1000000).toLong

  private def frame(rows: Seq[(Long, Long, String)]): DataFrame =
    ctx.spark.createDataFrame(rows.map { case (k, v, t) => Row(k, v, t) }.asJava,
      Schema).coalesce(1)

  private def newKeys(n: Int): Seq[Long] = {
    val ks = nextKey until nextKey + n
    nextKey += n
    ks
  }

  private def applyRows(rows: Seq[(Long, Long, String)]): State =
    rows.foldLeft(state)((s, r) => s.updated(r._1, (r._2, r._3)))

  /** Record a commit's version and the model state it must hold. */
  private def commit(v: Long)(next: State): Unit = {
    require(v == head + 1 || head < 0, s"version $v after $head")
    head = v
    state = next
    snaps(v) = next
    keyPool = null
  }

  private def touched(ks: Iterable[Long]): Unit = {
    recent ++= ks
    if (recent.size > 2000) recent.remove(0, recent.size - 2000)
  }

  /** Distinct keys of live rows, 60% from recently written keys. */
  private def pickKeys(rng: scala.util.Random, n: Int): Seq[Long] = {
    if (keyPool == null) keyPool = state.keysIterator.toIndexedSeq
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val k = if (recent.nonEmpty && rng.nextDouble() < 0.6)
        recent(recent.size - 1 - rng.nextInt(recent.size))
      else keyPool(rng.nextInt(keyPool.size))
      if (state.contains(k)) out += k
    }
    out.toSeq
  }

  // Each op draws its keys from the model when it is prepared, before its
  // clock starts; the model moves to the committed state, and the reads'
  // expected rows are computed, in the output check after the clock stops.

  private def upsert(rng: scala.util.Random): Op = Op("write", "lake_upsert",
    () => {
      val keys = pickKeys(rng, 180) ++ newKeys(20)
      val rows = keys.map(k => (k, value(rng), s"u${head + 1}"))
      () => {
        val v = Trace.span("sinks.lake.upsert")(
          VersionedTable.upsert(frame(rows), root, Seq("k")))
        Outcome(rows.size, () => { commit(v)(applyRows(rows)); touched(keys) })
      }
    })

  private def merge(rng: scala.util.Random): Op = Op("write", "lake_merge",
    () => {
      val keys = pickKeys(rng, 130) ++ newKeys(20)
      val rows = keys.map(k => (k, value(rng), "mi"))
      () => {
        val v = Trace.span("sinks.lake.merge")(VersionedTable.merge(frame(rows),
          root, Seq("k"), Some(col("src_v") % 7 === 0),
          Map("v" -> col("src_v"), "tag" -> lit("m"))))
        Outcome(rows.size, () => {
          commit(v)(rows.foldLeft(state) { case (s, (k, nv, t)) =>
            if (!s.contains(k)) s.updated(k, (nv, t))
            else if (nv % 7 == 0) s - k
            else s.updated(k, (nv, "m"))
          })
          touched(keys)
        })
      }
    })

  private def append(rng: scala.util.Random): Op = Op("write", "lake_append",
    () => {
      val rows = newKeys(100).map(k => (k, value(rng), "a"))
      () => {
        val v = Trace.span("sinks.lake.append")(
          VersionedTable.append(frame(rows), root))
        Outcome(rows.size, () => {
          commit(v)(applyRows(rows))
          touched(rows.map(_._1))
        })
      }
    })

  private def deleteWhere(rng: scala.util.Random): Op = Op("write",
    "lake_delete", () => {
      val lo = pickKeys(rng, 1).head
      val gone = state.keysIterator.filter(k => k >= lo && k <= lo + 20).toSeq
      () => {
        val v = Trace.span("sinks.lake.delete")(VersionedTable.deleteWhere(
          ctx.spark, root, col("k").between(lo, lo + 20)))
        Outcome(gone.size, () => { commit(v)(state -- gone); checkAll() })
      }
    })

  private def sqlMerge(rng: scala.util.Random): Op = Op("write",
    "lake_sql_merge", () => {
      val keys = pickKeys(rng, 80) ++ newKeys(20)
      val rows = keys.map(k => (k, value(rng)))
      sqlNo += 1
      val view = s"lake_src_$sqlNo"
      () => {
        ctx.spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.asJava,
          StructType(Seq(StructField("k", LongType), StructField("nv", LongType))))
          .createOrReplaceTempView(view)
        Trace.span("sinks.lake.sql_merge")(ctx.spark.sql(
          s"""MERGE INTO lake.db.t t USING $view s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'sm'
             |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.nv, 'si')"""
            .stripMargin))
        ctx.spark.catalog.dropTempView(view)
        Outcome(rows.size, () => {
          commit(head + 1)(rows.foldLeft(state) { case (s, (k, nv)) =>
            s.updated(k, (nv, if (s.contains(k)) "sm" else "si"))
          })
          touched(keys)
          checkHead()
        })
      }
    })

  /** An UPDATE of a key range, written as `MERGE INTO ... WHEN MATCHED
    * THEN UPDATE`. A plain SQL `UPDATE` (and `DELETE`) is not used: on
    * this code base their copy-on-write rewrite loses the rows of a
    * rewritten file beyond its first 20000 (files that large appear
    * once `compact` has run), which would fail every later check. */
  private def sqlUpdate(rng: scala.util.Random): Op = Op("write",
    "lake_sql_update", () => {
      val lo = pickKeys(rng, 1).head
      val hit = state.iterator.filter { case (k, _) => k >= lo && k <= lo + 40 }
        .toSeq
      sqlNo += 1
      val view = s"lake_upd_$sqlNo"
      () => {
        ctx.spark.createDataFrame(hit.map { case (k, _) => Row(k) }.asJava,
          StructType(Seq(StructField("k", LongType))))
          .createOrReplaceTempView(view)
        Trace.span("sinks.lake.sql_update")(ctx.spark.sql(
          s"""MERGE INTO lake.db.t t USING $view s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET v = t.v + 1, tag = 'su'""".stripMargin))
        ctx.spark.catalog.dropTempView(view)
        Outcome(hit.size, () => {
          commit(head + 1)(hit.foldLeft(state) { case (s, (k, (v, _))) =>
            s.updated(k, (v + 1, "su"))
          })
          checkHead()
          checkAll()
        })
      }
    })

  private def compact(): Op = Op.timed("write", "lake_compact") {
    val v = Trace.span("sinks.lake.compact")(
      VersionedTable.compact(ctx.spark, root))
    Outcome(0, () => { v.foreach(v => commit(v)(state)); checkAll() })
  }

  private def checkHead(): Unit = {
    val vs = VersionedTable.versions(ctx.spark, root)
    Check.require(vs.max == head, s"log head ${vs.max}, model head $head")
  }

  /** The whole latest table against the model: row count and digest. */
  private def checkAll(): Unit = {
    val got = Check.Digest.of(VersionedTable.read(ctx.spark, root).collect()
      .toSeq.map(_.toSeq))
    val want = Check.Digest.of(state.iterator
      .map { case (k, (v, t)) => Seq(k, v, t) }.toSeq)
    Check.require(got == want, s"latest table v$head: $got, model $want")
  }

  private def rowsOf(s: State, lo: Long, hi: Long): Set[(Long, Long, String)] =
    s.iterator.collect { case (k, (v, t)) if k >= lo && k <= hi => (k, v, t) }
      .toSet

  private def gotRows(rows: Array[Row]): Seq[(Long, Long, String)] =
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

  /** Start of a 301-key read window around a picked key, kept inside the
    * key range of `s` so that every read spans a whole window. */
  private def window(s: State, k: Long): Long =
    math.max(0L, math.min(k - 150, s.keysIterator.max - 300))

  private def readLatest(rng: scala.util.Random): Op = Op("read",
    "lake_read_latest", () => {
      val lo = window(state, pickKeys(rng, 1).head)
      () => {
        val got = Trace.span("sinks.lake.read")(VersionedTable.readWhere(
          ctx.spark, root, col("k").between(lo, lo + 300)).collect())
        Outcome(got.length, () => {
          val g = gotRows(got)
          val want = rowsOf(state, lo, lo + 300)
          Check.require(g.size == want.size && g.toSet == want,
            s"latest read [$lo, ${lo + 300}]: ${g.size} rows, model ${want.size}")
        })
      }
    })

  private def readOld(rng: scala.util.Random): Op = Op("read",
    "lake_read_as_of", () => {
      val v = head - 1 - rng.nextInt(math.min(12L, head).toInt)
      val lo = window(snaps(v), pickKeys(rng, 1).head)
      () => {
        val got = Trace.span("sinks.lake.read")(VersionedTable.readWhere(
          ctx.spark, root, col("k").between(lo, lo + 300), Some(v)).collect())
        Outcome(got.length, () => {
          val g = gotRows(got)
          val want = rowsOf(snaps(v), lo, lo + 300)
          Check.require(g.size == want.size && g.toSet == want,
            s"as-of v$v read: ${g.size} rows, model ${want.size}")
        })
      }
    })

  private def changeFeed(): Op = Op("read", "lake_change_feed", () => {
    val from = math.max(0L, head - 4)
    val to = head
    () => {
      val got = Trace.span("sinks.lake.change_feed")(VersionedTable.changeFeed(
        ctx.spark, root, Seq("k"), from, Some(to)).collect())
      Outcome(got.length, () => {
        // replaying the feed over the from-version gives the to-version
        val last = got.toSeq.groupBy(_.getAs[Long]("k"))
          .map { case (k, rs) => k -> rs.maxBy(_.getAs[Long]("_commit_version")) }
        val replayed = last.foldLeft(snaps(from)) { case (s, (k, r)) =>
          if (r.getAs[String]("change_type") == "delete") s - k
          else s.updated(k, (r.getAs[Long]("v"), r.getAs[String]("tag")))
        }
        Check.require(replayed == snaps(to),
          s"change feed v$from..v$to does not replay to v$to")
      })
    }
  })

  def warmup(): Seq[Op] = {
    val rng = new scala.util.Random(ctx.seed ^ 0x5eedL)
    Seq(upsert(rng), readLatest(rng), sqlMerge(rng))
  }

  def cycleSeconds: Double = 6.0

  def cycle(c: Int): Seq[Op] = {
    val rng = new scala.util.Random(ctx.seed * 1000003L + c)
    Seq(upsert(rng), readLatest(rng), merge(rng), readOld(rng), append(rng),
      changeFeed(), deleteWhere(rng), sqlMerge(rng), sqlUpdate(rng), compact())
  }

  override def finish(): Unit = if (ctx.opts.get("trace").contains("1")) {
    val spark = ctx.spark
    val latest = VersionedTable.read(spark, root)
    Trace.gauges.put("sinks.lake.versions",
      VersionedTable.versions(spark, root).size.toDouble)
    Trace.gauges.put("sinks.lake.files_live", latest.inputFiles.length.toDouble)
    val plain = new File(ctx.work, "lake_plain").getPath
    latest.write.mode("overwrite").parquet(plain)
    Trace.gauges.put("sinks.lake.space_amp",
      bytesUnder(new File(root)).toDouble / bytesUnder(new File(plain)))
  }

  private def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
}

object LakeVersioned {
  val BaseRows = 20000L
  val SetupAppends = 5
  val Schema: StructType = StructType(Seq(StructField("k", LongType),
    StructField("v", LongType), StructField("tag", StringType)))
}
