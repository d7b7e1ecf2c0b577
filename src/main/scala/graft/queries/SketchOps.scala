package graft.queries

import java.io.ByteArrayInputStream

import graft.Tables
import graft.operators.Pin.syntax._
import graft.operators.{Bloom, Decontaminate, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Sketch-backed query surface: bloom-prefiltered joins, bloom
  * decontamination, HLL partial/union distinct counting, and count-min
  * point frequency — the bounded-state primitives a 100 TB pipeline uses
  * where exact structures would shuffle the full key domain.
  *
  * `join_bloom_prefilter` and `cms_token_freq` are DuckDB-oracle-exact:
  * the bloom prefilter has no false negatives so prefilter+join ==
  * plain join bit-for-bit, and the CMS probe is deterministic (fixed
  * seed) with a sketch width that makes collisions over the fixture
  * vocabulary vanishingly unlikely (the spec pins estimate >= truth,
  * the gate pins equality on the fixtures). HLL estimates are
  * engine-specific -> rows-only + a tolerance spec.
  */
object SketchOps {
  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    // DataSource V2 front door (round-7 item 1): the SAME lake served
    // through spark.read.format("graft") — three clustered commits so
    // the pushed range predicate actually prunes files via manifest
    // stats (prune parity with readWhere is pinned file-by-file in
    // DataSourceV2Spec), then a filtered aggregate whose values the
    // oracle checks exactly. Result is pruning-independent by contract.
    // round-8 item 1: the catalog front door — tables resolved BY NAME
    // through spark.sql.catalog.<name>, native SQL time travel
    // (VERSION AS OF) against the same snapshot arithmetic as the
    // reader options, head + v0 aggregated in ONE pure-SQL statement.
    // A fresh catalog name per run sidesteps Spark's per-session
    // catalog-instance cache (bench re-runs the gate in one session).
    "versioned_sql_asof" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("sqlasof")
        .toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs.filter(col("doc_id") % 2 === 0),
        s"$wh/t")
      VersionedTable.append(docs.filter(col("doc_id") % 2 === 1),
        s"$wh/t")
      val result = s.sql(
        s"""SELECT h.source, h.n_head, h.chars_head, v.n_v0, v.chars_v0
           |FROM (SELECT source, COUNT(*) AS n_head,
           |        CAST(SUM(n_chars) AS BIGINT) AS chars_head
           |      FROM $cat.t GROUP BY source) h
           |JOIN (SELECT source, COUNT(*) AS n_v0,
           |        CAST(SUM(n_chars) AS BIGINT) AS chars_v0
           |      FROM $cat.t VERSION AS OF 0 GROUP BY source) v
           |  USING (source)
           |ORDER BY source""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-8 item 3: aggregate pushdown through the SQL front door —
    // an unfiltered count/min/max on an all-stats snapshot plans ZERO
    // data files (asserted in-gate: LocalTableScan from the manifest
    // fold), and a head including a stats-DISABLED commit still answers
    // exactly through the bounded fallback scan. Values oracle-checked.
    "versioned_agg_pushdown" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("aggpd")
        .toString + "/t"
      val ord = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate"))
      VersionedTable.append(ord.filter(col("o_orderkey") % 3 === 0), root)
      s.conf.set("spark.graft.lake.stats.enabled", "false")
      try VersionedTable.append(
        ord.filter(col("o_orderkey") % 3 === 1), root)
      finally s.conf.unset("spark.graft.lake.stats.enabled")
      def aggSql(view: String) = s"SELECT count(*) AS cnt, " +
        s"min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
        s"min(o_totalprice) AS min_price, max(o_totalprice) AS max_price, " +
        s"max(o_orderdate) AS max_date FROM $view"
      s.read.format("graft").option("versionAsOf", 0).load(root)
        .createOrReplaceTempView("agg_pd_v0")
      s.read.format("graft").load(root)
        .createOrReplaceTempView("agg_pd_head")
      graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
      val q0 = s.sql(aggSql("agg_pd_v0"))
      val r0 = q0.collect().head
      // the all-stats snapshot must be METADATA-ONLY: zero files planned
      require(graft.sources.v2.GraftScan.lastPlannedFiles.get == 0,
        "aggregate pushdown did not answer from the manifest")
      require(q0.queryExecution.executedPlan.toString
        .contains("LocalTableScan"),
        "expected LocalTableScan for the pushed aggregate")
      val rH = s.sql(aggSql("agg_pd_head")).collect().head
      s.catalog.dropTempView("agg_pd_v0")
      s.catalog.dropTempView("agg_pd_head")
      val result = s.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row.fromSeq(
          r0.toSeq ++ rH.toSeq)),
        org.apache.spark.sql.types.StructType(
          r0.schema.fields.map(f => f.copy(name = f.name + "_v0")) ++
            rH.schema.fields.map(f => f.copy(name = f.name + "_head"))))
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      result
    }),

    // the SQL maintenance loop end to end (round-8 ProcedureCatalog):
    // CREATE TABLE + INSERT INTO resolve by name, CALL system.tag pins
    // a release, CALL system.add_constraint gates later writes (a
    // violating insert must fail, asserted in-gate), CALL
    // system.compact bin-packs, CALL system.restore rolls back, and
    // the final states aggregate in one pure-SQL statement against
    // both the head and the tagged release — all values oracle-exact.
    "versioned_sql_maintenance" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("sqlmaint")
        .toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      docs.createOrReplaceTempView("maint_src")
      // CTAS = create (v0, empty) + append (v1, the even docs):
      // tag the DATA version; constraint add commits v2, the odd
      // insert commits v3
      s.sql(s"CREATE TABLE $cat.t AS " +
        "SELECT * FROM maint_src WHERE doc_id % 2 = 0")
      s.sql(s"CALL $cat.system.tag('t', 'evens', 1)")
      s.sql(s"CALL $cat.system.add_constraint('t', 'chars_pos', " +
        "'n_chars >= 0')")
      s.sql(s"INSERT INTO $cat.t " +
        "SELECT * FROM maint_src WHERE doc_id % 2 = 1")
      // the constraint must reject a violating insert, table unchanged
      val bad = scala.util.Try(
        s.sql(s"INSERT INTO $cat.t VALUES (999999, 'x', -1)"))
      require(bad.isFailure, "constraint must reject n_chars < 0")
      // compact (content-identical commit), then restore to the
      // post-insert version — proving rollback through SQL
      s.sql(s"CALL $cat.system.compact('t')")
      s.sql(s"CALL $cat.system.restore('t', 3)")
      val result = s.sql(
        s"""SELECT h.source, h.n_head, h.chars_head, v.n_tag
           |FROM (SELECT source, COUNT(*) AS n_head,
           |        CAST(SUM(n_chars) AS BIGINT) AS chars_head
           |      FROM $cat.t GROUP BY source) h
           |JOIN (SELECT source, COUNT(*) AS n_tag
           |      FROM $cat.t VERSION AS OF 1 GROUP BY source) v
           |  USING (source)
           |ORDER BY source""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      s.catalog.dropTempView("maint_src")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-9 item 2: OPTIMIZE ZORDER through the SQL CALL surface —
    // a hash-scattered 8-file table (every file spans the full (x, y)
    // domain, so a quadrant read plans ALL files) is rewritten
    // Morton-clustered on BOTH dims by CALL graft.system
    // .optimize_zorder; afterwards manifest min/max stats prune the
    // same quadrant read to <=2 of 4 files (asserted in-gate, before
    // vs after), and the quadrant aggregate is bit-identical across
    // the rewrite (content-identical commit) and oracle-exact.
    "versioned_sql_zorder" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("sqlzord")
        .toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      // two decorrelated uniform dims at EVERY scale factor (plain
      // `div 64` saturates below 64 values at small SF and the
      // quadrant filter stops being a quadrant)
      val pts = Tables.orders(s, d).select(
        expr("o_orderkey % 64").as("x"),
        expr("(o_orderkey * 2654435761) % 64").as("y"),
        col("o_orderkey").as("k"))
      VersionedTable.write(pts.repartition(8, col("k")), s"$wh/t")
      def quadrant = s.read.format("graft").load(s"$wh/t")
        .filter(col("x") < 32 && col("y") < 32)
        .agg(count(lit(1)).as("n_q"),
          sum(col("k")).cast("long").as("sum_k_q"))
      graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
      val before = quadrant.collect().toSeq
      val filesBefore = graft.sources.v2.GraftScan.lastPlannedFiles.get
      s.sql(s"CALL $cat.system.optimize_zorder('t', 'x,y', 4)")
      graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
      val result = quadrant
      val after = result.collect().toSeq
      val filesAfter = graft.sources.v2.GraftScan.lastPlannedFiles.get
      require(filesBefore >= 7,
        s"hash-scattered layout must be unprunable, planned $filesBefore")
      require(filesAfter <= 2 && filesAfter < filesBefore,
        s"z-ordered layout must prune the quadrant read: " +
          s"$filesBefore -> $filesAfter files")
      require(before == after,
        s"z-order rewrite must be content-identical: $before vs $after")
      val p = new org.apache.hadoop.fs.Path(wh)
      val rows = java.util.Arrays.asList(after: _*)
      val schema = result.schema
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-9 item 3: schema evolution through pure SQL — ALTER TABLE
    // ADD COLUMN commits the head's unchanged file list under an
    // extended schema (metadata-only; old files null-fill the new
    // column on read), constraints ride SET TBLPROPERTIES
    // ('constraint.<name>'), and time travel crosses the evolution
    // boundary with the ORIGINAL schema. Head + pre-evolution version
    // aggregated in one statement, oracle-exact.
    "versioned_sql_evolve" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("sqlevol")
        .toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .createOrReplaceTempView("evolve_src")
      s.sql(s"CREATE TABLE $cat.t (doc_id BIGINT, n_chars BIGINT)") // v0
      s.sql(s"INSERT INTO $cat.t SELECT doc_id, n_chars " +
        "FROM evolve_src WHERE doc_id % 2 = 0") // v1: pre-evolution
      s.sql(s"ALTER TABLE $cat.t ADD COLUMN lang_tag STRING") // v2: DDL
      s.sql(s"INSERT INTO $cat.t SELECT doc_id, n_chars, lang " +
        "FROM evolve_src WHERE doc_id % 2 = 1") // v3: wide rows
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        "('constraint.chars_pos' = 'n_chars >= 0')") // v4: constraint
      val bad = scala.util.Try(
        s.sql(s"INSERT INTO $cat.t VALUES (999999, -1, 'xx')"))
      require(bad.isFailure,
        "TBLPROPERTIES-added constraint must reject n_chars < 0")
      val result = s.sql(
        s"""SELECT COALESCE(lang_tag, '_legacy') AS tag,
           |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
           |  (SELECT COUNT(*) FROM $cat.t VERSION AS OF 1) AS n_v1
           |FROM $cat.t GROUP BY 1 ORDER BY 1""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      s.catalog.dropTempView("evolve_src")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-9 item 8: SQL MERGE INTO through Spark's row-level-
    // operation protocol (group-based copy-on-write, file = group).
    // A 4-file range-clustered target merges a LOW-RANGE source:
    // runtime group filtering + manifest stats keep the upper-range
    // files OUT of the rewrite (asserted: >= 2 pre-merge files carried
    // by identity into the post-merge manifest), the pre-merge version
    // still time-travels bit-intact, and the merged table (delete +
    // update + insert arms all exercised) is oracle-exact.
    "versioned_sql_merge" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("sqlmerge")
        .toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"))
      val hi = o.agg(max(col("k"))).head().getLong(0)
      val tgt = o.filter(col("k") % 3 =!= 2).withColumn("state", lit("t"))
      (0L to 3L).foreach { b =>
        // first bucket's lower bound is inclusive-of-0 (the fixture
        // contains an orderkey 0; a strict > 0 would silently drop it
        // from the table while the oracle keeps it)
        val lo = if (b == 0L) -1L else b * hi / 4
        VersionedTable.append(tgt.filter(col("k") > lo &&
          col("k") <= (b + 1) * hi / 4).coalesce(1), s"$wh/t")
      }
      val preFiles = VersionedTable.snapshot(s, s"$wh/t").files.toSet
      val preCount = s.read.format("graft").load(s"$wh/t").count()
      o.filter(col("k") % 2 === 0 && col("k") <= hi / 4)
        .select(col("k"), (col("c") + 1000000L).as("c2"))
        .createOrReplaceTempView("merge_src")
      s.sql(
        s"""MERGE INTO $cat.t t USING merge_src m ON t.k = m.k
           |WHEN MATCHED AND m.k % 6 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c = m.c2, state = 'u'
           |WHEN NOT MATCHED THEN INSERT (k, c, state)
           |  VALUES (m.k, m.c2, 'i')""".stripMargin)
      val carried = VersionedTable.snapshot(s, s"$wh/t").files.toSet
        .intersect(preFiles).size
      require(carried >= 2,
        s"COW merge of a low-range source must carry untouched " +
          s"groups by identity; carried $carried of ${preFiles.size}")
      require(s.read.format("graft").option("versionAsOf", 3)
        .load(s"$wh/t").count() == preCount,
        "pre-merge version must time-travel intact")
      val result = s.sql(
        s"""SELECT state, COUNT(*) AS n,
           |  CAST(SUM(k) AS BIGINT) AS sum_k,
           |  CAST(SUM(c) AS BIGINT) AS sum_c
           |FROM $cat.t GROUP BY state ORDER BY state""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      s.catalog.dropTempView("merge_src")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-9 lifecycle gate: CALL clone (zero-copy branch) +
    // divergence (an insert on the clone) + TRUNCATE TABLE on the
    // SOURCE — the clone's content must be unaffected (isolation by
    // construction: clones reference files by identity, truncate only
    // drops the source's manifest references). Final state of both
    // tables oracle-exact in one statement.
    "versioned_sql_clone" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("sqlclone")
        .toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("clone_src")
      s.sql(s"CREATE TABLE $cat.t AS " +
        "SELECT * FROM clone_src WHERE doc_id % 2 = 0")
      s.sql(s"CALL $cat.system.clone('t', 't2', -1)")
      s.sql(s"INSERT INTO $cat.t2 " +
        "SELECT * FROM clone_src WHERE doc_id % 2 = 1") // diverge
      s.sql(s"TRUNCATE TABLE $cat.t") // source emptied AFTER the clone
      val result = s.sql(
        s"""SELECT source, COUNT(*) AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars,
           |  (SELECT COUNT(*) FROM $cat.t) AS n_src
           |FROM $cat.t2 GROUP BY source ORDER BY source""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      s.catalog.dropTempView("clone_src")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-9 companion to versioned_sql_merge: SQL UPDATE (row-level
    // COW rewrite, statically file-pruned by the pushed range
    // predicate — >= 3 of 4 files carried by identity, asserted) and
    // BOTH DELETE paths — a modulo predicate the filter grammar can't
    // express (row-level rewrite) and a pure range predicate
    // (SupportsDelete metadata fast path through the library's
    // deleteWhere). Final state oracle-exact.
    "versioned_sql_update" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("sqlupd")
        .toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"))
      val hi = o.agg(max(col("k"))).head().getLong(0)
      val tgt = o.withColumn("state", lit("t"))
      (0L to 3L).foreach { b =>
        val lo = if (b == 0L) -1L else b * hi / 4
        VersionedTable.append(tgt.filter(col("k") > lo &&
          col("k") <= (b + 1) * hi / 4).coalesce(1), s"$wh/t")
      }
      val preFiles = VersionedTable.snapshot(s, s"$wh/t").files.toSet
      s.sql(s"UPDATE $cat.t SET c = c + 5, state = 'u' " +
        s"WHERE k % 7 = 0 AND k <= ${hi / 4}")
      val carried = VersionedTable.snapshot(s, s"$wh/t").files.toSet
        .intersect(preFiles).size
      require(carried >= 3,
        s"the pushed k-range must prune the UPDATE rewrite to 1 of 4 " +
          s"files; carried $carried")
      // row-level DELETE (modulo: not expressible as source filters)
      s.sql(s"DELETE FROM $cat.t WHERE k > ${hi / 2} AND k % 2 = 1")
      // metadata-path DELETE (pure range: SupportsDelete fast path)
      s.sql(s"DELETE FROM $cat.t WHERE k > ${hi * 3 / 4}")
      val result = s.sql(
        s"""SELECT state, COUNT(*) AS n,
           |  CAST(SUM(k) AS BIGINT) AS sum_k,
           |  CAST(SUM(c) AS BIGINT) AS sum_c
           |FROM $cat.t GROUP BY state ORDER BY state""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-9 item 4: LIMIT pushdown gated (was spec-only) — an
    // unfiltered LIMIT over a 4-file table plans only the manifest-
    // row-count prefix that covers it (asserted in-gate), a LIMIT past
    // the table plans everything, and the row counts / max key are
    // oracle-exact (any-n-rows semantics make COUNT the deterministic
    // observable; Spark's own Limit still re-applies above the scan).
    "versioned_limit_pushdown" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val base = java.nio.file.Files.createTempDirectory("limpush")
      val root = base.toString + "/t"
      val o = Tables.orders(s, d).select(col("o_orderkey"))
      val n = o.count()
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_orderkey"))
      val ranked = o.withColumn("rn", row_number().over(w))
      val per = (n / 4 + 1).toInt
      (0 until 4).foreach { b =>
        VersionedTable.append(ranked
          .filter(col("rn") > b * per && col("rn") <= (b + 1) * per)
          .select(col("o_orderkey")).coalesce(1), root)
      }
      val df = s.read.format("graft").load(root)
      val cut = (n / 2 + 3).toInt
      graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
      val nCut = df.limit(cut).count()
      val filesCut = graft.sources.v2.GraftScan.lastPlannedFiles.get
      graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
      val over = df.limit(n.toInt * 2)
        .agg(count(lit(1)).as("n"), max(col("o_orderkey")).as("mx"))
        .collect().head
      val filesOver = graft.sources.v2.GraftScan.lastPlannedFiles.get
      require(filesCut >= 1 && filesCut <= 3,
        s"LIMIT ${cut} of $n rows must cut the 4-file list, " +
          s"planned $filesCut")
      require(filesOver == 4,
        s"LIMIT past the table must keep all 4 files, planned $filesOver")
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      import s.implicits._
      Seq((nCut, over.getAs[Long]("n"), over.getAs[Long]("mx")))
        .toDF("n_cut", "n_all", "max_k")
    }),

    // round-8 item 5: runtime file pruning through the format path —
    // a broadcast dim filtered on a NON-join column injects its join
    // keys into the graft scan at execution (Spark's dynamic-pruning
    // machinery + GraftScan.filter re-running pruneFiles); the gate
    // pins the mechanism (dynamicpruning in the executed plan) and the
    // oracle pins the joined aggregate exactly. The file-count effect
    // is measured in DataSourceV2Spec (4 files -> 1).
    "versioned_runtime_prune" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val base = java.nio.file.Files.createTempDirectory("rtprune")
      val root = base.toString + "/t"
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_partkey"), col("l_quantity"))
      val hi = li.agg(max(col("l_orderkey"))).head().getLong(0)
      Seq(0L, 1L, 2L, 3L).foreach { b =>
        VersionedTable.append(li.filter(
          col("l_orderkey") > b * hi / 4 &&
            col("l_orderkey") <= (b + 1) * hi / 4).coalesce(1), root)
      }
      val dimPath = base.toString + "/dim"
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .write.parquet(dimPath)
      val dim = s.read.parquet(dimPath)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = s.read.format("graft").load(root)
        .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          max(col("l_orderkey")).as("max_okey"),
          min(col("l_partkey")).as("min_pkey"))
      val result = joined.collect()
      require(joined.queryExecution.executedPlan.toString
        .toLowerCase.contains("dynamicpruning"),
        "expected a runtime dynamic-pruning filter on the graft scan")
      val rows = java.util.Arrays.asList(result: _*)
      val schema = joined.schema
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    "versioned_dsv2_read" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("dsv2")
        .toString + "/t"
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      // three key-range-disjoint commits -> three prunable file groups
      val hi = cust.agg(max(col("c_custkey"))).head().getLong(0)
      Seq(0L, 1L, 2L).foreach { b =>
        VersionedTable.append(cust.filter(
          col("c_custkey") > b * hi / 3 &&
            col("c_custkey") <= (b + 1) * hi / 3), root)
      }
      val result = s.read.format("graft").load(root)
        .filter(col("c_acctbal") >= 5000 && col("c_mktsegment") =!= "AUTOMOBILE")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          // cents as exact integers: floor(x*100) is the same IEEE op in
          // both engines, then the sum is integer-exact (double sums are
          // association-order-sensitive and would hash-flap)
          sum(floor(col("c_acctbal") * 100).cast("long"))
            .as("sum_bal_cents"),
          max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_nationkey"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // DSv2 WRITE path end-to-end: create-on-first-write through the
    // format (V1 createRelation seam), V2 append, V2 overwrite as a
    // full-replace commit with the old version still time-travelable —
    // all four states read back through the format and oracle-rebuilt
    "versioned_dsv2_write" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("dsv2w")
        .toString + "/t"
      val ord = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderpriority"))
      ord.filter(col("o_orderkey") % 2 === 0)
        .write.format("graft").save(root)
      ord.filter(col("o_orderkey") % 2 === 1)
        .write.format("graft").mode("append").save(root)
      ord.filter(col("o_orderpriority") === "1-URGENT")
        .write.format("graft").mode("overwrite").save(root)
      def agg(df: DataFrame, n: String) = df
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as(n))
      val result = agg(s.read.format("graft")
          .option("versionAsOf", 1).load(root), "n_full")
        .join(agg(s.read.format("graft").load(root), "n_head"),
          Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("n_full"),
          coalesce(col("n_head"), lit(0L)).as("n_head"))
        .orderBy(col("o_orderpriority"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // time travel through DSv2 read options: versionAsOf pins the first
    // commit, tag pins a named release, the head serves both commits —
    // all three states aggregated in one relation and oracle-rebuilt
    "versioned_dsv2_timetravel" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("dsv2tt")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs.filter(col("doc_id") % 2 === 0), root)
      VersionedTable.append(docs.filter(col("doc_id") % 2 === 1), root)
      VersionedTable.tag(s, root, "seed", 0L)
      def agg(df: DataFrame, n: String, c: String) =
        df.groupBy(col("source")).agg(count(lit(1)).as(n),
          sum(col("n_chars")).as(c))
      val head = s.read.format("graft").load(root)
      val v0 = s.read.format("graft").option("versionAsOf", 0).load(root)
      val tagged = s.read.format("graft").option("tag", "seed").load(root)
      val result = agg(head, "n_head", "chars_head")
        .join(agg(v0, "n_v0", "chars_v0"), "source")
        .join(agg(tagged, "n_tag", "chars_tag"), "source")
        .orderBy(col("source"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // z-order layout round trip through the gate: lineitem written
    // Morton-interleaved on (l_partkey, l_suppkey), read back with a
    // selective filter on BOTH dims and aggregated — data fidelity is
    // oracle-checked here; the file-prune effect of the same layout is
    // measured in PlanSpec ("z-order layout prunes selective filters on
    // EITHER dimension")
    "layout_zorder_read" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("zorder-q")
        .toString + "/t"
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      graft.operators.Layout.writeZOrdered(li, dir,
        Seq(col("l_partkey"), col("l_suppkey")), nFiles = 16)
      s.read.parquet(dir)
        .filter(col("l_partkey") < 100 && col("l_suppkey") < 40)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          max(col("l_orderkey")).as("max_orderkey"))
        .orderBy(col("l_partkey"))
    }),

    // three-way branch merge end-to-end: clone, diverge BOTH branches
    // (into: x2 upserts + deletes; from: +1 upserts), merge from->into
    // against the clone-point base. From-only changes land; into-only
    // changes survive; both-changed keys conflict and keep the into
    // state (asserted: conflict set == the predicate intersection;
    // re-merge applies nothing — idempotence). Oracle reconstructs the
    // merged table relationally.
    "versioned_branch_merge" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val base = java.nio.file.Files.createTempDirectory("vbm").toString
      val src = base + "/main"; val dst = base + "/branch"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs, src)
      VersionedTable.cloneShallow(s, src, dst)
      // into-branch divergence: double %10 keys, delete %97 keys
      VersionedTable.upsert(
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") * 2), src, Seq("doc_id"))
      VersionedTable.deleteWhere(s, src, col("doc_id") % 97 === 0)
      // from-branch divergence: +1 on %7 keys, delete %131 keys
      VersionedTable.upsert(
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("n_chars", col("n_chars") + 1), dst, Seq("doc_id"))
      VersionedTable.deleteWhere(s, dst, col("doc_id") % 131 === 0)
      val m = VersionedTable.mergeBranch(s, src, dst, Seq("doc_id"),
        baseRoot = src, baseVersion = 0L)
      // conflict set = keys both branches touched, to DIFFERENT states
      // (both-deleted keys and x2==+1 coincidences are convergent)
      val expect = docs.filter(
        (col("doc_id") % 7 === 0 || col("doc_id") % 131 === 0) &&
        (col("doc_id") % 10 === 0 || col("doc_id") % 97 === 0) &&
        !((col("doc_id") % 97 === 0 && col("doc_id") % 131 === 0) ||
          (col("doc_id") % 10 === 0 && col("doc_id") % 7 === 0 &&
            col("doc_id") % 97 =!= 0 && col("doc_id") % 131 =!= 0 &&
            col("n_chars") === 1))).count()
      require(m.nConflicts == expect,
        s"conflicts ${m.nConflicts} != expected $expect")
      // idempotence: a second merge of the same branches is a no-op
      val m2 = VersionedTable.mergeBranch(s, src, dst, Seq("doc_id"),
        baseRoot = src, baseVersion = 0L)
      require(m2.nUpserts == 0 && m2.nDeletes == 0 &&
        m2.nConflicts == expect, "re-merge must apply nothing")
      val result = VersionedTable.read(s, src)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // Hilbert layout: same box query as the Z-order gate but clustered
    // along the adjacency-preserving curve — content identical to the
    // plain scan (the oracle), locality properties spec'd in PlanSpec/
    // LayoutSpec territory (each file's 2-D bounding box is connected)
    "layout_hilbert_read" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("hilbert-q")
        .toString + "/t"
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      graft.operators.Layout.writeHilbertOrdered(li, dir,
        col("l_partkey"), col("l_suppkey"), nFiles = 16)
      s.read.parquet(dir)
        .filter(col("l_partkey") < 100 && col("l_suppkey") < 40)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          max(col("l_orderkey")).as("max_orderkey"))
        .orderBy(col("l_partkey"))
    }),

    // full ANSI MERGE through the gate: one commit carrying deletes
    // (matched + condition), updates (matched remainder), and inserts
    // (unmatched source) — the three-way surface upsert/deleteWhere are
    // special cases of. Oracle reproduces the merge relationally
    // write-time CHECK constraints (Delta ADD CONSTRAINT semantics):
    // v0 commits the clean slice, the constraint lands as a manifest
    // commit after validating existing data, a violating append is
    // REJECTED before any commit (snapshot untouched — the literal
    // rejected_writes column proves the throw fired), and a clean
    // append sails through with the constraint riding every manifest.
    // The oracle replays the two surviving writes relationally.
    "versioned_constraints" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vc")
        .toString + "/t"
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        col("c_mktsegment"), col("c_acctbal"))
      VersionedTable.write(cust.filter(col("c_acctbal") >= 0), root)
      VersionedTable.addConstraint(s, root, "acct_floor",
        "c_acctbal >= 0")
      val rejected = try {
        VersionedTable.append(cust.filter(col("c_acctbal") < 0), root)
        0L
      } catch { case _: IllegalArgumentException => 1L }
      VersionedTable.append(
        cust.filter(col("c_acctbal") >= 5000)
          .withColumn("c_custkey", col("c_custkey") + 1000000L), root)
      VersionedTable.read(s, root)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("c_acctbal") * 100).cast("long"))
            .as("sum_bal_cents"),
          max(col("c_custkey")).as("max_key"))
        .withColumn("rejected_writes", lit(rejected))
        .orderBy(col("c_mktsegment"))
    }),

    "versioned_merge" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vm")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs, root)
      val updates = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("n_chars", col("n_chars") + 7)
      val news = docs.filter(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      VersionedTable.merge(updates.unionByName(news), root, Seq("doc_id"),
        matchedDelete = Some(col("src_n_chars") % 3 === 0),
        matchedUpdate = Map("n_chars" -> col("src_n_chars")))
      VersionedTable.read(s, root)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"))
    }),

    // transactional-table surface (S4) driven end-to-end through the
    // gate: documents committed as v0, a deterministic upsert commits
    // v1, then BOTH snapshots aggregate — latest sees the merge, time
    // travel sees v0 unchanged. The oracle recomputes the same merge
    // relationally from the source table.
    // metadata-only aggregation: COUNT/MIN/MAX answered from the
    // manifest's per-file stats — zero data files read at query time
    // (the petabyte-table COUNT(*) as a manifest fold). Exercised
    // across an upsert AND a deleteWhere so the folded stats are the
    // REWRITTEN files', not the original commit's; the oracle replays
    // the edits and aggregates the data directly
    "versioned_stats_agg" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vsa")
        .toString + "/t"
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      VersionedTable.write(orders, root)
      VersionedTable.upsert(
        orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        root, Seq("o_orderkey"))
      VersionedTable.deleteWhere(s, root,
        col("o_orderpriority") === "1-URGENT")
      val result = VersionedTable.statsAgg(s, root, Seq("o_orderkey",
        "o_totalprice", "o_orderdate", "o_orderpriority"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // shallow clone: branch the table by manifest reference (zero data
    // copied), then diverge BOTH sides — the gate proves clone/source
    // isolation and clone time travel in one relation
    "versioned_clone_read" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val base = java.nio.file.Files.createTempDirectory("vtc").toString
      val src = base + "/src"; val dst = base + "/clone"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs, src)
      VersionedTable.cloneShallow(s, src, dst)
      VersionedTable.upsert(
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") * 2), src, Seq("doc_id"))
      VersionedTable.upsert(
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("n_chars", col("n_chars") + 1), dst, Seq("doc_id"))
      def sums(df: org.apache.spark.sql.DataFrame, as: String) =
        df.groupBy(col("source")).agg(sum(col("n_chars")).as(as))
      val result = sums(VersionedTable.read(s, dst), "clone_chars")
        .join(sums(VersionedTable.read(s, dst, Some(0L)), "v0_chars"),
          "source")
        .join(sums(VersionedTable.read(s, src), "src_chars"), "source")
        .orderBy(col("source"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    "versioned_upsert_read" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vt")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs, root)
      val upd = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") * 2)
      VersionedTable.upsert(upd, root, Seq("doc_id"))
      val latest = VersionedTable.read(s, root)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("latest_chars"))
      val v0 = VersionedTable.read(s, root, Some(0L))
        .groupBy(col("source"))
        .agg(sum(col("n_chars")).as("v0_chars"))
      val result = latest.join(v0, "source")
        .select(col("source"), col("n_docs"), col("latest_chars"),
          col("v0_chars"))
        .orderBy(col("source"))
      // materialize, then remove the scratch table — repeated gate and
      // min-of-N bench runs must not accumulate /tmp copies
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // bloom-filter file skipping: documents committed hash-partitioned
    // by SOURCE, so every file's doc_id range overlaps every other and
    // min/max stats can never prune a doc_id point lookup — the per-file
    // bloom over doc_id (opted in via lake.bloom.cols) is what skips.
    // The result is pruning-independent (readWhere re-filters rows), so
    // the oracle checks values; BLOOM pruning itself is spec-asserted
    // via inputFiles in VersionedTableSpec.
    "versioned_bloom_skip" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vb")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val confKey = "spark.graft.lake.bloom.cols"
      s.conf.set(confKey, "doc_id")
      try VersionedTable.write(docs.repartition(8, col("source")), root)
      finally s.conf.unset(confKey)
      val result = VersionedTable.readWhere(s, root,
          col("doc_id").isin(7L, 123L, 250L, 444L))
        .orderBy(col("doc_id"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // SCD Type-2 dimension maintenance through the versioned lake:
    // supplier seeds the dim at version 1; a deterministic change batch
    // (acctbal bump for suppkey%7, a no-op redelivery slice for
    // suppkey%5, brand-new keys for suppkey%11 shifted +10000) applies
    // at version 2 — changed keys close their old row and open a new
    // current one, no-op keys must NOT spawn versions. Both states are
    // real lake commits (time travel serves dimension-as-of). The
    // oracle reconstructs the exact post-batch state relationally.
    // lake schema evolution under the gate: v1 writes (doc_id, n_chars),
    // v2 appends rows carrying a NEW nullable column via
    // mergeSchema = true — the head read must serve the union with the
    // old files' rows NULL in the added column (and the evolve contract
    // rejecting type drift is spec-pinned in VersionedTableSpec)
    "versioned_schema_evolve" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("evolve")
        .toString + "/t"
      val docs = Tables.documents(s, d)
      VersionedTable.write(
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("n_chars")), root)
      VersionedTable.append(
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("n_chars"),
            (col("n_chars") > 500).cast("long").as("quality_flag")),
        root, mergeSchema = true)
      val result = VersionedTable.read(s, root).orderBy(col("doc_id"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    "versioned_scd2" -> ((s, d) => {
      import graft.sinks.VersionedTable
      import graft.operators.Scd2
      val root = java.nio.file.Files.createTempDirectory("scd2")
        .toString + "/t"
      val sup = Tables.supplier(s, d)
      val k = col("s_suppkey")
      VersionedTable.write(Scd2.init(sup, 1L), root)
      val changes = sup.filter(k % 7 === 0 || k % 5 === 0)
        .withColumn("s_acctbal",
          when(k % 7 === 0, col("s_acctbal") + 100.0)
            .otherwise(col("s_acctbal")))
        .unionByName(sup.filter(k % 11 === 0)
          .withColumn("s_suppkey", k + 10000))
      val next = Scd2.applyChanges(VersionedTable.read(s, root),
        changes, Seq("s_suppkey"), 2L)
      VersionedTable.write(next, root)
      val result = VersionedTable.read(s, root)
        .orderBy(col("s_suppkey"), col("effective_from"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // row-level CDC over the versioned table, end-to-end: v0 = the
    // documents table, v1 = an upsert (updates + inserts), v2 = a
    // predicate delete; diff(v0 -> v2) must emit exactly the NET
    // changes — updates carry the new image, deletes the v0 image,
    // rows updated then deleted collapse to a single delete. The
    // oracle reconstructs the same change set relationally.
    "versioned_diff" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vd")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs, root)
      val updates = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") * 2)
      val inserts = docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 1000).as("doc_id"),
          lit("src_new").as("source"), col("n_chars"))
      VersionedTable.upsert(updates.unionByName(inserts), root,
        Seq("doc_id"))
      val v2 = VersionedTable.deleteWhere(s, root, col("source") === "src19")
      val result = VersionedTable.diff(s, root, Seq("doc_id"), 0L, v2)
        .orderBy(col("doc_id"), col("change_type"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // incremental matview maintenance: bootstrap a per-source count/sum
    // aggregate at v0, mutate the lake (upsert + insert + delete), then
    // maintain the aggregate from the CDC diff ONLY — the before-images
    // of changed keys come from a key-pruned time-travel read, so the
    // maintenance cost is O(|delta| + touched files), never a base rescan
    "versioned_matview" -> ((s, d) => {
      import graft.sinks.VersionedTable
      import graft.operators.Matview
      val root = java.nio.file.Files.createTempDirectory("mv")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val v0 = VersionedTable.write(docs, root)
      val agg0 = Matview.sumsOf(VersionedTable.read(s, root, Some(v0)),
        Seq("source"), Seq("n_chars"))
      val updates = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("n_chars", col("n_chars") * 3)
      val inserts = docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 5000).as("doc_id"),
          lit("src_new").as("source"), col("n_chars"))
      VersionedTable.upsert(updates.unionByName(inserts), root,
        Seq("doc_id"))
      val v2 = VersionedTable.deleteWhere(s, root, col("source") === "src7")
      val cdc = VersionedTable.diff(s, root, Seq("doc_id"), v0, v2)
      val inserted = cdc.filter(col("change_type").isin("insert", "update"))
      val removedKeys = cdc
        .filter(col("change_type").isin("update", "delete"))
        .select(col("doc_id"))
      val removed = VersionedTable.read(s, root, Some(v0))
        .join(removedKeys, Seq("doc_id"), "leftsemi")
      val result = Matview.maintainSums(agg0, inserted, removed,
          Seq("source"), Seq("n_chars"))
        .orderBy(col("source"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // incremental JOIN-view maintenance end-to-end: orders JOIN customer
    // materialized as a versioned view, both bases mutated (price
    // updates, inserts, deletes, segment updates), the view maintained
    // ONLY from the two CDC feeds via the delta identity
    // V1-V0 = dL*R0 + L1*dR — never re-joining the bases — then
    // hash-checked against the oracle's from-scratch join of the edited
    // tables. Updates exercise the retract+assert path (same view key,
    // different payload).
    "versioned_join_matview" -> ((s, d) => {
      import graft.sinks.VersionedTable
      import graft.operators.Matview
      // eight commits, none of which this gate reads back selectively:
      // skip the per-file stats pass (it doubles each commit's job
      // count), restoring the session default afterward
      val statsKey = "spark.graft.lake.stats.enabled"
      val prevStats = s.conf.getOption(statsKey)
      s.conf.set(statsKey, "false")
      try {
      val dir = java.nio.file.Files.createTempDirectory("jmv").toString
      val (lRoot, rRoot, vRoot) = (s"$dir/l", s"$dir/r", s"$dir/v")
      // a quarter of orders keeps the gate SF-proportional while the
      // uniform %10 edit pattern (which defeats file pruning by design
      // — every file holds touched keys) stays affordable at bench SF
      val orders = Tables.orders(s, d)
        .filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"),
          col("c_mktsegment"))
      val lv0 = VersionedTable.write(orders, lRoot)
      val rv0 = VersionedTable.write(cust, rRoot)
      VersionedTable.write(
        VersionedTable.read(s, lRoot).join(VersionedTable.read(s, rRoot),
          Seq("o_custkey")), vRoot)
      // mutate the bases: price doubling, key-shifted inserts, deletes
      // on the left; segment updates on the right
      VersionedTable.upsert(
        orders.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(orders.filter(col("o_orderkey") % 10 === 4)
            .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
              col("o_custkey"), col("o_totalprice"))),
        lRoot, Seq("o_orderkey"))
      VersionedTable.deleteWhere(s, lRoot, col("o_orderkey") % 10 === 7)
      VersionedTable.upsert(
        cust.filter(col("o_custkey") % 5 === 2)
          .withColumn("c_mktsegment", lit("SEG_X")),
        rRoot, Seq("o_custkey"))
      // preimage-carrying CDC (r11): the retraction rows come straight
      // out of the diff's own full-outer join instead of re-scanning
      // the whole from-snapshot and semi-joining it back — identical
      // rows (a non-churned file can hold no updated/deleted key), one
      // churned-files pass instead of snapshot scan + semi join
      def cdcOf(root: String, key: String, fromV: Long) = {
        val cdc = VersionedTable.diffWithPreimages(s, root, Seq(key),
          fromV, VersionedTable.versions(s, root).max)
        (cdc.filter(col("change_type").isin("insert", "update"))
            .drop("change_type"),
          cdc.filter(col("change_type").isin("update_preimage", "delete"))
            .drop("change_type"))
      }
      val (lI, lD) = cdcOf(lRoot, "o_orderkey", lv0)
      val (rI, rD) = cdcOf(rRoot, "o_custkey", rv0)
      val delta = Matview.joinDelta(
        VersionedTable.read(s, lRoot, Some(lv0)), lI, lD, "o_orderkey",
        VersionedTable.read(s, rRoot, Some(rv0)), rI, rD, "o_custkey",
        on = Seq("o_custkey"))
      Matview.applyJoinDelta(s, vRoot, delta, "o_orderkey", "o_custkey")
      val result = VersionedTable.read(s, vRoot)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("o_orderkey"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
      } finally prevStats match {
        case Some(v) => s.conf.set(statsKey, v)
        case None => s.conf.unset(statsKey)
      }
    }),

    // OPTIMIZE ZORDER end-to-end: customers land in the lake in hash
    // order (every (key, balance) range in every file), the head is
    // re-clustered on (c_custkey, c_acctbal) as one content-identical
    // commit, and a two-dimensional readWhere box comes back — results
    // must equal the oracle's plain filter regardless of how many files
    // the Morton layout let the read skip (pruning is spec-asserted in
    // VersionedTableSpec; the gate pins result fidelity through the
    // rewrite)
    "versioned_zorder_read" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vz")
        .toString + "/t"
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      VersionedTable.write(cust.repartition(16), root)
      VersionedTable.compactZOrdered(s, root,
        Seq(col("c_custkey"), col("c_acctbal")), nFiles = 16)
      val result = VersionedTable.readWhere(s, root,
          col("c_custkey") <= 400L && col("c_acctbal") >= 5000.0)
        .orderBy(col("c_custkey"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // RESTORE end-to-end: v0 = documents, v1 = a predicate delete,
    // v2 = restore(0). The head must read exactly v0 again (files reused
    // by identity) while v1's deleted state still time-travels — the
    // oracle recomputes both states from the source table.
    "versioned_restore_read" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vr")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs, root)
      VersionedTable.deleteWhere(s, root, col("source") === "src19")
      VersionedTable.restore(s, root, 0L)
      val head = VersionedTable.read(s, root)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
      val v1 = VersionedTable.read(s, root, Some(1L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_after_delete"))
      val result = head.join(v1, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("sum_chars"),
          coalesce(col("n_after_delete"), lit(0L)).as("n_after_delete"))
        .orderBy(col("source"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // retention end-to-end: a 4-file write, a delete commit, a compact
    // commit, then vacuum(keep=1, grace=0) — orphaned data files and
    // pre-head manifests must be GONE (asserted: orphans removed > 0,
    // only the head version remains, time travel to v0 now fails) while
    // the head read stays exactly intact, which is what the oracle
    // checks. Any live file deleted, or the head re-read drifting,
    // breaks the exact compare.
    "versioned_vacuum_read" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vv")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      VersionedTable.write(docs.repartition(4), root)
      VersionedTable.deleteWhere(s, root, col("source") === "src19")
      VersionedTable.compact(s, root)
      val removed = VersionedTable.vacuum(s, root, keepVersions = 1,
        graceMs = 0L)
      require(removed > 0, "vacuum removed no orphaned files")
      val vs = VersionedTable.versions(s, root)
      require(vs.size == 1, s"retention left extra versions: $vs")
      val timeTravelGone =
        try { VersionedTable.read(s, root, Some(0L)).count(); false }
        catch { case _: Throwable => true }
      require(timeTravelGone, "vacuumed version 0 still readable")
      val result = VersionedTable.read(s, root)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // incremental consumption end-to-end: three append commits, then
    // each consecutive readAppended window aggregated — the windows must
    // partition the appended rows exactly (no loss, no duplication),
    // which the oracle reconstructs from the same doc_id ranges
    "versioned_incremental" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vi")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val vs = (0 until 3).map { i =>
        VersionedTable.append(
          docs.filter(expr("doc_id DIV 167") === i), root)
      }
      val windows = (0L +: vs.dropRight(1)).zip(vs).zipWithIndex
      val result = windows.map { case ((from, to), i) =>
          val w = if (i == 0) VersionedTable.read(s, root, Some(vs.head))
            else VersionedTable.readAppended(s, root, from, Some(to))
          w.agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"),
              min(col("doc_id")).as("min_id"),
              max(col("doc_id")).as("max_id"))
            .withColumn("window_id", lit(i.toLong))
        }.reduce(_ unionByName _)
        .select(col("window_id"), col("n_docs"), col("sum_chars"),
          col("min_id"), col("max_id"))
        .orderBy(col("window_id"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // manifest-stats data skipping end-to-end: documents committed as
    // four doc_id-range files, then a mixed numeric-range OR string-
    // equality readWhere — planning-time file pruning with the predicate
    // re-applied to rows, so the result is oracle-exact regardless of
    // how many files were skipped (the pruning itself is spec-asserted
    // in VersionedTableSpec)
    "versioned_skip_read" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val root = java.nio.file.Files.createTempDirectory("vs")
        .toString + "/t"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      (0 until 4).foreach { i =>
        VersionedTable.append(
          docs.filter(expr("doc_id DIV 125") === i).repartition(1), root)
      }
      val result = VersionedTable.readWhere(s, root,
          col("doc_id").between(120, 180) || col("source") === "src19")
        .orderBy(col("doc_id"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(root).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // bloom-prefiltered fact join: the small side (urgent 1997+ orders)
    // builds a ~300 KB bloom; lineitem drops non-matching rows AT THE
    // SCAN, before the join exchange. No false negatives => result is
    // bit-identical to the plain join, so the oracle is exact.
    "join_bloom_prefilter" -> ((s, d) => {
      import graft.ColUtil._
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      Bloom.prefilteredJoin(li, ord, col("l_orderkey"), col("o_orderkey"),
          expectedItems = 1L << 18)
        .groupBy(year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_items"),
          sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
            .cast("double").as("revenue"))
        .orderBy(col("o_year"), col("o_month"))
    }),

    // bloom decontamination: eval shingles as a fixed-size filter, train
    // side probes map-only. FULLY oracle-checked via the replayable md5
    // double-hash bitmap (Md5BloomUtil): DuckDB rebuilds the set bit
    // positions and the probe arithmetic, so the kept set — INCLUDING
    // any false-positive over-drops — is cross-engine exact. The
    // spark-sketch production variant keeps its no-leak spec in
    // SketchSpec.
    "decontaminate_bloom" -> ((s, d) => {
      val (train, eval_) = PrepOps.evalSplit(s, d)
      Decontaminate.cleanBloomReplayable(train, eval_, col("doc_id"),
          col("text"), PrepOps.DecontamK)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // HLL partial/union workflow: ONE sketch per source (reusable,
    // mergeable state — the shape that lets a 100 TB pipeline store
    // per-shard sketches and answer global distinct queries without
    // rescanning), unioned into a corpus-wide estimate. Estimates are
    // sketch-implementation-specific -> rows-only + tolerance spec.
    // HLL partial/union distinct counting, FULLY oracle-checked via the
    // error-bound contract (same shape as agg_approx_distinct): the gate
    // emits exact distincts plus an integer flag that each estimate —
    // per-source AND the union-merged global — landed within 5% (3x the
    // lgK=12 rsd of ~1.6%); the estimates are deterministic per engine,
    // the bound is the cross-engine guarantee
    "hll_distinct_sources" -> ((s, d) => {
      val parts = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(hll_sketch_agg(col("doc_id")).as("sk"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("exact_distinct"))
      val per = parts.select(col("source"), col("n_rows"),
        col("exact_distinct"),
        hll_sketch_estimate(col("sk")).as("__est"))
      val global = parts
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("exact_distinct")).as("exact_distinct"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
        .select(lit("__ALL__").as("source"), col("n_rows"),
          col("exact_distinct"), col("__est"))
      per.unionByName(global)
        .select(col("source"), col("n_rows"), col("exact_distinct"),
          (abs(col("__est") - col("exact_distinct")) * 100 <=
            col("exact_distinct") * 5).cast("int").as("est_within_5pct"))
        .orderBy(col("source"))
    }),

    // theta-sketch set operations: per-source token-vocabulary sketches
    // (ONE combiner-tree aggregation — the corpus shuffles k hashes per
    // source, never the vocabulary), pairwise intersect/union/difference
    // on the driver. Below 2^lgK distinct tokens the sketches are in
    // exact mode, so every estimate is the true count and the query is
    // DuckDB-oracle-exact; past that it degrades to bounded-error
    // estimates with the same plan (the 100 TB shape).
    "theta_source_vocab" -> ((s, d) => {
      import graft.functions.ThetaFunctions
      val sk = Tables.documents(s, d)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("source"))
        .agg(ThetaFunctions.theta_sketch_agg(col("term")).as("sk"))
        .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
        .sortBy(_._1)
      val rows = for {
        (sa, ba) <- sk.toSeq; (sb, bb) <- sk.toSeq if sa < sb
      } yield {
        val nA = ThetaFunctions.estimate(ba).round
        val nB = ThetaFunctions.estimate(bb).round
        val nI = ThetaFunctions
          .estimate(ThetaFunctions.intersect(ba, bb)).round
        val nU = ThetaFunctions
          .estimate(ThetaFunctions.union(ba, bb)).round
        (sa, sb, nA, nB, nI, nU, nI.toDouble / nU.toDouble)
      }
      import s.implicits._
      rows.toDF("source_a", "source_b", "n_a", "n_b", "n_common",
          "n_union", "jaccard")
        .orderBy(col("source_a"), col("source_b"))
    }),

    // KLL quantile sketches: one per source (mergeable partial state —
    // persist per-shard, merge later, no rescan), driver merges partials
    // into the global row. Quantiles carry KLL's ~1.65% rank-error bound
    // (k = 200) -> rows-only + rank-accuracy spec.
    // KLL quantiles, FULLY oracle-checked via the rank-error contract
    // (round-7 conversion): the sketch's quantile VALUES are
    // engine-specific, but KLL's guarantee — the returned value's true
    // rank lies within eps*n of q*n — is the cross-engine fact. The
    // gate computes each estimate's EXACT rank against the data and
    // emits integer flags at a 5% bound (>3x the k=200 rank error),
    // plus the exact n; the oracle checks flags as constants.
    "kll_length_quantiles" -> ((s, d) => {
      import graft.functions.KllFunctions
      val sk = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(KllFunctions.kll_sketch_agg(col("n_chars")).as("sk"))
        .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
        .sortBy(_._1)
      def row(src: String, b: Array[Byte]) =
        (src, KllFunctions.n(b), KllFunctions.quantile(b, 0.5),
          KllFunctions.quantile(b, 0.9), KllFunctions.quantile(b, 0.99))
      val global = sk.map(_._2).reduce(KllFunctions.merge)
      import s.implicits._
      val est = (sk.toSeq.map { case (src, b) => row(src, b) } :+
        row("__ALL__", global))
        .toDF("source", "n", "p50", "p90", "p99")
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars"))
      val both = docs.unionByName(
        docs.withColumn("source", lit("__ALL__")))
      // with ties, an estimate maps to the rank INTERVAL
      // [count(< v), count(<= v)]; the sketch is in-bound iff that
      // interval intersects [q*n - eps*n, q*n + eps*n]
      def le(p: String) =
        sum(when(col("n_chars") <= col(p), 1L).otherwise(0L))
      def lt(p: String) =
        sum(when(col("n_chars") < col(p), 1L).otherwise(0L))
      def flag(rLe: org.apache.spark.sql.Column,
          rLt: org.apache.spark.sql.Column, q: Int) =
        (rLe * 100 >= col("n") * (q - 5) &&
          rLt * 100 <= col("n") * (q + 5)).cast("int")
      both.join(broadcast(est), "source")
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"),
          le("p50").as("__le50"), lt("p50").as("__lt50"),
          le("p90").as("__le90"), lt("p90").as("__lt90"),
          le("p99").as("__le99"), lt("p99").as("__lt99"))
        .select(col("source"), col("n"),
          flag(col("__le50"), col("__lt50"), 50).as("p50_rank_ok"),
          flag(col("__le90"), col("__lt90"), 90).as("p90_rank_ok"),
          flag(col("__le99"), col("__lt99"), 99).as("p99_rank_ok"))
        .orderBy(col("source"))
    }),

    // count-min point frequency: one pass builds the sketch (bounded
    // state: depth x width counters, NOT the token domain), the driver
    // probes the 20 alphabetically-first terms. Fixed seed + a width
    // far beyond the fixture vocabulary -> deterministic, collision-free
    // estimates that equal true counts (oracle-exact on the fixtures;
    // the >= guarantee for adversarial domains is spec'd).
    "cms_token_freq" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      val bytes = toks
        .agg(count_min_sketch(col("term"), lit(0.0001d), lit(0.999d),
          lit(42)).as("cms"))
        .head().getAs[Array[Byte]](0)
      val cms = CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
      val probes = toks.select(col("term")).distinct()
        .orderBy(col("term")).limit(20)
        .collect().map(_.getString(0))
      import s.implicits._
      probes.toSeq.map(t => (t, cms.estimateCount(t)))
        .toDF("term", "est_cnt")
        .orderBy(col("term"))
    }),

    // round-10 item 1: EXACT row-level group filtering via the
    // _graft_file metadata column. The target's files range-cluster on
    // the SECOND column k while the LEADING stat column a is scattered
    // (a = k % 97 spans every file) — the r9 leading-column heuristic
    // admitted all 4 files here; the _graft_file runtime group filter
    // must pin the rewrite to the 1 file holding matches, with NO
    // groupFilterColumn conf. Asserted three ways: carried-by-identity
    // file count, the commit's #op: audit record (scanned=1,
    // rewritten=1 of 4), and the oracle-exact final state, with the
    // audit counts surfaced as result columns the oracle predicts.
    "versioned_sql_merge_exact" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("xmerge").toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val o = Tables.orders(s, d).select(
        (col("o_orderkey") % 97).as("a"), col("o_orderkey").as("k"),
        col("o_custkey").as("c"))
      val hi = o.agg(max(col("k"))).head().getLong(0)
      (0L to 3L).foreach { b =>
        val lo = if (b == 0L) -1L else b * hi / 4
        VersionedTable.append(o.filter(col("k") > lo &&
          col("k") <= (b + 1) * hi / 4).coalesce(1), s"$wh/t")
      }
      val preFiles = VersionedTable.snapshot(s, s"$wh/t").files.toSet
      o.filter(col("k") % 2 === 0 && col("k") <= hi / 4)
        .select(col("k"), (col("c") + 777L).as("c2"))
        .createOrReplaceTempView("xmerge_src")
      s.sql(
        s"""MERGE INTO $cat.t t USING xmerge_src m ON t.k = m.k
           |WHEN MATCHED THEN UPDATE SET c = m.c2""".stripMargin)
      val carried = VersionedTable.snapshot(s, s"$wh/t").files.toSet
        .intersect(preFiles).size
      require(carried == 3,
        s"_graft_file group filtering on a NON-leading merge key must " +
          s"rewrite only the matching file; carried $carried of 4")
      val op = VersionedTable.history(s, s"$wh/t")
        .orderBy(col("version").desc).limit(1)
        .select("operation").head().getString(0)
      require(op != null &&
        op.contains("\"group_filter\":\"_graft_file\"") &&
        op.contains("\"scanned_files\":1") &&
        op.contains("\"rewritten_files\":1") &&
        op.contains("\"table_files\":4"),
        s"commit must audit the exact prune: $op")
      val result = s.sql(
        s"""SELECT CAST(SUM(a) AS BIGINT) AS sum_a,
           |  CAST(SUM(c) AS BIGINT) AS sum_c, COUNT(*) AS n,
           |  1 AS scanned_files, 1 AS rewritten_files,
           |  4 AS table_files
           |FROM $cat.t""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      s.catalog.dropTempView("xmerge_src")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-10 item 3: CREATE TABLE ... CLUSTER BY through pure SQL —
    // the spec persists as the graft.clustering property, the INSERT
    // range-clusters its staged files on it, and CALL optimize_zorder
    // with NO column/n_files arguments defaults both from the table
    // (columns from CLUSTER BY, n_files from the current layout).
    // Asserted in-gate: quadrant-read prune after the z-order; the
    // oracle checks full-content identity (aggregates) plus the
    // quadrant's own aggregate.
    "versioned_sql_cluster_by" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("clby").toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"CREATE TABLE $cat.t (x BIGINT, y BIGINT, c BIGINT) " +
        "CLUSTER BY (x, y)")
      // hash-scattered insert: interleaved x/y with no ingest-order
      // correlation (ORDER BY a bit-mixed key)
      Tables.orders(s, d).select((col("o_orderkey") % 101).as("x"),
        (col("o_orderkey") % 89).as("y"), col("o_custkey").as("c"))
        .createOrReplaceTempView("clby_src")
      s.sql(s"INSERT INTO $cat.t SELECT x, y, c FROM clby_src " +
        "DISTRIBUTE BY (x * 2654435761) % 64")
      s.sql(s"CALL $cat.system.optimize_zorder('t')")
      val snap = VersionedTable.snapshot(s, s"$wh/t")
      val quadrant = VersionedTable.readWhere(s, s"$wh/t",
        col("x") < 25L && col("y") < 22L)
      if (snap.files.size >= 4)
        require(quadrant.inputFiles.length < snap.files.size,
          s"z-order from the CLUSTER BY spec must quadrant-prune: " +
            s"read ${quadrant.inputFiles.length} of ${snap.files.size}")
      val result = s.sql(
        s"""SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sum_x,
           |  CAST(SUM(y) AS BIGINT) AS sum_y,
           |  CAST(SUM(c) AS BIGINT) AS sum_c,
           |  (SELECT CAST(SUM(c) AS BIGINT) FROM $cat.t
           |   WHERE x < 25 AND y < 22) AS quadrant_c
           |FROM $cat.t""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      s.catalog.dropTempView("clby_src")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-10 item 4: the CHANGE FEED end-to-end — SQL MERGE
    // (update/delete/insert arms) on a 4-file table, then a
    // readChangeFeed batch read of exactly that commit window, then
    // INCREMENTAL matview maintenance (last change per key wins,
    // deletes drop) applied over the pre-merge snapshot. The oracle
    // RECOMPUTES the merge directly, so the gate proves incremental ==
    // recompute cross-engine; per-commit change counts ride along as
    // audited columns.
    "versioned_change_feed" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("chfeed").toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"))
      val hi = o.agg(max(col("k"))).head().getLong(0)
      (0L to 3L).foreach { b =>
        val lo = if (b == 0L) -1L else b * hi / 4
        VersionedTable.append(o.filter(col("k") > lo &&
          col("k") <= (b + 1) * hi / 4).withColumn("state", lit("t"))
          .coalesce(1), s"$wh/t")
      }
      val baseV = VersionedTable.versions(s, s"$wh/t").max
      o.filter(col("k") % 2 === 0 && col("k") <= hi / 4)
        .select(col("k"), (col("c") + 777L).as("c2"))
        .createOrReplaceTempView("cf_src")
      s.sql(
        s"""MERGE INTO $cat.t t USING cf_src m ON t.k = m.k
           |WHEN MATCHED AND m.k % 6 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c = m.c2, state = 'u'""".stripMargin)
      s.sql(s"INSERT INTO $cat.t VALUES (${hi + 7}, 42, 'i')")
      // change-feed batch read over (baseV, head]
      val feed = s.read.format("graft")
        .option("readChangeFeed", "true").option("changeFeedKeys", "k")
        .option("startingVersion", baseV).load(s"$wh/t")
        .pinned() // pin: the matview + audit read it twice
      // incremental matview: apply the feed to the PRE-merge snapshot
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("k").orderBy(col("_commit_version").desc)
      val last = feed.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
      val survivors = last.filter(col("change_type") =!= "delete")
        .select(col("k"), col("c"), col("state"))
      val matview = s.read.format("graft")
        .option("versionAsOf", baseV).load(s"$wh/t")
        .join(last.select("k"), Seq("k"), "left_anti")
        .unionByName(survivors)
      val counts = feed.groupBy("change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val result = matview.agg(count(lit(1)).as("n"),
          sum(col("k")).cast("bigint").as("sum_k"),
          sum(col("c")).cast("bigint").as("sum_c"))
        .withColumn("n_insert", lit(counts.getOrElse("insert", 0L)))
        .withColumn("n_update", lit(counts.getOrElse("update", 0L)))
        .withColumn("n_delete", lit(counts.getOrElse("delete", 0L)))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      s.catalog.dropTempView("cf_src")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-10 companion to versioned_change_feed: the WRITE-SIDE
    // change log. The table declares its identity keys
    // (graft.changefeed.keys), so the MERGE commit PERSISTS its net
    // row diff under _changes/ and the feed read plans NO JOIN
    // (asserted in-gate on the optimized plan) — CDC as a pure scan.
    // Same oracle recompute as versioned_change_feed: the recorded
    // diff must equal what the join would have derived.
    "versioned_change_log" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("chlog").toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"))
      val hi = o.agg(max(col("k"))).head().getLong(0)
      (0L to 3L).foreach { b =>
        val lo = if (b == 0L) -1L else b * hi / 4
        VersionedTable.append(o.filter(col("k") > lo &&
          col("k") <= (b + 1) * hi / 4).withColumn("state", lit("t"))
          .coalesce(1), s"$wh/t")
      }
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        "('graft.changefeed.keys' = 'k')")
      val baseV = VersionedTable.versions(s, s"$wh/t").max
      o.filter(col("k") % 2 === 0 && col("k") <= hi / 4)
        .select(col("k"), (col("c") + 777L).as("c2"))
        .createOrReplaceTempView("cl_src")
      s.sql(
        s"""MERGE INTO $cat.t t USING cl_src m ON t.k = m.k
           |WHEN MATCHED AND m.k % 6 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c = m.c2, state = 'u'""".stripMargin)
      s.sql(s"INSERT INTO $cat.t VALUES (${hi + 7}, 42, 'i')")
      val feed = VersionedTable.changeFeed(s, s"$wh/t", Seq("k"), baseV)
      require(feed.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isEmpty,
        "recorded change log must serve the feed as a PURE SCAN")
      val counts = feed.groupBy("change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // apply the recorded feed incrementally over the base snapshot
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("k").orderBy(col("_commit_version").desc)
      val last = feed.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
      val matview = s.read.format("graft")
        .option("versionAsOf", baseV).load(s"$wh/t")
        .join(last.select("k"), Seq("k"), "left_anti")
        .unionByName(last.filter(col("change_type") =!= "delete")
          .select(col("k"), col("c"), col("state")))
      val result = matview.agg(count(lit(1)).as("n"),
          sum(col("k")).cast("bigint").as("sum_k"),
          sum(col("c")).cast("bigint").as("sum_c"))
        .withColumn("n_insert", lit(counts.getOrElse("insert", 0L)))
        .withColumn("n_update", lit(counts.getOrElse("update", 0L)))
        .withColumn("n_delete", lit(counts.getOrElse("delete", 0L)))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      s.catalog.dropTempView("cl_src")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // round-10 follow-on (VERDICT r9 missing #3's second half): ALTER
    // COLUMN TYPE widening as a metadata-only commit. INT-typed
    // clustered files, widen k to BIGINT through pure SQL, land a
    // beyond-int32 row, and prove (in-gate) that the old narrow files
    // still stats-prune on the widened column; totals oracle-exact
    // with the 2^40 outlier in the sum.
    "versioned_sql_widen" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val wh = java.nio.file.Files.createTempDirectory("widen").toString
      val cat = "g" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val o = Tables.orders(s, d).select(
        col("o_orderkey").cast("int").as("k"),
        col("o_custkey").cast("int").as("c"))
      val hi = o.agg(max(col("k"))).head().getInt(0).toLong
      (0L to 3L).foreach { b =>
        val lo = if (b == 0L) -1L else b * hi / 4
        VersionedTable.append(o.filter(col("k") > lo &&
          col("k") <= (b + 1) * hi / 4).coalesce(1), s"$wh/t")
      }
      s.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE BIGINT")
      s.sql(s"ALTER TABLE $cat.t ALTER COLUMN c TYPE BIGINT")
      s.sql(s"INSERT INTO $cat.t VALUES (${1L << 40}, 42)")
      val kept = VersionedTable.readWhere(s, s"$wh/t",
        col("k") <= hi / 4)
      require(kept.inputFiles.length <= 2,
        s"int-era file bounds must still prune the widened column: " +
          s"planned ${kept.inputFiles.length}")
      val result = s.sql(
        s"""SELECT COUNT(*) AS n, SUM(k) AS sum_k, SUM(c) AS sum_c,
           |  MAX(k) AS max_k
           |FROM $cat.t""".stripMargin)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    })
  )

  val oracles: Map[String, String] = Map(
    // full bloom replay: the eval side's set bit positions (md5
    // double-hash, 7 probes into 2^20 bits — Md5BloomUtil's exact
    // arithmetic), then a train doc is contaminated iff SOME shingle
    // finds all 7 of its positions set. False positives replay
    // identically, so the kept set matches bit-for-bit.
    "decontaminate_bloom" -> {
      val grams = PrepOps.duckGrams(PrepOps.DecontamK)
      val bucket = graft.operators.Sampling.hashBucketSql("doc_id",
        PrepOps.EvalBuckets)
      s"""WITH hx AS (SELECT doc_id, text, source,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |b AS (SELECT doc_id, text, source, $bucket AS bucket FROM hx),
         |ev AS (SELECT DISTINCT UNNEST($grams) AS shingle
         |  FROM b WHERE bucket = 0),
         |bits AS (SELECT DISTINCT
         |    (CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)
         |     + r.j * CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT))
         |      % 1048576 AS pos
         |  FROM ev, UNNEST(range(7)) AS r(j)),
         |tr AS (SELECT DISTINCT doc_id, UNNEST($grams) AS shingle
         |  FROM b WHERE bucket != 0),
         |trpos AS (SELECT doc_id, shingle, r.j AS j,
         |    (CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)
         |     + r.j * CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT))
         |      % 1048576 AS pos
         |  FROM tr, UNNEST(range(7)) AS r(j)),
         |conta AS (SELECT DISTINCT doc_id FROM (
         |  SELECT t.doc_id, t.shingle
         |  FROM trpos t JOIN bits USING (pos)
         |  GROUP BY t.doc_id, t.shingle HAVING COUNT(*) = 7))
         |SELECT doc_id, source FROM b
         |WHERE bucket != 0
         |  AND doc_id NOT IN (SELECT doc_id FROM conta)
         |ORDER BY doc_id""".stripMargin
    },

    // the rejected append contributes nothing; rejected_writes = 1 is
    // the gate's own assertion that the violating write threw
    "versioned_constraints" ->
      """WITH v AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_acctbal >= 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_acctbal >= 5000)
        |SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_bal_cents,
        |  MAX(c_custkey) AS max_key,
        |  CAST(1 AS BIGINT) AS rejected_writes
        |FROM v GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // head = all docs (restore undid nothing data-wise: compact was
    // content-identical and restore(1) re-pinned the post-insert
    // state); tag = the even half
    "versioned_sql_maintenance" ->
      """SELECT d.source,
        |  COUNT(*) AS n_head,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_head,
        |  MIN(z.n_tag) AS n_tag
        |FROM documents d
        |JOIN (SELECT source, COUNT(*) AS n_tag FROM documents
        |      WHERE doc_id % 2 = 0 GROUP BY source) z
        |  ON z.source = d.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // the z-order rewrite is content-identical, so the quadrant
    // aggregate is just the filtered aggregate over the fixture
    "versioned_sql_zorder" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_q,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_k_q
        |FROM orders
        |WHERE o_orderkey % 64 < 32
        |  AND (o_orderkey * 2654435761) % 64 < 32""".stripMargin,

    // head = evens (pre-evolution, NULL lang_tag -> '_legacy') + odds
    // (post-evolution, real lang); v1 = the even half alone
    "versioned_sql_evolve" ->
      """SELECT tag, n, chars,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0) AS n_v1
        |FROM (
        |  SELECT '_legacy' AS tag, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY lang) u
        |ORDER BY tag""".stripMargin,

    // the merge replay: target = k % 3 <> 2 (state 't'), source =
    // even low-quartile keys with c2 = c + 1e6; matched & k % 6 = 0
    // delete, matched update -> 'u', unmatched source insert -> 'i'
    "versioned_sql_merge" ->
      """WITH t AS (SELECT o_orderkey AS k, o_custkey AS c
        |           FROM orders WHERE o_orderkey % 3 <> 2),
        |s AS (SELECT o_orderkey AS k, o_custkey + 1000000 AS c2
        |      FROM orders WHERE o_orderkey % 2 = 0
        |        AND o_orderkey <= (SELECT MAX(o_orderkey) FROM orders) // 4),
        |merged AS (
        |  SELECT t.k,
        |    CASE WHEN s.k IS NOT NULL THEN s.c2 ELSE t.c END AS c,
        |    CASE WHEN s.k IS NOT NULL THEN 'u' ELSE 't' END AS state
        |  FROM t LEFT JOIN s ON s.k = t.k
        |  WHERE NOT (s.k IS NOT NULL AND t.k % 6 = 0)
        |  UNION ALL
        |  SELECT s.k, s.c2, 'i' FROM s LEFT JOIN t ON t.k = s.k
        |  WHERE t.k IS NULL)
        |SELECT state, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(c) AS BIGINT) AS sum_c
        |FROM merged GROUP BY state ORDER BY state""".stripMargin,

    // the clone diverged to hold every document; the truncated source
    // holds none
    "versioned_sql_clone" ->
      """SELECT source, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(0 AS BIGINT) AS n_src
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // replay: conditional update, then the two deletes in order
    "versioned_sql_update" ->
      """WITH hi AS (SELECT MAX(o_orderkey) AS h FROM orders),
        |upd AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0
        |        AND o_orderkey <= (SELECT h FROM hi) // 4
        |      THEN o_custkey + 5 ELSE o_custkey END AS c,
        |    CASE WHEN o_orderkey % 7 = 0
        |        AND o_orderkey <= (SELECT h FROM hi) // 4
        |      THEN 'u' ELSE 't' END AS state
        |  FROM orders),
        |d1 AS (SELECT * FROM upd
        |  WHERE NOT (k > (SELECT h FROM hi) // 2 AND k % 2 = 1)),
        |d2 AS (SELECT * FROM d1
        |  WHERE NOT (k > (SELECT h FROM hi) * 3 // 4))
        |SELECT state, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(c) AS BIGINT) AS sum_c
        |FROM d2 GROUP BY state ORDER BY state""".stripMargin,

    // LIMIT semantics: exactly-n rows below the table size (whichever
    // files served them), everything above it
    "versioned_limit_pushdown" ->
      """SELECT CAST((SELECT COUNT(*) FROM orders) // 2 + 3 AS BIGINT)
        |    AS n_cut,
        |  (SELECT COUNT(*) FROM orders) AS n_all,
        |  (SELECT MAX(o_orderkey) FROM orders) AS max_k""".stripMargin,

    "versioned_runtime_prune" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  MAX(l_orderkey) AS max_okey,
        |  MIN(l_partkey) AS min_pkey
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'""".stripMargin,

    "versioned_sql_asof" ->
      """WITH v0 AS (SELECT * FROM documents WHERE doc_id % 2 = 0)
        |SELECT d.source,
        |  COUNT(*) AS n_head, CAST(SUM(d.n_chars) AS BIGINT)
        |    AS chars_head,
        |  MIN(z.n_v0) AS n_v0, MIN(z.chars_v0) AS chars_v0
        |FROM documents d
        |JOIN (SELECT source, COUNT(*) AS n_v0,
        |        CAST(SUM(n_chars) AS BIGINT) AS chars_v0
        |      FROM v0 GROUP BY source) z ON z.source = d.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "versioned_agg_pushdown" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
        |hd AS (SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 1))
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v0) AS cnt_v0,
        |  (SELECT MIN(o_orderkey) FROM v0) AS min_key_v0,
        |  (SELECT MAX(o_orderkey) FROM v0) AS max_key_v0,
        |  (SELECT MIN(o_totalprice) FROM v0) AS min_price_v0,
        |  (SELECT MAX(o_totalprice) FROM v0) AS max_price_v0,
        |  (SELECT MAX(o_orderdate) FROM v0) AS max_date_v0,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hd) AS cnt_head,
        |  (SELECT MIN(o_orderkey) FROM hd) AS min_key_head,
        |  (SELECT MAX(o_orderkey) FROM hd) AS max_key_head,
        |  (SELECT MIN(o_totalprice) FROM hd) AS min_price_head,
        |  (SELECT MAX(o_totalprice) FROM hd) AS max_price_head,
        |  (SELECT MAX(o_orderdate) FROM hd) AS max_date_head""".stripMargin,

    "versioned_dsv2_read" ->
      """SELECT c_nationkey, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_bal_cents,
        |  MAX(c_custkey) AS max_key
        |FROM customer
        |WHERE c_acctbal >= 5000 AND c_mktsegment <> 'AUTOMOBILE'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "versioned_dsv2_write" ->
      """SELECT o_orderpriority, COUNT(*) AS n_full,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_head
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "versioned_dsv2_timetravel" ->
      """WITH v0 AS (SELECT * FROM documents WHERE doc_id % 2 = 0)
        |SELECT d.source,
        |  COUNT(*) AS n_head, CAST(SUM(d.n_chars) AS BIGINT) AS chars_head,
        |  MIN(z.n_v0) AS n_v0, MIN(z.chars_v0) AS chars_v0,
        |  MIN(z.n_v0) AS n_tag, MIN(z.chars_v0) AS chars_tag
        |FROM documents d
        |JOIN (SELECT source, COUNT(*) AS n_v0,
        |        CAST(SUM(n_chars) AS BIGINT) AS chars_v0
        |      FROM v0 GROUP BY source) z ON z.source = d.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "versioned_merge" ->
      """WITH upd AS (
        |  SELECT doc_id, n_chars + 7 AS nn FROM documents
        |  WHERE doc_id % 5 = 0),
        |merged AS (
        |  SELECT b.doc_id, b.source,
        |    CASE WHEN u.doc_id IS NOT NULL THEN u.nn
        |         ELSE b.n_chars END AS n_chars
        |  FROM documents b LEFT JOIN upd u USING (doc_id)
        |  WHERE NOT (u.doc_id IS NOT NULL AND u.nn % 3 = 0)
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, n_chars FROM documents
        |  WHERE doc_id % 11 = 0)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM merged GROUP BY source ORDER BY source""".stripMargin,

    "layout_zorder_read" ->
      """SELECT l_partkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  MAX(l_orderkey) AS max_orderkey
        |FROM lineitem
        |WHERE l_partkey < 100 AND l_suppkey < 40
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    // relational reconstruction of the merged head: into deletions
    // always survive; from deletions land only where into is
    // unchanged; both-changed keys keep the into (x2) value
    "versioned_branch_merge" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars * 2
        |         WHEN doc_id % 7 = 0 THEN n_chars + 1
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 97 <> 0
        |    AND NOT (doc_id % 131 = 0 AND doc_id % 10 <> 0)
        |)
        |GROUP BY source ORDER BY source""".stripMargin,

    // layout never changes content: same box select
    "layout_hilbert_read" ->
      """SELECT l_partkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  MAX(l_orderkey) AS max_orderkey
        |FROM lineitem
        |WHERE l_partkey < 100 AND l_suppkey < 40
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    "versioned_bloom_skip" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN (7, 123, 250, 444) ORDER BY doc_id""".stripMargin,

    "versioned_schema_evolve" ->
      """SELECT doc_id, n_chars, CAST(NULL AS BIGINT) AS quality_flag
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, n_chars,
        |  CAST(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,

    "versioned_scd2" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
        |  CAST(1 AS BIGINT) AS effective_from,
        |  CASE WHEN s_suppkey % 7 = 0 THEN CAST(2 AS BIGINT) END
        |    AS effective_to,
        |  s_suppkey % 7 <> 0 AS is_current
        |FROM supplier
        |UNION ALL
        |SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 100.0,
        |  CAST(2 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        |FROM supplier WHERE s_suppkey % 7 = 0
        |UNION ALL
        |SELECT s_suppkey + 10000, s_name, s_nationkey, s_acctbal,
        |  CAST(2 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        |FROM supplier WHERE s_suppkey % 11 = 0
        |ORDER BY s_suppkey, effective_from""".stripMargin,

    "versioned_stats_agg" ->
      """WITH edited AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders),
        |kept AS (SELECT * FROM edited WHERE o_orderpriority <> '1-URGENT')
        |SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
        |  MIN(o_orderkey) AS min_o_orderkey,
        |  MAX(o_orderkey) AS max_o_orderkey,
        |  MIN(o_totalprice) AS min_o_totalprice,
        |  MAX(o_totalprice) AS max_o_totalprice,
        |  MIN(o_orderdate) AS min_o_orderdate,
        |  MAX(o_orderdate) AS max_o_orderdate,
        |  MIN(o_orderpriority) AS min_o_orderpriority,
        |  MAX(o_orderpriority) AS max_o_orderpriority
        |FROM kept""".stripMargin,

    // clone head = +1 on doc_id%7, clone v0 = original, source head =
    // doubled on doc_id%10 — isolation means three independent sums
    "versioned_clone_read" ->
      """SELECT source,
        |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN n_chars + 1
        |    ELSE n_chars END) AS BIGINT) AS clone_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS v0_chars,
        |  CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN n_chars * 2
        |    ELSE n_chars END) AS BIGINT) AS src_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "versioned_upsert_read" ->
      """WITH latest AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars * 2 ELSE n_chars END
        |      AS n_chars
        |  FROM documents)
        |SELECT l.source, COUNT(*) AS n_docs,
        |  CAST(SUM(l.n_chars) AS BIGINT) AS latest_chars,
        |  CAST(MIN(v.v0_chars) AS BIGINT) AS v0_chars
        |FROM latest l
        |JOIN (SELECT source, SUM(n_chars) AS v0_chars FROM documents
        |      GROUP BY source) v ON v.source = l.source
        |GROUP BY l.source ORDER BY l.source""".stripMargin,

    "versioned_restore_read" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(CASE WHEN source = 'src19' THEN 0 ELSE COUNT(*) END
        |    AS BIGINT) AS n_after_delete
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // the head after the delete commit, unchanged by compact + vacuum
    "versioned_vacuum_read" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE source <> 'src19'
        |GROUP BY source ORDER BY source""".stripMargin,

    "versioned_incremental" ->
      """SELECT doc_id // 167 AS window_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "versioned_skip_read" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE (doc_id BETWEEN 120 AND 180) OR source = 'src19'
        |ORDER BY doc_id""".stripMargin,

    "versioned_diff" ->
      """SELECT doc_id + 1000 AS doc_id, 'src_new' AS source, n_chars,
        |    'insert' AS change_type
        |  FROM documents WHERE doc_id % 10 = 7
        |UNION ALL
        |SELECT doc_id, source, n_chars * 2, 'update'
        |  FROM documents WHERE doc_id % 10 = 0 AND source <> 'src19'
        |UNION ALL
        |SELECT doc_id, source, n_chars, 'delete'
        |  FROM documents WHERE source = 'src19'
        |ORDER BY doc_id, change_type""".stripMargin,

    "versioned_zorder_read" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |WHERE c_custkey <= 400 AND c_acctbal >= 5000
        |ORDER BY c_custkey""".stripMargin,

    "versioned_join_matview" ->
      """WITH l0 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 1),
        |l1 AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM l0 WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        |  FROM l0 WHERE o_orderkey % 10 = 4),
        |r1 AS (
        |  SELECT c_custkey AS o_custkey, c_nationkey,
        |    CASE WHEN c_custkey % 5 = 2 THEN 'SEG_X'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT o_orderkey, o_custkey, o_totalprice, c_nationkey,
        |  c_mktsegment
        |FROM l1 JOIN r1 USING (o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "versioned_matview" ->
      """WITH final AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 10 = 3 THEN n_chars * 3 ELSE n_chars END
        |      AS n_chars
        |  FROM documents WHERE source <> 'src7'
        |  UNION ALL
        |  SELECT 'src_new' AS source, n_chars FROM documents
        |  WHERE doc_id % 10 = 4)
        |SELECT source, COUNT(*) AS n_rows,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
        |FROM final GROUP BY source ORDER BY source""".stripMargin,

    "join_bloom_prefilter" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(month(o_orderdate) AS INT) AS o_month,
        |  COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "kll_length_quantiles" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
        |SELECT source, n, CAST(1 AS INT) AS p50_rank_ok,
        |  CAST(1 AS INT) AS p90_rank_ok, CAST(1 AS INT) AS p99_rank_ok
        |FROM per
        |UNION ALL
        |SELECT '__ALL__' AS source, CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(1 AS INT), CAST(1 AS INT), CAST(1 AS INT)
        |FROM per
        |ORDER BY source""".stripMargin,

    "hll_distinct_sources" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_rows,
        |    COUNT(DISTINCT doc_id) AS exact_distinct
        |  FROM documents GROUP BY source)
        |SELECT source, n_rows, exact_distinct,
        |  CAST(1 AS INT) AS est_within_5pct
        |FROM per
        |UNION ALL
        |SELECT '__ALL__' AS source, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |  CAST(SUM(exact_distinct) AS BIGINT) AS exact_distinct,
        |  CAST(1 AS INT) AS est_within_5pct
        |FROM per
        |ORDER BY source""".stripMargin,

    "theta_source_vocab" ->
      """WITH v AS (
        |  SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS term
        |  FROM documents),
        |n AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
        |x AS (SELECT a.source AS source_a, b.source AS source_b,
        |    COUNT(*) AS n_common
        |  FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a.source AS source_a, b.source AS source_b
        |  FROM n a JOIN n b ON a.source < b.source)
        |SELECT p.source_a, p.source_b, na.n AS n_a, nb.n AS n_b,
        |  COALESCE(x.n_common, 0) AS n_common,
        |  na.n + nb.n - COALESCE(x.n_common, 0) AS n_union,
        |  CAST(COALESCE(x.n_common, 0) AS DOUBLE)
        |    / (na.n + nb.n - COALESCE(x.n_common, 0)) AS jaccard
        |FROM pairs p
        |JOIN n na ON na.source = p.source_a
        |JOIN n nb ON nb.source = p.source_b
        |LEFT JOIN x ON x.source_a = p.source_a AND x.source_b = p.source_b
        |ORDER BY 1, 2""".stripMargin,

    "cms_token_freq" ->
      """WITH toks AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS term FROM documents),
        |probes AS (SELECT DISTINCT term FROM toks ORDER BY term LIMIT 20)
        |SELECT term, COUNT(*) AS est_cnt FROM toks
        |WHERE term IN (SELECT term FROM probes)
        |GROUP BY term ORDER BY term""".stripMargin,

    // replay of the exact-group-filter MERGE (update arm only); the
    // audit columns are the deterministic prune shape: 1 of 4 files
    // scanned AND rewritten whatever the data, because matches live in
    // exactly the low-quartile file
    "versioned_sql_merge_exact" ->
      """WITH hi AS (SELECT MAX(o_orderkey) AS h FROM orders),
        |s AS (SELECT o_orderkey AS k FROM orders
        |      WHERE o_orderkey % 2 = 0
        |        AND o_orderkey <= (SELECT h FROM hi) // 4)
        |SELECT CAST(SUM(o_orderkey % 97) AS BIGINT) AS sum_a,
        |  CAST(SUM(CASE WHEN o_orderkey IN (SELECT k FROM s)
        |    THEN o_custkey + 777 ELSE o_custkey END) AS BIGINT) AS sum_c,
        |  COUNT(*) AS n,
        |  1 AS scanned_files, 1 AS rewritten_files, 4 AS table_files
        |FROM orders""".stripMargin,

    // content identity after CLUSTER BY insert + defaulted z-order:
    // layout changes, values don't
    "versioned_sql_cluster_by" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(o_orderkey % 101) AS BIGINT) AS sum_x,
        |  CAST(SUM(o_orderkey % 89) AS BIGINT) AS sum_y,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_c,
        |  (SELECT CAST(SUM(o_custkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey % 101 < 25 AND o_orderkey % 89 < 22)
        |    AS quadrant_c
        |FROM orders""".stripMargin,

    // RECOMPUTE of the merge+insert the change feed replayed
    // incrementally: matched low-quartile evens update (k % 6 = 0
    // deletes), one appended row inserts — incremental == recompute
    "versioned_change_feed" ->
      """WITH hi AS (SELECT MAX(o_orderkey) AS h FROM orders),
        |s AS (SELECT o_orderkey AS k, o_custkey + 777 AS c2 FROM orders
        |      WHERE o_orderkey % 2 = 0
        |        AND o_orderkey <= (SELECT h FROM hi) // 4),
        |merged AS (
        |  SELECT t.o_orderkey AS k,
        |    CASE WHEN s.k IS NOT NULL THEN s.c2
        |         ELSE t.o_custkey END AS c
        |  FROM orders t LEFT JOIN s ON s.k = t.o_orderkey
        |  WHERE NOT (s.k IS NOT NULL AND t.o_orderkey % 6 = 0)
        |  UNION ALL
        |  SELECT (SELECT h FROM hi) + 7, 42)
        |SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(c) AS BIGINT) AS sum_c,
        |  CAST(1 AS BIGINT) AS n_insert,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s
        |   WHERE k % 6 <> 0) AS n_update,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s
        |   WHERE k % 6 = 0) AS n_delete
        |FROM merged""".stripMargin,

    // identical recompute to versioned_change_feed: the RECORDED diff
    // must match what the join derives, which must match the oracle's
    // from-scratch merge replay
    "versioned_change_log" ->
      """WITH hi AS (SELECT MAX(o_orderkey) AS h FROM orders),
        |s AS (SELECT o_orderkey AS k, o_custkey + 777 AS c2 FROM orders
        |      WHERE o_orderkey % 2 = 0
        |        AND o_orderkey <= (SELECT h FROM hi) // 4),
        |merged AS (
        |  SELECT t.o_orderkey AS k,
        |    CASE WHEN s.k IS NOT NULL THEN s.c2
        |         ELSE t.o_custkey END AS c
        |  FROM orders t LEFT JOIN s ON s.k = t.o_orderkey
        |  WHERE NOT (s.k IS NOT NULL AND t.o_orderkey % 6 = 0)
        |  UNION ALL
        |  SELECT (SELECT h FROM hi) + 7, 42)
        |SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(c) AS BIGINT) AS sum_c,
        |  CAST(1 AS BIGINT) AS n_insert,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s
        |   WHERE k % 6 <> 0) AS n_update,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s
        |   WHERE k % 6 = 0) AS n_delete
        |FROM merged""".stripMargin,

    // after widening: all orders plus the 2^40 row
    "versioned_sql_widen" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(c) AS BIGINT) AS sum_c,
        |  MAX(k) AS max_k
        |FROM (
        |  SELECT o_orderkey AS k, o_custkey AS c FROM orders
        |  UNION ALL SELECT 1099511627776, 42) u""".stripMargin
  )
}
