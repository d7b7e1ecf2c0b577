package graft.queries

import graft.Tables
import graft.streaming.EventsPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Oracle-gated Structured-Streaming queries (SURVEY.md §2.10).
  *
  * The streaming surface was previously spec-only (StreamingSpec drives
  * MemoryStream micro-batches); these entries put the SAME pipeline
  * functions through the driver's DuckDB gate by running them as real
  * `readStream -> writeStream` jobs over the events fixture:
  *
  *  - the source is the genuine file stream source (`readStream.parquet`),
  *    `Trigger.AvailableNow` draining all files in one micro-batch so the
  *    bounded run is deterministic (no cross-batch watermark drops — a
  *    batch's rows are judged against the PREVIOUS batch's watermark,
  *    which is epoch on batch one);
  *  - the sink is a real streaming sink (parquet file sink for append,
  *    foreachBatch batch-write for complete/update — the modes the file
  *    sink cannot take), never the driver-side memory sink, so the data
  *    path stays distributed end-to-end;
  *  - the result read back from the sink must hash-match the plain batch
  *    SQL the oracle runs — streaming-vs-batch parity, Spark's unified-API
  *    promise, checked row-exact by the driver.
  *
  * Scale posture: state stores hold only window/dedup/join state (bounded
  * by watermark horizon x key cardinality), sinks write one file per
  * partition task; nothing round-trips through the driver.
  */
object StreamOps {
  type Q = (SparkSession, String) => DataFrame

  /** The events fixture as a file-source stream: same rows Tables.events
    * serves in batch, arriving through the streaming scan. The stream
    * must declare the file's RAW footer schema (ts may be a physical
    * timestamp); the nanos-long normalization then applies on top,
    * exactly as in the batch loader. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val reader = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1000000) // one AvailableNow batch
    val path = new java.io.File(d, "events.parquet")
    val raw =
      if (path.isDirectory) reader.parquet(path.toString)
      else
        // the fixture is a bare file; FileStreamSource needs a directory
        // path (it forces basePath = the source path), so stream the dir
        // filtered down to the one table's file
        reader.option("pathGlobFilter", "events.parquet").parquet(d)
    Tables.normalizeEventTs(raw)
  }

  /** Run a streaming frame to a fresh parquet target and read the result
    * back. Append rides the native file sink; complete/update ride
    * foreachBatch (overwrite resp. append semantics), the file-sink
    * analogue for the modes it cannot accept. */
  private def runStream(s: SparkSession, out: DataFrame, name: String,
      d: String, mode: String): DataFrame = {
    val base = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-stream/$name-${new java.io.File(d).getName}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    if (base.exists) rm(base)
    val data = new java.io.File(base, "data").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    // Stateful streaming cost scales with state-store instances =
    // shuffle partitions (a stream-stream join keeps FOUR stores per
    // partition, each check-pointed every micro-batch): cap the
    // streaming job's parallelism so a bounded gate run isn't dominated
    // by empty-store checkpoint IO. Restored after the run — batch
    // queries keep the session's setting. At production scale this knob
    // is sized to state volume, not fixed.
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = s.conf.get(partsKey)
    s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
    val q = try mode match {
      case "append" =>
        out.writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", data).start()
      case "complete" =>
        out.writeStream.outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch((df: DataFrame, _: Long) =>
            df.write.mode("overwrite").parquet(data))
          .start()
      case "update" =>
        out.writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch((df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(data))
          .start()
    } finally s.conf.set(partsKey, prevParts)
    q.awaitTermination()
    // a long-lived session (the 255-query bench JVM) otherwise
    // accumulates every terminated StreamingQuery — plans, progress,
    // state references — in the StreamingQueryManager; ~100 of them
    // turn GC pressure into a 5-10x slowdown of the streaming family
    // (measured: stream_interval_join 3.5 s isolated vs 33 s at the
    // end of a full bench run before this line)
    s.streams.resetTerminated()
    s.read.parquet(data)
  }

  val defs: Map[String, Q] = Map(
    // native bounded-heap top-k INSIDE a streaming aggregation: the
    // TypedImperativeAggregate's serialize/merge runs through the state
    // store across micro-batches (partial heaps merge exactly like the
    // batch map-side combine), so per-window top-k needs no rank window
    // and no second aggregation — the state per (window, type) group is
    // k entries, not the row history. Complete-mode AvailableNow run
    // equals batch semantics -> fully oracle-checked
    "stream_topk_events" -> ((s, d) => {
      val agg = EventsPipeline.withEventTime(eventsStream(s, d))
        .filter(col("value").isNotNull)
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(graft.functions.TopKBy.topk_by(col("value").cast("double"),
          col("event_id").cast("long"), 3).as("top"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("window_us"), col("event_type"),
          (col("pos") + 1).cast("long").as("rn"),
          col("e.id").as("event_id"), col("e.score").as("value"))
      runStream(s, agg, "topk", d, "complete")
        .orderBy(col("window_us"), col("event_type"), col("rn"))
    }),

    // mergeable HLL sketch in streaming state: per-window distinct-user
    // estimates where the state per group is one sketch, not the user
    // set — the cardinality path that still works when a window sees
    // millions of distinct keys. Estimate values are engine-specific ->
    // rows-only gate; StreamingSpec pins exact batch parity
    // streaming HLL distinct users per hourly window, FULLY oracle-
    // checked via the error-bound contract (round-7 conversion, same
    // shape as hll_distinct_sources): the streamed sketch estimate is
    // engine-specific, so the gate joins it to the batch-exact distinct
    // per window and emits exact counts + an integer flag that the
    // estimate landed within 5% (3x the lgK=12 rsd) — the bound is the
    // cross-engine guarantee, checked as a constant
    "stream_hll_users" -> ((s, d) => {
      val agg = EventsPipeline.withEventTime(eventsStream(s, d))
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("__est"),
          count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("__est"), col("n_events"))
      val streamed = runStream(s, agg, "hllu", d, "complete")
      val exact = Tables.events(s, d)
        .select(expr("((ts div 1000) div 3600000000) * 3600000000")
            .as("window_us"),
          col("event_type"), col("user_id"))
        .groupBy(col("window_us"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      streamed.join(exact, Seq("window_us", "event_type"))
        .select(col("window_us"), col("event_type"), col("n_events"),
          col("exact_users"),
          (abs(col("__est") - col("exact_users")) * 100 <=
            col("exact_users") * 5).cast("int").as("est_within_5pct"))
        .orderBy(col("window_us"), col("event_type"))
    }),

    // Watermarked tumbling-window aggregation, complete mode: hourly
    // counts + exact decimal sums per event type. Must equal the batch
    // GROUP BY date_trunc('hour') the oracle runs.
    // streaming distribution monitor: the hourly value histogram joined
    // (stream-static, stateless, post-agg) to the batch-derived
    // expected-per-window baseline — drift = n - expected, integral end
    // to end. One stateful op (the windowed agg); the baseline
    // broadcast-joins on bucket
    "stream_value_histogram" -> ((s, d) => {
      val HourNs = 3600000000000L
      val ev = Tables.events(s, d)
      val nWindows = ev.select(countDistinct(expr(s"ts div ${HourNs}L"))
        .as("nw"))
      val baseline = ev
        .select(floor(col("value") / 25.0).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("total"))
        .crossJoin(broadcast(nWindows))
        .select(col("bucket"), expr("total div nw").as("expected"))
      val agg = EventsPipeline.withEventTime(eventsStream(s, d))
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"),
          floor(col("value") / 25.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("bucket"), col("n"))
        .join(broadcast(baseline), "bucket")
        .select(col("window_us"), col("bucket"), col("n"),
          col("expected"), (col("n") - col("expected")).as("drift"))
      runStream(s, agg, "valuehist", d, "complete")
        .orderBy(col("window_us"), col("bucket"))
    }),

    // Streaming model-calibration monitor: per-DAY reliability bins of
    // a [0,1] probability score (value/100) against the purchase label
    // — the production drift loop for a deployed scorer, with the same
    // exact decimal bin edges as the batch ml_calibration_bins. State
    // is bounded by days x 10 bins; conf/acc/gap are fixed IEEE dags
    // over exact window sums, so streaming-vs-batch parity is row- and
    // bit-exact.
    "stream_ml_calibration" -> ((s, d) => {
      val agg = EventsPipeline.withEventTime(eventsStream(s, d))
        .withWatermark("event_time", "10 minutes")
        .where(col("value").isNotNull)
        .withColumn("__s", (col("value") / lit(100.0d))
          .cast("decimal(12,4)"))
        .where(col("__s") >= 0 && col("__s") <= 1)
        .withColumn("bin",
          least(lit(9), floor(col("__s") * 10).cast("int")))
        .withColumn("y",
          when(col("event_type") === "purchase", 1L).otherwise(0L))
        .groupBy(window(col("event_time"), "1 day"), col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("__s")).as("ss"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("bin"), col("n"), col("n_pos"),
          (col("ss").cast("double") / col("n")).as("conf"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("acc"))
        .withColumn("gap", abs(col("conf") - col("acc")))
      runStream(s, agg, "mlcalib", d, "complete")
        .orderBy(col("window_us"), col("bin"))
    }),

    // the Aho-Corasick blocklist expression under Structured Streaming:
    // the automaton is plan-resident state (no broadcast, no UDF), the
    // per-event hit vector explodes statelessly, and only the windowed
    // counts are stateful — blocklist monitoring of an ingest stream.
    // Complete-mode AvailableNow equals batch -> fully oracle-checked
    "stream_blocklist_hits" -> ((s, d) => {
      import graft.functions.AhoCorasickFunctions.multi_pattern_counts
      val pats = Seq("\"k\": 1", "\"k\": 2", "7}")
      val agg = EventsPipeline.withEventTime(eventsStream(s, d))
        .withWatermark("event_time", "10 minutes")
        .select(col("event_time"),
          posexplode(multi_pattern_counts(col("props"), pats))
            .as(Seq("pi", "cnt")))
        .filter(col("cnt") > 0)
        .groupBy(window(col("event_time"), "1 hour"), col("pi"))
        .agg(count(lit(1)).as("n_events"), sum(col("cnt")).as("n_hits"))
        .select(unix_micros(col("window.start")).as("window_us"),
          element_at(typedLit(pats), col("pi") + 1).as("pattern"),
          col("n_events"), col("n_hits"))
      runStream(s, agg, "blocklist", d, "complete")
        .orderBy(col("window_us"), col("pattern"))
    }),

    "stream_tumbling_counts" -> ((s, d) => {
      val agg = EventsPipeline.withEventTime(eventsStream(s, d))
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,4)")).as("sum_dec"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"),
          col("sum_dec").cast("double").as("sum_value"))
      runStream(s, agg, "tumbling", d, "complete")
        .orderBy(col("window_us"), col("event_type"))
    }),

    // Streaming -> versioned lake, exactly-once end to end: the
    // watermark-finalized hourly windows (append mode) flow through
    // foreachBatch -> VersionedTable.appendBatch, which records the
    // micro-batch id in the manifest and SKIPS an id some committed
    // manifest already carries — each batch body also RE-DELIVERS
    // itself once on purpose (the at-least-once retry foreachBatch
    // allows) and asserts the replay lands as a no-op. The lake
    // read-back must equal the batch aggregation filtered to windows
    // the final watermark closed: a duplicated batch, a lost window,
    // or a stats/manifest race all break the exact compare.
    "stream_lake_sink" -> ((s, d) => {
      val base = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-stream/lakesink-${new java.io.File(d).getName}")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      if (base.exists) rm(base)
      val root = new java.io.File(base, "lake").toString
      val agg = EventsPipeline.withEventTime(eventsStream(s, d))
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,4)")).as("sum_dec"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"),
          col("sum_dec").cast("double").as("sum_value"))
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = s.conf.get(partsKey)
      s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
      val q = try agg.writeStream.outputMode("append")
          .option("checkpointLocation",
            new java.io.File(base, "ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.sinks.VersionedTable.appendBatch(b, root, id)
            // the at-least-once redelivery, replayed deliberately:
            // the same batch id must be skipped, never re-appended
            require(graft.sinks.VersionedTable.appendBatch(b, root, id)
              .isEmpty, s"batch $id re-delivery was not idempotent")
            ()
          }.start()
        finally s.conf.set(partsKey, prevParts)
      q.awaitTermination()
      s.streams.resetTerminated()
      graft.sinks.VersionedTable.read(s, root)
        .orderBy(col("window_us"), col("event_type"))
    }),

    // the production ingest loop end-to-end: stream -> content-dedup
    // against a PERSISTENT hash index (exactKeepIncremental: only the
    // hash-only index is ever re-read, never the historical corpus) ->
    // exactly-once versioned-lake append -> head read. Survivors are
    // min-id-per-content, so the whole path is oracle-exact; the
    // replayed delivery inside foreachBatch asserts idempotence of BOTH
    // stages (the index drops everything already seen, the lake skips
    // the committed batch id)
    "stream_dedup_ingest" -> ((s, d) => {
      val base = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-stream/dedupingest-${new java.io.File(d).getName}")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      if (base.exists) rm(base)
      val root = new java.io.File(base, "lake").toString
      val idx = new java.io.File(base, "index").toString
      val src = eventsStream(s, d)
        .select(col("event_id"), col("event_type"),
          concat_ws("|", col("event_type"),
            coalesce(col("props"), lit("ø"))).as("content"))
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = s.conf.get(partsKey)
      s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
      val q = try src.writeStream.outputMode("append")
          .option("checkpointLocation",
            new java.io.File(base, "ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            // SINK-FIRST ordering: stage survivors (index untouched),
            // commit the lake, THEN record the hashes — index-first has
            // a crash window where the redelivered batch dedups itself
            // away against the half-committed index and its rows are
            // lost forever (sink-first is safe in both crash positions)
            val staged = graft.operators.Dedup
              .exactKeepStage(b, "event_id", "content", idx)
            graft.sinks.VersionedTable.appendBatch(
              staged.select(col("event_id"), col("event_type")), root, id)
            graft.operators.Dedup.exactKeepCommit(staged, idx)
            // deliberate at-least-once replay: the index now knows every
            // hash, so the replayed batch must fully dedup away — and
            // the lake must skip the committed batch id either way
            val replay = graft.operators.Dedup
              .exactKeepStage(b, "event_id", "content", idx)
            require(replay.isEmpty,
              s"index replay of batch $id was not idempotent")
            require(graft.sinks.VersionedTable.appendBatch(
              staged.select(col("event_id"), col("event_type")),
              root, id).isEmpty,
              s"lake re-delivery of batch $id was not idempotent")
            ()
          }.start()
        finally s.conf.set(partsKey, prevParts)
      q.awaitTermination()
      s.streams.resetTerminated()
      graft.sinks.VersionedTable.read(s, root)
        .orderBy(col("event_id"))
    }),

    // Streaming dropDuplicates keyed (user_id, event_type): the deduped
    // append stream, re-aggregated in batch, must equal COUNT(DISTINCT
    // user_id) per type — any duplicate leaked or first-occurrence lost
    // by the state store breaks the count.
    // per-user ingest quota AT INGEST: the first 20 events per user (in
    // event-time order) pass, the rest drop in keyed streaming state —
    // the admitted SET itself is gated against the batch
    // row_number <= 20 cut, so a leak or a lost admit breaks the hash
    "stream_quota_cap" -> ((s, d) => {
      val admitted = EventsPipeline.statefulQuotaCap(s,
        eventsStream(s, d), cap = 20L)
      runStream(s, admitted, "quota", d, "append")
        .orderBy(col("user_id"), col("us"), col("event_id"))
    }),

    // streaming SCD2 dimension maintenance: two micro-batches (snapshot,
    // then a change set with value edits, no-op rows, and new keys)
    // drive Scd2.streamingSink's foreachBatch into the versioned lake;
    // the final dimension must equal the batch SCD2 result exactly —
    // history rows closed at version 2, unchanged rows untouched (the
    // null-safe no-op compare), inserts opened at version 2
    "stream_scd2_sink" -> ((s, d) => {
      val base = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-stream/scd2sink-${new java.io.File(d).getName}")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      if (base.exists) rm(base)
      val srcDir = new java.io.File(base, "changes")
      srcDir.mkdirs()
      val root = new java.io.File(base, "dim").toString
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
      val k = col("s_suppkey")
      val b2 = sup.filter(k % 7 === 0 || k % 5 === 0)
        .withColumn("s_acctbal",
          when(k % 7 === 0, col("s_acctbal") + 100.0)
            .otherwise(col("s_acctbal")))
        .unionByName(sup.filter(k % 11 === 0)
          .withColumn("s_suppkey", k + 10000))
      // stage each change batch as ONE file with an increasing mod time
      // (FileStreamSource orders by mod time, maxFilesPerTrigger=1 ->
      // one micro-batch per staged file)
      def stage(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = new java.io.File(base, s"stage-$name").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // micro-batch ORDER rides on mtime (FileStreamSource sorts by
        // timestamp): a filesystem that ignores the update returns
        // false and would silently reorder batches — fail loud instead
        require(dst.setLastModified(mtime),
          s"setLastModified($mtime) failed for $dst")
        ()
      }
      val t0 = System.currentTimeMillis() - 120000L
      stage(sup, "b1", t0)
      stage(b2, "b2", t0 + 60000L)
      val changes = s.readStream.schema(sup.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = s.conf.get(partsKey)
      s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
      val q = try graft.operators.Scd2
          .streamingSink(changes, root, Seq("s_suppkey"))
          .option("checkpointLocation",
            new java.io.File(base, "ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        finally s.conf.set(partsKey, prevParts)
      q.awaitTermination()
      s.streams.resetTerminated()
      graft.sinks.VersionedTable.read(s, root)
        .orderBy(col("s_suppkey"), col("effective_from"))
    }),

    // late-data accounting end to end: the corpus replays as THREE
    // ordered micro-batches (1/2, 1/4, 1/4 by event_id % 4 — seeds,
    // watermark-advancer, late tail). Spark semantics (pinned at the
    // boundary by StreamingSpec "late rows beyond the watermark are
    // dropped"): the watermark batch N runs under is
    // computed at batch N-1's close (max event time - delay); windows
    // whose end <= that watermark were EVICTED at batch close, so a
    // batch-2 row into such a window DROPS (numRowsDroppedByWatermark)
    // while a late row into a still-live window still aggregates.
    // Append mode emits exactly the windows the FINAL watermark closed.
    // The gate emits those finalized hourly counts plus the engine's
    // own dropped-row metric; the oracle replays batch-split watermark
    // arithmetic, the drop rule, and the finalization cut.
    "stream_late_data" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("latedata")
        .toFile
      val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
      val ev = EventsPipeline.withEventTime(Tables.events(s, d))
        .select(col("event_id"), col("event_time"), col("event_type"))
      def stage(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = new java.io.File(base, s"stage-$name").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // micro-batch ORDER rides on mtime (FileStreamSource sorts by
        // timestamp): a filesystem that ignores the update returns
        // false and would silently reorder batches — fail loud instead
        require(dst.setLastModified(mtime),
          s"setLastModified($mtime) failed for $dst")
        ()
      }
      val t0 = System.currentTimeMillis() - 120000L
      // three batches: b1 seeds states and the max event time; b2 runs
      // under wm = max(b1) - 10min and EVICTS closed windows at its
      // close; b3's rows into those evicted windows drop
      stage(ev.filter(col("event_id") % 4 === 1 ||
        col("event_id") % 4 === 2), "b1", t0)
      stage(ev.filter(col("event_id") % 4 === 3), "b2", t0 + 40000L)
      stage(ev.filter(col("event_id") % 4 === 0), "b3", t0 + 80000L)
      val stream = s.readStream
        .schema("event_id BIGINT, event_time TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      val agg = stream.withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"))
      val out = new java.io.File(base, "out").toString
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = s.conf.get(partsKey)
      s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
      val q = try agg.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation",
            new java.io.File(base, "ckpt").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        finally s.conf.set(partsKey, prevParts)
      q.awaitTermination()
      s.streams.resetTerminated()
      val metricDropped = q.recentProgress.map(p =>
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      // the TRUE dropped count from the same replay arithmetic the
      // oracle runs (batch side): b3 rows whose hourly window closed
      // under wm = max(b1 event time) - 10min. The engine's
      // numRowsDroppedByWatermark METRIC undercounts (drops at the
      // restore operator go unreported), so the gate emits the exact
      // count plus a bound flag on the metric: reported drops must be
      // positive and <= the true count — the cross-engine contract.
      val wma = ev.filter(col("event_id") % 4 === 1 ||
          col("event_id") % 4 === 2)
        .agg(max(unix_micros(col("event_time")))).head().getLong(0) -
        600000000L
      val trueDropped = ev.filter(col("event_id") % 4 === 0 &&
          unix_micros(date_trunc("hour", col("event_time"))) +
            3600000000L <= wma)
        .count()
      val metricOk =
        if (metricDropped > 0 && metricDropped <= trueDropped) 1L else 0L
      s.read.parquet(out)
        .withColumn("late_dropped_total", lit(trueDropped))
        .withColumn("drop_metric_within_bound", lit(metricOk))
        .orderBy(col("window_us"), col("event_type"))
    }),

    // round-8 item 2: the LAKE as the streaming source — three
    // TIME-ORDERED commits replay as ordered micro-batches
    // (maxVersionsPerTrigger=1, offsets = commit versions) into a
    // watermarked hourly window aggregate. Time-ordered commits mean
    // ZERO late rows (each batch's minimum event time exceeds the
    // watermark the previous batch set), so append mode's output is
    // exactly the windows the FINAL watermark closed — batch-split
    // independent and fully SQL-replayable.
    "stream_lake_source" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val base = java.nio.file.Files.createTempDirectory("lakesrc")
        .toFile
      val root = new java.io.File(base, "lake").toString
      val ev = EventsPipeline.withEventTime(Tables.events(s, d))
        .select(col("event_id"), col("event_time"), col("event_type"))
      val mm = ev.agg(min(unix_micros(col("event_time"))),
        max(unix_micros(col("event_time")))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val c1 = lo + (hi - lo) / 3
      val c2 = lo + 2 * ((hi - lo) / 3)
      val us = unix_micros(col("event_time"))
      VersionedTable.append(ev.filter(us < c1), root)
      VersionedTable.append(ev.filter(us >= c1 && us < c2), root)
      VersionedTable.append(ev.filter(us >= c2), root)
      val stream = s.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(root)
      val agg = stream.withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"))
      val out = new java.io.File(base, "out").toString
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = s.conf.get(partsKey)
      s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
      val q = try agg.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation",
            new java.io.File(base, "ckpt").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        finally s.conf.set(partsKey, prevParts)
      q.awaitTermination()
      s.streams.resetTerminated()
      // the pacing contract is part of the gate: three commits at one
      // version per trigger must land as three data-carrying batches
      require(q.recentProgress.count(_.numInputRows > 0) == 3,
        "expected 3 paced micro-batches (one per lake commit)")
      val result = s.read.parquet(out)
        .orderBy(col("window_us"), col("event_type"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    // the full lake-to-lake streaming pipeline behind format names:
    // lake A replays as version-paced micro-batches through
    // readStream.format("graft"), a stateless transform runs in-stream,
    // and writeStream.format("graft") commits each micro-batch
    // exactly-once into lake B (batch ids in the manifests — asserted:
    // one commit per batch). Batch-split independent by construction
    // (stateless transform), so the oracle is a plain batch replay.
    "stream_lake_pipeline" -> ((s, d) => {
      import graft.sinks.VersionedTable
      val base = java.nio.file.Files.createTempDirectory("lakepipe")
        .toFile
      val src = new java.io.File(base, "src").toString
      val dst = new java.io.File(base, "dst").toString
      val ev = EventsPipeline.withEventTime(Tables.events(s, d))
        .select(col("event_id"), col("event_time"), col("event_type"),
          col("value"))
      val mm = ev.agg(min(unix_micros(col("event_time"))),
        max(unix_micros(col("event_time")))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val c1 = lo + (hi - lo) / 3
      val c2 = lo + 2 * ((hi - lo) / 3)
      val us = unix_micros(col("event_time"))
      VersionedTable.append(ev.filter(us < c1), src)
      VersionedTable.append(ev.filter(us >= c1 && us < c2), src)
      VersionedTable.append(ev.filter(us >= c2), src)
      val stream = s.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(src)
        .filter(col("event_type") =!= "view")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("value_cents"))
      val q = stream.writeStream.format("graft")
        .option("checkpointLocation",
          new java.io.File(base, "ckpt").toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination()
      s.streams.resetTerminated()
      // exactly-once shape: one lake commit per micro-batch, batch ids
      // recorded — a paced 3-commit source must land as 3 commits
      require(VersionedTable.versions(s, dst).size == 3,
        "expected one dst lake commit per paced micro-batch")
      val result = VersionedTable.read(s, dst)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_cents")).as("sum_cents"),
          min(col("event_id")).as("min_eid"),
          max(col("event_id")).as("max_eid"))
        .orderBy(col("event_type"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      val schema = result.schema
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.createDataFrame(rows, schema)
    }),

    "stream_dedup_users" -> ((s, d) => {
      val deduped = EventsPipeline.dedupStream(eventsStream(s, d),
        Seq("user_id", "event_type"))
      runStream(s, deduped, "dedup", d, "append")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // mapGroupsWithState running per-user totals, update mode: the final
    // emitted state per user must equal the batch per-user COUNT(*).
    // (Only the count column is gated: the state's double sum is
    // accumulation-order-dependent; StreamingSpec pins it.)
    // in-stream Markov surprisal scoring: the batch-fitted transition
    // model broadcasts into per-user keyed state; emitted totals must
    // equal the batch scorer's bit-for-bit (fixed-point arithmetic) —
    // model-based sequence anomaly detection AT INGEST, fully
    // oracle-checked per user
    "stream_sequence_anomaly" -> ((s, d) => {
      val batch = Tables.events(s, d).select(col("user_id"),
        col("event_id"), col("event_type"), expr("ts div 1000").as("us"))
      val model = graft.operators.SequenceModel
        .transitionModel(batch, col("user_id"), col("us"),
          col("event_id"), col("event_type"))
        .collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
        .toMap
      val scored = EventsPipeline.statefulSequenceScore(s,
        eventsStream(s, d), model)
      runStream(s, scored, "seqscore", d, "update")
        .select(col("user_id"), col("n_trans"), col("surprise_fp"),
          expr("surprise_fp div n_trans").as("avg_surprise_fp"))
        .orderBy(col("user_id"))
    }),

    "stream_stateful_user_counts" -> ((s, d) => {
      val totals = EventsPipeline.statefulUserTotals(s, eventsStream(s, d))
      runStream(s, totals, "stateful", d, "update")
        .select(col("user_id"), col("n_events"))
        .orderBy(col("user_id"))
    }),

    // The same per-user totals through Spark 4's transformWithState
    // (StatefulProcessor + named ValueState on the RocksDB store) — the
    // successor stateful API gated against the same batch COUNT(*).
    "stream_tws_user_counts" -> ((s, d) => {
      val confKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(confKey)
      s.conf.set(confKey, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      try {
        val totals =
          EventsPipeline.statefulUserTotalsTws(s, eventsStream(s, d))
        runStream(s, totals, "tws", d, "update")
          .select(col("user_id"), col("n_events"))
          .orderBy(col("user_id"))
      } finally prev match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
    }),

    // Streaming funnel: the per-user stage state machine
    // (flatMapGroupsWithState, bounded state = one timestamp per
    // completed stage) emits stage completions in real time; the
    // emitted set re-aggregated must equal the batch cascade's stage
    // counts — the unified-API claim for the funnel operator family.
    "stream_funnel" -> ((s, d) => {
      val emitted = EventsPipeline.statefulFunnel(s, eventsStream(s, d),
        Seq("view", "click", "purchase"), 7L * 86400000000L)
      runStream(s, emitted, "funnel", d, "append")
        .groupBy(col("stage_idx"))
        .agg(count(lit(1)).as("n_entities"))
        .orderBy(col("stage_idx"))
    }),

    // Streaming Markov transitions: one (last-event) triple of state per
    // user; the emitted edge multiset re-aggregated must equal the batch
    // lag window's transition counts (events_transitions' own oracle).
    "stream_transitions" -> ((s, d) => {
      val tr = EventsPipeline.statefulTransitions(s, eventsStream(s, d))
      runStream(s, tr, "transitions", d, "append")
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Streaming drift observability: per-day value histograms built by
    // a real watermarked streaming aggregation, then PSI-scored in
    // batch against the static whole-history baseline with the exact
    // fixed-point log — the ML-monitoring loop (watch a live feature's
    // distribution walk away from its training profile) with zero float
    // in the gate. Buckets divide by 64 (a power of two), so the float
    // floor is IEEE-exact cross-engine; per-(window, bucket) psi_num /
    // denom integer fractions as in profile_psi_drift.
    "stream_psi_drift" -> ((s, d) => {
      import graft.functions.FixedLogFunctions.log2_fp
      val binned = EventsPipeline.withEventTime(eventsStream(s, d))
        .filter(col("value").isNotNull)
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 day"),
          least(lit(7L), floor(col("value") / 64.0).cast("long"))
            .as("bucket"))
        .agg(count(lit(1)).as("c_cur"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("bucket"), col("c_cur"))
      val hist = runStream(s, binned, "psi", d, "complete")
      // batch post-processing over the WINDOW-COUNT table (bounded by
      // |windows| x 8): spine, baseline, exact fixed-point scoring
      val base = Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy(least(lit(7L), floor(col("value") / 64.0).cast("long"))
          .as("bucket"))
        .agg(count(lit(1)).as("c_base"))
      val spine = hist.select(col("window_us")).distinct()
        .crossJoin(s.range(8).select(col("id").as("bucket")))
        .join(hist, Seq("window_us", "bucket"), "left")
        .join(base, Seq("bucket"), "left")
        .select(col("window_us"), col("bucket"),
          coalesce(col("c_base"), lit(0L)).as("c_base"),
          coalesce(col("c_cur"), lit(0L)).as("c_cur"))
      val tw = spine.groupBy(col("window_us"))
        .agg((sum(col("c_cur")) + 8).as("__tw"))
      val rtot = base.agg((sum(col("c_base")) + 8).as("__r"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      spine.join(broadcast(tw), "window_us").crossJoin(broadcast(rtot))
        .withColumn("lr_fp",
          log2_fp(col("c_cur") + 1) + log2_fp(col("__r")) -
            log2_fp(col("c_base") + 1) - log2_fp(col("__tw")))
        .select(col("window_us"), col("bucket"), col("c_base"),
          col("c_cur"), col("lr_fp"),
          ((dec(col("c_cur") + 1) * dec(col("__r")) -
            dec(col("c_base") + 1) * dec(col("__tw"))) *
            dec(col("lr_fp"))).cast("long").as("psi_num"),
          (dec(col("__tw")) * dec(col("__r")) * dec(lit(1L << 20)))
            .cast("long").as("denom"))
        .orderBy(col("window_us"), col("bucket"))
    }),

    // Session windows (30-min gap) in APPEND mode — the strictest
    // emission semantics: a session is released only once the watermark
    // (max event time - 10 min) proves it closed, so the gate pins BOTH
    // the gap-merge logic and the append-mode finalization rule. The
    // oracle recomputes sessions via gaps-and-islands SQL and applies
    // the same session_end <= final-watermark emission filter.
    "stream_session_windows" -> ((s, d) => {
      val sess = EventsPipeline.sessionWindows(eventsStream(s, d))
      runStream(s, sess, "session", d, "append")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start_us"))
    }),

    // Streaming -> live JDBC, the two round-5 pillars composed end-to-
    // end: a watermarked hourly aggregation in UPDATE mode flows through
    // foreachBatch -> ResilientBatchWriter (Tx mode) -> JdbcUpsertRowSink
    // into a keyed Derby table. foreachBatch is at-least-once;
    // replace-by-key is idempotent, so the composition is exactly-once
    // per key — the table read back over a split JDBC scan must equal
    // the plain batch aggregation. Any duplicate emission, lost window,
    // or non-atomic delete+insert breaks the exact compare.
    "stream_jdbc_sink" -> ((s, d) => {
      import graft.sources._
      JdbcLive.ensureDerbyRegistered()
      val url =
        s"jdbc:derby:memory:graft_ss_${Integer.toHexString(d.hashCode)};create=true"
      val t = TableId(name = "hourly_counts")
      val agg = EventsPipeline.withEventTime(eventsStream(s, d))
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,4)")).as("sum_dec"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"),
          col("sum_dec").cast("double").as("sum_value"))
      val keys = Seq("window_us", "event_type")
      // hoisted: the sink factory must capture the schema VALUE, not the
      // streaming Dataset (a captured Dataset fails task serialization)
      val sinkSchema = agg.schema
      JdbcLive.dropTableIfExists(url, DerbyStyle, t)
      JdbcLive.createTable(url, DerbyStyle, t, sinkSchema, primaryKey = keys)
      val base = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-stream/jdbcsink-${new java.io.File(d).getName}")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      if (base.exists) rm(base)
      val dlq = new java.io.File(base, "dlq").toString
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = s.conf.get(partsKey)
      s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
      val q = try EventsPipeline.resilientSink(agg,
          WriterConfig(table = t, batchSize = 200,
            execMode = graft.sinks.ExecMode.Tx),
          graft.sinks.RetryJudge.forDialect(DerbyStyle.name),
          _ => new JdbcUpsertRowSink(url, DerbyStyle, t, sinkSchema, keys),
          dlq)
        .option("checkpointLocation", new java.io.File(base, "ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      finally s.conf.set(partsKey, prevParts)
      q.awaitTermination()
      require(!new java.io.File(dlq).exists, "JDBC stream sink quarantined rows")
      JdbcLive.read(s, url, ReaderConfig(table = t,
          split = SplitConfig(key = "window_us"), numPartitions = 4),
          DerbyStyle)
        .orderBy(col("window_us"), col("event_type"))
    }),

    // Exactly-once APPEND into live JDBC via the transactional commit
    // ledger: the deduped event stream (no natural replace key at the
    // sink — it's an append of fact rows) lands in Derby through
    // JdbcLedgerSink, whose (epoch, partition) ledger row commits
    // atomically with each partition's data. The table read back and
    // re-aggregated must equal the batch COUNT(DISTINCT) — any dropped
    // partition, duplicated delivery, or partial commit breaks it.
    "stream_jdbc_ledger" -> ((s, d) => {
      import graft.sources._
      JdbcLive.ensureDerbyRegistered()
      val url =
        s"jdbc:derby:memory:graft_sl_${Integer.toHexString(d.hashCode)};create=true"
      val t = TableId(name = "dedup_events")
      val lt = TableId(name = "dedup_events_ledger")
      val deduped = EventsPipeline.dedupStream(eventsStream(s, d),
          Seq("user_id", "event_type"))
        .select(col("event_id"), col("user_id"), col("event_type"))
      val sinkSchema = deduped.schema
      JdbcLive.dropTableIfExists(url, DerbyStyle, t)
      JdbcLive.dropTableIfExists(url, DerbyStyle, lt)
      JdbcLive.createTable(url, DerbyStyle, t, sinkSchema)
      JdbcLedgerSink.createLedger(url, DerbyStyle, lt)
      val base = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-stream/jdbcledger-${new java.io.File(d).getName}")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      if (base.exists) rm(base)
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = s.conf.get(partsKey)
      s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
      val q = try deduped.writeStream.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
              batchId: Long) =>
            val dlq = graft.sinks.ResilientBatchWriter.write(batch,
              WriterConfig(table = t, batchSize = 500),
              graft.sinks.RetryJudge.forDialect(DerbyStyle.name),
              pid => new JdbcLedgerSink(url, DerbyStyle, t, lt,
                sinkSchema, batchId))
            require(dlq.isEmpty, "ledger stream sink quarantined rows")
          }
          .option("checkpointLocation", new java.io.File(base, "ckpt").toString)
          .trigger(Trigger.AvailableNow()).start()
      finally s.conf.set(partsKey, prevParts)
      q.awaitTermination()
      JdbcLive.read(s, url, ReaderConfig(table = t,
          split = SplitConfig(key = "event_id"), numPartitions = 4),
          DerbyStyle)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // Stream-static broadcast enrichment: the purchase stream joined to
    // the static customer dimension (stateless map-side broadcast join —
    // no state store), append mode through the file sink; the enriched
    // rows re-aggregated per nation must equal the batch join the oracle
    // runs. Covers the one streaming join family the stream-stream gates
    // don't: bounded dim vs unbounded stream.
    // stream-static SPATIAL enrichment: each streamed point looks up
    // its r-cell in a static 3x3-neighborhood population index — the
    // grid join's streaming form: one stateless equi-join per event, no
    // state store, the index bounded by occupied cells. Coordinates and
    // radius mirror the batch spatial family (md5 nibbles 1-3/4-6,
    // r=64); oracle recomputes the cell-population lookup relationally
    "stream_spatial_enrich" -> ((s, d) => {
      import graft.operators.Spatial
      val r = 64L
      val staticPts = Tables.events(s, d)
        .filter(col("event_id") % 4 === 0)
        .select(Spatial.hexCoord(col("event_id"), 1, 3).as("x"),
          Spatial.hexCoord(col("event_id"), 4, 3).as("y"))
      val index = Spatial.neighborhoodIndex(staticPts, "x", "y", r)
      val ev = EventsPipeline.withEventTime(eventsStream(s, d))
        .filter(col("event_id") % 4 === 0)
        .withColumn("cell", Spatial.cellKeyOf(
          Spatial.hexCoord(col("event_id"), 1, 3),
          Spatial.hexCoord(col("event_id"), 4, 3), r))
        .join(index, Seq("cell")) // stream-static inner: stateless
        .select(col("event_id"), col("n_nearby"))
      runStream(s, ev, "spatial-enrich", d, "append")
        .groupBy(col("n_nearby"))
        .agg(count(lit(1)).as("n_points"))
        .orderBy(col("n_nearby"))
    }),

    "stream_static_enrich" -> ((s, d) => {
      val ev = EventsPipeline.withEventTime(eventsStream(s, d))
        .filter(col("event_type") === "purchase")
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val enriched = EventsPipeline
        .enrichWithDim(ev, dim, "user_id", "c_custkey")
        .select(col("event_id"), col("c_nationkey"), col("value"))
      runStream(s, enriched, "enrich", d, "append")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(12,4)"))
            .cast("double").as("sum_value"))
        .orderBy(col("c_nationkey"))
    }),

    // Stream-stream time-interval inner join: every (purchase, click)
    // pair of the same user with the click at most one hour before the
    // purchase. Append mode emits matches as both sides arrive; the pair
    // set must equal the batch interval self-join the oracle runs.
    "stream_interval_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val joined = EventsPipeline.purchaseClickJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
      runStream(s, joined, "ssjoin", d, "append")
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("p_time")).as("p_us"),
          col("click_id"), unix_micros(col("c_time")).as("c_us"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // streaming A/B monitor: per-day Welch t between click and view
    // values — the exact sufficient statistics (counts, decimal sums)
    // are mergeable aggregates, so they merge across micro-batches
    // through the state store like any partial agg, and the t/dof dag
    // is a stateless projection on top. Complete-mode AvailableNow
    // equals batch semantics -> fully oracle-checked
    "stream_ab_welch" -> ((s, d) => {
      val ev = EventsPipeline.withEventTime(eventsStream(s, d))
      val out = graft.operators.Hypothesis.welchTBy(ev,
          Seq("w" -> window(col("event_time"), "1 day")),
          col("event_type"), col("value"), "click", "view")
        .select(unix_micros(col("w.start")).as("window_us"),
          col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
          col("t_stat"), col("dof"))
      runStream(s, out, "ab-welch", d, "complete")
        .orderBy(col("window_us"))
    })
  )

  val oracles: Map[String, String] = Map(
    "stream_topk_events" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_us(ts) AS us
        |  FROM events WHERE value IS NOT NULL
        |), w AS (
        |  SELECT (us // 3600000000) * 3600000000 AS window_us,
        |    event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY us // 3600000000, event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM e
        |)
        |SELECT window_us, event_type, rn, event_id, value
        |FROM w WHERE rn <= 3
        |ORDER BY window_us, event_type, rn""".stripMargin,

    "stream_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |), t AS (
        |  SELECT COALESCE(LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id), 'START')
        |    AS prev_type, event_type AS next_type
        |  FROM e
        |)
        |SELECT prev_type, next_type, COUNT(*) AS n
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_value_histogram" ->
      """WITH base AS (
        |  SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
        |    COUNT(*) // (SELECT COUNT(DISTINCT
        |      epoch_ns(CAST(ts AS TIMESTAMP)) // 3600000000000)
        |      FROM events) AS expected
        |  FROM events GROUP BY 1),
        |wh AS (
        |  SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
        |      AS window_us,
        |    CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT wh.window_us, wh.bucket, wh.n, base.expected,
        |  wh.n - base.expected AS drift
        |FROM wh JOIN base ON base.bucket = wh.bucket
        |ORDER BY window_us, wh.bucket""".stripMargin,

    "stream_ml_calibration" ->
      """WITH b AS (
        |  SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
        |      AS window_us,
        |    CAST(value / 100.0 AS DECIMAL(12,4)) AS s2,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL
        |), dom AS (SELECT * FROM b WHERE s2 >= 0 AND s2 <= 1),
        |agg AS (
        |  SELECT window_us, LEAST(9, CAST(FLOOR(s2 * 10) AS INT)) AS bin,
        |    COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos, SUM(s2) AS ss
        |  FROM dom GROUP BY 1, 2
        |), fin AS (
        |  SELECT window_us, bin, n, n_pos,
        |    CAST(CAST(ss AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS conf,
        |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
        |  FROM agg
        |)
        |SELECT window_us, bin, n, n_pos, conf, acc,
        |  ABS(conf - acc) AS gap
        |FROM fin ORDER BY window_us, bin""".stripMargin,

    // per-event hit counts via the substring-position scan, then the
    // same (window, pattern) rollup the stream computes
    "stream_blocklist_hits" ->
      """WITH pats(pattern) AS (VALUES ('"k": 1'), ('"k": 2'), ('7}')),
        |e AS (
        |  SELECT event_id,
        |    epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
        |      AS window_us,
        |    coalesce(props, '') AS p
        |  FROM events
        |), pos AS (
        |  SELECT event_id, window_us, p,
        |    UNNEST(range(1, length(p) + 1)) AS i
        |  FROM e
        |), m AS (
        |  SELECT event_id, window_us, pattern, COUNT(*) AS cnt
        |  FROM pos JOIN pats ON substr(p, i, length(pattern)) = pattern
        |  GROUP BY 1, 2, 3
        |)
        |SELECT window_us, pattern, COUNT(*) AS n_events,
        |  CAST(SUM(cnt) AS BIGINT) AS n_hits
        |FROM m GROUP BY 1, 2 ORDER BY window_us, pattern""".stripMargin,

    "stream_hll_users" ->
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS us FROM events)
        |SELECT (us // 3600000000) * 3600000000 AS window_us, event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS INT) AS est_within_5pct
        |FROM e GROUP BY 1, 2
        |ORDER BY window_us, event_type""".stripMargin,

    "stream_tumbling_counts" ->
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_us,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_us, event_type""".stripMargin,

    // the batch aggregation, filtered to hourly windows the final
    // watermark (max event time - 10 min) closed — append mode emits
    // exactly these, and appendBatch must land them exactly once
    "stream_lake_sink" ->
      """WITH a AS (
        |  SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
        |      AS window_us,
        |    event_type, COUNT(*) AS n_events,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT window_us, event_type, n_events, sum_value FROM a
        |WHERE window_us + 3600000000 <=
        |  (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) - 600000000
        |   FROM events)
        |ORDER BY window_us, event_type""".stripMargin,

    "stream_dedup_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // three-batch watermark replay (semantics pinned by StreamingSpec
    // "late rows beyond the watermark are dropped"):
    // windows whose end <= max(b1 time) - 10min are EVICTED at b2's
    // close (b2 itself merges into still-live states); b3 rows into
    // those evicted windows DROP; the final watermark over all rows
    // finalizes the emitted set; counts aggregate the kept rows
    "stream_lake_pipeline" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  MIN(event_id) AS min_eid, MAX(event_id) AS max_eid
        |FROM events WHERE event_type <> 'view'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // time-ordered commits -> zero drops: the output is simply every
    // hourly window the final watermark (global max - 10 min) closed
    "stream_lake_source" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS et, event_type
        |    FROM events),
        |fwm AS (SELECT MAX(epoch_us(et)) - 600000000 AS wm FROM e),
        |agg AS (SELECT epoch_us(date_trunc('hour', et)) AS window_us,
        |    event_type, COUNT(*) AS n_events
        |  FROM e GROUP BY 1, 2)
        |SELECT window_us, event_type, n_events FROM agg
        |WHERE window_us + 3600000000 <= (SELECT wm FROM fwm)
        |ORDER BY window_us, event_type""".stripMargin,

    "stream_late_data" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS et,
        |    event_type FROM events),
        |b1 AS (SELECT * FROM e WHERE event_id % 4 IN (1, 2)),
        |b2 AS (SELECT * FROM e WHERE event_id % 4 = 3),
        |b3 AS (SELECT * FROM e WHERE event_id % 4 = 0),
        |wma AS (SELECT MAX(epoch_us(et)) - 600000000 AS wm FROM b1),
        |dropped AS (SELECT * FROM b3
        |  WHERE epoch_us(date_trunc('hour', et)) + 3600000000 <=
        |    (SELECT wm FROM wma)),
        |kept AS (SELECT * FROM b1
        |  UNION ALL SELECT * FROM b2
        |  UNION ALL
        |  SELECT * FROM b3
        |  WHERE epoch_us(date_trunc('hour', et)) + 3600000000 >
        |    (SELECT wm FROM wma)),
        |fwm AS (SELECT MAX(epoch_us(et)) - 600000000 AS wm FROM e),
        |agg AS (SELECT epoch_us(date_trunc('hour', et)) AS window_us,
        |    event_type, COUNT(*) AS n_events
        |  FROM kept GROUP BY 1, 2)
        |SELECT window_us, event_type, n_events,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dropped)
        |    AS late_dropped_total,
        |  CAST(1 AS BIGINT) AS drop_metric_within_bound
        |FROM agg
        |WHERE window_us + 3600000000 <= (SELECT wm FROM fwm)
        |ORDER BY window_us, event_type""".stripMargin,

    "stream_quota_cap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS rn
        |  FROM e)
        |SELECT user_id, event_id, us FROM r WHERE rn <= 20
        |ORDER BY user_id, us, event_id""".stripMargin,

    "stream_scd2_sink" ->
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

    "stream_stateful_user_counts" ->
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "stream_dedup_ingest" ->
      """SELECT event_id, event_type FROM events
        |WHERE event_id IN (
        |  SELECT MIN(event_id) FROM events
        |  GROUP BY event_type || '|' || COALESCE(props, 'ø'))
        |ORDER BY event_id""".stripMargin,

    "stream_sequence_anomaly" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
         |  FROM events
         |), tr AS (
         |  SELECT user_id, COALESCE(LAG(event_type) OVER (
         |      PARTITION BY user_id ORDER BY us, event_id), 'START')
         |    AS prev, event_type AS next
         |  FROM e
         |), bi AS (
         |  SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM tr GROUP BY 1, 2
         |), uni AS (
         |  SELECT prev, CAST(SUM(n_ab) AS BIGINT) AS n_a
         |  FROM bi GROUP BY 1
         |), xs AS (
         |  SELECT n_ab AS x FROM bi UNION SELECT n_a FROM uni
         |),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |scored AS (
         |  SELECT t.user_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
         |    CAST(SUM(la.l - lb.l) AS BIGINT) AS surprise_fp
         |  FROM tr t
         |  JOIN bi ON bi.prev = t.prev AND bi.next = t.next
         |  JOIN uni ON uni.prev = t.prev
         |  JOIN lg lb ON lb.x = bi.n_ab
         |  JOIN lg la ON la.x = uni.n_a
         |  GROUP BY t.user_id)
         |SELECT user_id, n_trans, surprise_fp,
         |  CAST(surprise_fp // n_trans AS BIGINT) AS avg_surprise_fp
         |FROM scored ORDER BY user_id""".stripMargin,

    "stream_tws_user_counts" ->
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "stream_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT user_id, MIN(us) AS t0 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, t0, MIN(e.us) AS t1
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.us > t0
        |    AND e.us <= t0 + 604800000000
        |  GROUP BY e.user_id, t0
        |), p AS (
        |  SELECT e.user_id FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > t1
        |    AND e.us <= t0 + 604800000000
        |  GROUP BY e.user_id
        |)
        |SELECT 0 AS stage_idx, (SELECT COUNT(*) FROM v) AS n_entities
        |UNION ALL SELECT 1, (SELECT COUNT(*) FROM c)
        |UNION ALL SELECT 2, (SELECT COUNT(*) FROM p)
        |ORDER BY stage_idx""".stripMargin,

    "stream_psi_drift" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
         |      AS window_us,
         |    LEAST(7, CAST(FLOOR(value / 64.0) AS BIGINT)) AS bucket
         |  FROM events WHERE value IS NOT NULL),
         |hist AS (SELECT window_us, bucket, CAST(COUNT(*) AS BIGINT)
         |    AS c_cur FROM ev GROUP BY 1, 2),
         |base AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_base
         |  FROM ev GROUP BY 1),
         |spine AS (
         |  SELECT w.window_us, b.bucket,
         |    CAST(COALESCE(base.c_base, 0) AS BIGINT) AS c_base,
         |    CAST(COALESCE(hist.c_cur, 0) AS BIGINT) AS c_cur
         |  FROM (SELECT DISTINCT window_us FROM hist) w
         |  CROSS JOIN (SELECT CAST(UNNEST(range(8)) AS BIGINT) AS bucket) b
         |  LEFT JOIN hist ON hist.window_us = w.window_us
         |    AND hist.bucket = b.bucket
         |  LEFT JOIN base ON base.bucket = b.bucket),
         |tw AS (SELECT window_us, CAST(SUM(c_cur) + 8 AS BIGINT) AS twn
         |  FROM spine GROUP BY 1),
         |rt AS (SELECT CAST(SUM(c_base) + 8 AS BIGINT) AS rn FROM base),
         |xs AS (SELECT c_cur + 1 AS x FROM spine
         |  UNION SELECT c_base + 1 FROM spine
         |  UNION SELECT twn FROM tw UNION SELECT rn FROM rt),
         |${graft.functions.FixedLog.duckdbCte("xs")}
         |SELECT s.window_us, s.bucket, s.c_base, s.c_cur,
         |  CAST(lc.l + lr.l - lb.l - lt.l AS BIGINT) AS lr_fp,
         |  CAST(((s.c_cur + 1) * rt.rn - (s.c_base + 1) * tw.twn)
         |    * (lc.l + lr.l - lb.l - lt.l) AS BIGINT) AS psi_num,
         |  CAST(tw.twn * rt.rn * 1048576 AS BIGINT) AS denom
         |FROM spine s JOIN tw USING (window_us) CROSS JOIN rt
         |JOIN lg lc ON lc.x = s.c_cur + 1
         |JOIN lg lb ON lb.x = s.c_base + 1
         |JOIN lg lt ON lt.x = tw.twn
         |JOIN lg lr ON lr.x = rt.rn
         |ORDER BY s.window_us, s.bucket""".stripMargin,

    "stream_session_windows" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |), flags AS (
        |  SELECT user_id, us,
        |    CASE WHEN LAG(us) OVER w IS NULL
        |         OR us - LAG(us) OVER w > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        |), sess AS (
        |  SELECT user_id, us, SUM(new_s) OVER
        |    (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags
        |), agg AS (
        |  SELECT user_id, MIN(us) AS session_start_us,
        |    MAX(us) + 1800000000 AS session_end_us,
        |    COUNT(*) AS n_events
        |  FROM sess GROUP BY user_id, sid
        |)
        |SELECT user_id, session_start_us, session_end_us, n_events FROM agg
        |WHERE session_end_us <= (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP)))
        |                         - 600000000 FROM events)
        |ORDER BY user_id, session_start_us""".stripMargin,

    "stream_jdbc_ledger" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "stream_jdbc_sink" ->
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_us,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_us, event_type""".stripMargin,

    "stream_spatial_enrich" -> {
      val x = graft.operators.Spatial.hexCoordSql("h", 1, 3)
      val y = graft.operators.Spatial.hexCoordSql("h", 4, 3)
      s"""WITH xy AS (
         |  SELECT event_id AS id, $x AS x, $y AS y
         |  FROM (SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS h
         |        FROM events WHERE event_id % 4 = 0)),
         |cells AS (
         |  SELECT id, (x - x % 64) // 64 AS cx, (y - y % 64) // 64 AS cy
         |  FROM xy),
         |idx AS (
         |  SELECT cx + dx.d AS cx, cy + dy.d AS cy, COUNT(*) AS n
         |  FROM cells, (VALUES (-1), (0), (1)) dx(d),
         |       (VALUES (-1), (0), (1)) dy(d)
         |  GROUP BY 1, 2),
         |en AS (
         |  SELECT c.id, idx.n FROM cells c
         |  JOIN idx ON idx.cx = c.cx AND idx.cy = c.cy)
         |SELECT n AS n_nearby, COUNT(*) AS n_points
         |FROM en GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "stream_static_enrich" ->
      """SELECT c.c_nationkey, COUNT(*) AS n_purchases,
        |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    "stream_interval_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  epoch_us(CAST(p.ts AS TIMESTAMP)) AS p_us,
        |  c.event_id AS click_id, epoch_us(CAST(c.ts AS TIMESTAMP)) AS c_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        |  AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |ORDER BY purchase_id, click_id""".stripMargin,

    // batch replay of the per-day Welch monitor: same exact sufficient
    // statistics per epoch-aligned day, same double dag as
    // events_ab_welch
    "stream_ab_welch" ->
      """WITH base AS (
        |  SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
        |      AS window_us,
        |    event_type AS g, CAST(value AS DECIMAL(12,4)) AS v
        |  FROM events
        |  WHERE event_type IN ('click','view') AND value IS NOT NULL
        |), a AS (
        |  SELECT window_us,
        |    CAST(SUM(CASE WHEN g='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN g='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    SUM(CASE WHEN g='click' THEN v END) AS sa,
        |    SUM(CASE WHEN g='view' THEN v END) AS sb,
        |    SUM(CASE WHEN g='click' THEN CAST(v*v AS DECIMAL(38,8)) END) AS qa,
        |    SUM(CASE WHEN g='view' THEN CAST(v*v AS DECIMAL(38,8)) END) AS qb
        |  FROM base GROUP BY window_us
        |), s AS (
        |  SELECT window_us, n_a, n_b,
        |    CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS dsa,
        |    CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS dsb,
        |    CAST(CAST(qa AS VARCHAR) AS DOUBLE) AS dqa,
        |    CAST(CAST(qb AS VARCHAR) AS DOUBLE) AS dqb,
        |    CAST(n_a AS DOUBLE) AS dna, CAST(n_b AS DOUBLE) AS dnb
        |  FROM a
        |), t AS (
        |  SELECT window_us, n_a, n_b, dna, dnb,
        |    dsa/dna AS mean_a, dsb/dnb AS mean_b,
        |    (dqa - dsa*dsa/dna)/(dna-1) AS var_a,
        |    (dqb - dsb*dsb/dnb)/(dnb-1) AS var_b
        |  FROM s
        |), u AS (
        |  SELECT window_us, n_a, n_b, mean_a, mean_b, dna, dnb,
        |    var_a/dna + var_b/dnb AS se2,
        |    var_a/dna AS wa, var_b/dnb AS wb
        |  FROM t
        |)
        |SELECT window_us, n_a, n_b, mean_a, mean_b,
        |  (mean_a - mean_b)/sqrt(se2) AS t_stat,
        |  se2*se2 / (wa*wa/(dna-1) + wb*wb/(dnb-1)) AS dof
        |FROM u ORDER BY window_us""".stripMargin
  )
}
