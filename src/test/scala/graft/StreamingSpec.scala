package graft

import graft.streaming.EventsPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics driven through MemoryStream micro-batches; the
  * same transforms also run in batch mode over the events fixture
  * (Spark's unified API) — both paths are asserted. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventsBatch = Tables.events(spark, Sf0)

  test("tumbling window agg runs in batch mode over the fixture") {
    val out = EventsPipeline.tumblingCounts(eventsBatch)
    val n = out.agg(sum($"n")).head.getLong(0)
    assert(n == eventsBatch.count()) // every event lands in one window
  }

  test("session windows in batch mode match the analytic sessionizer") {
    val sessions = EventsPipeline.sessionWindows(eventsBatch)
    val analytic = graft.queries.EventOps.defs("events_sessionize")(spark, Sf0)
    // same number of sessions and same total events
    assert(sessions.count() == analytic.count())
    assert(sessions.agg(sum($"n_events")).head.getLong(0) ==
      eventsBatch.count())
  }

  test("streaming tumbling window emits after watermark passes") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsPipeline.tumblingCounts(df, "5 minutes", "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("tumbling_out").start()
    val t0 = 1700000000000000000L // aligned epoch ns
    def ns(min: Double) = t0 + (min * 60e9).toLong
    mem.addData((1L, ns(0.5), 1L, "click", 1.0),
      (2L, ns(1.5), 2L, "click", 2.0), (3L, ns(4.0), 1L, "view", 3.0))
    q.processAllAvailable()
    // watermark advance: late bound passes the first window
    mem.addData((4L, ns(20.0), 1L, "click", 1.0))
    q.processAllAvailable()
    mem.addData((5L, ns(30.0), 1L, "click", 1.0))
    q.processAllAvailable()
    val out = spark.table("tumbling_out")
    assert(out.count() >= 2) // first window's click+view rows emitted
    val w0 = new java.sql.Timestamp(t0 / 1000000L / 300000L * 300000L)
    val clicks = out.filter($"event_type" === "click" &&
        $"window_start" === w0)
      .agg(sum($"n")).head.getLong(0)
    assert(clicks == 2) // both first-window clicks in one emitted row
    q.stop()
  }

  test("text-prep gate+scrub runs stateless on a stream, batch-identical") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "the data table a join the scan order data the table value"),
      (2L, "x y"), // gated out: too few tokens
      (3L, "the data table a mail bob@example.com join the row order"),
      (4L, "zzz qqq vvv www kkk mmm nnn")) // gated out: 'und' language
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.TextPrepPipeline.cleanDocs(docs)
      .select($"doc_id", $"lang_pred", $"text_clean", $"n_email")
      .writeStream.outputMode("append").format("memory")
      .queryName("textprep_out").start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("textprep_out")
    val batch = graft.streaming.TextPrepPipeline.cleanDocs(
        rows.toDF("doc_id", "text"))
      .select($"doc_id", $"lang_pred", $"text_clean", $"n_email")
    // stateless stage: streaming output == batch output, regardless of
    // micro-batch boundaries
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
    val r3 = streamed.filter($"doc_id" === 3L)
      .select($"n_email", $"text_clean").as[(Int, String)].head()
    assert(r3._1 == 1 && r3._2.contains("<EMAIL>"))
  }

  test("late rows beyond the watermark are dropped") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsPipeline.tumblingCounts(df, "5 minutes", "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("late_out").start()
    val t0 = 1700000000000000000L
    def ns(min: Double) = t0 + (min * 60e9).toLong
    mem.addData((1L, ns(1.0), 1L, "click", 1.0))
    q.processAllAvailable()
    mem.addData((2L, ns(60.0), 1L, "click", 1.0)) // advance watermark far
    q.processAllAvailable()
    mem.addData((3L, ns(2.0), 1L, "click", 1.0)) // way too late -> dropped
    q.processAllAvailable()
    // the first window shows exactly the on-time row
    assert(spark.table("late_out").agg(sum($"n")).head.getLong(0) == 1)
    // the drop boundary, one row each side of it: windows are aligned to
    // the epoch (t0 sits 200 s past a 5-minute boundary), so b = t0 +
    // 4000 s is a window edge; an event at b + 1 min moves the watermark
    // to exactly b. A window whose END equals the watermark is already
    // closed: the row 1 us before b drops, the rows at b and 1 us after
    // it land in the live [b, b + 5 min) window and are emitted once a
    // far event closes it.
    val b = t0 + 4000L * 1000000000L
    mem.addData((4L, b + 60L * 1000000000L, 1L, "advance", 1.0))
    q.processAllAvailable()
    mem.addData((5L, b - 1000L, 1L, "before", 1.0),
      (6L, b, 1L, "at", 1.0), (7L, b + 1000L, 1L, "after", 1.0))
    q.processAllAvailable()
    mem.addData((8L, b + 20L * 60000000000L, 1L, "click", 1.0))
    q.processAllAvailable()
    val edge = spark.table("late_out")
      .filter($"event_type".isin("before", "at", "after"))
      .select($"event_type", unix_micros($"window_start"), $"n")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(edge == Seq(("after", b / 1000L, 1L), ("at", b / 1000L, 1L)),
      s"boundary rows: $edge")
    q.stop()
  }

  test("streaming dedup drops redelivered ids across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsPipeline.dedupStream(df, Seq("event_id"), "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    val t0 = 1700000000000000000L
    // in-batch duplicate + cross-batch redelivery of id 1
    mem.addData((1L, t0, 1L, "click", 1.0), (1L, t0, 1L, "click", 1.0),
      (2L, t0 + 1000L, 1L, "view", 2.0))
    q.processAllAvailable()
    mem.addData((1L, t0 + 2000L, 1L, "click", 1.0),
      (3L, t0 + 3000L, 2L, "view", 3.0))
    q.processAllAvailable()
    val out = spark.table("dedup_out")
    assert(out.count() == 3)
    assert(out.select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    q.stop()
  }

  test("streaming upsert sink: replace-by-key across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("supsert").toString
    val path = s"$dir/t"
    val q = EventsPipeline.upsertSink(
      df.select($"event_id", $"user_id", $"value"), path, Seq("event_id"))
      .start()
    val t0 = 1700000000000000000L
    mem.addData((1L, t0, 1L, "click", 1.0), (2L, t0 + 1, 1L, "click", 2.0))
    q.processAllAvailable()
    // batch 2 replaces id 2 and adds id 3
    mem.addData((2L, t0 + 2, 1L, "click", 20.0),
      (3L, t0 + 3, 1L, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(path)
    assert(out.count() == 3)
    assert(out.filter($"event_id" === 2).head.getDouble(2) == 20.0)
    assert(out.filter($"event_id" === 1).head.getDouble(2) == 1.0)
  }

  test("stream-static left enrich keeps unmatched rows with null dim cols") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    val q = EventsPipeline.enrichWithDim(df, dim, "user_id", "cust_id",
        "left_outer")
      .select($"event_id", $"user_id", $"tier")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    val t0 = 1700000000000000000L
    // user 9 has no dim row: a left enrich must keep it, tier null;
    // an unmatched row silently dropped would break at-ingest lineage
    mem.addData((1L, t0, 1L, "click", 1.0), (2L, t0, 9L, "view", 2.0))
    q.processAllAvailable()
    mem.addData((3L, t0 + 1000L, 2L, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enrich_out")
      .select($"event_id", $"tier").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, Some("gold")), (2L, None), (3L, Some("silver"))))
  }

  test("streaming funnel advances across micro-batches with bounded state") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsPipeline.statefulFunnel(spark, df,
        Seq("view", "click", "buy"), 1000000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    val t0 = 1700000000000000000L // ns; us = t0/1000
    // batch 1: user 1 views then clicks; user 2 only views
    mem.addData((1L, t0, 1L, "view", 0.0), (2L, t0 + 1000L, 1L, "click", 0.0),
      (3L, t0, 2L, "view", 0.0))
    q.processAllAvailable()
    // batch 2: user 1 buys (cross-batch stage advance); user 2's buy
    // must NOT count (no click yet); a second view must not re-emit
    mem.addData((4L, t0 + 2000L, 1L, "buy", 0.0),
      (5L, t0 + 2000L, 2L, "buy", 0.0), (6L, t0 + 3000L, 2L, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("funnel_out")
      .select($"user_id", $"stage_idx").as[(Long, Int)]
      .collect().sorted.toSeq
    assert(rows == Seq((1L, 0), (1L, 1), (1L, 2), (2L, 0)))
  }

  test("streaming transitions carry the last event across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsPipeline.statefulTransitions(spark, df)
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_out").start()
    val t0 = 1700000000000000000L
    // batch 1 arrives out of order: the in-batch sort must pair
    // view->click, not click->view
    mem.addData((2L, t0 + 1000L, 1L, "click", 0.0),
      (1L, t0, 1L, "view", 0.0))
    q.processAllAvailable()
    // batch 2: user 1's purchase chains off batch 1's LAST event (click);
    // user 2 starts fresh with START
    mem.addData((3L, t0 + 2000L, 1L, "purchase", 0.0),
      (4L, t0, 2L, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("trans_out")
      .select($"user_id", $"prev_type", $"next_type")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, "START", "view"), (1L, "click", "purchase"),
      (1L, "view", "click"), (2L, "START", "view")))
  }

  test("streaming sequence scorer matches the batch scorer across " +
      "micro-batches (state carries last type + running surprisal)") {
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000000000L
    val rows = Seq(
      (1L, t0, 1L, "view"), (2L, t0 + 1000L, 1L, "click"),
      (3L, t0 + 2000L, 1L, "purchase"),
      (4L, t0, 2L, "view"), (5L, t0 + 1000L, 2L, "view"),
      (6L, t0, 3L, "click"))
    val batch = rows.toDF("event_id", "ts", "user_id", "event_type")
    val model = graft.operators.SequenceModel.transitionModel(
        batch.withColumn("us", expr("ts div 1000")),
        $"user_id", $"us", $"event_id", $"event_type")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val expect = graft.operators.SequenceModel.sequenceAnomaly(
        batch.withColumn("us", expr("ts div 1000")),
        $"user_id", $"us", $"event_id", $"event_type", k = 10)
      .select($"user_id", $"n_trans", $"surprise_fp")
      .as[(Long, Long, Long)].collect().toSet

    val mem = MemoryStream[(Long, Long, Long, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val q = EventsPipeline.statefulSequenceScore(spark, df, model)
      .writeStream.outputMode("update").format("memory")
      .queryName("seq_out").start()
    // batch 1 out of order within user 1; batch 2 chains off its state
    mem.addData((2L, t0 + 1000L, 1L, "click"), (1L, t0, 1L, "view"),
      (4L, t0, 2L, "view"))
    q.processAllAvailable()
    mem.addData((3L, t0 + 2000L, 1L, "purchase"),
      (5L, t0 + 1000L, 2L, "view"), (6L, t0, 3L, "click"))
    q.processAllAvailable()
    q.stop()
    // last update per user = final totals; must equal the batch scorer
    val fin = spark.table("seq_out")
      .groupBy($"user_id")
      .agg(max(struct($"n_trans", $"surprise_fp")).as("s"))
      .select($"user_id", $"s.n_trans", $"s.surprise_fp")
      .as[(Long, Long, Long)].collect().toSet
    assert(fin == expect)
  }

  test("stream-stream interval join matches clicks in the window only") {
    implicit val sq = spark.sqlContext
    val pm = MemoryStream[(Long, Long, Long)]
    val cm = MemoryStream[(Long, Long, Long)]
    val p = pm.toDF().toDF("event_id", "ts", "user_id")
    val c = cm.toDF().toDF("event_id", "ts", "user_id")
    val q = EventsPipeline.purchaseClickJoin(p, c, "1 hour", "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    val t0 = 1700000000000000000L
    def ns(min: Double) = t0 + (min * 60e9).toLong
    // user 1: click 30 min before purchase (match), click 2 h before (no),
    // click after the purchase (no); user 2: click from another user (no)
    cm.addData((100L, ns(30), 1L), (101L, ns(-60), 1L), (102L, ns(70), 1L),
      (103L, ns(40), 2L))
    pm.addData((1L, ns(60), 1L))
    q.processAllAvailable()
    val out = spark.table("ssj_out")
    assert(out.count() == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(3) == 100L)
    q.stop()
  }

  test("left-outer stream-stream join releases unmatched rows on watermark") {
    implicit val sq = spark.sqlContext
    val pm = MemoryStream[(Long, Long, Long)]
    val cm = MemoryStream[(Long, Long, Long)]
    val p = pm.toDF().toDF("event_id", "ts", "user_id")
    val c = cm.toDF().toDF("event_id", "ts", "user_id")
    val q = EventsPipeline.purchaseClickJoinOuter(p, c, "1 hour", "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjo_out").start()
    val t0 = 1700000000000000000L
    def ns(min: Double) = t0 + (min * 60e9).toLong
    // purchase 1 has a click in-window; purchase 2 has none
    cm.addData((100L, ns(30), 1L))
    pm.addData((1L, ns(60), 1L), (2L, ns(60), 2L))
    q.processAllAvailable()
    // the unmatched purchase must be HELD while a matching click could
    // still arrive within the horizon
    assert(spark.table("ssjo_out")
      .filter($"purchase_id" === 2L).count() == 0)
    // advance BOTH watermarks far past purchase-time + interval: the
    // held row is released exactly once, with null click columns
    cm.addData((900L, ns(300), 9L))
    pm.addData((901L, ns(300), 9L))
    q.processAllAvailable()
    val out = spark.table("ssjo_out")
    assert(out.filter($"purchase_id" === 1L && $"click_id" === 100L)
      .count() == 1)
    val unmatched = out.filter($"purchase_id" === 2L).collect()
    assert(unmatched.length == 1)
    assert(unmatched.head.isNullAt(3) && unmatched.head.isNullAt(4),
      "released row must carry null click columns")
    q.stop()
  }

  test("heavy-hitters aggregate runs streaming (complete mode)") {
    // the native TypedImperativeAggregate's serialized buffer lives in
    // the state store between micro-batches — bounded streaming top-k
    // without shuffling the term domain
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("term")
      .agg(graft.functions.HeavyHitters.misra_gries_topk($"term", 8)
        .as("hh"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("hh_stream").start()
    mem.addData("a", "a", "b")
    q.processAllAvailable()
    mem.addData("a", "c", "b")
    q.processAllAvailable()
    val hh = spark.table("hh_stream")
      .select(explode($"hh").as("e"))
      .select($"e.term", $"e.cnt").as[(String, Long)].collect().toMap
    assert(hh == Map("a" -> 3L, "b" -> 2L, "c" -> 1L),
      s"streaming MG counts: $hh")
    q.stop()
  }

  test("topk_by aggregate runs streaming (complete mode)") {
    // the heap buffer serializes into the state store between batches:
    // grouped streaming top-k with k rows of state per group, no window
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    val q = mem.toDF().toDF("g", "s", "i")
      .groupBy($"g")
      .agg(graft.functions.TopKBy.topk_by($"s", $"i", 2).as("top"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("topk_stream").start()
    mem.addData(("x", 1.0, 1L), ("x", 5.0, 2L), ("y", 9.0, 3L))
    q.processAllAvailable()
    mem.addData(("x", 3.0, 4L), ("y", 2.0, 5L))
    q.processAllAvailable()
    val out = spark.table("topk_stream")
      .select($"g", $"top").as[(String, Seq[(Double, Long)])]
      .collect().toMap
    assert(out("x") == Seq((5.0, 2L), (3.0, 4L)), s"x: ${out("x")}")
    assert(out("y") == Seq((9.0, 3L), (2.0, 5L)), s"y: ${out("y")}")
    q.stop()
  }

  test("theta sketch aggregate runs streaming (complete mode)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("v")
      .agg(graft.functions.ThetaFunctions.theta_sketch_agg($"v").as("sk"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("theta_stream").start()
    mem.addData(0L until 300L: _*)
    q.processAllAvailable()
    mem.addData(200L until 500L: _*) // overlaps 200-299
    q.processAllAvailable()
    val bytes = spark.table("theta_stream").head.getAs[Array[Byte]](0)
    assert(graft.functions.ThetaFunctions.estimate(bytes).round == 500L,
      "cross-batch distinct estimate must be exact in exact mode")
    q.stop()
  }

  test("bloom dedup drops cross-batch duplicates with bounded state") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.BloomDedup
      .dedupKeyed(mem.toDS(), nShards = 4,
        expectedItemsPerShard = 10000, fpp = 0.001)
      .writeStream.outputMode("append").format("memory")
      .queryName("bloom_dedup").start()
    mem.addData(("a", 1L), ("b", 2L), ("a", 3L)) // within-batch dup
    q.processAllAvailable()
    mem.addData(("b", 4L), ("c", 5L))            // cross-batch dup
    q.processAllAvailable()
    val out = spark.table("bloom_dedup").as[(String, Long)].collect()
    assert(out.map(_._1).sorted.toSeq == Seq("a", "b", "c"),
      s"each key exactly once: ${out.toSeq}")
    val m = out.toMap
    // within-batch survivor is group-iterator-order dependent; the
    // CROSS-batch guarantee is strict: batch 1's "b" is in state, so
    // batch 2's ("b", 4) must be the one dropped
    assert(Set(1L, 3L).contains(m("a")), s"a -> ${m("a")}")
    assert(m("b") == 2L && m("c") == 5L, s"$m")
    q.stop()
  }

  test("bloom dedup false-drop rate stays near fpp on distinct keys") {
    import spark.implicits._
    // batch mode (one micro-batch): 20k DISTINCT keys through tight
    // filters — survivors must be >= (1 - 5*fpp) of the input
    val n = 20000
    val ds = (0 until n).map(i => (s"key_$i", i.toLong)).toDS()
    val kept = graft.streaming.BloomDedup
      .dedupKeyed(ds, nShards = 4, expectedItemsPerShard = 10000,
        fpp = 0.01)
      .count()
    assert(kept >= (n * (1 - 0.05)).toLong, s"kept $kept of $n")
    assert(kept <= n)
  }

  test("transformWithState totals match mapGroupsWithState across batches") {
    implicit val sq = spark.sqlContext
    // transformWithState needs multi-column-family state: RocksDB
    // provider, not the default HDFS-backed one
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(confKey)
    spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsPipeline.statefulUserTotalsTws(spark, df)
      .writeStream.outputMode("update").format("memory")
      .queryName("tws_out").start()
    val t0 = 1700000000000000000L
    mem.addData((1L, t0, 9L, "click", 2.5), (2L, t0 + 1, 9L, "view", 1.5))
    q.processAllAvailable()
    mem.addData((3L, t0 + 2, 9L, "click", 6.0))
    q.processAllAvailable()
    val last = spark.table("tws_out").filter($"user_id" === 9)
      .orderBy($"n_events".desc).head
    assert(last.getLong(1) == 3 && math.abs(last.getDouble(2) - 10.0) < 1e-9)
    q.stop()
    } finally spark.conf.set(confKey, prev)
  }

  test("AvailableNow drains a file source then stops; resume reads only new files") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sinks.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("an").toString
    val src = s"$dir/in"; val root = s"$dir/t"; val ckpt = s"$dir/ckpt"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(1).write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream
        .schema("k LONG, v STRING")
        .parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          VersionedTable.appendBatch(b, root, id); ()
        }.start()
      // AvailableNow self-terminates once the parked input is drained
      assert(q.awaitTermination(120000), "drain did not self-stop")
    }
    drain()
    assert(VersionedTable.read(spark, root)
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // a new file lands; the checkpoint resumes PAST the drained offsets,
    // so the second drain ingests only the new file (no re-appends)
    Seq((3L, "c")).toDF("k", "v")
      .repartition(1).write.mode("append").parquet(src)
    drain()
    assert(VersionedTable.read(spark, root)
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("stateful user totals accumulate across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsPipeline.statefulUserTotals(spark, df)
      .writeStream.outputMode("update").format("memory")
      .queryName("state_out").start()
    val t0 = 1700000000000000000L
    mem.addData((1L, t0, 7L, "click", 2.0), (2L, t0 + 1, 7L, "view", 3.0))
    q.processAllAvailable()
    mem.addData((3L, t0 + 2, 7L, "click", 5.0))
    q.processAllAvailable()
    val last = spark.table("state_out").filter($"user_id" === 7)
      .orderBy($"n_events".desc).head
    assert(last.getLong(1) == 3 && math.abs(last.getDouble(2) - 10.0) < 1e-9)
    q.stop()
  }

  test("streaming HLL sketch state merges to exact batch parity") {
    // the same sketch aggregation, streamed across MULTIPLE micro-batches
    // (state-store round trips + partial merges) vs one batch pass: the
    // estimates must be IDENTICAL — HLL merge is deterministic and
    // order-insensitive, which is exactly why it can live in stream state
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val df = mem.toDF().toDF("user_id", "k")
    val q = df.groupBy($"k")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("est"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("hll_out").start()
    val rows = (1L to 500L).map(u => (u % 173, u % 3))
    mem.addData(rows.take(200): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(200): _*)
    q.processAllAvailable()
    val streamed = spark.table("hll_out")
      .as[(Long, Long)].collect().toMap
    val batch = rows.toDF("user_id", "k").groupBy($"k")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("est"))
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch)
    q.stop()
  }

  test("quota cap admits across micro-batches until the budget is spent") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type",
      "value")
    val q = EventsPipeline.statefulQuotaCap(spark, df, cap = 3L)
      .writeStream.outputMode("append").format("memory")
      .queryName("quota_out").start()
    val t0 = 1700000000000000000L
    // batch 1: user 1 sends 2 (both admitted), user 2 sends 4 (3 kept —
    // the in-batch cut is by (ts, id), so ids 20,21,22 survive)
    mem.addData((10L, t0 + 1000L, 1L, "c", 0.0), (11L, t0, 1L, "c", 0.0),
      (20L, t0, 2L, "c", 0.0), (21L, t0 + 1L, 2L, "c", 0.0),
      (22L, t0 + 2L, 2L, "c", 0.0), (23L, t0 + 3L, 2L, "c", 0.0))
    q.processAllAvailable()
    // batch 2: user 1 has 1 slot left -> earliest of the two admitted;
    // user 2 is out of budget -> everything drops
    mem.addData((12L, t0 + 5000L, 1L, "c", 0.0),
      (13L, t0 + 4000L, 1L, "c", 0.0), (24L, t0 + 9000L, 2L, "c", 0.0))
    q.processAllAvailable()
    val out = spark.table("quota_out").select("user_id", "event_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(out == Seq((1L, 10L), (1L, 11L), (1L, 13L),
      (2L, 20L), (2L, 21L), (2L, 22L)))
    q.stop()
  }
}
