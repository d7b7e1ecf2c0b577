package graft

import graft.operators.{Dedup, Graph, Pin, Preference}
import graft.operators.Pin.syntax._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins `operators.Pin` as the one materialization point: no inline
  * checkpoint call survives in the main sources, the reliable switch
  * (`spark.graft.pin.reliable` + a checkpoint dir) leaves every loop
  * operator's result unchanged while really writing its pins to the
  * checkpoint dir, and pin jobs stay attributed to their caller. */
class PinSpec extends SparkSpec {
  import spark.implicits._

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  test("no checkpoint call in the main sources outside Pin.scala") {
    val offenders = for {
      p <- mainSources if p.getFileName.toString != "Pin.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("localCheckpoint(") || line.contains(".checkpoint(")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // a small directed graph with a cycle, a chain, a hub and an isolated
  // pair, plus weights and a seed set
  private lazy val edges: DataFrame = ((0L until 12L).map(i => (i, (i + 1) % 12))
    ++ (12L until 20L).map(i => (i, i + 1))
    ++ (1L to 8L).map(i => (0L, i * 2))
    ++ Seq((30L, 31L)))
    .map { case (s, d) => (s, d, (s * 7 + d * 3) % 5 + 1) }
    .toDF("src", "dst", "w")
  private lazy val symmetric: DataFrame =
    edges.select($"src", $"dst").union(edges.select($"dst", $"src"))
  private lazy val seeds: DataFrame = Seq(0L, 12L, 30L).toDF("seed")

  private val loopOperators: Seq[(String, () => DataFrame)] = Seq(
    "pageRank" -> (() => Graph.pageRank(symmetric, "src", "dst", 5)),
    "labelPropagation" ->
      (() => Graph.labelPropagation(symmetric, "src", "dst", 4)),
    "kCore" -> (() => Graph.kCore(symmetric, "src", "dst", 2)),
    "shortestHops" ->
      (() => Graph.shortestHops(edges, "src", "dst", seeds, "seed", 6)),
    "closenessSeeds" ->
      (() => Graph.closenessSeeds(edges, "src", "dst", seeds, "seed", 6)),
    "cheapestPaths" -> (() =>
      Graph.cheapestPaths(edges, "src", "dst", "w", seeds, "seed", 6)),
    "hits" -> (() => Graph.hits(edges, "src", "dst", 4)),
    "connectedComponents" -> (() => Dedup.connectedComponents(
      symmetric.select($"src".as("id")).distinct(), edges,
      "id", "src", "dst")),
    "bradleyTerry" -> (() => Preference.bradleyTerry(
      edges.filter($"w" > 1), $"src", $"dst")))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def reliably[A](dir: Path)(body: => A): A = {
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Pin.ReliableKey, "true")
    try body finally spark.conf.unset(Pin.ReliableKey)
  }

  private def checkpointFiles(dir: Path): Int =
    Files.walk(dir).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("part-"))

  loopOperators.foreach { case (name, run) =>
    test(s"reliable pins: $name result equals the default-mode result") {
      val local = rows(run())
      assert(local.nonEmpty)
      val dir = Files.createTempDirectory(s"pin-$name")
      val reliable = reliably(dir)(rows(run()))
      assert(reliable == local)
      assert(checkpointFiles(dir) > 0,
        s"$name wrote no reliable checkpoint under $dir")
    }
  }

  test("Pin.step: observed row and pinned rows agree in both modes") {
    val df = spark.range(0, 1000).select(($"id" % 7).as("k"))
    def probe(): (Seq[String], Row) = {
      val (p, r) = Pin.step(df.filter($"k" > 2), count(lit(1)), sum($"k"))
      (rows(p), r)
    }
    val (localRows, localObs) = probe()
    assert(localObs == Row(571L, 2568L))
    val dir = Files.createTempDirectory("pin-step")
    val (relRows, relObs) = reliably(dir)(probe())
    assert(relObs == localObs && relRows == localRows)
    assert(checkpointFiles(dir) > 0)
    // aggregates over an empty frame: count 0, sum null
    val (_, empty) = Pin.step(df.filter($"k" > 100), count(lit(1)), sum($"k"))
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("a pin's job is attributed to the caller's frame, not to Pin") {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("callSite.short"))).foreach(sites.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(0, 10).toDF("id").pinned()
      eventually(timeout(10.seconds)) {
        assert(sites.asScala.exists(_.startsWith("localCheckpoint at PinSpec.scala:")),
          sites.asScala.mkString(", "))
      }
      assert(!sites.asScala.exists(_.contains("Pin.scala")))
    } finally spark.sparkContext.removeSparkListener(listener)
    // no call site leaks into later jobs on this thread
    assert(spark.sparkContext.getLocalProperty("callSite.short") == null)
  }
}
