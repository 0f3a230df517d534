package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale
import graft.streaming.IncrementalCluster

/** Job budgets of the fixed-overhead-bound folds on graft-drop's
  * critical path. On a drop of tens of documents each Spark job costs
  * far more than its data, so a change that re-runs a materialized
  * plan shows up here as a higher count before it shows up as time.
  * The budgets are exact: a lower count is a win to pin by lowering
  * the budget, a higher one is a regression.
  *
  * Counts are taken in a fresh session with the shuffle and adaptive
  * settings pinned, so they do not depend on settings other suites
  * leave on the shared session.
  */
class JobBudgetSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val fresh = s.newSession()
    fresh.conf.set("spark.sql.shuffle.partitions", "4")
    fresh.conf.set("spark.sql.adaptive.enabled", "true")
    fresh
  }

  test("IncrementalCluster.update: exact job budget per epoch of a 3-pair fold") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("cl_budget")
      .resolve("state").toString
    // epoch 0 opens two clusters, epoch 1 grows both and opens a
    // third, epoch 2 bridges the first two
    val epochs = Seq(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)),
      Seq((3L, 4L), (8L, 9L), (20L, 21L)),
      Seq((4L, 7L), (21L, 22L), (30L, 31L)))
    val jobs = epochs.zipWithIndex.map { case (ps, e) =>
      val pairs = ps.toDF("doc_a", "doc_b")
      val scores = ps.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(d => (d, (d % 5).toDouble / 10)).toDF("doc_id", "score")
      JobCounter(spark.sparkContext) {
        IncrementalCluster.update(spark, path, e.toLong, pairs, scores)
      }._2
    }
    assert(IncrementalCluster.readMembers(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L).map(_ -> 1L) ++
        Seq(20L, 21L, 22L).map(_ -> 20L) ++ Seq(30L, 31L).map(_ -> 30L)).toMap)
    assert(jobs === Seq(49, 46, 53), s"jobs per update: $jobs")
  }

  test("Scale.connectedComponents: exact job budget for a 6-edge graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("u", "v")
    val (labels, jobs) = JobCounter(spark.sparkContext) {
      Scale.connectedComponents(edges)._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(jobs === 33, s"jobs: $jobs")
  }
}
