package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.app.GraftDrop
import graft.streaming.{IncrementalAnn, IncrementalCluster, IncrementalDedup,
  IncrementalQuality, IncrementalSpanIndex}

/** Kill-anywhere crash differential for the COMPOSED graft-drop fold
  * (r14, VERDICT #3): the per-index crash specs
  * (IncrementalCommitSpec) prove each index's epoch commit is atomic
  * in isolation, and tools/DropCheck proves steady-state equality —
  * this tool closes the gap between them by killing the WIRED
  * dedup → cluster, span, ann and quality lanes at seeded-random
  * points, replaying, and requiring every state and report stream to
  * equal an uninterrupted run's.
  *
  * [[GraftDrop.processDrop]] runs its four lanes concurrently, so a
  * crash leaves each lane at its own step prefix. Per drop, on the
  * crashing root:
  *
  *  1. run each lane's first `k` steps only (`k` seeded-random per
  *     lane and drop, 0 = crash before the lane's first step), all
  *     lanes concurrently, as [[GraftDrop.run]] does — the
  *     between-steps kill;
  *  2. plant a junk file inside each cut lane's NEXT step's target
  *     directory (an index epoch dir with no commit marker, or a
  *     report partition dir) — the mid-write kill: torn output that
  *     must be invisible to readers and overwritten by recovery;
  *  3. optionally (seeded coin) crash the RECOVERY itself the same
  *     way — a second partial run, each lane cut at or after its first
  *     cut, + junk plants;
  *  4. replay the batch id to completion, exactly as the streaming
  *     checkpoint restart would before admitting the next file batch.
  *
  * After all drops, every public read surface must equal the
  * uninterrupted root's, row-for-row via symmetric exceptAll (no
  * collect — state-sized relations compare distributed): dedup
  * signatures, cluster members + survivors, span windows, ANN
  * vectors, the quality trend + volume profile + totals, and all five
  * per-batch report streams (pairs, cluster labels/survivors, spans,
  * neighbors). `runMain graft.tools.CrashCheck <dir> [drops] [seed]`;
  * exit 1 on any divergence. CrashCheckSpec runs it at sf0.01 in CI.
  */
object CrashCheck {

  /** Where a mid-write kill of each step leaves torn output: the
    * step's target dir, pre-marker (index commits) or pre-overwrite
    * (report copies).
    */
  private def junkTarget(root: String, step: String, id: Long): String =
    step match {
      case "dedup_commit"      => s"$root/dedup/epoch-$id/index"
      case "pairs_report"      => s"$root/reports/pairs/batch=$id"
      case "cluster_commit"    => s"$root/clusters/epoch-$id/members"
      case "cluster_reports"   => s"$root/reports/cluster_labels/batch=$id"
      case "span_commit"       => s"$root/spans/epoch-$id/windows"
      case "spans_report"      => s"$root/reports/spans/batch=$id"
      case "ann_commit"        => s"$root/ann/state/epoch-$id/vectors"
      case "neighbors_report"  => s"$root/reports/neighbors/batch=$id"
      case "quality_commit"    => s"$root/quality/epoch-$id/report"
    }

  /** The epoch-layout root whose `commits/` log must already exist for
    * a mid-write crash of this step to be a REACHABLE state: every
    * index writer stamps its version marker and creates the commit log
    * BEFORE any relation write, so torn epoch content can only coexist
    * with an initialized layout. Report-copy steps have no
    * preconditions (overwrite dirs).
    */
  private def indexRootOf(root: String, step: String): Option[String] =
    step match {
      case "dedup_commit"   => Some(s"$root/dedup")
      case "cluster_commit" => Some(s"$root/clusters")
      case "span_commit"    => Some(s"$root/spans")
      case "ann_commit"     => Some(s"$root/ann/state")
      case "quality_commit" => Some(s"$root/quality")
      case _                => None
    }

  /** Simulate the mid-write kill of `step`: a torn non-parquet file in
    * its target dir. Skipped (returns false) when the state it would
    * leave is unreachable — an index epoch dir on a root whose layout
    * was never initialized; the between-steps kill covers that case.
    */
  private def plantJunk(spark: SparkSession, root: String, step: String,
      id: Long): Boolean = {
    val reachable = indexRootOf(root, step).forall(idx =>
      graft.streaming.StreamingState.exists(spark, s"$idx/commits"))
    if (!reachable) return false
    val dir = junkTarget(root, step, id)
    val fs = graft.streaming.StreamingState.fsFor(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/part-torn-write.txt")
    val out = fs.create(p, true)
    try out.write("torn mid-write garbage, not parquet".getBytes("UTF-8"))
    finally out.close()
    true
  }

  /** Every public read surface of a graft-drop index root, named. */
  private def surfaces(spark: SparkSession, root: String): Seq[(String, DataFrame)] =
    Seq(
      "dedup index" -> IncrementalDedup.readIndex(spark, s"$root/dedup"),
      "cluster members" -> IncrementalCluster.readMembers(spark, s"$root/clusters"),
      "cluster survivors" -> IncrementalCluster.readSurvivors(spark, s"$root/clusters"),
      "span windows" -> IncrementalSpanIndex.readIndex(spark, s"$root/spans"),
      "ann vectors" -> IncrementalAnn.readIndex(spark, s"$root/ann"),
      "quality trend" -> IncrementalQuality.readTrend(spark, s"$root/quality"),
      "quality profile" -> IncrementalQuality.readProfile(spark, s"$root/quality"),
      "quality totals" -> IncrementalQuality.readTotals(spark, s"$root/quality")) ++
    Seq("pairs", "cluster_labels", "cluster_survivors", "spans", "neighbors")
      .map(rep => s"reports/$rep" -> spark.read.parquet(s"$root/reports/$rep"))

  /** One message per read surface on which two graft-drop index roots
    * differ (symmetric exceptAll); empty when they are equal.
    */
  def divergences(spark: SparkSession, a: String, b: String,
      aName: String = "crashed run",
      bName: String = "uninterrupted run"): Seq[String] =
    surfaces(spark, a).zip(surfaces(spark, b)).flatMap { case ((what, x), (_, y)) =>
      val aOnly = x.exceptAll(y).count()
      val bOnly = y.exceptAll(x).count()
      if (aOnly == 0L && bOnly == 0L) None
      else Some(s"$what diverged: $aOnly rows only in $aName, $bOnly only in $bName")
    }

  /** A lane cut, as `lane k/n`, with the torn step when one was planted. */
  private def describe(cut: Map[String, Int], torn: Set[String]): String =
    GraftDrop.lanes.map { case (lane, steps) =>
      val k = cut(lane)
      s"$lane $k/${steps.size}" +
        (if (k < steps.size && torn(lane)) s" (${steps(k)} torn)" else "")
    }.mkString(", ")

  def check(spark: SparkSession, dir: String, drops: Int = 4,
      seed: Long = 42L): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val base = java.nio.file.Files.createTempDirectory("crashcheck").toString
    val crashed = s"$base/crashed"
    val clean = s"$base/clean"
    // plants the torn write of every lane the cut stopped short;
    // returns the lanes where one was planted
    def plantTorn(cut: Map[String, Int], id: Long): Set[String] =
      GraftDrop.lanes.collect { case (lane, steps) if cut(lane) < steps.size &&
          plantJunk(spark, crashed, steps(cut(lane)), id) => lane }.toSet
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val kills = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- 0 until drops) {
        val batch = docs.filter(pmod(col("doc_id"), lit(drops)) === i)
        // crashing root: each lane stopped at its own seeded kill
        // point + torn writes
        val cut = GraftDrop.lanes.map { case (lane, steps) =>
          lane -> rng.nextInt(steps.size + 1) }.toMap
        GraftDrop.processDrop(batch, crashed, i.toLong, stopAfter = cut)
        var killLog = s"drop $i: killed at ${describe(cut, plantTorn(cut, i.toLong))}"
        // seeded coin: crash the recovery too, every lane at or after
        // its first cut
        if (GraftDrop.lanes.exists { case (lane, steps) => cut(lane) < steps.size } &&
            rng.nextBoolean()) {
          val cut2 = GraftDrop.lanes.map { case (lane, steps) =>
            lane -> (cut(lane) + rng.nextInt(steps.size + 1 - cut(lane))) }.toMap
          GraftDrop.processDrop(batch, crashed, i.toLong, stopAfter = cut2)
          killLog += s"; recovery killed at ${describe(cut2, plantTorn(cut2, i.toLong))}"
        }
        // the replay the streaming restart performs before batch i+1
        GraftDrop.processDrop(batch, crashed, i.toLong)
        kills += killLog
        // uninterrupted root
        GraftDrop.processDrop(batch, clean, i.toLong)
        ()
      }
      kills.foreach(k => println(s"[crash-check] $k"))
      val errs = divergences(spark, crashed, clean)
      if (errs.isEmpty) {
        val nPairs = spark.read.parquet(s"$clean/reports/pairs").count()
        val nSpans = spark.read.parquet(s"$clean/reports/spans").count()
        val nNeighbors = spark.read.parquet(s"$clean/reports/neighbors").count()
        println(s"[crash-check] $dir drops=$drops seed=$seed verified: " +
          s"all five states + report streams equal after kill-anywhere replay " +
          s"($nPairs pairs, $nSpans spans, $nNeighbors neighbor rows)")
      }
      errs
    } finally {
      graft.streaming.StreamingState.fsFor(spark, base)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      graft.operators.SessionMemo.release(spark)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val drops = args.lift(1).map(_.toInt).getOrElse(4)
    val seed = args.lift(2).map(_.toLong).getOrElse(42L)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val errs = check(spark, dir, drops, seed)
    errs.foreach(e => System.err.println(s"[crash-check] DIVERGED: $e"))
    if (errs.nonEmpty) sys.exit(1)
  }
}
