package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale utilities (SURVEY §7.4.7 discipline): skew salting and
  * bucketed co-located joins — the two knobs that keep 100 TB joins off
  * the single-hot-partition and full-shuffle cliffs.
  */
object Scale {

  /** Skew-safe inner equi-join: the skewed LEFT side gets a random salt
    * in [0, saltFactor); the (smaller, but not broadcastable) RIGHT side
    * is replicated saltFactor times. The shuffle key becomes
    * (key, salt), splitting each hot key across saltFactor partitions.
    *
    * Use when AQE's skew-join split is not available (e.g. the skew is
    * in a window/aggregation upstream) or the skew is known a priori.
    * Salting trades a saltFactor× replication of the right side for
    * eliminating the straggler — the classic deliberate trade.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      (rand(seed = 7) * saltFactor).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Keys of `df` carrying at least `minRows` rows — the hot set an
    * adaptive skew mitigation salts. Exact, not sampled: the count is
    * map-side combined over the pruned key column, so the shuffle is
    * distinct-keys-sized, never corpus-sized. The result is bounded by
    * construction: at most rows(df) / minRows keys can qualify, which
    * is what makes broadcasting it safe.
    */
  def heavyKeys(df: DataFrame, key: String, minRows: Long): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("__kf"))
      .filter(col("__kf") >= minRows)
      .select(col(key))

  /** Skew-ADAPTIVE inner equi-join: salt only detected-heavy keys.
    *
    * [[saltedJoin]] pays saltFactor× replication of the ENTIRE build
    * side whether or not the data is skewed — at 100 TB that is the
    * wrong default. This variant first finds the probe side's heavy
    * keys exactly ([[heavyKeys]], one pruned-column pass), broadcasts
    * that bounded set, and then salts in a SINGLE join: probe rows of
    * hot keys get a random salt in [0, saltFactor), cold rows get salt
    * 0; build rows are exploded saltFactor× ONLY for hot keys, 1× for
    * cold. The shuffle key is (key, salt), so a cold corpus produces
    * exactly the plain join's exchange while each hot key spreads over
    * saltFactor reducers. Each side is scanned once; no union of a
    * hot and a cold branch (which would scan both inputs twice).
    *
    * Equivalent to the plain inner join row-for-row (salting only
    * re-keys the shuffle) — q38's oracle asserts exactly that.
    *
    * `detectSampleRate` < 1 detects on a Bernoulli sample with the
    * threshold scaled by the rate (the production form: a 100 TB
    * probe side is not worth an exact count for a mitigation
    * decision). Sampling can only mis-CLASSIFY borderline keys,
    * never corrupt the result — which rows get salted changes the
    * partitioning, not the join output, so the identity above holds
    * unconditionally.
    */
  def adaptiveSaltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int, skewThreshold: Long,
      detectSampleRate: Double = 1.0): DataFrame = {
    // a sample rate so small that the scaled threshold rounds below 1
    // would make EVERY sampled key "hot" — the broadcast set would no
    // longer be bounded by rows/minRows and the build side would be
    // saltFactor-replicated for most keys. Detection falls back to
    // exact in that regime: the caller asked for a mitigation decision
    // the sample cannot support.
    val (probe, minRows) =
      if (detectSampleRate >= 1.0 || skewThreshold * detectSampleRate < 1.0)
        (left, skewThreshold)
      else (left.sample(withReplacement = false, detectSampleRate, seed = 7L),
        math.round(skewThreshold * detectSampleRate))
    val hot = broadcast(heavyKeys(probe, key, minRows)
      .withColumn("__hot", lit(true)))
    val salted = left.join(hot, Seq(key), "left")
      .withColumn("__salt",
        when(col("__hot").isNotNull,
          (rand(seed = 7) * saltFactor).cast("int")).otherwise(lit(0)))
      .drop("__hot")
    val replicated = right.join(hot, Seq(key), "left")
      .withColumn("__salt", explode(
        when(col("__hot").isNotNull, sequence(lit(0), lit(saltFactor - 1)))
          .otherwise(sequence(lit(0), lit(0)))))
      .drop("__hot")
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Distributed per-group rank (1-based, the `row_number()` contract)
    * of `df` by `orderKey` within `partKey` — the two-phase
    * prefix-offset formulation of zipWithIndex, replacing
    * `row_number().over(Window.partitionBy(partKey).orderBy(orderKey))`
    * whose per-group TOTAL order funnels every row of a group through
    * one reducer (with a handful of sources and a 100 TB corpus: one
    * straggler task sorting ~25 TB per source).
    *
    * Phases:
    *  1. range-partition on (partKey, orderKey): each task holds a
    *     bounded contiguous slice, and for a fixed group the slices are
    *     ordered across task ids;
    *  2. per-(task, group) counts — a tiny frame (tasks × groups rows)
    *     — turn into prefix offsets with a window over the COUNTS, not
    *     the data;
    *  3. offsets broadcast back and each task ranks its slice locally
    *     (the local window's groups are (task, group) slices bounded by
    *     the range split size, never a whole group).
    *
    * `materialize` must persist the partitioned frame: the count branch
    * and the rank branch MUST observe the same sampled range boundaries
    * (two independent range exchanges may sample differently, shifting
    * boundary rows between task ids and corrupting the offsets). The
    * caller owns the lifecycle (SessionMemo / unpersist).
    */
  def distributedRank(df: DataFrame, partKey: String, orderKey: String,
      rankCol: String, numPartitions: Option[Int] = None,
      materialize: DataFrame => DataFrame =
        _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame =
    distributedRankWithCounts(df, partKey, orderKey, rankCol,
      numPartitions, materialize)._1

  /** [[distributedRank]] plus the per-(slice, group) COUNTS frame it
    * already builds (tasks × groups rows). Callers needing group
    * totals (e.g. equi-depth bucketing's n) aggregate THAT tiny frame
    * instead of re-scanning the corpus-sized ranked output for
    * max(rank) — one bounded aggregation replaces a full second pass.
    */
  def distributedRankWithCounts(df: DataFrame, partKey: String,
      orderKey: String, rankCol: String,
      numPartitions: Option[Int] = None,
      materialize: DataFrame => DataFrame =
        _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): (DataFrame, DataFrame) = {
    val ranged = numPartitions
      .map(n => df.repartitionByRange(n, col(partKey), col(orderKey)))
      .getOrElse(df.repartitionByRange(col(partKey), col(orderKey)))
    val parts = materialize(ranged.withColumn("__pid", spark_partition_id()))
    val counts = parts.groupBy(col("__pid"), col(partKey))
      .agg(count(lit(1)).as("__cnt"))
    val offW = Window.partitionBy(col(partKey)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts
      .withColumn("__off", coalesce(sum(col("__cnt")).over(offW), lit(0L)))
      .select(col("__pid"), col(partKey), col("__off"))
    val localW = Window.partitionBy(col("__pid"), col(partKey))
      .orderBy(col(orderKey))
    val ranked = parts.join(broadcast(offs), Seq("__pid", partKey))
      .withColumn(rankCol, col("__off") + row_number().over(localW))
      .drop("__pid", "__off")
    (ranked, counts)
  }

  /** Distributed EXCLUSIVE prefix sum of `valueCol` by global
    * `orderKey` order — same two-phase shape as [[distributedRank]]
    * (range-partition, tiny per-slice totals → broadcast offsets,
    * slice-local running sum) for the aggregations a naive
    * `sum().over(Window.orderBy(...))` would funnel through ONE
    * reducer for the entire dataset. `materialize` contract as in
    * [[distributedRank]].
    */
  def distributedPrefixSum(df: DataFrame, orderKey: String, valueCol: String,
      outCol: String, numPartitions: Option[Int] = None,
      materialize: DataFrame => DataFrame =
        _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    val ranged = numPartitions
      .map(n => df.repartitionByRange(n, col(orderKey)))
      .getOrElse(df.repartitionByRange(col(orderKey)))
    val parts = materialize(ranged.withColumn("__pid", spark_partition_id()))
    val totals = parts.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__slice_sum"))
    // Exclusive prefix over the slice totals WITHOUT a global window:
    // one row per range slice (≤ numPartitions), folded into a single
    // row and prefix-summed in-row. O(slices²) additions on one
    // executor — ~10⁶ at a thousand slices, nothing — versus an
    // empty-partition WindowExec whose warning is indistinguishable
    // from a real scale-killer in every log audit.
    val offs = totals
      .agg(expr("array_sort(collect_list(struct(__pid, __slice_sum)))").as("ts"))
      .select(explode(expr(
        """transform(ts, (t, i) ->
             struct(t.__pid AS __pid,
                    aggregate(slice(ts, 1, i), 0L,
                              (a, x) -> a + x.__slice_sum) AS __off))"""))
        .as("o"))
      .select(col("o.__pid").as("__pid"), col("o.__off").as("__off"))
    val localW = Window.partitionBy(col("__pid")).orderBy(col(orderKey))
      .rowsBetween(Window.unboundedPreceding, -1)
    parts.join(broadcast(offs), Seq("__pid"))
      .withColumn(outCol,
        col("__off") + coalesce(sum(col(valueCol)).over(localW), lit(0L)))
      .drop("__pid", "__off")
  }

  /** Distributed per-group INCLUSIVE prefix sum of `valueCol` by
    * `orderKeys` order within `partKey` — the keyed analogue of
    * [[distributedPrefixSum]], replacing
    * `sum().over(Window.partitionBy(partKey).orderBy(orderKeys))`
    * whose per-group total order funnels every row of a group through
    * one reducer (same straggler shape [[distributedRank]] removes).
    * Range-partitioning on (partKey, orderKeys) keeps each task on a
    * bounded contiguous slice; the per-(task, group) totals frame is
    * tiny (tasks × groups), so its offset window is cheap and
    * partitioned. `orderKeys` must totally order rows within a group
    * for the output to be deterministic. `materialize` contract as in
    * [[distributedRank]].
    */
  def distributedKeyedPrefixSum(df: DataFrame, partKey: String,
      orderKeys: Seq[String], valueCol: String, outCol: String,
      numPartitions: Option[Int] = None,
      materialize: DataFrame => DataFrame =
        _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    val rangeCols = (partKey +: orderKeys).map(col)
    val ranged = numPartitions
      .map(n => df.repartitionByRange(n, rangeCols: _*))
      .getOrElse(df.repartitionByRange(rangeCols: _*))
    val parts = materialize(ranged.withColumn("__pid", spark_partition_id()))
    val sums = parts.groupBy(col("__pid"), col(partKey))
      .agg(sum(col(valueCol)).as("__slice_sum"))
    val offW = Window.partitionBy(col(partKey)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sums
      .withColumn("__off", coalesce(sum(col("__slice_sum")).over(offW), lit(0L)))
      .select(col("__pid"), col(partKey), col("__off"))
    val localW = Window.partitionBy(col("__pid"), col(partKey))
      .orderBy(orderKeys.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parts.join(broadcast(offs), Seq("__pid", partKey))
      .withColumn(outCol, col("__off") + sum(col(valueCol)).over(localW))
      .drop("__pid", "__off")
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the formulation whose round count is
    * logarithmic in the component DIAMETER, replacing plain min-label
    * propagation whose round count is linear in it (a 100 TB near-dup
    * graph with chained shingle overlaps can have diameter ≫ any fixed
    * iteration cap).
    *
    * Each round is two join+aggregate steps over the current edge set:
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: with edges oriented larger→smaller, every node
    *    links its smaller neighbors (and itself) to the neighborhood
    *    minimum.
    * The fixed point is a star forest — every node points straight at
    * its component minimum. Rounds localCheckpoint so lineage stays
    * constant-depth; convergence is set-equality of successive edge
    * sets (an anti-join behind an observed (count, hash-sum)
    * signature; the graph is never collected).
    *
    * @param pairs undirected edges (u, v), u ≠ v (long ids)
    * @return (labels (doc_id, label = component min), rounds run)
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    // Every intermediate edge set is kept CANONICALLY ORIENTED
    // (u > v, distinct), which both star steps preserve — so the
    // re-orientation + distinct a general small-star would need on
    // entry is paid once on the raw input, not once per round.
    def largeStar(l: DataFrame): DataFrame = {
      val sym = l.union(l.select(col("v"), col("u"))).toDF("u", "v")
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // emitted (v, m) has v > u ≥ m: canonical, self-loop-free
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(l: DataFrame): DataFrame = {
      // input canonical ⇒ every neighbor in v is smaller than u; link
      // them AND u itself to the minimum — output again canonical
      val m = l.groupBy(col("u")).agg(min(col("v")).as("m"))
      l.join(m, Seq("u"))
        .select(explode(array(col("v"), col("u"))).as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // (count, hash-sum) signature: a CHEAP per-round stability probe,
    // observed on the checkpoint job that materializes the round — no
    // extra job. Signature equality only TRIGGERS the exact
    // set-equality check — convergence is always confirmed by the
    // anti-join, so hash collisions cost one wasted check, never a
    // wrong answer.
    def checkpointWithSig(l: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = Observation()
      val cp = l.observe(obs, count(lit(1)).as("n"),
        sum(hash(col("u"), col("v")).cast("long")).as("h")).localCheckpoint(true)
      val r = obs.get
      (cp, (r("n").asInstanceOf[Long], Option(r("h")).fold(0L)(_.asInstanceOf[Long])))
    }
    // materialize the caller's pair plan ONCE — the label join at the
    // end must not re-run the candidate-generation upstream
    val canon = pairs
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var (l, s) = checkpointWithSig(smallStar(canon))
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (next, s2) = checkpointWithSig(smallStar(largeStar(l)))
      converged = s2 == s && next.except(l).isEmpty
      l = next; s = s2; rounds += 1
    }
    if (!converged) sys.error(
      s"connected components did not converge within $maxRounds alternating rounds")
    // the fixed point is a star forest: component minimums have no
    // outgoing edge (label = self); the min() is purely defensive
    val nodes = canon.select(col("u")).union(canon.select(col("v")))
      .toDF("u").distinct()
    val labels = nodes
      .join(l.groupBy(col("u")).agg(min(col("v")).as("root")), Seq("u"), "left")
      .select(col("u").as("doc_id"), coalesce(col("root"), col("u")).as("label"))
    (labels, rounds)
  }

  /** Write both sides of a recurring join bucketed on the key: later
    * joins between the two tables shuffle NOTHING (bucket-to-bucket,
    * verified by the absence of Exchange in the plan). This is the
    * pre-partitioning the reference could never express — the right
    * layout for a fact table joined on the same key every day.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
