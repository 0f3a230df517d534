package graft.e2ebench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{GateQuery, SessionMemo}
import scala.jdk.CollectionConverters._
import E2E.{Pass, cacheState, deleteTree, describe, dirBytes, resultHash, seconds}

/** The 11 gate packs, in SparkEntry's order. */
object Packs {
  import graft.operators._
  val all: Seq[(String, Seq[GateQuery])] = Seq(
    "Relational" -> Relational.all, "Scalar" -> Scalar.all,
    "Analytics" -> Analytics.all, "TextOps" -> TextOps.all,
    "TrainingOps" -> TrainingOps.all, "CurationOps" -> CurationOps.all,
    "VectorOps" -> VectorOps.all, "FicGate" -> FicGate.all,
    "MediaGate" -> MediaGate.all, "DataLayout" -> DataLayout.all,
    "Expectations" -> Expectations.all)
}

/** Gate calls on the vendored tables. `expected` lists `pack name hash`
  * per gate: the gates the workload runs and each one's result hash,
  * recorded once from a result that tools/check.py found equal to the
  * DuckDB oracle. The seed sets the call order.
  *
  * cold = first call of every gate in a fresh session. warm = a later
  * call of every gate in that session: the calls are made in
  * `Gates.WarmRounds` rounds after the cold one, and warm is the median
  * round.
  */
final class Gates(o: E2E.Opts) extends E2E.Workload {
  private val expected: Seq[(String, String, String)] =
    scala.io.Source.fromFile(o.expected, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => (a(0), a(1), a(2))).toSeq
  private val byName: Map[String, GateQuery] =
    Packs.all.flatMap(_._2).map(g => g.name -> g).toMap
  private val order = new scala.util.Random(o.seed).shuffle(expected)

  def pass(spark: SparkSession, n: Int, tr: Tracer): Pass = {
    val s = spark.newSession()
    val failures = Seq.newBuilder[String]
    val coldHash = scala.collection.mutable.Map.empty[String, String]
    var cold, warm = 0.0
    var failed = 0L
    val memoBuilds = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def call(pack: String, name: String, phase: String): Option[(String, Double)] = {
      val g = byName(name)
      try {
        val ((df, rows), t) = seconds {
          if (phase == "cold") {
            val d = tr(s"operators.$pack.cold_plan") {
              val d = g.build(s, o.input); d.queryExecution.executedPlan; d
            }
            (d, tr(s"operators.$pack.cold_exec")(d.collect()))
          } else tr(s"operators.$pack.warm") { val d = g.build(s, o.input); (d, d.collect()) }
        }
        Some((resultHash(df, rows), t))
      } catch { case e: Throwable =>
        failures += s"$name ($phase): ${describe(e)}"; None
      }
    }
    for ((pack, name, want) <- order) {
      val (m0, _) = cacheState(s)
      call(pack, name, "cold") match {
        case Some((h, t)) if h == want => cold += t; coldHash(name) = h
        case Some((h, _)) => failed += 1; failures += s"$name: cold hash $h != recorded $want"
        case None => failed += 1
      }
      memoBuilds(pack) += cacheState(s)._1 - m0
    }
    // the warm-up pass (n = 0) makes one round
    val rounds = (1 to (if (n == 0) 1 else Gates.WarmRounds)).map { _ =>
      var warm = 0.0
      for ((pack, name, _) <- order if coldHash.contains(name)) {
        call(pack, name, "warm") match {
          case Some((h, t)) if h == coldHash(name) => warm += t
          case Some((h, _)) => failed += 1; failures += s"$name: warm hash $h != cold"
          case None => failed += 1
        }
      }
      warm
    }
    SessionMemo.release(s)
    val ok = failed == 0
    Pass(if (ok) Some(cold) else None, if (ok) Some(rounds.sorted.apply(rounds.size / 2)) else None,
      (1L + rounds.size) * order.size, failed,
      memoBuilds.map { case (p, b) => s"operators.$p.memo_builds" -> b }.toMap ++
        rounds.zipWithIndex.map { case (w, i) => s"gates.warm_round$i" -> w },
      failures.result())
  }
}

object Gates {
  val WarmRounds = 3

  /** Run every gate once in a fresh session, write each result as
    * parquet under `dir` with the oracle SQL beside it (the layout
    * tools/check.py reads), and print `pack name hash` per gate.
    */
  def record(spark: SparkSession, input: String, dir: String): Unit = {
    val s = spark.newSession()
    val oracles = Packs.all.flatMap(_._2).flatMap(g => g.oracle.map(g.name -> _))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "oracle_sql.json"),
      E2E.json.writeValueAsString(oracles.map { case (k, v) => k -> v.trim }.toMap.asJava))
    for ((pack, gates) <- Packs.all; g <- gates) {
      try {
        val (df, t) = seconds(g.build(s, input))
        val (rows, te) = seconds(df.collect())
        df.write.mode("overwrite").parquet(s"$dir/${g.name}")
        println(f"$pack ${g.name} ${resultHash(df, rows)} $t%.3f $te%.3f")
      } catch { case e: Throwable => println(s"$pack ${g.name} FAILED ${describe(e)}") }
    }
  }
}

/** graft-curate with every option on, over a row-order permutation of
  * the documents table. cold = the first curate in a fresh session,
  * warm = the same curate again in that session (artifacts memoized).
  * Both manifests must equal the recorded one.
  */
final class Curate(o: E2E.Opts) extends E2E.Workload {
  private val expected: Seq[String] =
    scala.io.Source.fromFile(o.expected, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  private def manifestLines(m: DataFrame): Seq[String] =
    m.collect().toSeq.map(r => r.toSeq.map(String.valueOf).mkString(" ")).sorted

  private def curate(s: SparkSession, out: String): Seq[String] =
    manifestLines(graft.app.GraftCurate.run(s, o.input, out, None,
      spanDecontaminate = true, clusterSplit = true, cutSubstrings = true,
      zorderCluster = true))

  /** The curate's memoized artifacts, each built ahead of the write. */
  private def buildArtifacts(s: SparkSession, tr: Tracer): Unit = {
    import graft.operators.{CurationOps, TextOps, TrainingOps}
    val dir = o.input
    val survivors = tr("operators.TextOps.dedup_survivors") {
      val d = TextOps.qDedupSurvivors(s, dir); d.count(); d
    }
    val curated = tr("operators.CurationOps.curated_docs") {
      val d = CurationOps.curatedDocs(s, dir); d.count(); d
    }
    val split = tr("operators.TrainingOps.cluster_split") {
      val d = TrainingOps.qClusterSplit(s, dir); d.count(); d
    }
    tr("operators.TrainingOps.span_screen") {
      val splits = curated.join(survivors.select(col("survivor_id").as("doc_id")),
          Seq("doc_id"), "left_semi").drop("split")
        .join(split.select(col("doc_id"), col("split_cluster").as("split")), Seq("doc_id"))
        .select(col("doc_id"), col("split"))
      TrainingOps.spanContaminatedTrainDocs(s, dir, splits).count()
    }
    tr("operators.TrainingOps.substring_cut") {
      TrainingOps.substringCleanedDocs(s, dir).count()
    }
  }

  def pass(spark: SparkSession, n: Int, tr: Tracer): Pass = {
    val s = spark.newSession()
    val root = Paths.get(o.work, s"curate-p$n")
    val failures = Seq.newBuilder[String]
    def step(name: String)(f: => Seq[String]): Option[Double] =
      try {
        val (m, t) = seconds(f)
        if (m == expected) Some(t)
        else {
          failures += s"$name manifest ${m.mkString("; ")} != recorded ${expected.mkString("; ")}"
          None
        }
      } catch { case e: Throwable => failures += s"$name: ${describe(e)}"; None }
    val cold = step("cold") {
      if (tr.on) buildArtifacts(s, tr)
      tr("app.curate_write")(curate(s, root.resolve("cold").toString))
    }
    val (builds, bytes) = cacheState(s)
    val warm = step("warm")(curate(s, root.resolve("warm").toString))
    SessionMemo.release(s)
    deleteTree(root)
    Pass(cold, warm, 2, Seq(cold, warm).count(_.isEmpty),
      Map("operators.SessionMemo.builds" -> builds.toDouble,
        "operators.SessionMemo.cached_mb" -> bytes / 1e6),
      failures.result())
  }
}

/** graft-drop over K successive drops into one index, in one session.
  * cold = the first drop (empty index), warm = drops 2..K (growing
  * state). Every planted near-duplicate must surface in the pair
  * report and every planted quote in the span report; a drop whose
  * plants are missing counts as failed.
  */
final class Drops(o: E2E.Opts) extends E2E.Workload {
  private val dropFiles = {
    val ls = Files.list(Paths.get(o.input))
    try ls.iterator().asScala.filter(_.getFileName.toString.matches("drop-\\d+\\.json"))
      .toSeq.sortBy(_.getFileName.toString)
    finally ls.close()
  }
  private val exp = E2E.readJson(Paths.get(o.input, "expected.json"))
  private def planted(key: String): Seq[(Long, Long)] =
    exp.get(key).elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
  private val dropOf: Map[Long, Int] = dropFiles.zipWithIndex.flatMap { case (f, i) =>
    Files.readAllLines(f).asScala.map(l => E2E.json.readTree(l).get("doc_id").asLong -> i)
  }.toMap

  private def tracedDrop(s: SparkSession, in: String, index: String, tr: Tracer): Unit = {
    import graft.streaming._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val docs = s.readStream.schema(graft.app.GraftDrop.dropSchema)
      .option("pathGlobFilter", "*.json").option("maxFilesPerTrigger", 100).json(in)
    val q = docs.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$index/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
        val text = b.select(col("doc_id"), col("text"))
        val pairs = tr("streaming.IncrementalDedup") {
          val p = IncrementalDedup.processBatch(text, s"$index/dedup", id, 0.5, false)
          p.count(); p
        }
        tr("app.drop_reports")(pairs.write.mode("overwrite").parquet(s"$index/reports/pairs/batch=$id"))
        val cl = tr("streaming.IncrementalCluster") {
          val scores = pairs.select(col("doc_a").as("doc_id"), col("score_a").as("score"))
            .unionByName(pairs.select(col("doc_b").as("doc_id"), col("score_b").as("score")))
            .distinct()
          val c = IncrementalCluster.update(s, s"$index/clusters", id, pairs, scores)
          c.labelChanges.count(); c
        }
        tr("app.drop_reports") {
          cl.labelChanges.write.mode("overwrite").parquet(s"$index/reports/cluster_labels/batch=$id")
          cl.survivorChanges.write.mode("overwrite").parquet(s"$index/reports/cluster_survivors/batch=$id")
        }
        val spans = tr("streaming.IncrementalSpanIndex") {
          val sp = IncrementalSpanIndex.processBatch(text, s"$index/spans", id)
          sp.count(); sp
        }
        tr("app.drop_reports")(spans.write.mode("overwrite").parquet(s"$index/reports/spans/batch=$id"))
        val vecs = tr("llm.embed") {
          val v = graft.llm.LlmOperators.embed(text, new graft.llm.StubEmbedder(), backoffMs = _ => 0L)
            .filter(col("error").isNull)
            .select(col("doc_id").as("vec_id"),
              expr("transform(embedding, x -> cast(x as double))").as("v"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          v.count(); v
        }
        val topk = tr("streaming.IncrementalAnn") {
          val t = IncrementalAnn.processBatch(vecs, s"$index/ann", id, IncrementalAnn.Config())
          t.count(); t
        }
        tr("app.drop_reports")(topk.write.mode("overwrite").parquet(s"$index/reports/neighbors/batch=$id"))
        vecs.unpersist()
        tr("streaming.IncrementalQuality") {
          val qy = IncrementalQuality.processBatch(b, s"$index/quality", id,
            IncrementalQuality.dropRules, Nil)
          qy.filter(!col("pass") && col("severity") === "invariant").count()
          qy.filter(!col("pass") && col("severity") === "screen").count()
        }
        b.count()
        b.unpersist()
        ()
      }.start()
    q.awaitTermination()
  }

  def pass(spark: SparkSession, n: Int, tr: Tracer): Pass = drops(spark, n, tr, dropFiles)

  /** The first drop alone: it runs the code of both steps, as the state
    * that later drops grow only adds rows to the same indexes.
    */
  override def warmup(spark: SparkSession, tr: Tracer): Pass =
    drops(spark, 0, tr, dropFiles.take(1))

  private def drops(spark: SparkSession, n: Int, tr: Tracer,
      files: Seq[java.nio.file.Path]): Pass = {
    val s = spark.newSession()
    val root = Paths.get(o.work, s"drop-p$n")
    val in = root.resolve("in")
    val index = root.resolve("index").toString
    Files.createDirectories(in)
    val failures = Seq.newBuilder[String]
    var stateMb = 0.0
    val walls = files.map { f =>
      Files.copy(f, in.resolve(f.getFileName))
      try {
        val (_, t) = seconds {
          tr("app.drop_trigger") {
            if (tr.on) tracedDrop(s, in.toString, index, tr)
            else graft.app.GraftDrop.run(s, in.toString, index)
          }
        }
        stateMb = Seq("dedup", "spans", "ann", "clusters", "quality")
          .map(d => dirBytes(Paths.get(index, d))).sum / 1e6
        Some(t)
      } catch { case e: Throwable => failures += s"${f.getFileName}: ${describe(e)}"; None }
    }
    // the plants: each must be reported; a miss fails the drop it arrived in
    def found(report: String): Set[(Long, Long)] =
      try s.read.parquet(s"$index/reports/$report").select(
          least(col("doc_a"), col("doc_b")), greatest(col("doc_a"), col("doc_b")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      catch { case _: Throwable => Set.empty }
    val missing = Seq("near_dups" -> found("pairs"), "quotes" -> found("spans")).flatMap {
      case (k, got) => planted(k).filter { case (_, b) => dropOf(b) < files.size }
        .filterNot { case (a, b) => got((a min b, a max b)) }.map(k -> _)
    }
    missing.foreach { case (k, (a, b)) => failures += s"planted $k pair ($a, $b) not reported" }
    val badDrops = missing.map { case (_, (_, planted)) => dropOf(planted) }.toSet
    val ok = walls.zipWithIndex.map { case (w, i) => w.isDefined && !badDrops(i) }
    // report rows per drop: each drop is one micro-batch, `batch=<id>`
    val reportRows = Seq("pairs", "spans", "neighbors").flatMap { r =>
      try s.read.parquet(s"$index/reports/$r").groupBy(col("batch")).count().collect()
        .map(x => s"app.report_rows.$r.batch${x.get(0)}" -> x.getLong(1).toDouble).toSeq
      catch { case _: Throwable => Nil }
    }
    def total(r: String) = reportRows.collect { case (k, v) if k.startsWith(s"app.report_rows.$r.") => v }.sum
    SessionMemo.release(s)
    deleteTree(root)
    val allOk = ok.forall(identity)
    Pass(if (allOk) walls.head else None,
      if (allOk) Some(walls.tail.flatten.sum) else None,
      files.size, ok.count(!_),
      reportRows.toMap ++ Map("streaming.pairs" -> total("pairs"),
        "streaming.spans" -> total("spans"), "streaming.state_mb" -> stateMb),
      failures.result())
  }
}

/** The FIC monthly ETL: GraftTransformLoad over two month folders into
  * a fresh in-memory Derby database. cold = month 1 (insert path),
  * warm = month 2 (update path). An operation is a document: a month
  * that throws fails all its documents; a month whose loaded/replaced
  * counts, or whose table row counts, differ from the generator's
  * expectation fails all its documents too.
  */
final class Fic(o: E2E.Opts) extends E2E.Workload {
  import graft.fic.{FicLookup, FicShredder, FicTransform, FicUpsert}
  import graft.load.JdbcSink
  import graft.quality.Validation
  import graft.sources.FicSources

  private val exp = E2E.readJson(Paths.get(o.input, "expected.json"))
  private val months = exp.get("months").elements().asScala.toSeq.sortBy(_.get("folder").asText)
  private val tables = Seq("fic", "composicion_portafolio", "plazo_duracion",
    "caracteristicas", "calificacion", "principales_inversiones",
    "rentabilidad_historica", "volatilidad_historica", "raw_json")

  private def rowCounts(url: String): Map[String, Long] = {
    val c = java.sql.DriverManager.getConnection(url)
    try tables.map { t =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t"); rs.next(); t -> rs.getLong(1)
      } catch { case _: java.sql.SQLException => t -> 0L }
      finally st.close()
    }.toMap
    finally c.close()
  }

  /** GraftTransformLoad.run's stages, called one by one under spans. */
  private def tracedMonth(s: SparkSession, in: String, out: String, url: String,
      tr: Tracer, counts: scala.collection.mutable.Map[String, Double]): (Long, Long) = {
    val folder = new java.io.File(in).getName
    val raw = tr("sources.raw_scan") {
      val r = FicSources.rawJsonFolder(s, in).persist(StorageLevel.MEMORY_AND_DISK); r.count(); r
    }
    val transformed = tr("fic.transform") {
      val t = FicTransform(raw, FicLookup(Nil)).persist(StorageLevel.MEMORY_AND_DISK); t.count(); t
    }
    try loadTransformed(s, transformed, folder, out, url, tr, counts)
    finally { transformed.unpersist(); raw.unpersist() }
  }

  private def loadTransformed(s: SparkSession, transformed: DataFrame, folder: String,
      out: String, url: String, tr: Tracer,
      counts: scala.collection.mutable.Map[String, Double]): (Long, Long) = {
    tr("sources.doc_write")(FicSources.writePerDocumentJson(transformed, out))
    val bad = tr("quality.validate") {
      Validation.sumWarnings(transformed).count()
      val checked = Validation.dateFolderCheck(transformed, folder)
      Validation.writeSkipList(checked, new java.io.File(out, "skip_list.txt").getPath)
      checked.filter(!col("fecha_valida")).select(col("filename"))
    }
    val kept = transformed.join(broadcast(bad), Seq("filename"), "left_anti")
      .withColumn("filename", concat(regexp_replace(col("filename"), "\\.json$", ""),
        lit("_transformed.json")))
    val shredded = tr("fic.shred") { val sh = FicShredder(kept); sh.fic.count(); sh }
    val existing = tr("load.snapshot_read") {
      JdbcSink.readTable(s, url, "fic").map { d =>
        val p = d.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }
    }
    val (toWrite, replaced) = existing match {
      case Some(snapshot) => tr("fic.merge") {
        val m = FicUpsert.merge(
          snapshot.select("fic_id", "nombre_fic", "url", "fecha_corte"),
          shredded.fic.select("fic_id", "nombre_fic", "url", "fecha_corte"))
        val actions = m.actions.persist(StorageLevel.MEMORY_AND_DISK)
        actions.count()
        val ids = m.replacedIds.persist(StorageLevel.MEMORY_AND_DISK)
        (actions.filter(col("action") =!= "noop").select("fic_id"), Some(ids))
      }
      case None => (shredded.fic.select("fic_id"), None)
    }
    val frames = shredded.all.map { case (name, df) => name -> df.join(toWrite, Seq("fic_id"), "left_semi") }
    val nReplaced = replaced.map { ids =>
      tr("load.delete")(frames.foreach { case (name, _) => JdbcSink.deleteByIds(url, name, ids) })
      ids.count()
    }.getOrElse(0L)
    val before = rowCounts(url).values.sum
    tr("load.write")(JdbcSink.loadShredded(frames, url))
    counts("load.rows_written") += rowCounts(url).values.sum - before
    counts("fic.docs_replaced") += nReplaced
    val n = frames.head._2.count()
    existing.foreach(_.unpersist())
    (n, nReplaced)
  }

  def pass(spark: SparkSession, n: Int, tr: Tracer): Pass = {
    val s = spark.newSession()
    val root = Paths.get(o.work, s"fic-p$n")
    val url = s"jdbc:derby:memory:e2ebench_p$n;create=true"
    val failures = Seq.newBuilder[String]
    val counts = scala.collection.mutable.Map("load.rows_written" -> 0.0, "fic.docs_replaced" -> 0.0)
    val results = months.map { mj =>
      val m = mj.get("folder").asText
      val in = Paths.get(o.input, m).toString
      val out = root.resolve(m).toString
      try {
        val ((loaded, replaced), t) = seconds {
          if (tr.on) tracedMonth(s, in, out, url, tr, counts)
          else graft.app.GraftTransformLoad.run(s, in, out, url, None)
        }
        if (loaded == mj.get("loaded").asLong && replaced == mj.get("replaced").asLong) Some(t)
        else {
          failures += s"$m: loaded $loaded replaced $replaced, expected ${mj.get("loaded")} " +
            s"and ${mj.get("replaced")}"
          None
        }
      } catch { case e: Throwable => failures += s"$m: ${describe(e)}"; None }
    }
    val rows = rowCounts(url)
    val want = tables.map(t => t -> exp.get("table_rows").get(t).asLong).toMap
    val rowsOk = tables.forall(t => rows(t) == want(t))
    if (!rowsOk) failures += s"table rows ${tables.map(t => s"$t=${rows(t)}").mkString(" ")}, " +
      s"expected ${tables.map(t => s"$t=${want(t)}").mkString(" ")}"
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:e2ebench_p$n;drop=true")
    catch { case _: java.sql.SQLException => () }
    SessionMemo.release(s)
    deleteTree(root)
    val docs = months.map(_.get("docs").asLong)
    val ok = results.zipWithIndex.map { case (r, i) => r.isDefined && (rowsOk || i == 0) }
    Pass(if (ok.head) results.head else None, if (ok.last) results.last else None,
      docs.sum, docs.zip(ok).collect { case (d, false) => d }.sum,
      counts.toMap, failures.result())
  }
}
