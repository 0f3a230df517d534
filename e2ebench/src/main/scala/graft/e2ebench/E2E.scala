package graft.e2ebench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up the session users get, then run
  * passes of one workload until `--seconds` have elapsed, and write the
  * run's numbers as one JSON object to `--out`.
  *
  *   --workload gates|gates_all|curate_release|drop_stream|fic_monthly
  *   --input <dir>  generated inputs (run.py's gen.py output, or the
  *                  vendored tables for gates)
  *   --work <dir>   scratch space for the program's outputs
  *   --expected <file>  recorded gate hashes or curate manifest
  *   --seed N --seconds S --trace 0|1 --out <file>
  *   --ref-wall W   with --trace 1: the untraced pass wall to compare the
  *                  traced pass with, from earlier runs of the workload
  *   --record <dir> instead of a run, write every gate's result and
  *                  print its hash (see e2ebench/README.md)
  *
  * A pass runs in a fresh `newSession()` (an empty SessionMemo and
  * table memo). It has a cold step, from empty state, and a warm step,
  * which reuses what the cold step built or loaded. The first pass
  * warms the JVM up; the run reports the median cold and warm step over
  * the passes that follow. With `--trace 1` one more pass runs under
  * spans.
  */
object E2E {

  final case class Opts(workload: String, input: String, work: String, out: String,
      expected: String, seed: Long, seconds: Double, trace: Boolean, record: Option[String],
      refWall: Option[Double])

  /** What one pass measured. Times of failed operations are absent. */
  final case class Pass(coldS: Option[Double], warmS: Option[Double],
      attempted: Long, failed: Long, counts: Map[String, Double] = Map.empty,
      failures: Seq[String] = Nil)

  trait Workload {
    def pass(spark: SparkSession, n: Int, tr: Tracer): Pass
    /** Warms the JVM up before the measured passes. */
    def warmup(spark: SparkSession, tr: Tracer): Pass = pass(spark, 0, tr)
  }

  private def parse(args: Array[String]): Opts = {
    def arg(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    def req(name: String): String = arg(name).getOrElse(sys.error(s"$name required"))
    Opts(req("--workload"), arg("--input").getOrElse(""), arg("--work").getOrElse(""),
      arg("--out").getOrElse(""), arg("--expected").getOrElse(""),
      arg("--seed").map(_.toLong).getOrElse(0L),
      arg("--seconds").map(_.toDouble).getOrElse(10.0),
      arg("--trace").contains("1"), arg("--record"), arg("--ref-wall").map(_.toDouble))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = graft.app.Cli.session("graft-e2ebench")
    spark.range(1).count()
    println("E2E_READY")
    System.out.flush()
    o.record.foreach { dir => Gates.record(spark, o.input, dir); spark.stop(); return }

    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val wl: Workload = o.workload match {
      case "gates" | "gates_all" => new Gates(o)
      case "curate_release" => new Curate(o)
      case "drop_stream" => new Drops(o)
      case "fic_monthly" => new Fic(o)
      case w => sys.error(s"unknown workload $w")
    }
    val runId = s"${o.workload}-${o.seed}-${if (o.trace) "traced" else "plain"}"
    val plain = new Tracer(false, runId, spark.sparkContext, counters)
    def timed(n: Int, tr: Tracer): (Double, Pass) = {
      val p0 = System.nanoTime()
      val p = tr("pass")(if (n == 0) wl.warmup(spark, tr) else wl.pass(spark, n, tr))
      p.failures.foreach(f => System.err.println(s"[e2ebench] pass $n: $f"))
      ((System.nanoTime() - p0) / 1e9, p)
    }
    // pass 0 warms the JVM up (class loading, JIT, Spark's generated-code
    // cache); its wall is recorded, not reported. The measured passes
    // follow, each in a fresh session, until --seconds have gone by. A
    // traced run makes the traced pass; the tracing overhead is its wall
    // minus --ref-wall, or without one, minus the wall of one untraced
    // pass made first.
    val warmup = timed(0, plain)
    val measured = Seq.newBuilder[(Double, Pass)]
    val t0 = System.nanoTime()
    var n = 1
    while (if (o.trace) n == 1 && o.refWall.isEmpty
        else n == 1 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      measured += timed(n, plain)
      n += 1
    }
    val passes = measured.result()
    var layer = Map.empty[String, Double]
    val traced = if (!o.trace) None else {
      val tr = new Tracer(true, runId, spark.sparkContext, counters)
      val c0 = counters.snapshot(spark.sparkContext)
      val (wall, p) = timed(n, tr)
      val c = counters.snapshot(spark.sparkContext) - c0
      layer = layerMetrics(tr) ++ p.counts ++ Map(
        "spark.task_s" -> c.taskMs / 1e3,
        "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
        "spark.spill_mb" -> c.spillBytes / 1e6,
        "spark.jobs" -> c.jobs.toDouble,
        "trace.overhead_s" -> (wall - o.refWall.getOrElse(passes.head._1)))
      Files.write(Paths.get(o.out + ".spans.jsonl"), tr.jsonLines.asJava)
      Some((wall, p))
    }
    val all = warmup +: (passes ++ traced)
    // a step's time is the median over the measured passes in which it
    // succeeded; a step that failed in every pass has no time
    def median(xs: Seq[Double]): java.lang.Double =
      if (xs.isEmpty) null
      else {
        val v = xs.sorted
        Double.box(if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2)
      }
    def boxed(m: Map[String, Double]) =
      new java.util.TreeMap[String, Any](m.map { case (k, v) => k -> Double.box(v) }.asJava)
    def passJson(w: Double, p: Pass) =
      Map[String, Any]("wall_s" -> w, "cold_s" -> p.coldS.map(Double.box).orNull,
        "warm_s" -> p.warmS.map(Double.box).orNull, "failed" -> p.failed).asJava
    val result = json.writeValueAsString(Map[String, Any](
      "attempted" -> all.map(_._2.attempted).sum,
      "failed" -> all.map(_._2.failed).sum,
      "pass_wall_s" -> median(passes.map(_._1)),
      "cold_s" -> median(passes.flatMap(_._2.coldS)),
      "warm_s" -> median(passes.flatMap(_._2.warmS)),
      "peak_rss_mb" -> peakRssMb(),
      "counts" -> boxed(all.last._2.counts),
      "layer" -> boxed(layer),
      "warmup" -> passJson(warmup._1, warmup._2),
      "passes" -> passes.map { case (w, p) => passJson(w, p) }.asJava).asJava)
    Files.writeString(Paths.get(o.out), result)
    spark.stop()
  }

  /** Per-layer numbers of the traced pass: for every span name, the
    * summed self time (`<name>_s`) and self jobs (`<name>.jobs`); the
    * root span's self time is the unspanned remainder.
    */
  private def layerMetrics(tr: Tracer): Map[String, Double] = {
    val spans = tr.spans
    val self = tr.selfNs
    val childJobs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.jobs).sum }
    val root = spans.find(_.parent == -1).get
    val named = spans.filter(_.parent != -1).groupBy(_.name).toSeq.flatMap { case (name, ss) =>
      Seq(s"${name}_s" -> ss.map(s => self(s.id)).sum / 1e9,
        s"$name.jobs" -> ss.map(s => s.jobs - childJobs.getOrElse(s.id, 0L)).sum.toDouble)
    }
    named.toMap ++ Map(
      "trace.wall_s" -> root.durNs / 1e9,
      "trace.unspanned_s" -> self(root.id) / 1e9,
      "trace.self_sum_s" -> spans.map(s => self(s.id)).sum / 1e9)
  }

  /** VmHWM: the resident-set high-water mark of this JVM. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .get

  // ---------------------------------------------------------- helpers

  val json = new com.fasterxml.jackson.databind.ObjectMapper()
  def readJson(p: Path): com.fasterxml.jackson.databind.JsonNode = json.readTree(p.toFile)

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Persistent RDDs of the context, and their cached bytes. */
  def cacheState(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  def describe(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }

  /** Order-insensitive hash of a result: columns by name, rows as
    * canonical strings, sorted. Equal for equal row multisets.
    */
  def resultHash(df: DataFrame, rows: Array[Row]): String = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: java.lang.Double => java.lang.Double.toString(d)
      case f: java.lang.Float => java.lang.Float.toString(f)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case x => x.toString
    }
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }
}
