package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** A per-layer or end-to-end metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One benchmark workload: inputs, a fixture built several times,
  * and rounds of ops with a fixed composition and a seeded order. */
trait Workload {
  /** Make the seeded inputs (untimed). */
  def prepare(): Unit
  /** Build one fixture under `dir` (timed for setup_s). The warm-up
    * rounds run against the first fixture built, the measured rounds
    * against the last. */
  def setup(dir: String): Unit
  /** One round of ops. */
  def round(): Unit
  /** End-of-run checks (untimed); failures go to the recorder. */
  def finish(): Unit
  /** Per-layer metrics of this workload (traced runs). */
  def layers(): Seq[Metric]
  /** Fixture builds per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** How long to run untimed rounds after the first fixture build,
    * so the later builds and the measured rounds run warm code. */
  def warmSeconds: Double = 2.0
  /** Called once, right before the measured rounds (untimed). */
  def beforeMeasuring(): Unit = ()
  /** Facts about the fixture for the run report. */
  def facts: Map[String, String] = Map.empty
}

/** Order-insensitive digests of collected rows, by column name. */
object Digest {
  def row(cols: Seq[String], r: Row): Long = {
    val order = cols.zipWithIndex.sortBy(_._1)
    val s = order.map { case (c, i) => s"$c=${r.get(i)}" }.mkString("\u0001")
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 17)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 91)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }
  /** (row count, wrapping sum of row hashes). */
  def of(cols: Seq[String], rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(row(cols, _)).sum)
}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    val cores = opt("cores").toInt

    val spark = session(cores, work, traced)
    val rec = new Recorder(spark, traced)
    val rng = new scala.util.Random(seed)
    val wl: Workload = workload match {
      case "governed_lake" => new GovernedLake(spark, rec, rng, seed, work)
      case "corpus_prep"   => new CorpusPrep(spark, rec, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart: Double = (System.currentTimeMillis() - jvmStart) / 1000.0
    def phase(what: String): Unit = System.err.println(f"[perfbench] $sinceStart%.1fs $what")
    val sessionS = sinceStart
    phase("session ready")
    wl.prepare()
    phase("inputs ready")
    // The first build runs cold. Warm-up rounds on it let compiled
    // code and caches settle, so the later builds, which set the
    // median, and the measured rounds, on the last build, run warm.
    val setupS = (0 until wl.setupReps).map { i =>
      val t0 = System.nanoTime()
      wl.setup(s"$work/fixture$i")
      val s = (System.nanoTime() - t0) / 1e9
      if (i == 0) {
        val warmEnd = System.nanoTime() + (wl.warmSeconds * 1e9).toLong
        while (System.nanoTime() < warmEnd) wl.round()
      }
      s
    }
    phase("fixtures built")

    val firstOpS = sinceStart
    val jobs0 = snapshotCounters(rec)
    val (gcN0, gcMs0) = rec.gc
    wl.beforeMeasuring()
    rec.measuring = true
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      val r0 = System.nanoTime()
      wl.round(); rounds += 1
      phase(f"round $rounds took ${(System.nanoTime() - r0) / 1e9}%.2fs")
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    rec.measuring = false
    phase(s"measured $rounds rounds")
    val (gcN1, gcMs1) = rec.gc
    val heapMb = rec.heapLiveMb()
    wl.finish()
    phase("checked")
    // let the listener bus deliver the last events before reading it
    if (traced) Thread.sleep(1000)

    val lat = rec.allLat
    // one number per op class (its median), so the op mix, not the
    // sample count per class, sets the weights
    val classP50 = rec.samples.values.map(xs => Stats.median(xs.toSeq)).filter(_ > 0)
    val opMs = math.exp(classP50.map(math.log).sum / classP50.size.max(1))
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("op_ms", opMs, "ms"),
      Metric("rows_per_s", rec.counts("rows") / (lat.sum / 1000).max(1e-9), "rows/s"),
      Metric("heap_live_mb", heapMb, "MiB"))
    val layer =
      if (!traced) Nil
      else common(rec, jobs0, gcN1 - gcN0, gcMs1 - gcMs0, sessionS, firstOpS, rounds) ++
        Seq(Metric("trace.op_ms", opMs, "ms")) ++ wl.layers()

    val report = mutable.LinkedHashMap[String, String](
      "workload" -> q(workload), "seed" -> seed.toString,
      "traced" -> traced.toString, "cores" -> cores.toString,
      "rounds" -> rounds.toString, "loop_s" -> f"$loopS%.3f",
      "samples" -> lat.size.toString,
      "setup_s_each" -> setupS.map(x => f"$x%.4f").mkString("[", ",", "]"),
      "attempted" -> rec.attempted.toString, "failed" -> rec.failed.toString,
      "failures" -> rec.failures.map(q).mkString("[", ",", "]"),
      "op_classes" -> rec.samples.map { case ((g, c), xs) =>
        s"""{"group":${q(g)},"class":${q(c)},"n":${xs.size},""" +
          f""""p50_ms":${Stats.median(xs.toSeq)}%.4f,"p90_ms":${Stats.quantile(xs.toSeq, 0.9)}%.4f}"""
      }.mkString("[", ",", "]"),
      "facts" -> wl.facts.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"),
      "e2e" -> metricsJson(e2e),
      "layers" -> metricsJson(layer))
    write(s"$out/result.json",
      report.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}\n"))
    if (traced) {
      write(s"$out/spans.jsonl", rec.spansJson.mkString("", "\n", "\n"))
      write(s"$out/layers.txt", layerTable(layer, rec))
    }
    spark.stop()
  }

  /** graft's own session settings (`graft.Tables.session`), so the
    * benchmark measures the configuration graft ships. A session with
    * the benchmark's settings is made first: graft's extensions, which
    * only a new session takes, and the places Spark writes, all inside
    * the work directory (`Tables.session` would put the warehouse in
    * /tmp). `Tables.session` then finds that session and applies its
    * SQL settings to it. Traced runs also install the counting local
    * file system. */
  def session(cores: Int, work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    b.withExtensions(new graft.fgac.GraftExtensions).getOrCreate()
    val spark = graft.Tables.session(s"local[$cores]")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def snapshotCounters(rec: Recorder): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    rec.counters.byKey.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  /** Layer metrics every workload reports: the Spark engine per op
    * group, the JVM, self time per layer and the run itself. */
  private def common(rec: Recorder, base: Map[String, Long], gcN: Long,
      gcMs: Long, sessionS: Double, firstOpS: Double, rounds: Int): Seq[Metric] = {
    def delta(k: String) = rec.counters.get(k) - base.getOrElse(k, 0L)
    val groups = Seq("read", "commit", "batch", "corpus")
    val spark = groups.flatMap { g =>
      val n = rec.lat(g).size.max(1).toDouble
      Seq(
        Metric(s"spark.$g.jobs_per_op", delta(s"jobs|$g") / n, "count"),
        Metric(s"spark.$g.tasks_per_op", delta(s"tasks|$g") / n, "count"),
        Metric(s"spark.$g.task_cpu_ms_per_op", delta(s"cpu_ns|$g") / 1e6 / n, "ms"),
        Metric(s"spark.$g.shuffle_bytes_per_op", delta(s"shuffle_bytes|$g") / n, "bytes"),
        Metric(s"spark.$g.input_bytes_per_op", delta(s"input_bytes|$g") / n, "bytes"))
    }
    val self = rec.selfMsPerOp
    val layers = Seq("bench", "fgac", "lakehouse", "streaming", "spark",
      "functions", "dedup", "ann", "text")
    val n = rec.allLat.size.toDouble
    spark ++ layers.map(l => Metric(s"self_ms_per_op.$l", self.getOrElse(l, 0.0), "ms")) ++ Seq(
      Metric("spark.optimize_ms", rec.spanMedian("spark.optimize"), "ms"),
      Metric("spark.plan_ms", rec.spanMedian("spark.plan"), "ms"),
      Metric("spark.execute_ms", rec.spanMedian("spark.execute"), "ms"),
      Metric("jvm.gc_ms", gcMs.toDouble, "ms"),
      Metric("jvm.gc_count", gcN.toDouble, "count"),
      Metric("jvm.session_start_s", sessionS, "s"),
      Metric("jvm.start_to_first_op_s", firstOpS, "s"),
      Metric("bench.samples", n, "count"),
      Metric("bench.rounds", rounds, "count"),
      Metric("op_p50_ms", Stats.median(rec.allLat), "ms"),
      Metric("op_p90_ms", Stats.quantile(rec.allLat, 0.9), "ms"),
      Metric("failed_frac", rec.failed / rec.attempted.max(1L).toDouble, "ratio"),
      Metric("trace.spans_per_op", rec.spans.size / n.max(1.0), "count"))
  }

  private def layerTable(ms: Seq[Metric], rec: Recorder): String = {
    val sb = new StringBuilder
    sb ++= f"${"metric"}%-44s ${"value"}%16s  unit\n"
    ms.foreach(m => sb ++= f"${m.name}%-44s ${m.value}%16.4f  ${m.unit}\n")
    sb ++= "\nspan                                          n      p50_ms      p90_ms\n"
    rec.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val xs = ss.map(_.ms).toSeq
      sb ++= f"$name%-40s ${xs.size}%7d ${Stats.median(xs)}%11.3f ${Stats.quantile(xs, 0.9)}%11.3f\n"
    }
    sb.toString
  }

  private def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s"${q(m.name)}:{" + "\"value\":" + num(m.value) +
      ",\"unit\":" + q(m.unit) + "}").mkString("{", ",", "}")
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Files.write throws on any I/O error, so a truncated report can
    * never pass for a complete one. */
  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }
}
