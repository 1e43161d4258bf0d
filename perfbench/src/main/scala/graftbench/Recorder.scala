package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer, recorded only in traced runs. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** Order statistics over a sample. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Spark work attributed to the benchmark op that caused it. The
  * client thread stamps every job with local properties (op class,
  * group and phase), so attribution survives the listener bus's
  * asynchronous delivery. */
final class SparkCounters extends SparkListener {
  val byKey = new ConcurrentHashMap[String, AtomicLong]()
  private val stageKey = new ConcurrentHashMap[Int, String]()

  private def add(k: String, v: Long): Unit =
    byKey.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def get(k: String): Long = Option(byKey.get(k)).map(_.get).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val cls = Option(p).flatMap(x => Option(x.getProperty("bench.cls")))
    val group = Option(p).flatMap(x => Option(x.getProperty("bench.group")))
    val phase = Option(p).flatMap(x => Option(x.getProperty("bench.phase")))
      .getOrElse("")
    (cls, group) match {
      case (Some(c), Some(g)) =>
        add(s"jobs|$g", 1); add(s"jobs|cls|$c", 1)
        if (phase.nonEmpty) add(s"jobs|phase|$c|$phase", 1)
        e.stageIds.foreach(s => stageKey.put(s, s"$g|$c"))
      case _ => add("jobs|untagged", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { gc =>
      val g = gc.takeWhile(_ != '|')
      add(s"tasks|$g", 1)
      Option(e.taskMetrics).foreach { m =>
        add(s"cpu_ns|$g", m.executorCpuTime)
        add(s"shuffle_bytes|$g", m.shuffleWriteMetrics.bytesWritten)
        add(s"input_bytes|$g", m.inputMetrics.bytesRead)
      }
    }
}

/** Times the benchmark's ops, checks them, and in traced runs records
  * spans around each call into a graft layer.
  *
  * Every op runs on the one client thread: a closed loop. Op samples
  * and spans are kept only while `measuring`, so warm-up rounds never
  * reach a per-layer figure. */
final class Recorder(val spark: SparkSession, val traced: Boolean) {
  val counters: SparkCounters = new SparkCounters
  if (traced) spark.sparkContext.addSparkListener(counters)

  var measuring = false
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** (group, class) -> op latencies in ms, measured ops only. */
  val samples = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Named counts the workloads add up as they go (rows, bytes...). */
  val counts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  /** Add to a named count, while measuring only. */
  def add(k: String, v: Double): Unit = if (measuring) counts(k) += v

  private var nextId = 0L
  private var opSeq = 0L
  private var curOp = 0L
  private var stack: List[Long] = Nil
  private var spanning = false

  /** Time one op. `body` is the timed call; `check` runs afterwards,
    * untimed, and returns an error message when the result is wrong.
    * A throwing body is a failure unless `check` accepts the
    * exception (an expected denial). */
  def op[A](group: String, cls: String)(body: => A)(
      check: Either[Throwable, A] => Option[String]): Option[A] = {
    opSeq += 1
    curOp = opSeq
    spanning = traced && measuring
    val sc = spark.sparkContext
    if (traced) {
      sc.setLocalProperty("bench.cls", cls)
      sc.setLocalProperty("bench.group", group)
    }
    val (meta0, list0) = CountingFs.snapshot
    val t0 = System.nanoTime()
    val sid = if (spanning) open() else 0L
    val res =
      try Right(body)
      catch { case t: Throwable if scala.util.control.NonFatal(t) => Left(t) }
    val t1 = System.nanoTime()
    val (meta1, list1) = CountingFs.snapshot
    add(s"meta_opens|$group", (meta1 - meta0).toDouble)
    add(s"listings|$group", (list1 - list0).toDouble)
    if (spanning) close(sid, s"op.$cls", t0)
    spanning = false
    if (traced) {
      sc.setLocalProperty("bench.cls", null)
      sc.setLocalProperty("bench.group", null)
      sc.setLocalProperty("bench.phase", null)
    }
    val ms = (t1 - t0) / 1e6
    attempted += 1
    val err =
      try check(res)
      catch { case t: Throwable if scala.util.control.NonFatal(t) =>
        Some(s"check threw $t") }
    err.foreach(e => fail(s"$cls: $e"))
    if (measuring)
      samples.getOrElseUpdate((group, cls), mutable.ArrayBuffer.empty) += ms
    res.toOption
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** A span around one call into a layer inside an op of a traced
    * run; a plain call otherwise. `phase` tags the Spark jobs started
    * inside, so the listener can count them per phase. */
  def span[A](name: String, phase: String = null)(body: => A): A =
    if (!spanning) body
    else {
      val sc = spark.sparkContext
      if (phase != null) sc.setLocalProperty("bench.phase", phase)
      val t0 = System.nanoTime()
      val sid = open()
      try body
      finally {
        close(sid, name, t0)
        if (phase != null) sc.setLocalProperty("bench.phase", null)
      }
    }

  /** A span named `probe.<name>` around extra work a traced run does
    * after an op's timed body, to split a layer out from the op (for
    * example planning a read without its policy). Probes are not part
    * of any op's time or self time. Recorded while measuring only. */
  def probe[A](name: String)(body: => A): A =
    if (!traced || !measuring) body
    else {
      val t0 = System.nanoTime()
      val sid = open()
      try body finally close(sid, s"probe.$name", t0)
    }

  private def open(): Long = {
    nextId += 1
    stack = nextId :: stack
    nextId
  }
  private def close(id: Long, name: String, t0: Long): Unit = {
    stack = stack.tail
    val parent = stack.headOption.getOrElse(0L)
    spans += Span(id, parent, curOp, name, t0, System.nanoTime())
  }

  // ---- summaries ----------------------------------------------------

  def lat(group: String): Seq[Double] =
    samples.collect { case ((g, _), xs) if g == group => xs }.flatten.toSeq
  def allLat: Seq[Double] = samples.values.flatten.toSeq
  def latOf(cls: String): Seq[Double] =
    samples.collect { case ((_, c), xs) if c == cls => xs }.flatten.toSeq
  def spanMs(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.ms).toSeq
  def spanMedian(name: String): Double = Stats.median(spanMs(name))

  /** Self time per layer: each span's duration minus the part its
    * child spans cover, summed by layer, per traced op. */
  def selfMsPerOp: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    val ops = spans.count(_.name.startsWith("op.")).max(1)
    spans.filterNot(_.layer == "probe")
      .groupBy(s => if (s.name.startsWith("op.")) "bench" else s.layer)
      .view.mapValues(ss => ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum / ops)
      .toMap
  }

  def gc: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** Live heap after a full collection, in MiB. */
  def heapLiveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(100); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def spansJson: Seq[String] = spans.iterator.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.toSeq
}
