package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** LLM-corpus preparation: graft's dedup, ANN and text operators
  * (through `SparkEntry.queries`) and its native `graft_*` kernels,
  * over a seeded corpus with planted near-duplicates. No commits, no
  * policy. Each round is one pass of every op; the seed picks the
  * corpus. */
final class CorpusPrep(spark: SparkSession, rec: Recorder, seed: Long,
    work: String) extends Workload {

  private val Docs = 5000L
  private val Planted = 250L
  private val Vectors = 1000L
  /** Operators checked against graft's DuckDB oracles after the run. */
  private val OracleOps = Seq("dedup_components", "ann_ivf", "ann_ivf_kmeans",
    "text_bpe", "text_quality", "text_pii")
  private val Ops = Seq("dedup_minhash_lsh", "dedup_components", "ann_ivf",
    "ann_ivf_kmeans", "text_bpe", "text_quality", "text_pii",
    "fn_minhash", "fn_simhash", "fn_jaccard", "fn_dot", "fn_bpe")
  /** Each kernel projection runs this many times, back to back. It
    * takes well under a second, so a single cold sample is mostly
    * compilation and swung by half from run to run; the median rests
    * on the warm repeats. */
  private val KernelRepeats = 3

  private var dir: String = _
  private var exactPairs: Set[(Long, Long)] = _
  private var plantedPairs: Set[(Long, Long)] = _
  private var bruteTopK: Set[(Long, Long)] = _
  /** First result of each op: later passes must reproduce it. */
  private val first = mutable.HashMap.empty[String, (Long, Long)]
  private val last = mutable.HashMap.empty[String, (Seq[String], Array[Row], DataFrame)]
  private var dedupFound = 0.0
  private var annHits = 0.0
  private var annTotal = 0.0

  def prepare(): Unit = {
    // the exact answers, computed once from the generated rows
    val d = new Data(spark, seed)
    val docs = d.documents(Docs, Planted).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    exactPairs = Shingles.pairsAtLeast(docs, 0.8).keySet
    plantedPairs = (0L until Planted).map(i => (i, Docs - Planted + i)).toSet
    // exact cosine top-5 of graft's ANN queries (vec_id < 10)
    val vecs = d.embeddings(Vectors).collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    bruteTopK = vecs.filter(_._1 < 10).flatMap { case (q, qv) =>
      vecs.filter(_._1 != q).sortBy { case (_, v) =>
        -v.zip(qv).map { case (a, b) => a * b }.sum / (norm(v) * norm(qv))
      }.take(5).map(x => (q, x._1))
    }.toSet
  }

  def setup(dir: String): Unit = {
    val d = new Data(spark, seed)
    d.save(d.documents(Docs, Planted), dir, "documents")
    d.save(d.embeddings(Vectors), dir, "embeddings")
    this.dir = dir
  }

  /** A fixture build takes under a second and keeps getting faster
    * over the first few builds as code warms up, so seven builds put
    * the median on a warm one. */
  override def setupReps: Int = 7

  /** No warm-up pass: a corpus job runs once in a fresh JVM, so the
    * pass a user waits for is the cold one. */
  override def warmSeconds: Double = 0.0

  override def facts: Map[String, String] = Map("documents" -> Docs.toString,
    "planted_pairs" -> Planted.toString, "embeddings" -> Vectors.toString,
    "exact_pairs" -> exactPairs.size.toString)

  private val Merges = Seq("a\u0000r", "s\u0000p", "sp\u0000a", "spa\u0000r",
    "spar\u0000k", "t\u0000a", "ta\u0000b", "tab\u0000l", "tabl\u0000e", "q\u0000u",
    "qu\u0000e", "e\u0000r", "que\u0000r", "quer\u0000y", "i\u0000n", "o\u0000w",
    "r\u0000o", "ro\u0000w", "h\u0000a", "ha\u0000s", "has\u0000h")
  private val Probe = (1 to 64).map(i => math.sin(i.toDouble))
  private val RefWords = Seq("spark", "table", "query", "merge", "stream", "lake",
    "policy", "vector", "hash", "join")

  /** A kernel projection over every row, consumed by one aggregate. */
  private def kernel(name: String): DataFrame = {
    def docs = Tables.parallel(Tables.documents(spark, dir))
    val out = name match {
      case "fn_minhash" => docs.select(call_function("graft_minhash128_long",
        call_function("graft_shingle_hashes", col("text"))).as("k"))
      case "fn_simhash" => docs.select(call_function("graft_simhash64",
        split(lower(col("text")), " ")).as("k"))
      case "fn_jaccard" => docs.select(call_function("graft_jaccard",
        split(lower(col("text")), " "), typedLit(RefWords)).as("k"))
      case "fn_bpe" => docs.select(call_function("graft_bpe_tokens", col("text"),
        typedLit(Merges)).as("k"))
      case "fn_dot" => Tables.parallel(Tables.embeddings(spark, dir)).select(
        call_function("graft_dot", col("embedding").cast("array<double>"),
          typedLit(Probe)).as("k"))
    }
    out.agg(count(lit(1)).as("n"), bit_xor(xxhash64(col("k"))).as("h"))
  }

  private def runOp(name: String): Unit = {
    val layer = name match {
      case n if n.startsWith("fn_") => "functions"
      case n => n.takeWhile(_ != '_')
    }
    rec.op("corpus", name) {
      val df = rec.span(s"$layer.$name.build", "build") {
        if (name.startsWith("fn_")) kernel(name) else SparkEntry.queries(name)(spark, dir)
      }
      (df, rec.span(s"$layer.$name.execute", "execute")(df.collect()))
    } {
      case Left(t) => Some(s"threw $t")
      case Right((df, rows)) => check(name, df, rows)
    }
  }

  private def check(name: String, df: DataFrame, rows: Array[Row]): Option[String] = {
    val cols = df.columns.toSeq
    val dg = Digest.of(cols, rows)
    last(name) = (cols, rows, df)
    if (name.startsWith("fn_")) rec.add(s"rows|$name", rows.head.getLong(0).toDouble)
    val repeat = first.get(name) match {
      case Some(f) if f != dg => Some(s"result changed between passes: $dg != $f")
      case None => first(name) = dg; None
      case _ => None
    }
    repeat.orElse(name match {
      case "dedup_minhash_lsh" =>
        val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        dedupFound = (got intersect plantedPairs).size.toDouble / plantedPairs.size
        if (got != exactPairs)
          Some(s"${(exactPairs -- got).size} near-duplicate pairs missed, " +
            s"${(got -- exactPairs).size} reported below the threshold")
        else None
      case "ann_ivf" =>
        val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        annHits += (got intersect bruteTopK).size; annTotal += bruteTopK.size
        None
      case "ann_ivf_kmeans" =>
        if (rows.forall(_.getBoolean(1))) None else Some("recall@5 below 0.8")
      case _ => None
    })
  }

  /** One pass takes every document through every op, in pipeline
    * order, the kernels [[KernelRepeats]] times each. The order is
    * fixed: ops share compiled plan stages, and whichever runs first
    * pays their one-time compilation, so a seeded order would move
    * that cost between op classes from run to run. */
  def round(): Unit = {
    Ops.foreach { n =>
      (1 to (if (n.startsWith("fn_")) KernelRepeats else 1)).foreach(_ => runOp(n))
    }
    rec.add("rows", Docs.toDouble)
  }

  def finish(): Unit = {
    // hand the last result of each oracle-checked operator to the
    // DuckDB comparison that runs after this process
    val out = s"$work/oracle"
    OracleOps.foreach { name =>
      last.get(name).foreach { case (_, rows, df) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
    }
    Main.write(s"$out/oracle_sql.json", OracleOps.map(n =>
      s"${Main.q(n)}:${Main.q(SparkEntry.oracleSql(n))}").mkString("{", ",", "}\n"))
    Main.write(s"$out/corpus_dir", dir)
  }

  def layers(): Seq[Metric] = {
    def opMs(n: String) = Stats.median(rec.latOf(n))
    def rate(n: String) = {
      val ms = opMs(n)
      if (ms <= 0) 0.0 else rec.counts(s"rows|$n") / rec.latOf(n).size.max(1) / (ms / 1000)
    }
    Seq(
      Metric("dedup_recall", dedupFound, "ratio"),
      Metric("ann_recall_at_5", if (annTotal == 0) 0.0 else annHits / annTotal, "ratio"),
      Metric("dedup.minhash_lsh_ms", opMs("dedup_minhash_lsh"), "ms"),
      Metric("dedup.components_ms", opMs("dedup_components"), "ms"),
      Metric("ann.train_ms", rec.spanMedian("ann.ann_ivf_kmeans.build"), "ms"),
      Metric("ann.query_ms", rec.spanMedian("ann.ann_ivf_kmeans.execute"), "ms"),
      Metric("ann.ivf_ms", opMs("ann_ivf"), "ms"),
      Metric("text.bpe_ms", opMs("text_bpe"), "ms"),
      Metric("text.quality_ms", opMs("text_quality"), "ms"),
      Metric("text.pii_ms", opMs("text_pii"), "ms")) ++
      Seq("minhash", "simhash", "jaccard", "dot", "bpe").map(k =>
        Metric(s"functions.${k}_rows_per_s", rate(s"fn_$k"), "rows/s"))
  }
}

/** Word-3-shingle Jaccard, as graft's dedup oracle defines it, and an
  * exact all-pairs search above a threshold by prefix filtering. */
object Shingles {
  def of(text: String): Set[String] = {
    val w = text.toLowerCase.split(" ", -1)
    if (w.length < 3) Set.empty
    else (0 until w.length - 2).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  /** Every pair (a < b) with Jaccard >= t, with its Jaccard. Two sets
    * with Jaccard >= t share a shingle among the first
    * |A| - ceil(t|A|) + 1 of each set in any fixed global order. */
  def pairsAtLeast(docs: Seq[(Long, String)], t: Double): Map[(Long, Long), Double] = {
    val sets = docs.map { case (id, tx) => id -> of(tx) }.filter(_._2.nonEmpty)
    val freq = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    sets.foreach(_._2.foreach(s => freq(s) += 1))
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sets.indices.foreach { i =>
      val s = sets(i)._2.toSeq.sortBy(x => (freq(x), x))
      val p = s.size - math.ceil(t * s.size).toInt + 1
      s.take(p).foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += i)
    }
    val cand = index.valuesIterator.flatMap { is =>
      for (a <- is.iterator; b <- is.iterator if a < b) yield (a, b)
    }.toSet
    cand.iterator.flatMap { case (a, b) =>
      val (x, y) = (sets(a), sets(b))
      val inter = x._2.count(y._2.contains)
      val j = inter.toDouble / (x._2.size + y._2.size - inter).toDouble
      if (j >= t) Some((math.min(x._1, y._1), math.max(x._1, y._1)) -> j) else None
    }.toMap
  }
}
