package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs shaped like graft's sf0.1 test tables
  * (same names, columns and types). Every value is a hash of
  * (seed, column, row id), so one seed always gives the same rows,
  * whatever the partitioning. Keys are not hashed: each customer has
  * the same nation and order count under every seed, so the amount of
  * work a policy or join selects does not move with the seed. */
final class Data(spark: SparkSession, seed: Long) {
  private def h(tag: String, id: Column): Column =
    xxhash64(lit(seed), lit(tag), id)
  private def pick(tag: String, id: Column, n: Long): Column =
    pmod(h(tag, id), lit(n))
  private def oneOf(tag: String, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(tag, id, xs.size) + 1).cast("int"))

  /** 25 nations, named after US states: the patients' `state`. */
  val States: Seq[String] = Seq("Texas", "New York", "California",
    "Florida", "Ohio", "Georgia", "Illinois", "Washington", "Oregon",
    "Nevada", "Arizona", "Utah", "Colorado", "Kansas", "Iowa", "Maine",
    "Vermont", "Alaska", "Hawaii", "Idaho", "Montana", "Alabama",
    "Kentucky", "Indiana", "Michigan")

  def nation: DataFrame = spark.range(States.size).select(
    col("id").cast("int").as("n_nationkey"),
    element_at(array(States.map(lit): _*), (col("id") + 1).cast("int")).as("n_name"),
    pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def customer(n: Long = 15000): DataFrame = spark.range(n).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    pmod(col("id"), lit(States.size)).cast("int").as("c_nationkey"),
    round((pick("bal", col("id"), 1100000) - 100000) / 100.0, 2).as("c_acctbal"),
    oneOf("seg", col("id"), Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))

  def orders(n: Long = 150000, customers: Long = 15000): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(col("id"), lit(customers)).as("o_custkey"),
      oneOf("st", col("id"), Seq("O", "F", "P")).as("o_orderstatus"),
      round(pick("price", col("id"), 50000000) / 100.0 + 900, 2).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"),
        pick("date", col("id"), 2557).cast("int")).cast("timestamp").as("o_orderdate"),
      oneOf("prio", col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))

  val Vocab: Seq[String] = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "the", "customer", "join",
    "lake", "policy", "snapshot", "commit", "file", "shard", "token",
    "index", "cell", "mask")

  /** `n` documents of seeded word sequences. The first `planted` docs
    * are 40-80 words long and each has one near-duplicate among the
    * last `planted` docs: the same words with the last one replaced,
    * so the pair's word-3-shingle Jaccard is at least 37/39. No two
    * documents are exact copies. */
  def documents(n: Long, planted: Long): DataFrame = {
    val v = Vocab.size
    val id = col("id")
    val dup = id >= lit(n - planted)
    val base = when(dup, id - lit(n - planted)).otherwise(id)
    val len = when(base < lit(planted), lit(40) + pick("len", base, 41))
      .otherwise(lit(10) + pick("len", base, 71)).cast("int")
    val vocab = array(Vocab.map(lit): _*)
    val tokens = transform(sequence(lit(1), len), i => {
      val w = pmod(xxhash64(lit(seed), lit("tok"), base, i), lit(v.toLong))
      val w2 = when(dup && i === len, pmod(w + 1, lit(v.toLong))).otherwise(w)
      element_at(vocab, (w2 + 1).cast("int"))
    })
    spark.range(n).select(
      id.as("doc_id"),
      concat_ws(" ", tokens).as("text"),
      element_at(array(Seq("en", "en", "en", "zh", "de", "fr", "es").map(lit): _*),
        (pick("lang", id, 7) + 1).cast("int")).as("lang"),
      concat(lit("src"), pick("src", id, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `n` 64-dim embeddings in 10 labelled clusters: a per-label
    * centre plus uniform noise, so nearest neighbours mostly share a
    * label, as real embeddings of similar items do. */
  def embeddings(n: Long, dim: Int = 64): DataFrame = {
    val id = col("id")
    val label = pick("label", id, 10)
    spark.range(n).select(
      id.as("vec_id"),
      transform(sequence(lit(1), lit(dim)), i =>
        ((pmod(xxhash64(lit(seed), lit("centre"), label, i), lit(2001L)) - 1000) / 10000.0 +
          (pmod(xxhash64(lit(seed), lit("noise"), id, i), lit(2001L)) - 1000) / 12000.0)
          .cast("float")).as("embedding"),
      label.cast("int").as("label"))
  }

  /** Write `df` as one parquet file at `dir/name.parquet`, the layout
    * graft's table loaders read. */
  def save(df: DataFrame, dir: String, name: String): String = {
    val path = s"$dir/$name.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }
}
