package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the benchmark's inputs. They reproduce the
  * schemas and value distributions of the repository's TPC-H-like test
  * tables (`orders`, `customer`, `nation`, `region`, `documents`; the
  * measured comparison is in perfbench/README.md, "Inputs"), because a run
  * may read nothing outside its checkout. Every value is a hash of
  * (seed, row id, field): the same seed gives byte-identical inputs on any
  * machine, and a different seed gives different content at the same
  * size. */
final class Inputs(spark: SparkSession, seed: Long) {

  /** A uniform draw in [0, n) for field `salt` of the row keyed `key`. */
  private def draw(key: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(n))

  /** 1995-01-01 .. 2001-08-31: 80 calendar months. */
  val months = 80
  private val firstDay = java.time.LocalDate.of(1995, 1, 1)
  def monthStart(m: Int): java.time.LocalDate = firstDay.plusMonths(m.toLong)
  private val spanDays =
    java.time.temporal.ChronoUnit.DAYS.between(firstDay, monthStart(months))

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private def pick(values: Seq[String], i: Column): Column =
    element_at(array(values.map(lit): _*), (i + 1).cast("int"))

  /** Order dates step evenly through the 80 months, so every month holds
    * the same number of orders whatever the seed. */
  def orders(n: Long, customers: Long): DataFrame = {
    val k = col("id")
    val date = date_add(lit(firstDay.toString).cast("date"),
      floor(k * lit(spanDays) / lit(n)).cast("int"))
    spark.range(n).select(
      k.as("o_orderkey"),
      draw(k, 1, customers).as("o_custkey"),
      pick(Seq("F", "O", "P"), draw(k, 2, 3)).as("o_orderstatus"),
      ((draw(k, 3, 49900000L) + 100000) / 100.0).as("o_totalprice"),
      date.cast("timestamp").as("o_orderdate"),
      pick(priorities, draw(k, 5, 5)).as("o_orderpriority"))
  }

  def customer(n: Long): DataFrame = {
    val k = col("id")
    spark.range(n).select(
      k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      draw(k, 11, 25).cast("int").as("c_nationkey"),
      ((draw(k, 12, 1099999L) - 99999) / 100.0).as("c_acctbal"),
      pick(segments, draw(k, 13, 5)).as("c_mktsegment"))
  }

  def nation(): DataFrame =
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def region(): DataFrame =
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), col("id"))
        .as("r_name"))

  /** `documents`: 10..100 words drawn uniformly from a 30-word technical
    * vocabulary, so unrelated documents share many character shingles and
    * the near-dup graph is dense; one id in twenty is a near-duplicate,
    * another id's text with " dup" appended; `lang` is "en" for about 41%
    * of ids and one of four others for the rest; `source` is one of twenty.
    * The seed picks which 90% of the `n` candidate ids are kept (one id in
    * every ten is dropped). */
  def documents(n: Long): DataFrame = {
    val k = col("id")
    val vocab = array(Inputs.vocabulary.map(lit): _*)
    val v = Inputs.vocabulary.size.toLong
    def words(id: Column): Column = {
      val len = (pmod(xxhash64(lit(seed), lit(32), id), lit(91)) + 10).cast("int")
      array_join(transform(sequence(lit(0), len - 1), i => element_at(vocab,
        (pmod(xxhash64(lit(seed), lit(33), id, i), lit(v)) + 1).cast("int"))), " ")
    }
    val text = when(draw(k, 31, 20) === 0,
      concat(words(draw(k, 34, n)), lit(" dup"))).otherwise(words(k))
    val lang = when(draw(k, 36, 100) < 41, lit("en"))
      .otherwise(pick(Seq("de", "es", "fr", "zh"), draw(k, 37, 4)))
    spark.range(n)
      .filter(pmod(k + lit(seed), lit(10)) =!= 0)
      .select(k.as("doc_id"), text.as("text"), lang.as("lang"),
        concat(lit("src"), pmod(k, lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}

object Inputs {
  val vocabulary: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
}
