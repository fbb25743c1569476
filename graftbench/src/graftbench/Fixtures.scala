package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded inputs in the shape of the repository's parquet fixtures
  * (FIXTURES.md): the same seed writes the same tables. Sizes are fixed
  * here; only the values depend on the seed.
  */
object Fixtures {
  /** A seeded uniform integer in [0, n) per row of `spark.range`, independent
    * of partitioning; `salt` separates the columns. */
  private def draw(seed: Long, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(n))
  private def pick(seed: Long, salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (draw(seed, salt, xs.length) + 1).cast("int"))
  private def money(seed: Long, salt: Int, lo: Int, hi: Int): Column =
    (draw(seed, salt, (hi - lo) * 100L) + lo * 100L) / 100.0
  private def day(seed: Long, salt: Int): Column =
    timestamp_seconds(draw(seed, salt, 3650) * 86400 + 694224000L)

  private val EventRows = 100000
  private val Replicate = 12

  /** The catch-up stream: `EventRows` events replicated `Replicate` times
    * the way StreamBench builds its drain input (event ids shifted per
    * copy, ts written as bare INT64 nanos). Returns the path and row count.
    */
  def events(spark: SparkSession, seed: Long, dir: String): (String, Long) = {
    val gapMicros = 25900000L // ~30 days over 100k events, roughly ordered
    val path = s"$dir/events.parquet"
    spark.range(0, EventRows, 1, 4)
      .withColumn("r", explode(sequence(lit(0), lit(Replicate - 1))))
      .select((col("id") + col("r") * EventRows).as("event_id"),
        ((col("id") * gapMicros + draw(seed, 1, gapMicros) + 1704067200000000L) * 1000L).as("ts"),
        draw(seed, 2, 1500).as("user_id"),
        pick(seed, 3, "signup", "purchase", "error", "click", "view").as("event_type"),
        round(-log((draw(seed, 4, 1000000) + 1) / 1000001.0) * 50, 2).as("value"),
        concat(lit("{\"k\": "), draw(seed, 5, 100).cast("string"), lit("}")).as("props"))
      .write.parquet(path)
    (path, EventRows.toLong * Replicate)
  }

  /** Row counts of the curation tables (the sf0.01 fixture's sizes). */
  val curationRows: Map[String, Int] = Map(
    "customer" -> 1500, "orders" -> 15000, "lineitem" -> 60000, "documents" -> 500)

  private val Vocabulary = ("a the key agg row scan slow fast table value part " +
    "hash merge batch line sort window spark order data column join small " +
    "customer query big filter stream group index").split(" ")

  /** The tables the curation queries read, written as `<dir>/<name>.parquet`. */
  def curation(spark: SparkSession, seed: Long, dir: String): Unit = {
    val n = curationRows
    def rows(name: String) = spark.range(0, n(name).toLong, 1, 1)
    rows("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      draw(seed, 1, 25).cast("int").as("c_nationkey"), money(seed, 2, -999, 9999).as("c_acctbal"),
      pick(seed, 3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .as("c_mktsegment"))
      .write.parquet(s"$dir/customer.parquet")
    rows("orders").select(col("id").as("o_orderkey"),
      draw(seed, 4, n("customer")).as("o_custkey"), pick(seed, 5, "F", "O", "P").as("o_orderstatus"),
      money(seed, 6, 1000, 500000).as("o_totalprice"), day(seed, 7).as("o_orderdate"),
      pick(seed, 8, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))
      .write.parquet(s"$dir/orders.parquet")
    rows("lineitem").select(draw(seed, 9, n("orders")).as("l_orderkey"),
      draw(seed, 10, 2000).as("l_partkey"), draw(seed, 11, 100).as("l_suppkey"),
      (draw(seed, 12, 7) + 1).cast("int").as("l_linenumber"),
      (draw(seed, 13, 50) + 1).cast("double").as("l_quantity"),
      money(seed, 14, 900, 100000).as("l_extendedprice"), (draw(seed, 15, 11) / 100.0).as("l_discount"),
      (draw(seed, 16, 9) / 100.0).as("l_tax"), pick(seed, 17, "A", "N", "R").as("l_returnflag"),
      pick(seed, 18, "F", "O").as("l_linestatus"), day(seed, 19).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem.parquet")

    val rng = new SplittableRandom(seed)
    def choose(xs: String*) = xs(rng.nextInt(xs.length))
    // Word soup over a small vocabulary. As in the repository's fixture,
    // duplicates sit far above the Jaccard threshold and other pairs far
    // below it: one document in twenty copies an earlier one, half of those
    // with one word replaced (only in documents of 40 words or more, so
    // the word 3-gram Jaccard stays above 0.85).
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val docs = (0 until n("documents")).map { id =>
      val words =
        if (id >= 10 && rng.nextInt(20) == 0) {
          val src = texts(rng.nextInt(texts.length)).clone()
          if (src.length >= 40 && rng.nextBoolean())
            src(rng.nextInt(src.length)) = Vocabulary(rng.nextInt(Vocabulary.length))
          src
        } else Array.fill(8 + rng.nextInt(83))(Vocabulary(rng.nextInt(Vocabulary.length)))
      texts += words
      val text = words.mkString(" ")
      // n_chars drives q353's synthesized images; a fixed sequence over the
      // fixture's range (48 to 553) keeps that query's work the same for
      // every seed.
      Row(id.toLong, text, choose("en", "en", "en", "zh", "de", "fr", "es"),
        s"src${id % 20}", 48L + id * 7919L % 506L)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))).write.parquet(s"$dir/documents.parquet")
  }
}
