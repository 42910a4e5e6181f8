package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.WebText

/** Seeded input generators. The same seed gives the same inputs; the
  * program receives only the generated pages and tables. */
object Inputs {

  private val Roots = Seq("spark", "query", "table", "scan", "join", "merge", "sort",
    "batch", "stream", "window", "hash", "key", "row", "column", "data",
    "filter", "group", "agg", "part", "order", "line", "value", "fast",
    "slow", "big", "small", "the", "a", "customer", "vector")

  /** Uniform integer in [0, n) drawn from (row, salt, seed). */
  private def draw(seed: Long, salt: Int, n: Long, c: Column = col("id")): Column =
    pmod(xxhash64(c, lit(salt), lit(seed)), lit(n))

  private def pick(values: Seq[String], seed: Long, salt: Int): Column =
    element_at(array(values.map(lit): _*), (draw(seed, salt, values.length) + 1).cast("int"))

  private def money(seed: Long, salt: Int, max: Long): Column =
    (draw(seed, salt, max * 100) / 100.0).cast("double")

  /** Space-separated words drawn from `vocab` words (the 30 roots, then
    * each root with a numeric suffix); the word count and every word are
    * drawn from (`key`, seed). */
  private def words(key: Column, seed: Long, minWords: Int, maxWords: Int,
                    vocab: Long = Roots.length.toLong): Column = {
    val n = draw(seed, 101, maxWords - minWords + 1, key) + minWords
    val roots = array(Roots.map(lit): _*)
    concat_ws(" ", transform(sequence(lit(1L), n), i => {
      val r = pmod(xxhash64(key, i, lit(seed)), lit(vocab))
      val root = element_at(roots, (pmod(r, lit(Roots.length.toLong)) + 1).cast("int"))
      concat(root, when(r >= Roots.length, (r / Roots.length).cast("long").cast("string")).otherwise(""))
    }))
  }

  /** `documents.parquet`: `n` docs; one in ten repeats an earlier doc's text
    * with a trailing marker word, so the near-dup operators find pairs. */
  private def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val dupOf = col("id") - draw(seed, 7, 50) - 1
    val isDup = draw(seed, 6, 10) === 0 && dupOf >= 0
    spark.range(n)
      .withColumn("text", when(isDup, concat(words(dupOf, seed, 8, 100), lit(" dup")))
        .otherwise(words(col("id"), seed, 8, 100)))
      .select(col("id").as("doc_id"), col("text"),
        pick(Seq("en", "zh", "es", "de", "fr"), seed, 8).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** The catalog tables at scale factor `sf` (TPC-H-like star schema plus
    * documents, embeddings and events), written as parquet under `dir`. */
  def writeCatalogTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def rows(perSf: Double, min: Long = 1L): Long = math.max(min, (perSf * sf).toLong)
    val nCust = rows(150000); val nSupp = rows(10000); val nPart = rows(200000)
    val nOrders = rows(1500000); val nLines = rows(6000000); val nEvents = rows(1000000)
    def ts(fromEpochS: Long, spanS: Long, salt: Int): Column =
      timestamp_seconds(lit(fromEpochS) + draw(seed, salt, spanS))
    val day = 86400L
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
        pmod(col("id"), lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> spark.range(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        draw(seed, 11, 25).cast("int").as("c_nationkey"),
        (money(seed, 12, 11000) - 1000).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), seed, 13).as("c_mktsegment")),
      "supplier" -> spark.range(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        draw(seed, 21, 25).cast("int").as("s_nationkey"),
        (money(seed, 22, 11000) - 1000).as("s_acctbal")),
      "part" -> spark.range(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(Seq("small", "large", "red", "blue", "cold", "hot", "green", "old"), seed, 31),
          pick(Seq("widget", "bolt", "ring", "gear", "pipe", "valve", "nut", "spring"), seed, 32)).as("p_name"),
        concat(lit("Brand#"), draw(seed, 33, 25).cast("string")).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), seed, 34).as("p_type"),
        (draw(seed, 35, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + col("id") * 0.1, 1).as("p_retailprice")),
      "orders" -> spark.range(nOrders).select(col("id").as("o_orderkey"),
        draw(seed, 41, nCust).as("o_custkey"),
        pick(Seq("F", "O", "P"), seed, 42).as("o_orderstatus"),
        money(seed, 43, 500000).as("o_totalprice"),
        ts(852076800L, 1826 * day, 44).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), seed, 45).as("o_orderpriority")),
      "lineitem" -> spark.range(nLines).select(draw(seed, 51, nOrders).as("l_orderkey"),
        draw(seed, 52, nPart).as("l_partkey"),
        draw(seed, 53, nSupp).as("l_suppkey"),
        (draw(seed, 54, 7) + 1).cast("int").as("l_linenumber"),
        (draw(seed, 55, 50) + 1).cast("double").as("l_quantity"),
        money(seed, 56, 100000).as("l_extendedprice"),
        (draw(seed, 57, 11) / 100.0).as("l_discount"),
        (draw(seed, 58, 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), seed, 59).as("l_returnflag"),
        pick(Seq("F", "O"), seed, 60).as("l_linestatus"),
        ts(852076800L, 1826 * day, 61).as("l_shipdate")),
      "events" -> spark.range(nEvents).select(col("id").as("event_id"),
        (lit(1704067200L) + col("id") * 300 + draw(seed, 71, 300)).cast("timestamp").as("ts"),
        draw(seed, 72, rows(15000, 15)).as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), seed, 73).as("event_type"),
        money(seed, 74, 200).as("value"),
        format_string("{\"k\": %d}", draw(seed, 75, 100)).as("props")),
      "documents" -> documents(spark, rows(50000, 500), seed),
      "embeddings" -> {
        val raw = transform(sequence(lit(1L), lit(64L)), i =>
          (pmod(xxhash64(col("id"), i, lit(seed)), lit(2000001L)) - 1000000) / 1e6)
        spark.range(rows(20000, 500)).withColumn("raw", raw)
          .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
          .select(col("id").as("vec_id"),
            transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
            draw(seed, 81, 10).cast("int").as("label"))
      })
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  /** Pages of the bench corpus: [[WebText.benchCorpus]] over a generated
    * `documents` table of `nDocuments` docs, with `mult`x synthetic
    * entities. Columns (url, text, entity_id). */
  def benchPages(spark: SparkSession, dir: String, nDocuments: Long, mult: Int, seed: Long): DataFrame = {
    documents(spark, nDocuments, seed).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    WebText.benchCorpus(spark, dir, mult, seed).select(col("url"), col("text"), col("entity_id"))
  }

  /** Copy-group sizes around the hot-key cap: cap-1, cap, cap+1, 10cap, 40cap. */
  def copySizes(cap: Long): Seq[(String, Int)] =
    Seq("cap_minus1" -> (cap - 1), "cap" -> cap, "cap_plus1" -> (cap + 1),
      "10cap" -> 10 * cap, "40cap" -> 40 * cap).map { case (n, s) => n -> s.toInt }

  /** Entity ids of the copy groups start here, beyond the synthetic and
    * documents-derived namespaces of [[WebText]]. */
  val CopyEntityBase = 3000000000L

  /** Seed of the copy groups' texts and edits. The groups are the same for
    * every benchmark seed: the clusters they form vary strongly with their
    * text, and they hold most of the workload's pairs, so a seeded group
    * would swing every metric from run to run. */
  val CopySeed = 42L

  /** [[WebText.synthetic]] with `nEntities` entities from `seed` plus, for
    * each copy size, one group of exact copies and one of near-copies made
    * with [[WebText.variantText]]; each group has its own `entity_id`.
    * Columns (url, text, entity_id, group). */
  def copiesPages(spark: SparkSession, nEntities: Long, cap: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val base = WebText.synthetic(spark, nEntities, seed).toDF()
      .select(col("url"), col("text"), col("entity_id"), lit("").as("group"))
    val groups = copySizes(cap).zipWithIndex.flatMap { case ((name, size), i) =>
      Seq(("exact", 2 * i), ("near", 2 * i + 1)).map { case (kind, j) =>
        (s"${kind}_$name", CopyEntityBase + j, size, kind == "near")
      }
    }
    val copies = groups.toDF("group", "entity_id", "size", "near")
      .withColumn("base", words(col("entity_id"), CopySeed, 40, 40, vocab = 20000))
      .withColumn("i", explode(sequence(lit(0), col("size") - 1)))
      .as[(String, Long, Int, Boolean, String, Int)]
      .map { case (group, entity, _, near, base, i) =>
        val text = if (near) WebText.variantText(base, entity, i, CopySeed) else base
        (s"https://copies.example/$group/$i", text, entity, group)
      }.toDF("url", "text", "entity_id", "group")
    base.unionByName(copies)
  }
}
