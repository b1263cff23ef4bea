package productbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs: the TPC-H-ish tables in the engine's parquet layout (one
  * file per table, one row group) and a corpus of JSON-text documents in the
  * shape of the reference's bench_cold records. The same seed gives the same
  * rows; nothing is read from outside the output directory. */
object Gen {

  /** Row counts: the sf0.1 shape for the interactive tables; the batch
    * tables are trimmed so a run repeats its pipelines several times. */
  val rows: Map[String, Long] = Map(
    "nation" -> 25L, "customer" -> 15000L, "part" -> 20000L,
    "orders" -> 150000L, "lineitem" -> 100000L, "events" -> 40000L,
    "documents" -> 3000L)

  val tables: Map[String, Seq[String]] = Map(
    "interactive" -> Seq("nation", "customer", "part", "orders"),
    "batch" -> Seq("documents", "events", "lineitem"),
    "doc_json" -> Seq("documents"))

  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val statuses = Seq("F", "O", "P")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val langs = Seq("en", "en", "de", "es", "fr", "zh")
  val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  val vocab = Seq("the", "batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "vector", "join", "plan", "index", "the", "cache", "node")
  val cities = Seq("Tokyo", "Berlin", "Paris", "Austin", "Toronto", "Oslo", "Lima", "Cairo")

  private def h(seed: Long, salt: Int, c: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: c): _*)
  private def uni(seed: Long, salt: Int, n: Long): Column =
    pmod(h(seed, salt, col("id")), lit(n))
  private def pick(xs: Seq[String], i: Column): Column =
    element_at(array(xs.map(lit): _*), (i + 1).cast("int"))
  private def day(base: String, seed: Long, salt: Int, span: Long): Column =
    date_add(lit(base).cast("date"), uni(seed, salt, span).cast("int"))
      .cast("timestamp").cast("timestamp_ntz")

  def table(spark: SparkSession, name: String, seed: Long): DataFrame = {
    val r = spark.range(rows(name))
    def u(salt: Int, n: Long) = uni(seed, salt, n)
    name match {
      case "nation" => r.select(
        col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
      case "customer" => r.select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(1, 25).cast("int").as("c_nationkey"),
        ((u(2, 1099999L) - 99999L) / 100.0).as("c_acctbal"),
        pick(segments, u(3, 5)).as("c_mktsegment"))
      case "part" => r.select(
        col("id").as("p_partkey"),
        concat_ws(" ", pick(Seq("large", "hot", "small", "pale", "dark",
          "blue", "red", "green"), u(1, 8)), pick(Seq("ring", "bolt", "nut",
          "gear", "pipe", "valve", "clip", "screw"), u(2, 8))).as("p_name"),
        concat(lit("Brand#"), u(3, 25) + 1).as("p_brand"),
        pick(partTypes, u(4, 6)).as("p_type"),
        (u(5, 50) + 1).cast("int").as("p_size"),
        ((u(6, 10000) + 90000L) / 100.0).as("p_retailprice"))
      case "orders" => r.select(
        col("id").as("o_orderkey"),
        u(1, rows("customer")).as("o_custkey"),
        pick(statuses, u(2, 3)).as("o_orderstatus"),
        ((u(3, 49889300L) + 100191L) / 100.0).as("o_totalprice"),
        day("1995-01-01", seed, 4, 2404).as("o_orderdate"),
        pick(priorities, u(5, 5)).as("o_orderpriority"))
      case "lineitem" => r.select(
        u(1, rows("orders")).as("l_orderkey"),
        u(2, rows("part")).as("l_partkey"),
        u(3, 1000).as("l_suppkey"),
        (u(4, 7) + 1).cast("int").as("l_linenumber"),
        (u(5, 50) + 1).cast("double").as("l_quantity"),
        ((u(6, 10409924L) + 90068L) / 100.0).as("l_extendedprice"),
        (u(7, 11) / 100.0).as("l_discount"),
        (u(8, 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), u(9, 3)).as("l_returnflag"),
        pick(Seq("F", "O"), u(10, 2)).as("l_linestatus"),
        day("1995-01-01", seed, 11, 2404).as("l_shipdate"))
      case "events" => r.select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 25920000L +
          u(1, 25920000L)).cast("timestamp_ntz").as("ts"),
        u(2, 1500).as("user_id"),
        pick(eventTypes, u(3, 5)).as("event_type"),
        (u(4, 56022) / 100.0).as("value"),
        concat(lit("{\"k\": "), u(5, 100), lit("}")).as("props"))
      case "documents" =>
        // every 20th document on average copies an earlier one with a tenth
        // of its words replaced, so the near-duplicate search has pairs to find
        val dup = u(5, 20) === 0 && col("id") > 0
        val base = when(dup, greatest(lit(0L), col("id") - 1 - u(6, 8))).otherwise(col("id"))
        val nWords = (pmod(h(seed, 1, base), lit(52L)) + 8).cast("int")
        val words = transform(sequence(lit(1), nWords), i => element_at(array(vocab.map(lit): _*),
          (pmod(when(dup && pmod(h(seed, 7, col("id"), i), lit(10L)) === 0, h(seed, 8, col("id"), i))
            .otherwise(h(seed, 2, base, i)), lit(vocab.size.toLong)) + 1).cast("int")))
        r.select(col("id").as("doc_id"), array_join(words, " ").as("text"),
            pick(langs, u(3, langs.size.toLong)).as("lang"),
            concat(lit("src"), u(4, 20)).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
    }
  }

  /** Write the workload's tables under `dir`. */
  def write(spark: SparkSession, dir: String, workload: String, seed: Long): Unit =
    tables(workload).foreach { t =>
      table(spark, t, seed).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

  // ── JSON-text documents (bench_cold shape) ──

  /** Driver-side documents: bench_cold's 8,000 records each. */
  val driverDocs = (8, 8000)
  /** The JSON-text column evaluated per row in Spark. */
  val rowDocs = (32, 250)

  /** `shape._1` documents `{"data": [records]}` of `shape._2` records. A
    * seeded share of records (5-20% per seed) is heterogeneous: a field is
    * missing or its value has another type than usual. */
  def jsonCorpus(seed: Long, stream: Int, shape: (Int, Int)): Vector[String] = {
    val (docs, jsonRecords) = shape
    val rnd = new java.util.SplittableRandom(seed * 7919L + stream)
    val hetero = 0.05 + new java.util.SplittableRandom(seed).nextDouble() * 0.15
    Vector.tabulate(docs) { d =>
      val sb = new StringBuilder(jsonRecords * 200)
      sb.append("{\"data\":[")
      var i = 0
      while (i < jsonRecords) {
        if (i > 0) sb.append(',')
        val id = d * jsonRecords + i
        val odd = if (rnd.nextDouble() < hetero) rnd.nextInt(6) else -1
        sb.append(s"""{"id":$id,"user":{"name":"u$id","age":${18 + rnd.nextInt(60)}""")
        if (odd != 0)
          sb.append(s""","addr":{"city":"${cities(rnd.nextInt(cities.size))}","zip":"z${rnd.nextInt(1000)}"}""")
        sb.append("}")
        if (odd != 1) {
          sb.append(",\"items\":[")
          val n = 1 + rnd.nextInt(6)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(',')
            val qty = 1 + rnd.nextInt(9)
            val q = if (odd == 2 && j == 0) s""""$qty"""" else qty.toString
            sb.append(s"""{"sku":"S${rnd.nextInt(9973)}","qty":$q,"price":${rnd.nextInt(50000) / 100.0}}""")
            j += 1
          }
          sb.append("]")
        }
        val tags = Seq.fill(1 + rnd.nextInt(3))(s""""t${rnd.nextInt(11)}"""")
        sb.append(if (odd == 3) s""","tags":"t${rnd.nextInt(11)}"""" else tags.mkString(",\"tags\":[", ",", "]"))
        val active = rnd.nextInt(3) == 0
        sb.append(if (odd == 4) s""","active":${if (active) 1 else 0}""" else s""","active":$active""")
        val score = rnd.nextInt(1000)
        sb.append(if (odd == 5) s""","score":"$score"}""" else s""","score":$score}""")
        i += 1
      }
      sb.append("]}")
      sb.toString
    }
  }

  def writeJson(spark: SparkSession, path: String, docs: Vector[String]): Unit = {
    import spark.implicits._
    docs.zipWithIndex.map { case (j, i) => (i.toLong, j) }.toDF("doc_id", "json")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}
