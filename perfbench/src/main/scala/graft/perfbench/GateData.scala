package graft.perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic gate inputs: the ten tables of the gate
  * library's star schema plus its text, vector and event tables, with the
  * column names, types and value domains of the library's test data
  * (uniform keys, a 30-word document vocabulary with ~5% near-duplicate
  * documents, unit-norm 64-d embeddings clustered by label, one month of
  * time-ordered events). `sf` scales the row counts like TPC-H's scale
  * factor; the same `sf` and `seed` write the same rows.
  */
object GateData {

  private val vocab = Seq("a", "the", "data", "row", "column", "table",
    "query", "scan", "join", "hash", "sort", "merge", "agg", "group",
    "window", "stream", "batch", "spark", "key", "value", "order", "line",
    "part", "customer", "filter", "vector", "fast", "slow", "big", "small")

  private def tables(sf: Double): Map[String, Int] = Map(
    "customer" -> (150000 * sf).toInt, "orders" -> (1500000 * sf).toInt,
    "lineitem" -> (6000000 * sf).toInt, "part" -> (200000 * sf).toInt,
    "supplier" -> math.max(10, (10000 * sf).toInt),
    "documents" -> math.max(500, (50000 * sf).toInt),
    "embeddings" -> math.max(500, (20000 * sf).toInt),
    "events" -> (1000000 * sf).toInt, "users" -> math.max(15, (15000 * sf).toInt))

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val n = tables(sf)
    val rng = new java.util.Random(seed)
    def f(name: String, t: DataType) = StructField(name, t)
    def save(name: String, fields: Seq[StructField], rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def money(lo: Double, hi: Double) =
      math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(rng.nextInt(days).toLong)
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))

    save("region", Seq(f("r_regionkey", IntegerType), f("r_name", StringType)),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => Row(i, r) })
    save("nation", Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType)), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType)),
      (0 until n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        money(-999.99, 9999.99),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))
    save("supplier", Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)),
      (0 until n("supplier")).map(i =>
        Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25), money(-999.99, 9999.99))))
    val adjectives = Seq("blue", "red", "hot", "cold", "small", "large", "old", "new")
    val nouns = Seq("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
    save("part", Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType)),
      (0 until n("part")).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + rng.nextInt(25)}",
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")),
        1 + rng.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val orderEpoch = LocalDateTime.of(1995, 1, 1, 0, 0)
    save("orders", Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType)),
      (0 until n("orders")).map(i => Row(i.toLong, rng.nextInt(n("customer")).toLong,
        pick(Seq("F", "O", "P")), money(1000, 500000), day(orderEpoch, 2404),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
    save("lineitem", Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType),
      f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType)),
      (0 until n("lineitem")).map { _ =>
        val qty = (1 + rng.nextInt(50)).toDouble
        Row(rng.nextInt(n("orders")).toLong, rng.nextInt(n("part")).toLong,
          rng.nextInt(n("supplier")).toLong, 1 + rng.nextInt(7), qty,
          math.round(qty * (900 + rng.nextInt(1200)) * 100) / 100.0,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          pick(Seq("A", "N", "R")), pick(Seq("O", "F")),
          day(LocalDateTime.of(1995, 1, 2, 0, 0), 2498))
      })
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    save("documents", Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType)),
      (0 until n("documents")).map { i =>
        val text =
          if (texts.nonEmpty && rng.nextInt(20) == 0) texts(rng.nextInt(texts.size)) + " dup"
          else Seq.fill(8 + rng.nextInt(73))(pick(vocab)).mkString(" ")
        texts += text
        val u = rng.nextInt(100)
        val lang = if (u < 44) "en" else Seq("de", "es", "fr", "zh")((u - 44) / 14)
        Row(i.toLong, text, lang, s"src${rng.nextInt(20)}", text.length.toLong)
      })
    val centers = Array.fill(10, 64)(rng.nextGaussian())
    save("embeddings", Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType)),
      (0 until n("embeddings")).map { i =>
        val label = rng.nextInt(10)
        val v = Array.tabulate(64)(k => 0.15 * centers(label)(k) + rng.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanUs = 30L * 86400L * 1000000L
    val times = Array.fill(n("events"))((rng.nextDouble() * spanUs).toLong).sorted
    save("events", Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType)),
      times.indices.map(i => Row(i.toLong, evStart.plusNanos(times(i) * 1000L),
        rng.nextInt(n("users")).toLong,
        pick(Seq("click", "view", "purchase", "signup", "error")),
        money(0.01, 490.0), s"""{"k": ${rng.nextInt(100)}}""")))
  }
}
