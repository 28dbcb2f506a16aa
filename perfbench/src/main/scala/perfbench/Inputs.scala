package perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input tables. Every value is a pure function of (seed, row index)
  * through splitmix64, so one seed gives identical tables on any host and
  * under any partitioning. The shapes and value ranges follow the engine's
  * test tables (TESTDATA.md): a word-salad `documents` table with ~5%
  * near-duplicate docs, a TPC-H-like star schema, `events` and `embeddings`.
  */
object Inputs {

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, a: Long, b: Long): Long = mix(mix(mix(seed) ^ a) ^ b)
  private def pick(seed: Long, a: Long, b: Long, m: Int): Int =
    java.lang.Math.floorMod(h(seed, a, b), m.toLong).toInt
  private def unit(seed: Long, a: Long, b: Long): Double = (h(seed, a, b) >>> 11) / 9007199254740992.0
  private def cents(x: Double): Double = math.rint(x * 100) / 100

  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")

  private def words(seed: Long, id: Long): String = {
    val n = 8 + pick(seed, id, 1, 90)
    val sb = new java.lang.StringBuilder(n * 7)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(Vocab(pick(seed, id, 100 + j, 30)))
      j += 1
    }
    sb.toString
  }

  /** Text of doc `id` in a corpus of `nDocs`: 8 to 97 words, and for ~5% of
    * ids another doc's text plus " dup" (the dedup operators' positives). */
  def text(seed: Long, id: Long, nDocs: Long): String =
    if (nDocs > 1 && pick(seed, id, 3, 20) == 0) {
      val src = java.lang.Math.floorMod(h(seed, id, 4), nDocs)
      if (pick(seed, src, 3, 20) == 0) words(seed, id) else words(seed, src) + " dup"
    } else words(seed, id)

  private val Langs = Array("en", "zh", "es", "fr", "de")
  private def lang(seed: Long, id: Long): String = {
    val p = pick(seed, id, 2, 100)
    if (p < 41) "en" else Langs(1 + (p - 41) / 15)
  }

  /** The extraction input: `nDocs` rows in the `documents.parquet` shape,
    * written as `files` files under `dir/documents.parquet`. The texts are
    * `nBase` seeded base texts replicated; doc_ids are salted with the seed,
    * so the giant, HTML, PDF-layout and media mix (a function of doc_id)
    * changes with the seed. Doc ids are consecutive and stay below 2^62.
    */
  def writeDocs(spark: SparkSession, dir: String, seed: Long, nDocs: Long,
      files: Int, nBase: Int = 5000): Unit = {
    import spark.implicits._
    val base = spark.sparkContext.broadcast(
      (0 until nBase).map(i => text(seed, i.toLong, nBase.toLong)).toArray)
    val first = java.lang.Math.floorMod(seed, 40000000000L) * 100000000L
    spark.range(0L, nDocs, 1L, files)
      .map { i =>
        val t = base.value((i % nBase).toInt)
        (first + i, t, lang(seed, i % nBase), s"src${i % 20}", t.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    base.destroy()
  }

  /** The query suite's ten tables at the test tables' sf0.01 row counts, from a
    * fixed generator seed: the query suite's seed orders the queries, the
    * tables never change, so their expected fingerprints can be committed. */
  def writeQueryTables(spark: SparkSession, dir: String): Unit = {
    val s = 20260917L
    def write(name: String, schema: StructType, n: Int)(row: Int => Row): Unit = {
      val rows = new java.util.ArrayList[Row](n)
      var i = 0
      while (i < n) { rows.add(row(i)); i += 1 }
      spark.createDataFrame(rows, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    def day(base: LocalDateTime, i: Long, salt: Long, range: Int) =
      base.plusDays(pick(s, i, salt, range).toLong)

    val nDocs = 500
    write("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), nDocs) { i =>
      val t = text(s, i.toLong, nDocs.toLong)
      Row(i.toLong, t, lang(s, i.toLong), s"src${i % 20}", t.length.toLong)
    }
    write("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType), 500) { i =>
      val v = Array.tabulate(64)(j => unit(s, 1000L + i, j.toLong) - 0.5)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, pick(s, 1000L + i, 99, 10))
    }
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val nEvents = 10000
    val stepUs = 30L * 86400L * 1000000L / nEvents
    val eventTypes = Array("signup", "purchase", "view", "click", "error")
    write("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), nEvents) { i =>
      val ts = t0.plusNanos((i * stepUs + (unit(s, 2000L + i, 1) * stepUs).toLong) * 1000L)
      val u = unit(s, 2000L + i, 3)
      Row(i.toLong, ts, pick(s, 2000L + i, 2, 150).toLong, eventTypes(pick(s, 2000L + i, 4, 5)),
        cents(560.0 * u * u), s"""{"k": ${pick(s, 2000L + i, 5, 100)}}""")
    }
    val nOrders = 15000
    val nParts = 2000
    val nSupp = 100
    val nCust = 1500
    val ship0 = LocalDateTime.of(1995, 1, 2, 0, 0)
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType), 60000) { i =>
      val k = 100000L + i
      Row(pick(s, k, 1, nOrders).toLong, pick(s, k, 2, nParts).toLong, pick(s, k, 3, nSupp).toLong,
        1 + pick(s, k, 4, 7), (1 + pick(s, k, 5, 50)).toDouble,
        cents(900.68 + unit(s, k, 6) * 104099.23), pick(s, k, 7, 11) / 100.0,
        pick(s, k, 8, 9) / 100.0, "ANR".substring(pick(s, k, 9, 3)).take(1),
        "FO".substring(pick(s, k, 10, 2)).take(1), day(ship0, k, 11, 2499))
    }
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), nOrders) { i =>
      val k = 200000L + i
      Row(i.toLong, pick(s, k, 1, nCust).toLong, "FOP".substring(pick(s, k, 2, 3)).take(1),
        cents(1001.91 + unit(s, k, 3) * 498991.27),
        day(LocalDateTime.of(1995, 1, 1, 0, 0), k, 4, 2405), priorities(pick(s, k, 5, 5)))
    }
    val colors = Array("red", "blue", "green", "black", "white", "small", "large", "shiny")
    val things = Array("widget", "bolt", "ring", "anvil", "gear", "spring", "valve", "lever")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), nParts) { i =>
      val k = 300000L + i
      Row(i.toLong, s"${colors(pick(s, k, 1, 8))} ${things(pick(s, k, 2, 8))}",
        s"Brand#${1 + pick(s, k, 3, 25)}", types(pick(s, k, 4, 6)), 1 + pick(s, k, 5, 50),
        900.0 + (i % 1000) / 10.0)
    }
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), nCust) { i =>
      val k = 400000L + i
      Row(i.toLong, f"Customer#$i%09d", pick(s, k, 1, 25),
        cents(-999.99 + unit(s, k, 2) * 10999.79), segments(pick(s, k, 3, 5)))
    }
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), nSupp) { i =>
      val k = 500000L + i
      Row(i.toLong, f"Supplier#$i%09d", pick(s, k, 1, 25), cents(-999.99 + unit(s, k, 2) * 10999.79))
    }
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), 25) { i => Row(i, s"NATION_$i", i % 5) }
    val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), 5) { i =>
      Row(i, regions(i))
    }
  }
}
