package graftbench

import java.security.MessageDigest
import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row id) through splitmix64, so one seed always yields the
  * same rows in the same order; `Table.digest` hashes that row stream, which
  * makes "same seed, byte-identical inputs" checkable without reading files
  * back. Shapes and value domains follow `graft.ScaleGen` (and through it
  * the TPC-H-ish test tables), so graft's queries and oracles apply as is.
  */
final class Rng(seed: Long) {
  private val base = Rng.mix(seed ^ 0x5DEECE66DL)
  def bits(stream: Long, id: Long): Long =
    Rng.mix(base + stream * 0x9E3779B97F4A7C15L + Rng.mix(id))
  def int(stream: Long, id: Long, n: Int): Int =
    ((bits(stream, id) >>> 1) % n).toInt
  def long(stream: Long, id: Long, n: Long): Long = (bits(stream, id) >>> 1) % n
  def unif(stream: Long, id: Long): Double =
    (bits(stream, id) >>> 11).toDouble / (1L << 53).toDouble
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** A generated table: rows in generation order plus their schema. */
final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row]) {
  def digest: Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(name.getBytes("UTF-8"))
    rows.foreach { r =>
      var i = 0
      while (i < r.length) {
        md.update(Table.render(r.get(i)).getBytes("UTF-8"))
        md.update(1.toByte)
        i += 1
      }
      md.update('\n'.toByte)
    }
    md.digest()
  }

  /** One parquet file per table, like the test tables graft is tuned on. */
  def write(spark: SparkSession, dir: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
}

object Table {
  private def render(v: Any): String = v match {
    case null                  => "∅"
    case a: Array[Float]       => a.map(java.lang.Float.toString).mkString("[", ",", "]")
    case d: java.lang.Double   => java.lang.Double.toString(d)
    case other                 => other.toString
  }

  def digestHex(tables: Seq[Table]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    tables.foreach(t => md.update(t.digest))
    md.digest().map(b => f"$b%02x").mkString
  }
}

object Gen {
  private def f(name: String, t: DataType) = StructField(name, t, nullable = false)

  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "de", "zh", "fr", "es")
  private val EventTypes = Array("view", "click", "signup", "purchase", "error")
  private val Segments = Array("MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD", "AUTOMOBILE")
  private val Adjs = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Statuses = Array("P", "O", "F")
  private val Flags = Array("R", "A", "N")
  private val Prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def money(x: Double): Double = math.rint(x * 100.0) / 100.0

  /** The full test-table set — TPC-H-shaped relational tables, `events`,
    * `documents`, `embeddings` — at `units` × the sf0.1 cardinalities
    * (orders 150k, customer 15k, part 20k, supplier 1k, events 100k,
    * documents 5k, embeddings 2k per unit). Dates are whole days in
    * 1995-01-01 + 2400 d. */
  def relational(rng: Rng, units: Double): Seq[Table] = {
    def n(perUnit: Long) = math.max(1L, math.round(perUnit * units))
    val nOrders = n(150000); val nCust = n(15000); val nPart = n(20000)
    val nSupp = n(1000); val nEvents = n(100000)
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    val region = Table("region", StructType(Seq(f("r_regionkey", IntegerType),
        f("r_name", StringType))),
      Vector(Row(0, "AFRICA"), Row(1, "AMERICA"), Row(2, "ASIA"),
        Row(3, "EUROPE"), Row(4, "MIDDLE EAST")))
    val nation = Table("nation", StructType(Seq(f("n_nationkey", IntegerType),
        f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = Table("customer", StructType(Seq(f("c_custkey", LongType),
        f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0L until nCust).map(id => Row(id, f"Customer#$id%09d", rng.int(1, id, 25),
        money(-1000.0 + rng.unif(2, id) * 11000.0), Segments(rng.int(3, id, 5)))))
    val supplier = Table("supplier", StructType(Seq(f("s_suppkey", LongType),
        f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))),
      (0L until nSupp).map(id => Row(id, f"Supplier#$id%09d", rng.int(4, id, 25),
        money(500.0 + rng.unif(5, id) * 5500.0))))
    val part = Table("part", StructType(Seq(f("p_partkey", LongType),
        f("p_name", StringType), f("p_brand", StringType), f("p_type", StringType),
        f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0L until nPart).map(id => Row(id,
        Adjs(rng.int(6, id, 8)) + " " + Nouns(rng.int(7, id, 8)),
        "Brand#" + (1 + rng.int(8, id, 25)), Types(rng.int(9, id, 6)),
        1 + rng.int(10, id, 50), money(900.0 + (id % 1000).toDouble * 0.1))))
    val orders = Table("orders", StructType(Seq(f("o_orderkey", LongType),
        f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
        f("o_orderpriority", StringType))),
      (0L until nOrders).map(id => Row(id, rng.long(11, id, nCust),
        Statuses(rng.int(12, id, 3)),
        money(1000.0 + rng.unif(13, id) * 499000.0),
        day0.plusDays(rng.int(14, id, 2400).toLong), Prios(rng.int(15, id, 5)))))
    // lines per order: uniform 1–7 plus a 0.8% tail of 5–10 extra lines,
    // the ScaleGen calibration that keeps TPC-H q18's gate non-empty
    val lineitem = Table("lineitem", StructType(Seq(f("l_orderkey", LongType),
        f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
        f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0L until nOrders).flatMap { okey =>
        val base = 1 + rng.int(16, okey, 7)
        val nl = if (rng.int(17, okey, 1000) < 8) base + 5 + rng.int(18, okey, 6) else base
        (0 until nl).map { i =>
          val id = okey * 32 + i
          Row(okey, rng.long(19, id, nPart), rng.long(20, id, nSupp), i + 1,
            1.0 + rng.int(21, id, 50), money(900.0 + rng.unif(22, id) * 104100.0),
            math.rint(rng.unif(23, id) * 10.0) / 100.0,
            math.rint(rng.unif(24, id) * 8.0) / 100.0,
            Flags(rng.int(25, id, 3)),
            if (rng.int(26, id, 2) == 0) "O" else "F",
            day0.plusDays(1L + rng.int(27, id, 2400)))
        }
      })
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val events = Table("events", StructType(Seq(f("event_id", LongType),
        f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0L until nEvents).map(id => Row(id,
        t0.plusNanos((rng.unif(28, id) * spanMicros).toLong * 1000L),
        rng.long(29, id, math.max(1L, nEvents / 66)),
        EventTypes(rng.int(30, id, 5)),
        math.rint(math.pow(rng.unif(31, id), 3.0) * 56021.0) / 100.0,
        s"""{"k": ${rng.int(32, id, 100)}}""")))
    val documents = corpusBatch(rng, -1, n(5000).toInt)._1.copy(name = "documents")
    val embeddings = vectors(rng, 50, 0L, n(2000).toInt, "embeddings")
    Seq(region, nation, customer, supplier, part, orders, lineitem, events,
      documents, embeddings)
  }

  /** One corpus batch of `n` documents with ids `batch * 10^7 + i`: 8–100
    * words off the ScaleGen vocabulary, ScaleGen's lang/source mix. Every
    * 20th document is a planted copy of an earlier one in the batch (even
    * plants exact, odd plants with one word replaced), so each batch has
    * known duplicate pairs. Returns the table and the planted
    * (copy, original) id pairs. */
  def corpusBatch(rng: Rng, batch: Int, n: Int): (Table, Seq[(Long, Long)]) = {
    val stream = 1000L * (batch + 2)
    val texts = new Array[String](n)
    val planted = Seq.newBuilder[(Long, Long)]
    val base = batch.toLong * 10000000L
    for (i <- 0 until n) {
      val id = i.toLong
      texts(i) =
        if (i > 0 && i % 20 == 0) {
          val src = rng.int(stream + 1, id, i)
          planted += ((base + i, base + src))
          val words = texts(src).split(" ")
          if ((i / 20) % 2 == 1)
            words(rng.int(stream + 2, id, words.length)) =
              Vocab(rng.int(stream + 3, id, Vocab.length))
          words.mkString(" ")
        } else {
          val len = 8 + rng.int(stream + 4, id, 93)
          (0 until len).map(w => Vocab(rng.int(stream + 5, id * 128 + w, Vocab.length)))
            .mkString(" ")
        }
    }
    val rows = (0 until n).map { i =>
      Row(base + i, texts(i), Langs(rng.int(stream + 6, i.toLong, Langs.length)),
        "src" + rng.int(stream + 7, i.toLong, 20), texts(i).length.toLong)
    }
    (Table(s"docs_$batch", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), rows),
      planted.result())
  }

  /** `n` 64-dim vectors with components uniform in ±0.34 (ScaleGen's
    * embedding shape), ids from `firstId`, drawn from `stream`. */
  def vectors(rng: Rng, stream: Long, firstId: Long, n: Int,
      name: String): Table =
    Table(name, StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      (0 until n).map { i =>
        val id = firstId + i
        Row(id, Array.tabulate(64)(d =>
          ((rng.unif(stream, id * 64 + d) - 0.5) * 0.68).toFloat),
          rng.int(stream + 1, id, 10))
      })
}
