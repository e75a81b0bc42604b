package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic corpus with the table layout the graft queries
  * read (`<dir>/<table>.parquet`, one file each, the same column names
  * and types as the TPC-H-shaped test tiers). It holds the tables the
  * pipeline's queries read: orders, lineitem, supplier, events and
  * documents; customer and part exist only as key ranges.
  *
  * `events` always has the sf0.1 shape — 100,000 events from 1,500
  * users over 30 days, 5 event types — because it is the HMM training
  * and decode input. The TPC-H tables and `documents` are sized by
  * `scale` (1.0 = sf1 row counts), so the relational, graph and dedup
  * queries fit the run length.
  *
  * The content depends only on [[Corpus.Seed]] and `scale`: every
  * table draws from its own SplittableRandom on one thread, so a
  * rebuild anywhere reproduces the same rows in the same order, and
  * the pipeline's recorded digests stay valid.
  */
object Corpus {
  val Seed = 42L
  val Events = 100000
  val Users = 1500
  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")

  private val Words = IndexedSeq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window", "spill")

  private def rng(table: String): SplittableRandom =
    new SplittableRandom(Seed * 1000003L + table.hashCode)

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  def write(spark: SparkSession, dir: String, scale: Double): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def n(sf1Rows: Int): Int = math.max(1, (sf1Rows * scale).toInt)
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nDocs = n(50000)

    locally {
      val r = rng("supplier")
      save("supplier", StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          round2(r.nextDouble() * 10999.99 - 999.99))))
    }

    locally {
      val r = rng("orders")
      val status = IndexedSeq("F", "O", "P")
      val prio = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val orders = (0 until nOrders).map { i =>
        Row(i.toLong, r.nextInt(nCust).toLong, status(r.nextInt(3)),
          round2(r.nextDouble() * 500000), Epoch1995.plusDays(r.nextInt(2404).toLong),
          prio(r.nextInt(5)))
      }
      save("orders", StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
        orders)

      val li = rng("lineitem")
      val flags = IndexedSeq("A", "N", "R")
      val lines = orders.flatMap { o =>
        val date = o.getAs[LocalDateTime](4)
        (1 to 1 + li.nextInt(7)).map { ln =>
          val qty = (1 + li.nextInt(50)).toDouble
          Row(o.getLong(0), li.nextInt(nPart).toLong, li.nextInt(nSupp).toLong, ln, qty,
            round2(qty * (900.0 + li.nextInt(100000) / 100.0)), li.nextInt(11) / 100.0,
            li.nextInt(9) / 100.0, flags(li.nextInt(3)), if (li.nextBoolean()) "O" else "F",
            date.plusDays(1L + li.nextInt(121)))
        }
      }
      save("lineitem", StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampNTZType))), lines)
    }

    locally {
      val r = rng("events")
      val monthUs = 30L * 24 * 3600 * 1000000L
      val offsets = Array.fill(Events)((r.nextDouble() * monthUs).toLong)
      java.util.Arrays.sort(offsets)
      save("events", StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
        offsets.indices.map { i =>
          Row(i.toLong, Epoch2024.plusNanos(offsets(i) * 1000L), r.nextInt(Users).toLong,
            EventTypes(r.nextInt(EventTypes.length)), round2(-math.log(1 - r.nextDouble()) * 60),
            s"""{"k": ${r.nextInt(100)}}""")
        })
    }

    locally {
      // ~3% exact copies and ~3% one-word edits of earlier documents,
      // so the exact, near-duplicate and substring dedup paths all
      // find matches
      val r = rng("documents")
      val langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
      val texts = new Array[String](nDocs)
      for (i <- 0 until nDocs) {
        val roll = r.nextInt(100)
        texts(i) =
          if (i > 0 && roll < 3) texts(r.nextInt(i))
          else if (i > 0 && roll < 6) {
            val ws = texts(r.nextInt(i)).split(' ')
            ws(r.nextInt(ws.length)) = Words(r.nextInt(Words.length))
            ws.mkString(" ")
          } else Seq.fill(8 + r.nextInt(90))(Words(r.nextInt(Words.length))).mkString(" ")
      }
      save("documents", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))),
        texts.indices.map(i => Row(i.toLong, texts(i), langs(r.nextInt(langs.length)),
          s"src${i % 20}", texts(i).length.toLong)))
    }
  }
}
