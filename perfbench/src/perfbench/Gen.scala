package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Clustered float32 vectors: Gaussian clusters with unit noise around
  * centres drawn once per seed. Each record carries a 10-value `label`
  * (about 10% of rows per value) and a two-value `group` ("a" on about
  * 90% of rows), independent of its cluster, so the two metadata filters
  * select about 10% and 90% of any neighbourhood. */
final class VectorGen(seed: Long, val dim: Int, clusters: Int) {
  private val centres = {
    val rnd = new scala.util.Random(seed)
    Array.fill(clusters, dim)((rnd.nextGaussian() * 2.0).toFloat)
  }

  /** An independent, reproducible stream of records around the centres. */
  def stream(id: Long): Stream = new Stream(new scala.util.Random(seed * 7919L + id))

  final class Stream(rnd: scala.util.Random) {
    def vector(): Array[Float] = {
      val c = centres(rnd.nextInt(clusters))
      Array.tabulate(dim)(i => (c(i) + rnd.nextGaussian()).toFloat)
    }

    def records(n: Int): IndexedSeq[Gen.Rec] = IndexedSeq.fill(n) {
      val v = vector()
      Gen.Rec(v, rnd.nextInt(10).toString, if (rnd.nextDouble() < 0.9) "a" else "b")
    }
  }
}

object Gen {
  final case class Rec(vec: Array[Float], label: String, group: String) {
    def metadata: Map[String, String] = Map("label" -> label, "group" -> group)
  }

  val storeSchema: StructType = StructType(Seq(
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("metadata", MapType(StringType, StringType), nullable = true)))

  def storeRows(spark: SparkSession, recs: Seq[Rec]): DataFrame = {
    val rows = recs.map(r => Row(r.vec.toSeq, r.metadata))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), storeSchema)
  }

  // ---------------------------------------------------------------- tables

  /** Sizes of the analytics input: the shape of the sf tables the queries
    * were written for (same schemas and value domains), scaled down so a
    * pass over the query subset fits a run. */
  val Docs = 1000
  val Vecs = 1000
  val Events = 20000
  val Users = 800
  val Orders = 3000
  val LinesPerOrder = 4
  val Customers = 300
  val Parts = 400
  val Suppliers = 40

  private val Words = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val DayMs = 86400000L

  private def ts(ms: Long) = new Timestamp(ms)
  private def round2(x: Double) = math.round(x * 100.0) / 100.0

  /** The analytics tables, one Row sequence and schema per table name.
    * Fixed content (seed 42): the workload's fingerprints depend on it. */
  def tables(): Seq[(String, StructType, IndexedSeq[Row])] = {
    val rnd = new scala.util.Random(42L)
    def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))

    // documents: word salad of 10-100 words; ~1% exact and ~3% near
    // duplicates of earlier documents, so the dedup operators find pairs
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until Docs) {
      val u = rnd.nextDouble()
      texts += (
        if (i > 10 && u < 0.01) texts(rnd.nextInt(i))
        else if (i > 10 && u < 0.04) {
          val w = texts(rnd.nextInt(i)).split(' ')
          w(rnd.nextInt(w.length)) = "dup"
          w.mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(91))(pick(Words)).mkString(" "))
    }
    val documents = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, pick(Langs), s"src${i % 20}", t.length.toLong)
    }.toIndexedSeq

    val embeddings = IndexedSeq.tabulate(Vecs) { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(64)(d =>
        (if (d % 10 == label) 0.3 else 0.0) + rnd.nextGaussian() * 0.1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }

    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val meanStepMs = (30L * DayMs / Events).toInt // events span ~30 days
    var clock = t0
    val events = IndexedSeq.tabulate(Events) { i =>
      clock += 1 + rnd.nextInt(2 * meanStepMs)
      Row(i.toLong, ts(clock), rnd.nextInt(Users).toLong, pick(EventTypes),
        round2(rnd.nextDouble() * 200.0), s"""{"k": ${rnd.nextInt(100)}}""")
    }

    val d0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val orderDays = Array.fill(Orders)(rnd.nextInt(2400))
    val orders = IndexedSeq.tabulate(Orders) { o =>
      Row(o.toLong, rnd.nextInt(Customers).toLong, pick(Array("O", "P", "F")),
        round2(1000.0 + rnd.nextDouble() * 400000.0), ts(d0 + orderDays(o) * DayMs),
        pick(Priorities))
    }
    val lineitem = (0 until Orders).flatMap { o =>
      (1 to 1 + rnd.nextInt(2 * LinesPerOrder - 1)).map { ln =>
        Row(o.toLong, rnd.nextInt(Parts).toLong, rnd.nextInt(Suppliers).toLong,
          ln, (1 + rnd.nextInt(50)).toDouble,
          round2(900.0 + rnd.nextDouble() * 100000.0),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          pick(Array("A", "N", "R")), pick(Array("F", "O")),
          ts(d0 + (orderDays(o) + 1 + rnd.nextInt(121)) * DayMs))
      }
    }
    val customer = IndexedSeq.tabulate(Customers) { c =>
      Row(c.toLong, f"Customer#$c%09d", rnd.nextInt(25),
        round2(rnd.nextDouble() * 10000.0 - 1000.0), pick(Segments))
    }
    val part = IndexedSeq.tabulate(Parts) { p =>
      Row(p.toLong, s"${pick(Array("large", "hot", "small", "cold"))} " +
        pick(Array("ring", "bolt", "nut", "gear")), s"Brand#${1 + rnd.nextInt(25)}",
        pick(Array("LARGE", "ECONOMY", "STANDARD", "PROMO")), 1 + rnd.nextInt(50),
        round2(900.0 + p * 0.1))
    }
    val supplier = IndexedSeq.tabulate(Suppliers) { s =>
      Row(s.toLong, f"Supplier#$s%09d", rnd.nextInt(25),
        round2(rnd.nextDouble() * 10000.0 - 1000.0))
    }
    val nation = IndexedSeq.tabulate(25)(n => Row(n, s"NATION_$n", n % 5))
    val region = IndexedSeq.tabulate(5)(r => Row(r, Regions(r)))

    def schema(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })
    Seq(
      ("documents", schema("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", schema("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType),
        embeddings),
      ("events", schema("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType), events),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), orders),
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType), lineitem),
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("part", schema("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType), part),
      ("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType), region))
  }

  /** Write every analytics table as `<dir>/<name>.parquet`. */
  def writeTables(spark: SparkSession,
                  tabs: Seq[(String, StructType, IndexedSeq[Row])], dir: String): Unit =
    tabs.foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
