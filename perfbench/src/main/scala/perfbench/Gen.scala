package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded generator for the corpus the product's queries read: the
 * TPC-H-shaped star schema plus `events` and `documents`,
 * with the column names and types of the corpus the engine was built
 * against. Every value is a pure function of (seed, table, row, field),
 * so the same seed gives the same rows whatever the partitioning, and
 * the program sees only these generated inputs.
 *
 * `sf` scales row counts like TPC-H: lineitem is ~6M × sf rows.
 */
object Gen {

  /** SplitMix64 finaliser: a well-mixed 64-bit hash. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Hash-based draw for one field of one row of one table. */
  final case class Rng(seed: Long, table: Int) {
    def bits(i: Long, field: Int): Long =
      mix(mix(mix(seed ^ (table.toLong << 56)) + i) + field)
    def below(i: Long, field: Int, n: Long): Long =
      java.lang.Long.remainderUnsigned(bits(i, field), n)
    def unit(i: Long, field: Int): Double =
      (bits(i, field) >>> 11) * (1.0 / (1L << 53))
    /** Uniform amount with two decimals in [lo, hi). */
    def cents(i: Long, field: Int, lo: Double, hi: Double): Double =
      math.floor((lo + unit(i, field) * (hi - lo)) * 100) / 100
  }

  final case class Sizes(sf: Double) {
    private def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val customer: Long = n(150000)
    val supplier: Long = n(10000)
    val part: Long = n(200000)
    val orders: Long = n(1500000)
    val events: Long = n(1000000)
    val users: Long = n(15000)
    val documents: Long = n(50000)
  }

  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Array("click", "error", "purchase", "signup", "view")
  val Langs = Array("en", "en", "es", "zh", "de", "fr")
  val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Common = ("a the batch part spark line column order small sort fast value " +
    "scan hash slow group agg filter query big key window row table stream " +
    "merge data customer vector join").split(" ")
  val PartAdj = Array("large", "hot", "blue", "small", "green", "smooth")
  val PartNoun = Array("ring", "bolt", "gear", "pipe", "plate", "spring")
  val PartType = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  def orderDate(r: Rng, o: Long): LocalDateTime = Epoch1995.plusDays(r.below(o, 4, 2404))
  def linesOf(r: Rng, o: Long): Int = 1 + r.below(o, 6, 7).toInt

  def region(seed: Long, i: Long): Row = Row(i.toInt, Regions(i.toInt))
  def nation(seed: Long, i: Long): Row = Row(i.toInt, s"NATION_$i", (i % 5).toInt)

  def customer(seed: Long, i: Long): Row = {
    val r = Rng(seed, 3)
    Row(i, f"Customer#$i%09d", r.below(i, 1, 25).toInt,
      r.cents(i, 2, -999.99, 9999.99), Segments(r.below(i, 3, 5).toInt))
  }

  def supplier(seed: Long, i: Long): Row = {
    val r = Rng(seed, 4)
    Row(i, f"Supplier#$i%09d", r.below(i, 1, 25).toInt, r.cents(i, 2, -999.99, 9999.99))
  }

  def part(seed: Long, i: Long): Row = {
    val r = Rng(seed, 5)
    Row(i, PartAdj(r.below(i, 1, 6).toInt) + " " + PartNoun(r.below(i, 2, 6).toInt),
      s"Brand#${1 + r.below(i, 3, 25)}", PartType(r.below(i, 4, 6).toInt),
      1 + r.below(i, 5, 50).toInt, 900.0 + (i % 1000) / 10.0)
  }

  def order(seed: Long, s: Sizes, o: Long): Row = {
    val r = Rng(seed, 6)
    Row(o, r.below(o, 1, s.customer), "FOP".charAt(r.below(o, 2, 3).toInt).toString,
      r.cents(o, 3, 1000.0, 500000.0), orderDate(r, o), Priorities(r.below(o, 5, 5).toInt))
  }

  /** The lines of order `o` (1 to 7 of them, linenumbers 1..n). */
  def lines(seed: Long, s: Sizes, o: Long): Seq[Row] = {
    val ro = Rng(seed, 6)
    val r = Rng(seed, 7)
    val od = orderDate(ro, o)
    (1 to linesOf(ro, o)).map { ln =>
      val i = o * 8 + ln
      val ship = od.plusDays(1 + r.below(i, 1, 121))
      Row(o, r.below(i, 2, s.part), r.below(i, 3, s.supplier), ln,
        (1 + r.below(i, 4, 50)).toDouble, r.cents(i, 5, 900.0, 100000.0),
        r.below(i, 6, 11) / 100.0, r.below(i, 7, 9) / 100.0,
        "RAN".charAt(r.below(i, 8, 3).toInt).toString,
        if (ship.isAfter(LocalDateTime.of(1998, 6, 17, 0, 0))) "O" else "F",
        ship)
    }
  }

  def event(seed: Long, s: Sizes, i: Long): Row = {
    val r = Rng(seed, 8)
    // ordered by id: ~2.6 s mean spacing over 30 days at sf=1
    val us = (i * (30L * 86400 * 1000000 / s.events)) + r.below(i, 1, 1000000)
    Row(i, Epoch2024.plusNanos(us * 1000), r.below(i, 2, s.users),
      EventTypes(r.below(i, 3, 5).toInt), r.cents(i, 4, 0.0, 200.0),
      s"""{"k": ${r.below(i, 5, 100)}}""")
  }

  /** Document text: common words with a long tail of rare ones; ~2% of
    * docs are near-duplicates (a few words edited) of an earlier doc and
    * ~0.5% exact duplicates, so the dedup and index probes find pairs. */
  def text(seed: Long, i: Long): String = {
    val r = Rng(seed, 9)
    val kind = r.below(i, 1, 1000)
    if (i > 0 && kind < 25) {
      val src = r.below(i, 2, i)
      val words = text(seed, src).split(" ")
      if (kind >= 5) {
        val edits = 1 + words.length / 30
        (0 until edits).foreach { e =>
          words(r.below(i, 10 + e, words.length).toInt) = word(r, i * 64 + e)
        }
      }
      words.mkString(" ")
    } else {
      val n = 8 + r.below(i, 3, 72).toInt
      (0 until n).map(w => word(r, i * 128 + w)).mkString(" ")
    }
  }

  private def word(r: Rng, k: Long): String =
    if (r.below(k, 4, 10) < 7) Common(r.below(k, 5, Common.length).toInt)
    else f"w${r.below(k, 6, 2000)}%04d"

  def document(seed: Long, i: Long): Row = {
    val r = Rng(seed, 10)
    val t = text(seed, i)
    Row(i, t, Langs(r.below(i, 1, Langs.length).toInt), s"src${i % 20}", t.length.toLong)
  }

  val schemas: Map[String, StructType] = {
    def s(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    val ts = TimestampNTZType
    Map(
      "region" -> s("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> s("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> s("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      "supplier" -> s("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> s("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> s("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> ts, "o_orderpriority" -> StringType),
      "lineitem" -> s("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> ts),
      "events" -> s("event_id" -> LongType, "ts" -> ts, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      "documents" -> s("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType))
  }

  /** Source rows of each table (lineitem's are the orders). */
  def sourceRows(table: String, s: Sizes): Long = table match {
    case "region" => 5
    case "nation" => 25
    case "customer" => s.customer
    case "supplier" => s.supplier
    case "part" => s.part
    case "orders" | "lineitem" => s.orders
    case "events" => s.events
    case "documents" => s.documents
  }

  /** The rows table `table` derives from source row `i`. */
  def rowsOf(table: String, seed: Long, s: Sizes, i: Long): Seq[Row] = table match {
    case "region" => Seq(region(seed, i))
    case "nation" => Seq(nation(seed, i))
    case "customer" => Seq(customer(seed, i))
    case "supplier" => Seq(supplier(seed, i))
    case "part" => Seq(part(seed, i))
    case "orders" => Seq(order(seed, s, i))
    case "lineitem" => lines(seed, s, i)
    case "events" => Seq(event(seed, s, i))
    case "documents" => Seq(document(seed, i))
  }

  private def parquetType(f: StructField): String = {
    val t = f.dataType match {
      case LongType => "int64"
      case IntegerType => "int32"
      case DoubleType => "double"
      case StringType => "binary"
      case TimestampNTZType => "int64"
    }
    val logical = f.dataType match {
      case StringType => " (STRING)"
      case TimestampNTZType => " (TIMESTAMP(MICROS,false))"
      case _ => ""
    }
    s"optional $t ${f.name}$logical;"
  }

  /** Write one table as `<dir>/<table>.parquet/part-00000.parquet` on the
    * calling thread: the layout the product's loader and DuckDB both read,
    * with no Spark job (so generation does not warm the engine before
    * set-up). */
  def write(conf: org.apache.hadoop.conf.Configuration, dir: String, table: String, seed: Long,
            sf: Double): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val st = schemas(table)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      st.fields.map(parquetType).mkString(s"message $table {", " ", "}"))
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$dir/$table.parquet/part-00000.parquet"))
      .withType(schema).withConf(conf).build()
    val s = Sizes(sf)
    try (0L until sourceRows(table, s)).foreach { i =>
      rowsOf(table, seed, s, i).foreach { r =>
        val g = groups.newGroup()
        st.fields.indices.foreach { c =>
          val name = st.fields(c).name
          r.get(c) match {
            case v: java.lang.Long => g.append(name, v.longValue)
            case v: java.lang.Integer => g.append(name, v.intValue)
            case v: java.lang.Double => g.append(name, v.doubleValue)
            case v: String => g.append(name, v)
            case v: LocalDateTime =>
              val t = v.toInstant(java.time.ZoneOffset.UTC)
              g.append(name, t.getEpochSecond * 1000000L + t.getNano / 1000)
          }
        }
        w.write(g)
      }
    } finally w.close()
  }

  /** Write every table, `parts` at a time. */
  def writeAll(spark: SparkSession, dir: String, tables: Seq[String], seed: Long,
               sf: Double, parts: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parts)
    val task: String => Runnable = t => () => write(conf, dir, t, seed, sf)
    try tables.map(t => pool.submit(task(t))).foreach(_.get())
    finally pool.shutdown()
  }
}
