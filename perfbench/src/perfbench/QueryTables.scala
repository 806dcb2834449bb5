package perfbench

import graft.gen.SyntheticCorpus.Rng
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded generator for the tables the query packs read: a TPC-H-like
  * star (region, nation, customer, supplier, part, orders, lineitem),
  * an `events` stream, a `documents` text table with near-duplicates and
  * unit-norm `embeddings`. Column names, types and value distributions
  * follow the shared sf test tables as measured with `TableCheck` (see
  * perfbench/README.md): uniform keys and categories, exponential event
  * values, one document in twenty an earlier one with " dup" appended,
  * and embeddings of uniformly random direction whose labels carry no
  * geometry. Every value is a pure function of (seed, row), so the same
  * seed writes the same tables.
  *
  * Each table is written as one parquet file, as the sf tables are, so
  * scan parallelism matches what the queries see there.
  */
object QueryTables {

  final case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int,
                         lineitem: Int, events: Int, users: Int, documents: Int,
                         embeddings: Int)

  /** Row counts of the sf0.01 tables. */
  val sf001 = Sizes(customer = 1500, supplier = 100, part = 2000, orders = 15000,
    lineitem = 60000, events = 10000, users = 150, documents = 500, embeddings = 500)

  /** Row counts of the sf0.001 tables, for the self-test. */
  val sf0001 = Sizes(customer = 150, supplier = 10, part = 200, orders = 1500,
    lineitem = 6000, events = 1000, users = 15, documents = 500, embeddings = 500)

  private val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = IndexedSeq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val langs = IndexedSeq("de", "en", "es", "fr", "zh")
  private val vocab: IndexedSeq[String] = ("data spark query table column filter join merge " +
    "sort window batch stream value key part row line order group scan hash agg vector fast " +
    "slow small big the a customer").split(' ').toIndexedSeq

  private val day = 86400000L
  private val epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val epoch2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val dim = 64
  private val labels = 10

  private def rng(seed: Long, table: Int, i: Long): Rng =
    new Rng(seed * 0x9e3779b97f4a7c15L ^ (table.toLong << 48) ^ i)

  private def money(r: Rng, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  /** Document text, 10–99 words; one row in twenty (after the first) is
    * an earlier row's text with " dup" appended. */
  private def docText(seed: Long, i: Long): String = {
    val r = rng(seed, 9, i)
    if (i > 0 && r.nextInt(20) == 0) docText(seed, r.nextInt(i.toInt).toLong) + " dup"
    else Seq.fill(10 + r.nextInt(90))(r.pick(vocab)).mkString(" ")
  }

  /** A unit vector of uniformly random direction (normalized Gaussian). */
  private def embedding(r: Rng): Array[Float] = {
    val v = Array.fill(dim) {
      val u = 1.0 - r.nextDouble() // (0, 1]
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  /** Write every table under `dir` as `<table>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, n: Sizes): Unit = {
    import spark.implicits._
    def rows(count: Int) = spark.range(0L, count.toLong, 1L, 1).as[Long]
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", regions.indices.map(i => (i, regions(i))).toDF("r_regionkey", "r_name"))
    save("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    save("customer", rows(n.customer).map { i =>
      val r = rng(seed, 1, i)
      (i, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99), r.pick(segments))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    save("supplier", rows(n.supplier).map { i =>
      val r = rng(seed, 2, i)
      (i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    save("part", rows(n.part).map { i =>
      val r = rng(seed, 3, i)
      (i, s"${r.pick(adjectives)} ${r.pick(nouns)}", s"Brand#${1 + r.nextInt(25)}",
        r.pick(partTypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    save("orders", rows(n.orders).map { i =>
      val r = rng(seed, 4, i)
      (i, r.nextInt(n.customer).toLong, r.pick(IndexedSeq("F", "O", "P")),
        money(r, 1000.0, 500000.0), new Timestamp(epoch1995 + r.nextInt(2405) * day),
        r.pick(priorities))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority"))
    save("lineitem", rows(n.lineitem).map { i =>
      val r = rng(seed, 5, i)
      (r.nextInt(n.orders).toLong, r.nextInt(n.part).toLong, r.nextInt(n.supplier).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, r.pick(IndexedSeq("A", "N", "R")),
        r.pick(IndexedSeq("F", "O")), new Timestamp(epoch1995 + (1 + r.nextInt(2499)) * day))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    val spanMs = 30 * day / math.max(1, n.events)
    save("events", rows(n.events).map { i =>
      val r = rng(seed, 6, i)
      (i, new Timestamp(epoch2024 + i * spanMs + r.nextInt(spanMs.toInt)),
        r.nextInt(n.users).toLong, r.pick(eventTypes),
        // exponential, mean 50
        math.max(0.01, math.round(-5000.0 * math.log(1.0 - r.nextDouble())) / 100.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    save("documents", rows(n.documents).map { i =>
      val r = rng(seed, 7, i)
      val text = docText(seed, i)
      val lang = if (r.nextDouble() < 0.3) "en" else r.pick(langs)
      (i, text, lang, s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"))
    save("embeddings", rows(n.embeddings).map { i =>
      val r = rng(seed, 8, i)
      (i, embedding(r), r.nextInt(labels))
    }.toDF("vec_id", "embedding", "label"))
  }
}
