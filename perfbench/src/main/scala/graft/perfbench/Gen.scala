package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator for the benchmark workloads.
  *
  * Same schemas and hash-derived distributions as
  * [[graft.testing.GenData]] (lineitem fanout, order dates, the
  * exponential event values, the 30-word document vocabulary with ~5%
  * near-dups and ~0.3% exact dups, label-offset unit embeddings), with
  * one change: the workload seed is mixed into EVERY salt, so each seed
  * draws a different data set of the same shape and size. All
  * randomness is `xxhash64(salt, seed, row id, ...)`, so one seed always
  * produces bit-identical parquet.
  *
  * The engine only ever sees the parquet files written here.
  */
object Gen {

  /** Row counts of every table a workload reads. */
  final case class Sizes(
      lineitem: Long = 0, orders: Long = 0, customers: Long = 0, users: Long = 0,
      events: Long = 0, documents: Long = 0, vectors: Long = 0, queries: Long = 0)

  private val Mask53 = (1L << 53) - 1
  private val Two53 = (1L << 53).toDouble

  private val Vocab = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Write every table the sizes ask for, the tables concurrently. */
  def write(spark: SparkSession, dir: String, seed: Long, sizes: Sizes): Unit = {
    val g = new Gen(seed)
    val tables: Seq[(String, () => DataFrame)] =
      (if (sizes.lineitem > 0) Seq(
        "orders" -> (() => g.orders(spark, sizes)),
        "lineitem" -> (() => g.lineitem(spark, sizes)),
        "events" -> (() => g.events(spark, sizes)))
      else Nil) ++
      (if (sizes.documents > 0) Seq("documents" -> (() => g.documents(spark, sizes.documents))) else Nil) ++
      // query vectors come from the same distribution on an id range
      // disjoint from the corpus, so no query is its own neighbour
      (if (sizes.vectors > 0) Seq(
        "vectors" -> (() => g.vectors(spark, 0L, sizes.vectors)),
        "queries" -> (() => g.vectors(spark, QueryIdBase, sizes.queries)))
      else Nil)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    try tables.map { case (name, df) =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = df().write.mode("overwrite").parquet(s"$dir/$name.parquet")
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  val QueryIdBase = 1000000000L

  private class Gen(seed: Long) {
    private val s = lit(seed)

    /** Uniform [0,1) from a salt, the seed and any driving columns. */
    def u(salt: Int, cols: Column*): Column =
      (xxhash64((lit(salt) +: s +: cols): _*).bitwiseAND(lit(Mask53))).cast("double") / lit(Two53)

    def h(salt: Int, cols: Column*): Column = xxhash64((lit(salt) +: s +: cols): _*)

    def gauss(saltA: Int, saltB: Int, cols: Column*): Column =
      sqrt(lit(-2.0) * log(lit(1.0) - u(saltA, cols: _*))) *
        cos(lit(2.0 * math.Pi) * u(saltB, cols: _*))

    def pick(values: Seq[String], salt: Int, cols: Column*): Column =
      element_at(array(values.map(lit): _*), pmod(h(salt, cols: _*), lit(values.size)).cast("int") + 1)

    private val id = col("id")

    def orderDate(okey: Column): Column =
      date_add(to_date(lit("1995-01-01")), (u(131, okey) * 2405).cast("int"))

    def orders(spark: SparkSession, z: Sizes): DataFrame =
      spark.range(z.orders).select(
        id.as("o_orderkey"),
        (u(132, id) * z.customers).cast("long").as("o_custkey"),
        pick(Seq("F", "O", "P"), 133, id).as("o_orderstatus"),
        round(lit(1000.0) + u(134, id) * 499000.0, 2).as("o_totalprice"),
        orderDate(id).cast("timestamp").as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 135, id)
          .as("o_orderpriority"))

    def lineitem(spark: SparkSession, z: Sizes): DataFrame = {
      val okey = (u(141, id) * z.orders).cast("long")
      val nPart = math.max(1L, z.lineitem / 30)
      val nSupplier = math.max(1L, z.lineitem / 600)
      spark.range(z.lineitem).select(
        okey.as("l_orderkey"),
        (u(142, id) * nPart).cast("long").as("l_partkey"),
        (u(143, id) * nSupplier).cast("long").as("l_suppkey"),
        ((u(144, id) * 7).cast("int") + 1).as("l_linenumber"),
        ((u(145, id) * 50).cast("int") + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u(146, id) * 104100.0, 2).as("l_extendedprice"),
        round(u(147, id) * 0.1, 2).as("l_discount"),
        round(u(148, id) * 0.08, 2).as("l_tax"),
        pick(Seq("A", "N", "R"), 149, id).as("l_returnflag"),
        pick(Seq("F", "O"), 150, id).as("l_linestatus"),
        date_add(orderDate(okey), (u(151, id) * 95).cast("int") + 1)
          .cast("timestamp").as("l_shipdate"))
    }

    def events(spark: SparkSession, z: Sizes): DataFrame = {
      val epochMicros = 1704067200000000L // 2024-01-01T00:00:00Z
      val slotMicros = 30.0 * 86400 * 1e6 / z.events
      spark.range(z.events).select(
        id.as("event_id"),
        timestamp_micros(
          (lit(epochMicros.toDouble) + (id.cast("double") + u(161, id)) * slotMicros)
            .cast("long")).as("ts"),
        (u(162, id) * z.users).cast("long").as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), 163, id).as("event_type"),
        round(lit(-50.0) * log(lit(1.0) - u(164, id)), 2).as("value"))
    }

    /** Documents of 10–100 words from the 30-word vocabulary; ~5% are a
      * near-dup of one of the previous 200 docs (its text plus " dup"),
      * ~0.3% an exact copy. Computed row by row in plain Scala, like
      * [[vectors]].
      */
    def documents(spark: SparkSession, n: Long): DataFrame = {
      import spark.implicits._
      val sd = seed
      spark.range(n).map { i =>
        val id = i.longValue
        val kindU = uL(sd, 171, id)
        val genId =
          if (id == 0 || kindU >= 0.053) id
          else id - 1 - (uL(sd, 172, id) * math.min(id, 200L).toDouble).toLong
        val nWords = java.lang.Math.floorMod(hl(sd, 173, genId), 91L).toInt + 10
        val base = (0 until nWords)
          .map(j => Vocab(java.lang.Math.floorMod(hl(sd, 174, genId, j), Vocab.size.toLong).toInt))
          .mkString(" ")
        val text = if (id != 0 && kindU >= 0.003 && kindU < 0.053) base + " dup" else base
        val langU = uL(sd, 175, id)
        val lang =
          if (langU < 0.41) "en" else if (langU < 0.5575) "fr" else if (langU < 0.705) "es"
          else if (langU < 0.8525) "de" else "zh"
        (id, text, lang, s"src${java.lang.Math.floorMod(hl(sd, 176, id), 20L)}", text.length)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    }

    /** 64-d unit vectors: GenData's N(0, 0.1315²) components plus a
      * small (σ = 0.02) per-label centroid offset, L2-normalised, stored
      * as float; ids start at `base`. Computed row by row in plain Scala
      * from the same kind of hash uniforms (the array-lambda form of
      * GenData costs tens of seconds per generation at this size).
      */
    def vectors(spark: SparkSession, base: Long, n: Long): DataFrame = {
      import spark.implicits._
      val sd = seed
      spark.range(n).map { i =>
        val vid = i + base
        val label = java.lang.Math.floorMod(hl(sd, 181, vid), 10L).toInt
        val raw = Array.tabulate(64) { d =>
          gaussL(sd, 182, 183, vid, d) * 0.1315 + gaussL(sd, 184, 185, label.toLong, d) * 0.02
        }
        val nrm = math.sqrt(raw.map(x => x * x).sum)
        (vid, raw.map(x => (x / nrm).toFloat), label)
      }.toDF("vec_id", "embedding", "label")
    }
  }

  /** xxhash64 of (salt, seed, key, d), as a long. */
  private def hl(seed: Long, salt: Int, key: Long, d: Int = -1): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashLong(key, XXH64.hashLong(seed, XXH64.hashInt(salt, 42L)))
    if (d < 0) h else XXH64.hashInt(d, h)
  }

  private def uL(seed: Long, salt: Int, key: Long, d: Int = -1): Double =
    (hl(seed, salt, key, d) & Mask53).toDouble / Two53

  private def gaussL(seed: Long, saltA: Int, saltB: Int, key: Long, d: Int): Double =
    math.sqrt(-2.0 * math.log(1.0 - uL(seed, saltA, key, d))) * math.cos(2.0 * math.Pi * uL(seed, saltB, key, d))
}
