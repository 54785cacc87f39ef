package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.{Dedup, IvfIndex, Similarity, TextAnalysis}
import graft.sources.Sink

/** What an op's call hands to its action: the frame to fingerprint, the
  * operator's release handle, and extra columns to total in the same
  * action (recall counts).
  */
final case class Prepared(frame: DataFrame, cleanup: () => Unit = () => (), extra: Seq[Column] = Nil)

/** One op of a workload round: `call` is ONE public engine call (eager
  * work included), after which the runner fingerprints the frame and
  * runs the cleanup. `group` pools samples of the same kind of op (all
  * search batches are one group); `rows` is the op's input size.
  * `before` runs outside the timed window (clearing an old store).
  */
final case class Op(
    name: String, group: String, layer: String, rows: Long,
    call: () => Prepared, before: () => Unit = () => ())

/** A route decision a size-adaptive operator takes on this input. */
final case class Route(op: String, decision: String, detail: Seq[(String, Any)])

trait Workload {
  def sizes: Gen.Sizes
  /** Read the generated tables; `work` is a scratch directory for stores. */
  def prepare(spark: SparkSession, data: String, work: String): Unit
  /** The ops of one round, in order; measured rounds run them one at a time. */
  def round: Seq[Op]
  /** The warm-up: every op of the round once, as stages of ops that do
    * not depend on each other, so set-up can run each stage concurrently.
    */
  def warmUp: Seq[Seq[Op]] = Seq(round)
  /** Groups whose samples make up the op latency percentiles. */
  def latencyGroups: Option[Set[String]] = None
  def routes(spark: SparkSession): Seq[Route] = Nil
  /** Recall@10 of the round's recall op, if it has one. */
  def recall(samples: Map[String, Fingerprint]): Option[Double] = None
  /** Workload-specific per-layer values after the traced round. */
  def traceMetrics(traced: Map[String, Fingerprint]): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Option[Workload] = name match {
    case "batch" => Some(new Batch)
    case "ann"   => Some(new Ann)
    case _       => None
  }
  val names = Seq("batch", "ann")

  private[perfbench] def deleteDir(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
}

/** Table and text batch work: the pd-utils panel ops, then the LLM
  * text pipeline, one op at a time.
  */
final class Batch extends Workload {
  private val panel = new Panel
  private val text = new TextPipeline
  val sizes = panel.sizes.copy(documents = text.sizes.documents)

  def prepare(spark: SparkSession, data: String, work: String): Unit = {
    panel.prepare(spark, data)
    text.prepare(spark, data, work)
  }

  def round: Seq[Op] = panel.round ++ text.round

  override def routes(spark: SparkSession): Seq[Route] = panel.routes(spark)
}

/** The pd-utils surface over a lineitem / orders / events panel. */
private final class Panel {
  private val nLine = 30000L
  val sizes = Gen.Sizes(
    lineitem = nLine, orders = nLine / 4, customers = nLine / 40, users = nLine / 400,
    events = nLine / 6)

  private var li: DataFrame = _
  private var orders: DataFrame = _
  private var events: DataFrame = _

  def prepare(spark: SparkSession, data: String): Unit = {
    li = spark.read.parquet(s"$data/lineitem.parquet")
    orders = spark.read.parquet(s"$data/orders.parquet")
    events = spark.read.parquet(s"$data/events.parquet")
  }

  private def liCols(cs: String*) = li.select(cs.map(col): _*)
  private def cutsIn = liCols("l_returnflag", "l_extendedprice")
  private def winsorIn = liCols("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")

  def round: Seq[Op] = {
    val L = sizes.lineitem
    val O = sizes.orders
    def op(n: String, layer: String, rows: Long)(f: => Prepared) =
      Op(n, n, s"operators.$layer", rows, () => f)
    val epochDays = datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
    Seq(
      op("groupbyMerge", "GroupOps", L)(Prepared(GroupOps.groupbyMerge(
        liCols("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_extendedprice"),
        Seq("l_returnflag", "l_linestatus"), "std", Seq("l_extendedprice")))),
      op("cumulate", "Cumulate", O)(Prepared(Cumulate.cumulate(
        orders.select(col("o_orderkey"), col("o_custkey"), (col("o_totalprice") / 1000000.0).as("ret")),
        Seq("ret"), "between", "o_orderkey", Seq("o_custkey"), time = Seq(1, 3), grossify = true))),
      op("cuts", "Percentiles", L) {
        val (c, release) = Percentiles.cutsWithCleanup(
          cutsIn, col("l_extendedprice"), Seq("l_returnflag"), Seq(0.1, 0.25, 0.5, 0.75, 0.9))
        Prepared(c, release)
      },
      op("winsorize", "Winsorize", L) {
        val (w, release) = Winsorize.winsorizeWithCleanup(
          winsorIn, (0.05, 0.05), Seq("l_extendedprice"), Seq("l_returnflag"))
        Prepared(w, release)
      },
      op("portfolio", "Portfolio", L) {
        val (p, release) = Portfolio.portfolioWithCleanup(
          winsorIn, "l_extendedprice", ngroups = 5, byvars = Seq("l_returnflag"))
        Prepared(p, release)
      },
      op("leftMergeLatest", "AsOf", O + sizes.events) {
        val l = orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate").cast("date").as("odate"))
        val r = events.groupBy(col("user_id").as("o_custkey"), col("ts").cast("date").as("edate"))
          .agg(max(col("value")).as("val"))
        Prepared(AsOf.leftMergeLatest(l, r, Seq("o_custkey"), "odate", "edate"))
      },
      op("intervalOverlap", "RangeJoin", O) {
        def windows(mod: Int, pfx: String) = orders.where(col("o_orderkey") % mod === 0)
          .select(col("o_custkey"), col("o_orderkey").as(s"${pfx}_orderkey"),
            epochDays.as(s"__${pfx}s__"), (epochDays + 10L).as(s"__${pfx}e__"))
        Prepared(RangeJoin.intervalOverlap(windows(13, "a"), windows(17, "b"),
          "__as__", "__ae__", "__bs__", "__be__", Seq("o_custkey"), bucketWidth = 7L))
      },
      op("regBy", "RegBy", L)(Prepared(RegBy.regBy(
        li, "l_extendedprice", Seq("l_quantity"), Seq("l_returnflag", "l_linestatus")))))
  }

  def routes(spark: SparkSession): Seq[Route] = {
    val threshold = spark.conf
      .get("graft.percentiles.distributedThresholdBytes", (16L << 20).toString).toLong
    Seq("cuts" -> cutsIn, "winsorize" -> winsorIn, "portfolio" -> winsorIn).map { case (op, in) =>
      val est = in.queryExecution.optimizedPlan.stats.sizeInBytes
      Route(op, if (Percentiles.distributedPath(in)) "distributed" else "builtin",
        Seq("size_estimate_bytes" -> est, "threshold_bytes" -> threshold,
          "conf" -> "graft.percentiles.distributedThresholdBytes"))
    }
  }
}

/** The LLM text pipeline: dedup, text features, partitioned write. */
private final class TextPipeline {
  val sizes = Gen.Sizes(documents = 2500L)

  private var docs: DataFrame = _
  private var sinkPath: String = _

  /** A small merge table over the vocabulary's common letter pairs. */
  private val merges = Seq("a" -> "t", "e" -> "r", "o" -> "r", "s" -> "t", "a" -> "l",
    "e" -> "a", "i" -> "n", "in" -> "g", "t" -> "h", "th" -> "e", "r" -> "o", "ro" -> "w")

  def prepare(spark: SparkSession, data: String, work: String): Unit = {
    docs = spark.read.parquet(s"$data/documents.parquet")
    sinkPath = s"$work/kept_corpus"
  }

  def round: Seq[Op] = {
    val D = sizes.documents
    def op(n: String, layer: String)(f: => Prepared) = Op(n, n, layer, D, () => f)
    val text = docs.select("doc_id", "text")
    Seq(
      op("exactGroups", "pipeline.Dedup")(Prepared(Dedup.exactGroups(docs, "doc_id", "text"))),
      op("nearDupGroups", "pipeline.Dedup") {
        val (g, release) = Dedup.nearDupGroupsWithCleanup(docs, "doc_id", "text", jaccardThreshold = 0.5)
        Prepared(g, release)
      },
      op("qualityFeatures", "pipeline.TextAnalysis")(Prepared(TextAnalysis.qualityFeatures(text, "text"))),
      op("langId", "pipeline.TextAnalysis")(Prepared(
        docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")))),
      op("bpeTokenCount", "pipeline.TextAnalysis")(Prepared(
        TextAnalysis.withBpeTokenCount(text, "text", merges).select("doc_id", "n_bpe"))),
      Op("writePartitioned", "writePartitioned", "sources.Sink", D, () => {
        // the kept corpus: one document per exact-duplicate group
        Sink.writePartitioned(Dedup.dedupExact(docs, "doc_id", "text"), sinkPath,
          partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
        Prepared(Sink.readPartitioned(docs.sparkSession, sinkPath))
      }, before = () => Workloads.deleteDir(sinkPath)))
  }
}

/** A vector store: flat and int8 IVF builds, a query batch on each
  * store and a recall check against brute force, then a delete from the
  * flat store and a second query batch on it.
  */
final class Ann extends Workload {
  private val nQueries = 2
  private val batch = 16
  val sizes = Gen.Sizes(vectors = 2500L, queries = (nQueries * batch).toLong)
  /** Every 25th corpus vector is deleted from the flat store. */
  private val deleteEvery = 25
  private val deleteRows = sizes.vectors / deleteEvery
  val nprobe = 4
  val nlist = 16
  val k = 10

  private var spark: SparkSession = _
  private var vectors: DataFrame = _
  private var batches: IndexedSeq[DataFrame] = _
  private var flat: String = _
  private var int8: String = _
  private var scratch: String = _
  private var work: String = _

  private def withEmb(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  def prepare(s: SparkSession, data: String, w: String): Unit = {
    spark = s
    work = w
    vectors = withEmb(s.read.parquet(s"$data/vectors.parquet"))
    val q = withEmb(s.read.parquet(s"$data/queries.parquet"))
    batches = (0 until nQueries).map { b =>
      val lo = Gen.QueryIdBase + b.toLong * batch
      q.where(col("vec_id") >= lo && col("vec_id") < lo + batch)
    }
    flat = s"$w/ivf_flat"
    int8 = s"$w/ivf_int8"
    scratch = s"$w/ivf_flat_warmup"
  }

  override def traceMetrics(traced: Map[String, Fingerprint]): Map[String, Double] =
    Map("pipeline.IvfIndex.maintain.store_amp" -> storeAmp()) ++
      recall(traced).map("pipeline.Similarity.recall_at_10" -> _)

  /** Bytes of the flat store per byte of the raw float32 input vectors. */
  private def storeAmp(): Double = {
    val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(flat)).toDouble
    bytes / ((sizes.vectors - deleteRows) * 64L * 4L)
  }

  private def build(n: String, path: String, int8Layout: Boolean) =
    Op(n, n, "pipeline.IvfIndex.build", sizes.vectors, () => {
      IvfIndex.build(vectors, "vec_id", "emb", path, nlist = nlist, int8 = int8Layout)
      Prepared(spark.read.parquet(path))
    }, before = () => Workloads.deleteDir(path))

  private def search(b: Int, store: String, layout: String) =
    Op(s"search_${layout}_q$b", "search", "pipeline.IvfIndex.searchTopK", batch, () =>
      Prepared(IvfIndex.searchTopK(spark, store, batches(b), "vec_id", "emb", k = k, nprobe = nprobe)))

  private def delete(store: String) =
    Op("deleteVectors", "deleteVectors", "pipeline.IvfIndex.maintain", deleteRows, () => {
      IvfIndex.deleteVectors(spark, store, vectors.where(col("vec_id") % deleteEvery === 0), "vec_id")
      Prepared(spark.read.parquet(store))
    })

  private def recallOp = Op("recall", "recall", "pipeline.Similarity", batch, () => {
    val truth = Similarity.bruteForceTopK(vectors, batches(0), "vec_id", "emb", k = k)
    val served = IvfIndex.searchTopK(spark, flat, batches(0), "vec_id", "emb", k = k, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val joined = truth.join(served, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("rank"), coalesce(col("hit"), lit(0)).as("hit"))
    Prepared(joined, extra = Seq(col("hit")))
  })

  // recall reads the flat store before the delete; the second batch
  // reads it with the deleted vectors gone
  def round: Seq[Op] = Seq(
    build("build_flat", flat, int8Layout = false), build("build_int8", int8, int8Layout = true),
    search(0, flat, "flat"), search(0, int8, "int8"), recallOp,
    delete(flat), search(1, flat, "flat"))

  /** The delete and the read after it warm up on a second flat store,
    * built beside the other two, so they need not wait for the reads of
    * the first. Same inputs, so the same fingerprints.
    */
  override def warmUp: Seq[Seq[Op]] = Seq(
    Seq(build("build_flat", flat, int8Layout = false), build("build_int8", int8, int8Layout = true),
      build("build_flat", scratch, int8Layout = false)),
    Seq(search(0, flat, "flat"), search(0, int8, "int8"), recallOp, delete(scratch)),
    Seq(search(1, scratch, "flat")))

  override def latencyGroups: Option[Set[String]] = Some(Set("search"))

  override def recall(samples: Map[String, Fingerprint]): Option[Double] =
    samples.get("recall").map(f => f.extra.head / math.max(1L, f.rows))

  override def routes(s: SparkSession): Seq[Route] = {
    // the IVF assignment route (Similarity.ivfAssignTwoLevel): flat only
    // when the centroid set AND the vector side are both small
    def route(op: String, rows: Long) = Route(op,
      if (nlist < Similarity.TwoLevelMinNlist && rows < Similarity.TwoLevelMinRows) "flat" else "two-level",
      Seq("rows" -> rows, "nlist" -> nlist, "two_level_min_rows" -> Similarity.TwoLevelMinRows,
        "two_level_min_nlist" -> Similarity.TwoLevelMinNlist))
    Seq(route("build_flat", sizes.vectors), route("build_int8", sizes.vectors))
  }

  /** One `IvfIndex.buildPq` attempt, outside the timed ops: its outcome
    * (time, or the Spark error class) goes into the traced run's record.
    */
  def pqProbe(): Either[Throwable, Double] = {
    val path = s"$work/ivf_pq"
    val t0 = System.nanoTime()
    try {
      IvfIndex.buildPq(vectors, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = nlist)
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
    finally Workloads.deleteDir(path)
  }
}
