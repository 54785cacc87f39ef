package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession

/** The benchmark driver: one workload, one seed, one process.
  *
  * Set-up (session start, three seeded input generations, one warm-up
  * round) is timed as `setup_s`; then whole rounds of the workload's
  * ops run back to back, one client, until `--seconds` have passed.
  * Every op is one public engine call, one fingerprint action and the
  * operator's cleanup, timed together. With `--trace 1` one more round
  * runs under the [[Tracer]] and the per-layer metrics come from it.
  *
  * The last stdout line is the JSON result; lines before it start
  * with `# `.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      benchDir: Path, buildDir: Path, record: Boolean)

  final case class Sample(op: Op, ms: Double, fp: Option[Fingerprint], error: Option[String])

  val DefaultSeed = 1L

  private def parse(argv: Array[String]): Either[String, Args] = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    for {
      w <- m.get("workload").toRight("--workload is required")
      _ <- Workloads(w).toRight(s"unknown workload '$w' (one of ${Workloads.names.mkString(", ")})")
      seed <- m.getOrElse("seed", DefaultSeed.toString).toLongOption.toRight("--seed must be an integer")
      secs <- m.getOrElse("seconds", "10").toIntOption.filter(_ > 0).toRight("--seconds must be a positive integer")
      trace <- m.getOrElse("trace", "0") match {
        case "0" => Right(false)
        case "1" => Right(true)
        case o   => Left(s"--trace must be 0 or 1, got '$o'")
      }
      bench <- m.get("bench-dir").toRight("--bench-dir is required")
      build <- m.get("build-dir").toRight("--build-dir is required")
    } yield Args(w, seed, secs, trace, Paths.get(bench), Paths.get(build), m.get("record").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv) match {
      case Right(a) => a
      case Left(msg) =>
        System.err.println(s"perfbench: $msg")
        sys.exit(2)
    }
    val code = try run(args) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run aborted: ${describe(e)}")
        e.printStackTrace()
        3
    }
    sys.exit(code)
  }

  private def info(s: String): Unit = println(s"# $s")

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median of `xs` (non-empty). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Spark error class, message and top frames of a failure. */
  def describe(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    val cls = chain.collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
      .getOrElse(e.getClass.getName)
    val frames = e.getStackTrace.take(5).mkString(" | ")
    s"error_class=$cls message=${String.valueOf(e.getMessage).take(300)} frames=$frames"
  }

  private def session(cores: Int, local: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", local.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(a: Args): Int = {
    val wl = Workloads(a.workload).get
    val cores = Runtime.getRuntime.availableProcessors()
    val runDir = a.buildDir.resolve("work").resolve(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir)
    try runIn(a, wl, cores, runDir)
    finally Workloads.deleteDir(runDir.toString)
  }

  private def runIn(a: Args, wl: Workload, cores: Int, runDir: Path): Int = {
    val tSession = System.nanoTime()
    val spark = session(cores, runDir)
    try {
      val sessionS = secondsSince(tSession)
      val data = runDir.resolve("data").toString
      val work = runDir.resolve("store").toString
      Files.createDirectories(Paths.get(work))

      // set-up, repeated: generate the seeded inputs and load them
      val genS = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Gen.write(spark, data, a.seed, wl.sizes)
        Files.list(Paths.get(data)).toArray.foreach(p => spark.read.parquet(p.toString).count())
        secondsSince(t0)
      }
      wl.prepare(spark, data, work)
      info(s"workload=${a.workload} seed=${a.seed} cores=$cores sizes=${wl.sizes}")

      val tracer = new Tracer(spark)
      // `drain` = false when ops run concurrently: Cleanup.drainAll() may
      // only run once every frame handed out so far has been consumed
      def runOp(op: Op, drain: Boolean = true): Sample = {
        op.before()
        val t0 = System.nanoTime()
        val res = try {
          tracer.span(op.layer, "op", op.name) {
            val p = tracer.span(op.layer, "call", op.name)(op.call())
            val fp = tracer.span(op.layer, "action", op.name)(Fingerprint.of(p.frame, p.extra))
            tracer.span("Cleanup", "cleanup", op.name) { p.cleanup(); if (drain) graft.Cleanup.drainAll() }
            Right(fp)
          }
        } catch {
          case e: Throwable =>
            if (drain) try graft.Cleanup.drainAll() catch { case _: Throwable => () }
            Left(describe(e))
        }
        val ms = (System.nanoTime() - t0) / 1e6
        Sample(op, ms, res.toOption, res.left.toOption)
      }
      def runRound(): Seq[Sample] = {
        val out = wl.round.map(runOp(_))
        System.gc()
        out
      }

      // warm-up: each stage's independent ops run concurrently, which
      // fills the JIT and codegen caches in less wall time than a serial
      // round; the fingerprints still join the cross-round check
      def warmUp(): Seq[Sample] = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
        try wl.warmUp.flatMap { stage =>
          val futs = stage.map(op => pool.submit(() => runOp(op, drain = false)))
          val res = futs.map(_.get())
          graft.Cleanup.drainAll()
          res
        } finally pool.shutdown()
      }
      val tWarm = System.nanoTime()
      val warm = warmUp()
      System.gc()
      val warmS = secondsSince(tWarm)
      val setupS = sessionS + median(genS) + warmS
      info(f"setup: session=$sessionS%.3fs generate=${genS.map(x => f"$x%.3f").mkString("/")}s warmup=$warmS%.3fs")

      // the measured window: whole rounds until the time is up
      val measured = ArrayBuffer.empty[Sample]
      val tLoop = System.nanoTime()
      var rounds = 0
      while (rounds == 0 || secondsSince(tLoop) < a.seconds) {
        measured ++= runRound()
        rounds += 1
      }
      val loopS = secondsSince(tLoop)

      // per-group medians make one "median round"
      val roundOps = wl.round
      val byGroup = measured.groupBy(_.op.group).map { case (g, ss) => g -> median(ss.map(_.ms).toSeq) }
      val medianRoundMs = roundOps.map(o => byGroup(o.group)).sum
      val roundRows = roundOps.map(_.rows).sum
      val rowsPerS = roundRows / (medianRoundMs / 1000.0)
      val latSamples = wl.latencyGroups
        .map(gs => measured.filter(s => gs.contains(s.op.group))).getOrElse(measured).map(_.ms).toSeq
      info(f"measured: rounds=$rounds window=$loopS%.3fs ops=${measured.size} median_round=${medianRoundMs / 1000}%.3fs rows_per_round=$roundRows")
      byGroup.toSeq.sortBy(_._1).foreach { case (g, m) =>
        val n = measured.count(_.op.group == g)
        info(f"  group $g%-20s n=$n%3d median=$m%9.2fms")
      }
      info(f"latency: n=${latSamples.size} p50=${median(latSamples)}%.2fms")

      // ---- traced round (per-layer metrics)
      val (traced, layerMetrics) =
        if (!a.trace) (Nil, Nil)
        else {
          val routes = wl.routes(spark)
          routes.foreach(r => info(s"route op=${r.op} decision=${r.decision} ${r.detail.map { case (k, v) => s"$k=$v" }.mkString(" ")}"))
          tracer.start()
          val tTrace = System.nanoTime()
          val traced = wl.round.map(runOp(_))
          val tracedMs = (System.nanoTime() - tTrace) / 1e6
          tracer.stop()
          val layer = tracer.layerMetrics() ++ wl.traceMetrics(fingerprints(traced))
          info(f"trace: traced_round=$tracedMs%.1fms untraced_median_round=$medianRoundMs%.1fms overhead=${tracedMs - medianRoundMs}%.1fms spans=${tracer.allSpans.size} jobs=${tracer.jobRecords.size} queries=${tracer.queryCount}")
          val pq = wl match {
            case ann: Ann =>
              val r = ann.pqProbe()
              r match {
                case Left(e)  => info(s"pq_probe op=IvfIndex.buildPq outcome=failed ${describe(e)}")
                case Right(t) => info(f"pq_probe op=IvfIndex.buildPq outcome=ok seconds=$t%.3f")
              }
              Some(r)
            case _ => None
          }
          writeTrace(a, tracer, routes, tracedMs, medianRoundMs, pq)
          (traced, Tracer.PerLayer.map { case (n, unit) => (n, layer.getOrElse(n, 0.0), unit) })
        }

      // ---- correctness: failures, fingerprint agreement, expected, recall
      val all = warm ++ measured ++ traced
      all.filter(_.error.nonEmpty).groupBy(_.op.name).foreach { case (n, ss) =>
        info(s"FAILED op=$n count=${ss.size} ${ss.head.error.get}")
      }
      val unstable = all.flatMap(s => s.fp.map(s.op.name -> _.key)).groupBy(_._1)
        .collect { case (n, xs) if xs.map(_._2).distinct.size > 1 => n -> xs.map(_._2).distinct }
      unstable.foreach { case (n, ks) => info(s"MISMATCH op=$n fingerprints differ across rounds: ${ks.mkString(", ")}") }
      val firstFp = fingerprints(all)
      val expectedOk = checkExpected(a, wl, firstFp)
      val recall = wl.recall(firstFp)
      val recallFloor = readExpected(a).get("recall_floor").flatMap(_.toDoubleOption)
      recall.foreach(r => info(f"recall_at_10=$r%.4f floor=${recallFloor.map(_.toString).getOrElse("none")}"))
      val recallOk = recall.forall(r => recallFloor.exists(r >= _))

      // a measured op fails if it threw or if its fingerprint disagrees
      val measuredFailed = measured.count(s => s.error.nonEmpty || unstable.contains(s.op.name))
      val correct = all.forall(_.error.isEmpty) && unstable.isEmpty && expectedOk && recallOk
      val metrics =
        if (a.trace) layerMetrics
        else Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", rowsPerS, "rows/s"),
          ("op_p50_ms", median(latSamples), "ms"))

      val metricJson = metrics.map { case (n, v, u) => s"\"$n\": {\"value\": ${num(v)}, \"unit\": \"$u\"}" }
        .mkString("{", ", ", "}")
      println(s"""{"correct": $correct, "attempted": ${measured.size}, "failed": $measuredFailed, "metrics": $metricJson}""")
      0
    } finally spark.stop()
  }

  /** op name -> fingerprint (the first sample of each op wins). */
  private def fingerprints(ss: Seq[Sample]): Map[String, Fingerprint] =
    ss.reverse.flatMap(s => s.fp.map(s.op.name -> _)).toMap

  private def expectedFile(a: Args): Path = a.benchDir.resolve("expected").resolve(s"${a.workload}.tsv")

  private def readExpected(a: Args): Map[String, String] =
    if (!Files.exists(expectedFile(a))) Map.empty
    else {
      val src = scala.io.Source.fromFile(expectedFile(a).toFile, "UTF-8")
      try src.getLines().map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
      finally src.close()
    }

  /** With `--record`, rewrite the expected file from this run; with the
    * default seed, compare every op's fingerprint with it.
    */
  private def checkExpected(a: Args, wl: Workload, fps: Map[String, Fingerprint]): Boolean = {
    if (a.record) {
      val lines = wl.round.map(o => s"fp.${o.name}\t${fps.get(o.name).map(_.key).getOrElse("missing")}") ++
        // a quality floor well under the recorded recall: other seeds vary
        wl.recall(fps).map(r => f"recall_floor\t${math.floor(r * 60) / 100}%.2f")
      Files.createDirectories(expectedFile(a).getParent)
      Files.write(expectedFile(a), (lines.mkString("\n") + "\n").getBytes(UTF_8))
      info(s"recorded expected fingerprints for seed ${a.seed} in ${expectedFile(a)}")
    }
    if (a.seed != DefaultSeed) true
    else {
      val expected = readExpected(a)
      val bad = wl.round.map(_.name).filter(n => expected.get(s"fp.$n") != fps.get(n).map(_.key))
      bad.foreach(n => info(s"EXPECTED op=$n want=${expected.getOrElse(s"fp.$n", "none")} got=${fps.get(n).map(_.key).getOrElse("none")}"))
      bad.isEmpty
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  private def writeTrace(a: Args, t: Tracer, routes: Seq[Route], tracedMs: Double, untracedMs: Double,
                         pq: Option[Either[Throwable, Double]]): Unit = {
    val out = a.buildDir.resolve("out")
    Files.createDirectories(out)
    def anyJson(v: Any): String = v match {
      case n: Int    => n.toString
      case n: Long   => n.toString
      case n: Double => num(n)
      case n: BigInt => n.toString
      case s         => str(String.valueOf(s))
    }
    val spans = t.allSpans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${str(s.layer)}, "kind": ${str(s.kind)}, "name": ${str(s.name)}, "start_ms": ${num(s.startMs)}, "end_ms": ${num(s.endMs)}}""")
    val jobs = t.jobRecords.map(j =>
      s"""{"job": ${j.jobId}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "span": ${j.span.getOrElse(-1)}, "execution": ${j.execId.getOrElse(-1L)}}""")
    val rs = routes.map(r =>
      (Seq(s""""op": ${str(r.op)}""", s""""decision": ${str(r.decision)}""") ++
        r.detail.map { case (k, v) => s"${str(k)}: ${anyJson(v)}" }).mkString("{", ", ", "}"))
    val pqJson = pq.map {
      case Left(e)  => s"""{"outcome": "failed", "detail": ${str(describe(e))}}"""
      case Right(s) => s"""{"outcome": "ok", "seconds": ${num(s)}}"""
    }.getOrElse("null")
    val json =
      s"""{"workload": ${str(a.workload)}, "seed": ${a.seed}, "traced_round_ms": ${num(tracedMs)}, "untraced_median_round_ms": ${num(untracedMs)}, "overhead_ms": ${num(tracedMs - untracedMs)},
         |"routes": ${rs.mkString("[", ", ", "]")},
         |"pq_probe": $pqJson,
         |"spans": ${spans.mkString("[\n", ",\n", "]")},
         |"jobs": ${jobs.mkString("[\n", ",\n", "]")}}
         |""".stripMargin
    val f = out.resolve(s"trace-${a.workload}-${a.seed}.json")
    Files.write(f, json.getBytes(UTF_8))
    info(s"trace written to $f")
  }
}
