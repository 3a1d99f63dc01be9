package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.{Bench, HostLoad, SparkEntry, Verify}
import graft.matrix.{BlockLU, BlockModel, Inversion, LocalLA, MatrixGen, MatrixQueries}
import graft.operators.{Corpus, Dedup, Multimodal, Relational, Similarity, TextAnalysis}
import graft.streaming.Streaming

/** The benchmark's measuring process: one `local[nproc]` session, one
  * workload, one JSON line (`PERFBENCH {...}`) for `run.py`.
  *
  *   inverse  Graft.inverse, n=2048, blk=512, uniform(0,1)
  *   queries  a fixed set of SparkEntry.queries over the bundled sf0.01
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics; traced it
  * attaches [[Tracer]] and reports per-layer counters instead. */
object Main {
  val InvN = 2048; val InvBlk = 512
  val SolveM = 512 // right-hand sides of the traced TRSM span
  val SetupReps = 3
  val MinOps = 3
  val MinPasses = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, querySet: String)

  /** Metrics in output order: name -> (value, unit). */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def miss(what: String): Unit = { failed += 1; failures += what }
  }

  /** Quantile `p` (linear interpolation) of the values that are not NaN
    * (failed ops); NaN, so no result, when every op failed. */
  def stat(xs: Seq[Double], p: Double): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      s(lo) + (s(math.ceil(pos).toInt) - s(lo)) * (pos - lo)
    }
  }

  def secs[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = body; ((System.nanoTime() - t0) / 1e9, r)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv.getOrElse("query-set", ""))
    val cpus = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (o.trace)
      builder.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamCounter].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    val r = new Report
    o.workload match {
      case "inverse" => new InverseRun(spark, o, tracer, r, sessionS).run()
      case "queries" => new QueryRun(spark, o, tracer, r, sessionS).run()
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }
    // set-up time is an end-to-end metric; the traced run's is not reported
    if (o.trace) r.metrics.remove("setup_s") else r.put("peak_rss_mb", peakRssMb(), "MB")
    spark.stop()
    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "failures" -> r.failures.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(r.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  /** Layer metrics every traced run prints, zero for layers the
    * workload does not reach. */
  val MatrixLayers = Seq("BlockLU.factor", "Inversion.invLower", "Inversion.invUpper",
    "BlockModel.multiply", "Inversion.solveFactored")
  val GenLayer = "MatrixGen.blocks"
  val OpSpan = "op"
  val Modules: Seq[(String, Set[String])] = Seq(
    "operators.Relational" -> Relational.queries.keySet,
    "operators.Dedup" -> Dedup.queries.keySet,
    "operators.Similarity" -> Similarity.queries.keySet,
    "operators.TextAnalysis" -> TextAnalysis.queries.keySet,
    "operators.Multimodal" -> Multimodal.queries.keySet,
    "operators.Corpus" -> Corpus.queries.keySet,
    "streaming.Streaming" -> Streaming.queries.keySet,
    "matrix.MatrixQueries" -> MatrixQueries.queries.keySet)

  /** Matrix layers report per call (sums divided by the calls); module
    * layers report one pass. The generator reports only what set-up time
    * depends on. */
  def putLayer(r: Report, name: String, l: Option[Layer], perCall: Boolean,
               full: Boolean = true): Unit = {
    val d = l.filter(_ => perCall).map(_.calls.max(1).toDouble).getOrElse(1.0)
    def v(f: Layer => Double): Double = l.map(f).getOrElse(0.0) / d
    r.put(s"$name.wall_s", v(_.wallS), "s")
    if (full) {
      r.put(s"$name.driver_s", v(_.driverS), "s")
      r.put(s"$name.task_s", v(_.taskS), "s")
    }
    r.put(s"$name.jobs", v(_.jobs.toDouble), "count")
    r.put(s"$name.tasks", v(_.tasks.toDouble), "count")
    if (full) {
      r.put(s"$name.shuffle_bytes", v(_.shuffleBytes.toDouble), "bytes")
      r.put(s"$name.spill_bytes", v(_.spillBytes.toDouble), "bytes")
      r.put(s"$name.failed_tasks", v(_.failedTasks.toDouble), "count")
    }
  }

  /** Per-layer metrics shared by every traced run, in one fixed order. */
  def putAllLayers(r: Report, t: Tracer, flops: Map[String, Double], aBytes: Double,
                   host: Option[HostLoad.Delta], overheadS: Double,
                   local: Map[String, Double], opGflops: Double): Unit = {
    putLayer(r, GenLayer, t.layers.get(GenLayer), perCall = true, full = false)
    MatrixLayers.foreach { name =>
      val l = t.layers.get(name)
      putLayer(r, name, l, perCall = true)
      val wall = l.map(x => x.wallS / x.calls.max(1)).getOrElse(0.0)
      val f = flops.getOrElse(name, 0.0)
      r.put(s"$name.gflops", if (wall > 0 && f > 0) f / wall / 1e9 else 0.0, "GFLOP/s")
      r.put(s"$name.shuffle_per_a_byte",
        if (aBytes > 0) l.map(x => x.shuffleBytes.toDouble / x.calls.max(1)).getOrElse(0.0) / aBytes
        else 0.0, "ratio")
    }
    Modules.foreach { case (name, _) =>
      putLayer(r, name, t.layers.get(name), perCall = false)
      if (name == "streaming.Streaming")
        r.put(s"$name.microbatches", t.layers.get(name).map(_.microbatches.size.toDouble).getOrElse(0.0), "count")
    }
    Seq("ludcmp", "trtri", "gemm").foreach { k =>
      r.put(s"LocalLA.$k.wall_s", local.getOrElse(k, 0.0), "s")
    }
    // one op: a traced inverse call, or one query of the pass
    val ops = t.layers.filter { case (k, _) => k == OpSpan || Modules.exists(_._1 == k) }.values
    val nOps = ops.map(_.calls).sum.max(1).toDouble
    r.put("op.jobs", ops.map(_.jobs).sum / nOps, "count")
    r.put("op.tasks", ops.map(_.tasks).sum / nOps, "count")
    r.put("op.shuffle_bytes", ops.map(_.shuffleBytes).sum / nOps, "bytes")
    r.put("op.gflops", opGflops, "GFLOP/s")
    r.put("host.other_busy_frac", host.map(_.otherBusyFrac).getOrElse(0.0), "fraction")
    r.put("host.steal_frac", host.map(_.stealFrac).getOrElse(0.0), "fraction")
    r.put("trace.overhead_s", overheadS, "s")
  }
}

/** `inverse`: one op is one `Graft.inverse` call, materialized; its
  * residual is checked after the clock stops. */
final class InverseRun(spark: SparkSession, o: Main.Opts, tracer: Option[Tracer],
                       r: Main.Report, sessionS: Double) {
  import Main._
  private val sc: SparkContext = spark.sparkContext
  private val (n, blk, m) = (InvN, InvBlk, SolveM)
  private val q = n / blk
  private val tol = 1e-8 * n
  private val n3 = n.toDouble * n * n
  private val layerFlops = Map("BlockLU.factor" -> 2 * n3 / 3, "Inversion.invLower" -> n3 / 3,
    "Inversion.invUpper" -> n3 / 3, "BlockModel.multiply" -> 2 * n3 / 3,
    "Inversion.solveFactored" -> 2.0 * n * n * m)

  private var a: BlockModel.Blocks = _

  /** Input generation + caching: A from the seed. */
  private def prepare(): Unit = tracer.fold(gen())(_.span(GenLayer)(gen()))
  private def gen(): Unit = {
    if (a != null) a.unpersist(blocking = true)
    a = MatrixGen.blocks(sc, n, blk, o.seed).persist(StorageLevel.MEMORY_ONLY)
    a.count()
  }

  /** Drops everything an op left cached except A, and collects the
    * garbage, so that every op starts from the same heap. */
  private def release(): Unit = {
    sc.getPersistentRDDs.values.filter(_.id != a.id).foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** One timed op, then its check (untimed). */
  private def op(traced: Boolean = false): Double = {
    r.attempted += 1
    try {
      def body = { val x = graft.Graft.inverse(sc, a, n, blk).persist(StorageLevel.MEMORY_ONLY); x.count(); x }
      val (dt, x) = secs(if (traced) tracer.get.span(OpSpan)(body) else body)
      val resid = BlockModel.maxAbsMinusIdentity(BlockModel.multiply(a, x, blk, n, n, n), blk)
      if (!(resid < tol)) r.miss(f"residual $resid%.3e >= $tol%.1e")
      System.err.println(f"[perfbench] op ${dt}%.3f s residual $resid%.3e")
      dt
    } catch { case e: Exception => r.miss(e.toString); Double.NaN }
    finally release()
  }

  def run(): Unit = {
    tracer.foreach(_.attach())
    val prep = (1 to SetupReps).map(_ => secs(prepare())._1)
    tracer.foreach(_.detach())
    // the cold-JIT first op: checked, but not a sample
    val warm = op()
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, inputs ${stat(prep, 0.5)}%.2f s, warm-up $warm%.2f s")
    r.put("setup_s", sessionS + stat(prep, 0.5) + warm, "s")
    val h0 = HostLoad.sample()
    val samples = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (samples.size < MinOps || (System.nanoTime() - t0) / 1e9 < o.seconds)
      samples += op()
    val host = HostLoad.delta(h0, HostLoad.sample())
    System.err.println(s"[perfbench] host ${HostLoad.json(host)}")
    val p50 = stat(samples.toSeq, 0.5)
    System.err.println(s"[perfbench] samples: ${samples.size} ops")
    tracer match {
      case None =>
        r.put("op_s_p50", p50, "s")
        r.put("op_s_p90", stat(samples.toSeq, 0.9), "s")
        // a pass of this workload is one op
        r.put("total_s", p50, "s")
      case Some(t) =>
        t.attach()
        val traced = (1 to 2).map(_ => op(traced = true))
        decompose(t)
        t.detach()
        putAllLayers(r, t, layerFlops, 8.0 * n * n, host, stat(traced, 0.5) - p50,
          localBaseline(), 2 * n3 / p50 / 1e9)
    }
  }

  /** The op split into its public calls, each materialized in its own
    * span, plus the wavefront TRSM against the same factors with an
    * n×m right-hand side B (seed + 1). */
  private def decompose(t: Tracer): Unit = {
    def done(x: BlockModel.Blocks): BlockModel.Blocks = { x.persist(StorageLevel.MEMORY_ONLY); x.count(); x }
    val lu = t.span("BlockLU.factor")(BlockLU.factor(sc, a, n, blk))
    val li = t.span("Inversion.invLower")(done(Inversion.invLower(lu.l, q, blk)))
    val ui = t.span("Inversion.invUpper")(done(Inversion.invUpper(lu.u, q, blk)))
    t.span("BlockModel.multiply")(done(BlockModel.multiply(ui, li, blk, n, n, n)))
    val cols = m / blk
    val b = done(MatrixGen.blocks(sc, n, blk, o.seed + 1).filter { case ((_, j), _) => j < cols })
    val x = t.span("Inversion.solveFactored")(done(Inversion.solveFactored(sc, lu, b, m)))
    val resid = BlockModel.maxAbsDiff(BlockModel.multiply(a, x, blk, n, n, m), b)
    r.attempted += 1
    if (!(resid < tol)) r.miss(f"solveFactored residual $resid%.3e >= $tol%.1e")
    release()
  }

  /** Single-thread LocalLA kernels on the same A. */
  private def localBaseline(): Map[String, Double] = {
    val la = BlockModel.toLocal(a, n, n, blk)
    val (tLu, _) = secs(LocalLA.ludcmp(la))
    val (l, u) = LocalLA.splitLU(la)
    val (tTri, (li, ui)) = secs((LocalLA.invUnitLower(l), LocalLA.invUpper(u)))
    val (tGemm, _) = secs(LocalLA.gemm(ui, li))
    Map("ludcmp" -> tLu, "trtri" -> tTri, "gemm" -> tGemm)
  }
}

/** `queries`: the fixed query set, once per pass in Bench's
  * family-interleaved order, each result through `Bench.materialize`. */
final class QueryRun(spark: SparkSession, o: Main.Opts, tracer: Option[Tracer],
                     r: Main.Report, sessionS: Double) {
  import Main._
  private val data = s"${o.data}/sf0.01"
  private val all = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql

  private val names: Seq[String] = {
    val wanted = scala.io.Source.fromFile(o.querySet).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    val unknown = wanted.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // Bench's order: round-robin across families
    val byFamily = wanted.sorted.groupBy(_.takeWhile(_.isLetter)).toSeq.sortBy(_._1).map(_._2)
    (0 until byFamily.map(_.size).max).flatMap(i => byFamily.flatMap(_.lift(i)))
  }
  private def module(q: String): String = Modules.find(_._2.contains(q)).map(_._1).get

  /** Untimed first run of every query: it pays each query's cold start
    * (JIT, codegen, first-of-kind streaming state stores) and checks the
    * result: the invariant gate, and a parquet copy for the DuckDB
    * oracle. */
  private def checkPass(): Unit = {
    val out = s"${o.work}/oracle"
    names.foreach { q =>
      r.attempted += 1
      val t0 = System.nanoTime()
      try {
        val df = Verify.gateInvariants(all(q)(spark, data))
        if (oracle.contains(q)) df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        else Bench.materialize(df)
      } catch { case e: Exception => r.miss(s"$q: $e") }
      System.err.println(f"[perfbench] check $q%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.catalog.clearCache()
    }
    val sqls = names.filter(oracle.contains).map(q => Json.str(q) + ":" + Json.str(oracle(q)))
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), sqls.mkString("{", ",", "}"))
  }

  /** One timed pass: name -> seconds (NaN when the query threw). */
  private def pass(spanned: Boolean): Seq[(String, Double)] = names.map { q =>
    r.attempted += 1
    val dt = try {
      val body = () => secs(Bench.materialize(all(q)(spark, data)))._1
      if (spanned) tracer.get.span(module(q))(body()) else body()
    } catch { case e: Exception => r.miss(s"$q: $e"); Double.NaN }
    spark.catalog.clearCache()
    System.gc()
    q -> dt
  }

  def run(): Unit = {
    val (tCheck, _) = secs(checkPass())
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, check pass $tCheck%.2f s")
    r.put("setup_s", sessionS + tCheck, "s")
    val h0 = HostLoad.sample()
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds)
      passes += pass(spanned = false)
    val host = HostLoad.delta(h0, HostLoad.sample())
    System.err.println(s"[perfbench] host ${HostLoad.json(host)}")
    passes.last.foreach { case (q, t) => System.err.println(f"[perfbench] $q%-32s $t%.3f") }
    val times = passes.flatten.map(_._2).toSeq
    val p50 = stat(times, 0.5)
    System.err.println(s"[perfbench] samples: ${times.size} queries in ${passes.size} passes")
    tracer match {
      case None =>
        r.put("op_s_p50", p50, "s")
        r.put("op_s_p90", stat(times, 0.9), "s")
        r.put("total_s", stat(passes.map(_.map(_._2).filterNot(_.isNaN).sum).toSeq, 0.5), "s")
      case Some(t) =>
        t.attach()
        val traced = pass(spanned = true)
        t.detach()
        putAllLayers(r, t, Map.empty, 0.0, host, stat(traced.map(_._2), 0.5) - p50, Map.empty, 0.0)
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
