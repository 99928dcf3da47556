package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import graft.SparkEntry
import graft.pipeline.{Ctx, PbConf, PbEtl, Runner, Stage}
import org.apache.spark.SparkShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark harness JVM. run.py builds it and starts it once per
  * run; it writes `result.json` into the run directory.
  *
  * Arguments: workload seed seconds trace(0|1) runDir dataDir setupGenS
  *   launchMs plantMismatch(0|1) digestsFile [recordTo]. run.py has generated the
  * inputs into dataDir (with their expected values in expected.json);
  * setupGenS is its median generation time.
  */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      runDir: String, dataDir: String, genS: Double, launchMs: Long, plant: Boolean,
      digests: String, record: Option[String])

  /** One timed call into the engine: a pipeline stage or a query. */
  final case class OpResult(name: String, wallS: Double, ok: Boolean, span: Int)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1", argv(4),
      argv(5), argv(6).toDouble, argv(7).toLong, argv(8) == "1", argv(9),
      argv.lift(10))
    val indexRoot = sys.env.getOrElse("GRAFT_INDEX_ROOT",
      sys.error("GRAFT_INDEX_ROOT must name this run's own index root"))
    val ir = new File(indexRoot)
    require(!ir.exists() || ir.list().isEmpty, s"index root $indexRoot is not empty at start")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.memory.fraction", graft.SessionTuning.memoryFractionConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.runDir}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val expected = Expected.json(s"${a.dataDir}/expected.json")
    val w: Workload = a.workload match {
      case "pbetl_ref" => new PbEtlWorkload(a, expected)
      case "queries_heavy" => new QueryWorkload(a, expected, Workload.Heavy)
      case other => sys.error(s"unknown workload $other")
    }
    val collector = new Collector
    val trace = new Trace
    if (a.trace) Trace.register(spark, collector)

    // set-up: input generation (median of run.py's repetitions), then
    // JVM start and session up to the first timed call. No warm-up: a
    // batch run pays JIT and first-use costs in its first operation.
    val launchS = (System.currentTimeMillis() - a.launchMs) / 1e3
    val setupS = a.genS + launchS
    System.err.println(s"[perfbench] set-up: generation ${a.genS}s, launch to first call ${launchS}s")

    // timed section
    if (a.trace) { SparkShim.drain(spark.sparkContext); collector.reset() }
    val gc0 = Trace.gcMs
    val (cg0, cgMs0) = SparkShim.codegen
    val root = trace.begin("run", a.workload, -1)
    val t = System.nanoTime()
    val buf = mutable.ArrayBuffer.empty[UnitResult]
    while (buf.isEmpty || (!a.trace && (System.nanoTime() - t) / 1e9 < a.seconds))
      buf += w.timed(spark, trace, root, buf.size)
    val units = buf.toSeq
    val timedS = (System.nanoTime() - t) / 1e9
    trace.end(root)
    val gcS = (Trace.gcMs - gc0) / 1e3
    val (cg1, cgMs1) = SparkShim.codegen
    val indexStats = dirStats(ir)

    // untimed correctness check (also the warm re-run for query sets)
    val checks = w.check(spark, units.last)
    val rerunS = w.rerunS(units)

    val allOps = units.flatMap(u => u.ops ++ u.reruns)
    val failedOps = allOps.filterNot(_.ok).map(_.name) ++ checks.failed
    val attempted = allOps.size + checks.attempted
    val failed = failedOps.distinct.size
    val wallS = median(units.map(_.wallS))
    val opTimes = units.head.ops.map(_.wallS)

    val e2e = Seq(
      "wall_s" -> (wallS, "s"),
      "setup_s" -> (setupS, "s"),
      "rerun_s" -> (rerunS, "s"),
      "rows_per_s" -> (w.inputRows / wallS, "rows/s"))

    val layers: Seq[(String, (Double, String))] =
      if (!a.trace) Nil
      else {
        SparkShim.drain(spark.sparkContext)
        Trace.attachSpark(trace, collector)
        Seq("op.p50_s" -> (median(opTimes), "s"), "jvm.peak_rss_mb" -> (peakRssMb, "MB")) ++
          Layers.compute(w, trace, collector, units.head, timedS, Cores,
            gcS, cg1 - cg0, (cgMs1 - cgMs0) / 1e3, indexStats,
            failed.toDouble / math.max(1, attempted))
      }

    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576L).toString,
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "launch_s" -> Json.num(launchS),
      "units" -> units.size.toString,
      "failed_ops" -> failedOps.distinct.map(Json.str).mkString("[", ",", "]"),
      "ops" -> units.head.ops.map(o => Json.str(o.name) + ":" + Json.num(o.wallS))
        .mkString("{", ",", "}"))
    val metrics = (if (a.trace) layers else e2e).map { case (k, (v, u)) =>
      Json.str(k) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString("{", ",", "}")
    val allMetrics = (e2e ++ layers).map { case (k, (v, _)) => Json.str(k) + ":" + Json.num(v) }
      .mkString("{", ",", "}")
    val out = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$metrics,"all":$allMetrics,"host":${host.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(a.runDir, "result.json"), out)
    a.record.foreach(p => w.record(p, checks))
    if (a.trace) Files.writeString(Paths.get(a.runDir, "spans.json"), Json.spans(trace.all))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** (directories holding a `_SUCCESS` flag, MB of all files) under `root`. */
  def dirStats(root: File): (Int, Double) =
    if (!root.exists()) (0, 0.0)
    else {
      val files = Files.walk(root.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p))
      (files.count(_.getFileName.toString == "_SUCCESS"), files.map(Files.size).sum / 1e6)
    }

  /** High-water resident set of this JVM, from the kernel. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** What one timed unit of a workload produced. */
final case class UnitResult(wallS: Double, ops: Seq[Main.OpResult],
    reruns: Seq[Main.OpResult] = Nil, extra: Map[String, Double] = Map.empty)

final case class CheckResult(attempted: Int, failed: Seq[String],
    recorded: Map[String, (Long, String)] = Map.empty)

trait Workload {
  def inputRows: Double
  def timed(spark: SparkSession, t: Trace, root: Int, unit: Int): UnitResult
  def check(spark: SparkSession, last: UnitResult): CheckResult
  def record(path: String, c: CheckResult): Unit = ()
  /** The warm re-run of the workload's operations. */
  def rerunS(units: Seq[UnitResult]): Double = Main.median(units.flatMap(_.reruns.map(_.wallS)))
  /** Operation name → family it belongs to (for per-family totals). */
  def family(op: String): String = ""
}

object Workload {
  /** The six heavy queries: ROADMAP item 3's pair-generation set plus
    * the two heaviest Graph queries. */
  val Heavy: Seq[String] = Seq("q46_dedup_jaccard_prefix", "q192_sparse_cosine",
    "q257_bitext_margin", "q290_shingle_ablation", "q258_ktruss", "q303_hits_bipartite")

  def timeOp(t: Trace, parent: Int, name: String)(body: Int => Unit): Main.OpResult = {
    val sp = t.begin("op", name, parent)
    val t0 = System.nanoTime()
    val ok = try { body(sp); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    t.end(sp)
    System.err.println(f"[perfbench] op $name ok=$ok $dt%.3f s")
    Main.OpResult(name, dt, ok, sp)
  }
}

/** The paper's DAG: a cold build into a fresh work root, stage by stage
  * in topological order, then memoized re-runs of the whole DAG. */
final class PbEtlWorkload(a: Main.Args, expected: Map[String, Any]) extends Workload {
  private def num(path: String*): Double =
    path.foldLeft(expected: Any)((m, k) => m.asInstanceOf[Map[String, Any]](k)) match {
      case n: BigInt => n.toDouble
      case n: Double => n
    }
  /** The memoized re-run is sub-second: its median over 15 repetitions. */
  val Reruns = 15
  val order: Seq[Stage] = Seq(PbEtl.LoadData, PbEtl.LoadTest, PbEtl.NormDenominators,
    PbEtl.FitModel, PbEtl.Predict, PbEtl.BackTest, PbEtl.FinalResults)
  private val ctxs = mutable.ArrayBuffer.empty[Ctx]
  private val executed = mutable.ArrayBuffer.empty[String]
  private var rerunExecuted: Seq[String] = Nil

  def inputRows: Double = num("input_rows")

  def timed(spark: SparkSession, t: Trace, root: Int, unit: Int): UnitResult = {
    // PbConf.seed stays at its default: seeding the MLP's initial weights
    // moved FitModel's L-BFGS work by up to 60% between seeds (19-31 s)
    val ctx = Ctx(spark, PbConf(a.dataDir, s"${a.runDir}/work$unit"))
    ctxs += ctx
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val ops = order.map { s =>
      val op = Workload.timeOp(t, root, s"stage.${s.name}") { sp =>
        sc.setLocalProperty(Trace.OpKey, sp.toString)
        try executed ++= Runner.run(ctx, s) finally sc.setLocalProperty(Trace.OpKey, null)
      }
      if (a.trace) Layers.afterAction(spark, op.span)
      op
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val reruns = (1 to Reruns).map { _ =>
      var ran: Seq[String] = Nil
      val op = Workload.timeOp(t, root, "rerun") { sp =>
        sc.setLocalProperty(Trace.OpKey, sp.toString)
        try ran = Runner.run(ctx, PbEtl.FinalResults)
        finally sc.setLocalProperty(Trace.OpKey, null)
      }
      rerunExecuted = ran
      op
    }
    val memo = (1 to Reruns).map { _ =>
      val t1 = System.nanoTime()
      Runner.run(ctx, PbEtl.BackTest)
      (System.nanoTime() - t1) / 1e9
    }
    UnitResult(wall, ops, reruns,
      Map("memo_check_s" -> Main.median(memo),
        "stages_run" -> executed.size.toDouble / (unit + 1),
        "stages_skipped" -> (order.size - rerunExecuted.size).toDouble))
  }

  def check(spark: SparkSession, last: UnitResult): CheckResult = {
    val ctx = ctxs.last
    val failed = mutable.ArrayBuffer.empty[String]
    def expect(op: String, ok: => Boolean): Unit =
      if (!(try ok catch { case e: Throwable => System.err.println(e); false })) {
        System.err.println(s"[perfbench] check failed: $op")
        failed += op
      }
    def rows(s: String) = num("rows", s).toLong
    expect("stage.LoadData", PbEtl.LoadData.read(ctx).count() == rows("LoadData"))
    expect("stage.LoadTest", PbEtl.LoadTest.read(ctx).count() == rows("LoadTest"))
    expect("stage.NormDenominators", PbEtl.NormDenominators.maxMap(ctx) ==
      Seq("REN", "DOMAIN_LENGTH", "TRANSFERS", "RESTORES", "TRAFFIC_SCORE")
        .map(c => c -> num("denominators", c)).toMap)
    expect("stage.Predict", {
      val r = PbEtl.Predict.read(ctx).agg(count(lit(1)), min("Y_hat"), max("Y_hat")).head()
      r.getLong(0) == rows("Predict") && r.getDouble(1) >= 0.0 && r.getDouble(2) <= 1.0
    })
    expect("stage.BackTest", PbEtl.BackTest.read(ctx).count() == rows("BackTest"))
    expect("stage.FinalResults", PbEtl.FinalResults.last.exists { case (n, actual, forecast) =>
      // a planted mismatch shifts the expected rate
      val want = num("actual_rate") + (if (a.plant) 0.5 else 0.0)
      n == rows("BackTest") && actual == want &&
        math.abs(forecast - actual) <= PbEtlWorkload.RateTolerance
    })
    expect("rerun", rerunExecuted == Seq("FinalResults"))
    CheckResult(7, failed.distinct.toSeq)
  }
}

object PbEtlWorkload {
  /** Rate parity, the paper's success criterion: |forecast − actual|
    * deletion rate. */
  val RateTolerance = 0.15
}

/** A set of registry queries, each built by its `SparkEntry.queries`
  * function and run to completion through the `noop` sink, in a fixed
  * order: the first query in a JVM pays 5-15 s of one-off JIT and class
  * loading, so a seeded order made wall_s depend on which query went
  * first. */
final class QueryWorkload(a: Main.Args, expected: Map[String, Any], names: Seq[String])
    extends Workload {
  private val dir = a.dataDir
  private val order = names
  private lazy val families: Map[String, String] = Families.load()
  private val built = mutable.HashMap.empty[String, DataFrame]

  def inputRows: Double = expected("input_rows").asInstanceOf[BigInt].toDouble

  override def family(op: String): String = families.getOrElse(op, "")

  def timed(spark: SparkSession, t: Trace, root: Int, unit: Int): UnitResult = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val ops = order.map { q =>
      val fn = SparkEntry.queries(q)
      val op = Workload.timeOp(t, root, q) { sp =>
        sc.setLocalProperty(Trace.OpKey, sp.toString)
        try {
          val b = t.begin("build", q, sp)
          val df = try fn(spark, dir) finally t.end(b)
          if (unit == 0) built(q) = df
          val ac = t.begin("action", q, sp)
          try df.write.format("noop").mode("overwrite").save() finally t.end(ac)
        } finally sc.setLocalProperty(Trace.OpKey, null)
      }
      if (a.trace) Layers.afterAction(spark, op.span)
      spark.catalog.clearCache()
      op
    }
    UnitResult((System.nanoTime() - t0) / 1e9, ops)
  }

  private var checkS = 0.0
  /** Digests the DataFrames the first timed pass built; a query whose
    * plan cannot run twice is rebuilt once. */
  def check(spark: SparkSession, last: UnitResult): CheckResult = {
    val expected = Expected.load(a.digests)
    val t0 = System.nanoTime()
    def digest(q: String, df: => DataFrame) =
      try Some(Digest.of(df)) catch {
        case e: Throwable => System.err.println(s"[perfbench] check $q: $e"); None
      } finally spark.catalog.clearCache()
    val got = order.map { q =>
      q -> built.get(q).flatMap(df => digest(q, df))
        .orElse(digest(q, SparkEntry.queries(q)(spark, dir)))
    }
    checkS = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[perfbench] check pass ${checkS}s")
    val failed = got.flatMap { case (q, r) =>
      val ok = (r, expected.get(q)) match {
        case (Some((n, d)), Some(e)) =>
          val planted = if (a.plant && q == order.head) "planted" else d
          n == e.rows && (e.rowsOnly || planted == e.digest)
        case (Some(_), None) => a.record.nonEmpty
        case _ => false
      }
      if (!ok) System.err.println(s"[perfbench] check failed: $q got $r want ${expected.get(q)}")
      if (ok) None else Some(q)
    }
    CheckResult(got.size, failed, got.collect { case (q, Some(v)) => q -> v }.toMap)
  }

  /** The check pass re-executes every built query in the warm session. */
  override def rerunS(units: Seq[UnitResult]): Double = checkS

  override def record(path: String, c: CheckResult): Unit =
    Files.writeString(Paths.get(path), c.recorded.toSeq.sortBy(_._1).map { case (q, (n, d)) =>
      s"  ${Json.str(q)}: {\"rows\": $n, \"digest\": ${Json.str(d)}}"
    }.mkString("{\n", ",\n", "\n}\n"))
}
