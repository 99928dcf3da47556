package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def spans(ss: Seq[Span]): String = ss.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"kind":${str(s.kind)},"name":${str(s.name)},""" +
      s""""start_ms":${num(s.start)},"end_ms":${num(s.end)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Order-insensitive content digest of a query result: the row count
  * and the sum of one 64-bit hash per row, columns taken in name order
  * (renamed first, so duplicate output names stay addressable). */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = if (order.isEmpty) lit(0L) else xxhash64(order.toSeq.map(i => col(s"c$i")): _*)
    val r = d.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}

/** Expected (rows, digest) per query, recorded from the engine at the
  * commit that introduced the benchmark (see perfbench/README.md). A
  * query listed under "rows_only" is checked by row count alone. */
final case class Expected(rows: Long, digest: String, rowsOnly: Boolean)

object Expected {
  /** A small JSON document (the generator's expected.json) as nested
    * Scala maps, lists, BigInt/Double and String. */
  def json(path: String): Map[String, Any] = {
    import org.json4s._
    def plain(v: JValue): Any = v match {
      case JObject(fs) => fs.map { case (k, x) => k -> plain(x) }.toMap
      case JArray(xs) => xs.map(plain)
      case JInt(n) => n
      case JLong(n) => BigInt(n)
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JString(s) => s
      case JBool(b) => b
      case _ => null
    }
    plain(org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path))))
      .asInstanceOf[Map[String, Any]]
  }

  /** The expected digests of a query set; {} when none are recorded. */
  def load(path: String): Map[String, Expected] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val doc = json(path)
      val rowsOnly = doc.getOrElse("rows_only", Nil).asInstanceOf[List[String]].toSet
      doc.collect { case (q, e: Map[String, Any] @unchecked) =>
        q -> Expected(e("rows").asInstanceOf[BigInt].toLong, e("digest").toString, rowsOnly(q))
      }
    }
}

/** Query name → the engine object that implements it, read from the
  * registry's source: `"qNN_x" -> (Object.method _)`. Objects under
  * `graft.operators` form one family, "operators". */
object Families {
  val Names: Seq[String] = Seq("Queries", "Dedup", "Similarity", "TextAnalysis",
    "Curation", "Graph", "Multimodal", "operators", "Bpe")
  private val Reg =
    "\"(q[0-9a-z_]+)\"\\s*->\\s*\\((?:\\([^)]*\\)\\s*=>\\s*)?([A-Za-z][A-Za-z0-9_.]*)\\.[a-zA-Z0-9_]+".r

  def load(): Map[String, String] = {
    val p = Paths.get("src/main/scala/graft/SparkEntry.scala")
    if (!Files.exists(p)) Map.empty
    else Reg.findAllMatchIn(Files.readString(p)).map { m =>
      val obj = m.group(2)
      m.group(1) -> (if (obj.startsWith("operators.")) "operators" else obj.split('.').last)
    }.toMap
  }
}

/** The per-layer metrics of a traced run. */
object Layers {
  private val leftAfter = mutable.LinkedHashMap.empty[Int, Int]

  /** After an operation's terminal action: wait for its events, then
    * count the persistent RDDs it left registered. */
  def afterAction(spark: SparkSession, opSpan: Int): Unit = {
    SparkShim.drain(spark.sparkContext)
    leftAfter(opSpan) = spark.sparkContext.getPersistentRDDs.size
  }

  val PbStages: Seq[String] = Seq("LoadData", "LoadTest", "NormDenominators",
    "FitModel", "Predict", "BackTest", "FinalResults")
  val HeavyShort: Seq[String] = Workload.Heavy.map(_.takeWhile(_ != '_'))

  def compute(w: Workload, t: Trace, c: Collector, u: UnitResult, wallS: Double,
      cores: Int, gcS: Double, cgClasses: Long, cgS: Double, index: (Int, Double),
      failedFrac: Double): Seq[(String, (Double, String))] = {
    val spans = t.all
    val self = Trace.selfTimes(spans)
    val sub = Trace.subtreeSelf(spans, self)
    val opSpans = spans.filter(_.kind == "op")
    val opIds = opSpans.map(_.id.toString).toSet
    val tasks = c.tasks.asScala.toSeq.filter(x => opIds(x.op))
    val jobs = c.jobs.asScala.toSeq.filter(x => opIds(x.op))
    val stageSubmit = c.stages.asScala.toSeq.groupBy(_.id).map { case (k, v) => k -> v.map(_.submit).min }
    def selfOf(kind: String) = spans.filter(_.kind == kind).map(s => self.getOrElse(s.id, 0.0)).sum / 1e3
    def planOf(phase: String) =
      spans.filter(s => s.kind == "plan" && s.name == phase).map(_.dur).sum / 1e3
    def busy(ts: Seq[TaskEv]): Double = {
      var total = 0L; var curS = -1L; var curE = -1L
      ts.map(x => (x.launch, x.finish)).sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total / 1e3
    }
    val taskS = tasks.map(_.runMs).sum / 1e3
    val busyS = busy(tasks)
    val mb = 1e6

    // per-op: tasks of one op, by span id
    val tasksByOp = tasks.groupBy(_.op)
    def opTasks(s: Span) = tasksByOp.getOrElse(s.id.toString, Nil)
    val stageOps = u.ops.map(o => o.name -> o).toMap
    val perStage = PbStages.flatMap { st =>
      val op = stageOps.get(s"stage.$st")
      val sp = op.flatMap(o => opSpans.find(_.id == o.span))
      val ts = sp.map(opTasks).getOrElse(Nil)
      val wall = op.map(_.wallS).getOrElse(0.0)
      Seq(s"stage.${st}_s" -> (wall, "s"),
        s"stage.$st.jobs" -> (sp.map(s => jobs.count(_.op == s.id.toString)).getOrElse(0).toDouble, "count"),
        s"stage.$st.slot_util" -> (if (wall > 0) ts.map(_.runMs).sum / 1e3 / (wall * cores) else 0.0, "ratio"),
        s"stage.$st.write_mb" -> (ts.map(_.writeBytes).sum / mb, "MB"))
    }
    val firstOps = u.ops
    val fam = Families.Names.map { f =>
      s"family.${f}_s" -> (firstOps.filter(o => w.family(o.name) == f).map(_.wallS).sum, "s")
    }
    val heavy = HeavyShort.map { q =>
      s"op.${q}_s" -> (firstOps.find(_.name.takeWhile(_ != '_') == q).map(_.wallS).getOrElse(0.0), "s")
    }
    val cover = opSpans.map(s => math.abs(sub(s.id) - s.dur) / math.max(s.dur, 1e-9))
    Seq(
      "pipeline.stages_run" -> (u.extra.getOrElse("stages_run", 0.0), "count"),
      "pipeline.stages_skipped" -> (u.extra.getOrElse("stages_skipped", 0.0), "count"),
      "pipeline.memo_check_s" -> (u.extra.getOrElse("memo_check_s", 0.0), "s")) ++
      perStage ++ fam ++ heavy ++ Seq(
      "op.build_s" -> (selfOf("build"), "s"),
      "op.action_s" -> (selfOf("action"), "s"),
      "plan.analysis_s" -> (planOf("analysis"), "s"),
      "plan.optimization_s" -> (planOf("optimization"), "s"),
      "plan.planning_s" -> (planOf("planning"), "s"),
      "codegen.compile_s" -> (cgS, "s"),
      "codegen.classes" -> (cgClasses.toDouble, "count"),
      "exec.jobs" -> (jobs.size.toDouble, "count"),
      "exec.tasks" -> (tasks.size.toDouble, "count"),
      "exec.failed" -> (tasks.count(_.failed).toDouble, "count"),
      "exec.busy_s" -> (busyS, "s"),
      "exec.idle_s" -> (math.max(0.0, wallS - busyS), "s"),
      "exec.task_s" -> (taskS, "s"),
      "exec.cpu_s" -> (tasks.map(_.cpuNs).sum / 1e9, "s"),
      "exec.slot_util" -> (taskS / (wallS * cores), "ratio"),
      "exec.launch_wait_s" -> (tasks.map(x => x.launch - stageSubmit.getOrElse(x.stage, x.launch))
        .filter(_ > 0).sum / 1e3, "s"),
      "exec.job_self_s" -> (selfOf("job"), "s"),
      "exec.stage_self_s" -> (selfOf("stage"), "s"),
      "shuffle.write_mb" -> (tasks.map(_.shufWrite).sum / mb, "MB"),
      "shuffle.read_mb" -> (tasks.map(_.shufRead).sum / mb, "MB"),
      "shuffle.fetch_wait_s" -> (tasks.map(_.fetchWaitMs).sum / 1e3, "s"),
      "mem.spill_mb" -> (tasks.map(_.spill).sum / mb, "MB"),
      "jvm.gc_s" -> (gcS, "s"),
      "io.read_mb" -> (tasks.map(_.readBytes).sum / mb, "MB"),
      "io.write_mb" -> (tasks.map(_.writeBytes).sum / mb, "MB"),
      "cache.left_after_action" -> (leftAfter.values.sum.toDouble, "count"),
      "cache.peak_mb" -> (c.cachedPeak / mb, "MB"),
      "index.dirs_built" -> (index._1.toDouble, "count"),
      "index.write_mb" -> (index._2, "MB"),
      "trace.wall_s" -> (u.wallS, "s"),
      "trace.op_self_s" -> (selfOf("op"), "s"),
      "trace.self_cover_err" -> (if (cover.isEmpty) 0.0 else cover.max, "ratio"),
      "check.failed_frac" -> (failedFrac, "ratio"))
  }
}
