package graft

import graft.pipeline._
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline test on the reference's own 3-row fixtures
  * (ported verbatim from /root/reference/test_pset.py:26-119 per
  * FIXTURES.md §A), asserting VALUES at each stage — stronger than the
  * reference's existence-only checks (SURVEY.md §5).
  */
class PbEtlPipelineSpec extends SparkSpec {

  private def writeCsv(dir: java.nio.file.Path, sub: String, header: String,
      rows: Seq[String]): Unit = {
    val d = dir.resolve(sub)
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"${sub.replace('/', '_')}_0.csv"),
      (header +: rows).mkString("\n"))
  }

  /** fake_data() fixtures, test_pset.py:31-119. */
  private def writeFixtures(root: java.nio.file.Path): Unit = {
    val attrHeader = "TRANSACTION_ID,TLD,REN,REGISTRAR_NAME,GL_CODE_NAME,COUNTRY,DOMAIN_LENGTH,HISTORY,TRANSFERS,TERM_LENGTH,RES30,RESTORES,REREG,QTILE,HD,NS_V0,NS_V1,NS_V2"
    writeCsv(root, "train/attr", attrHeader + ",TARGET", Seq(
      "109785,TLD1,8,ACC 012,GL2,CNTR 04,11,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386,0",
      "109784,TLD1,8,ACC 012,GL2,CNTR 04,17,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386,0",
      "109783,TLD1,8,ACC 012,GL2,CNTR 04,14,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386,0"))
    writeCsv(root, "train/tscore", "TRANSACTION_ID,TRAFFIC_SCORE", Seq(
      "109785,0.0000417455279238821",
      "109784,0.0000449483234402741",
      "109783,0.0000718081312936524"))
    writeCsv(root, "test/attr", attrHeader, Seq(
      "275452,TLD1,0,ACC 012,GL2,CNTR 04,11,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386",
      "275451,TLD1,2,ACC 012,GL2,CNTR 04,17,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386",
      "275450,TLD1,0,ACC 012,GL2,CNTR 04,14,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386"))
    writeCsv(root, "test/tscore", "TRANSACTION_ID,TRAFFIC_SCORE", Seq(
      "275452,0.0000417455279238821",
      "275451,0.0000449483234402741",
      "275450,0.0000718081312936524"))
    writeCsv(root, "results", "TRANSACTION_ID,TARGET", Seq(
      "275452,0", "275451,0", "275450,0"))
  }

  private lazy val (ctx, executed) = {
    val tmp = Files.createTempDirectory("pbetl")
    writeFixtures(tmp)
    val conf = PbConf(
      dataRoot = tmp.toString,
      workRoot = tmp.resolve("work").toString,
      epochs = 5,
      hidden = Seq(8, 4), // tiny widths for a 3-row fixture; prod default is the reference's 1024..32
      seed = 42L)
    val c = Ctx(spark, conf)
    val ex = PbEtl.runAll(c)
    (c, ex)
  }

  test("full DAG executes every stage once, in dependency order") {
    assert(executed == Seq("LoadData", "NormDenominators", "FitModel",
      "LoadTest", "Predict", "BackTest", "FinalResults"))
  }

  test("LoadData: 3 rows, 20 cols, traffic score joined with no nulls (tasks.py:181)") {
    val df = PbEtl.LoadData.read(ctx)
    assert(df.count() == 3)
    assert(df.columns.length == 20)
    assert(df.filter(df("TRAFFIC_SCORE").isNull).count() == 0)
  }

  test("NormDenominators matches the fixture maxima (FIXTURES.md §A)") {
    val m = PbEtl.NormDenominators.maxMap(ctx)
    assert(m == Map(
      "REN" -> 8.0, "DOMAIN_LENGTH" -> 17.0, "TRANSFERS" -> 2.0,
      "RESTORES" -> 0.0, "TRAFFIC_SCORE" -> 7.18081312936524e-05))
  }

  test("theNorm scales to [0,1] and keeps zero-max columns unscaled") {
    import org.apache.spark.sql.functions._
    val df = PbEtl.theNorm(PbEtl.LoadData.read(ctx), PbEtl.NormDenominators.maxMap(ctx))
    val r = df.agg(max("REN"), max("DOMAIN_LENGTH"), max("RESTORES"), max("TRAFFIC_SCORE")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0)
    assert(r.getDouble(2) == 0.0) // max was 0: column passes through, not NaN
    assert(r.getDouble(3) == 1.0)
  }

  test("FitModel history.json records per-iteration loss + validation stats (M7/K4)") {
    val dir = PbEtl.FitModel.outputDir(ctx).get
    val hist = Files.readString(java.nio.file.Paths.get(dir).resolve("history.json"))
    // per-iteration objective history is present and numeric
    val loss = hist.split("\"loss\":\\[")(1).split("]")(0)
    assert(loss.nonEmpty, s"empty loss history in $hist")
    assert(loss.split(",").forall(s => s.toDouble.isFinite))
    // holdout accounting is recorded (AUC may be null on the tiny
    // single-class fixture — asserted non-null only when 2 classes)
    assert(hist.contains("\"val_n\":"))
    assert(hist.contains("\"val_auc\":"))
  }

  test("Predict: one probability per forecast row, in [0,1]") {
    val df = PbEtl.Predict.read(ctx)
    assert(df.columns.toSeq == Seq("TRANSACTION_ID", "Y_hat"))
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(275450L, 275451L, 275452L))
  }

  test("Predict scores with the handed-over model: Y_hat bit-identical to a disk load") {
    import org.apache.spark.ml.PipelineModel
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    // in the JVM that fitted it, load returns the kept model, not a new read
    assert(PbEtl.FitModel.load(ctx) eq PbEtl.FitModel.load(ctx))
    def bits(df: DataFrame): Map[Long, Long] = df.collect()
      .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    val tst = PbEtl.withCatStrings(
      PbEtl.theNorm(PbEtl.LoadTest.read(ctx), PbEtl.NormDenominators.maxMap(ctx)))
      .na.fill(0.0, Schemas.numCol)
    val fromDisk = PipelineModel.load(s"${PbEtl.FitModel.outputDir(ctx).get}/model")
      .transform(tst)
      .select(col("TRANSACTION_ID"), vector_to_array(col("probability")).getItem(1))
    val predicted = bits(PbEtl.Predict.read(ctx))
    assert(predicted.size == 3)
    assert(predicted == bits(fromDisk))
  }

  /** `body`'s result and the Spark jobs it started, counted by a
    * listener. */
  private def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-of-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    sc.addJobTag(tag)
    val out = try body finally sc.removeJobTag(tag)
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    sc.removeSparkListener(counter)
    (out, n.get)
  }

  test("read takes the schema from the parquet footer: the inferred one, and no inference job") {
    for (s <- Seq(PbEtl.LoadData, PbEtl.LoadTest, PbEtl.NormDenominators, PbEtl.Predict,
        PbEtl.BackTest)) {
      val inferred = spark.read.parquet(s.outputDir(ctx).get).schema
      assert(s.read(ctx).schema == inferred, s.name)
      // building the DataFrame starts no job; counting it starts only
      // the count's own
      val (df, readJobs) = jobsOf(s.read(ctx))
      assert(readJobs == 0, s.name)
      val (_, countJobs) = jobsOf(df.count())
      assert(jobsOf(s.read(ctx).count())._2 == countJobs, s.name)
    }
  }

  test("BackTest joins actuals to predictions (3 rows, no lost keys)") {
    val df = PbEtl.BackTest.read(ctx)
    assert(df.count() == 3)
    assert(df.filter(df("Y_hat").isNull).count() == 0)
  }

  test("FinalResults: actual deletion rate 0.0, forecast in [0,1] (tasks.py:436-444)") {
    val Some((n, actual, expected)) = PbEtl.FinalResults.last
    assert(n == 3)
    assert(actual == 0.0)
    assert(expected >= 0.0 && expected <= 1.0)
  }

  test("memoized stages are skipped on re-run; FinalResults always re-runs (O2/O5)") {
    val again = PbEtl.runAll(ctx)
    assert(again == Seq("FinalResults"))
  }

  test("read refuses an incomplete target: deleted _SUCCESS blocks the read (S4)") {
    val dir = PbEtl.LoadData.outputDir(ctx).get
    val flag = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val fs = ctx.fs(dir)
    assert(fs.delete(flag, false))
    try {
      val e = intercept[IllegalArgumentException](PbEtl.LoadData.read(ctx))
      assert(e.getMessage.contains("_SUCCESS"))
    } finally fs.create(flag, true).close()
    assert(PbEtl.LoadData.read(ctx).count() == 3) // restored flag reads again

    // the fitted model is gated the same way, handed over or not
    val modelFlag = new org.apache.hadoop.fs.Path(PbEtl.FitModel.outputDir(ctx).get, "_SUCCESS")
    assert(fs.delete(modelFlag, false))
    try {
      val e = intercept[IllegalArgumentException](PbEtl.FitModel.load(ctx))
      assert(e.getMessage.contains("_SUCCESS"))
    } finally fs.create(modelFlag, true).close()
    assert(PbEtl.FitModel.load(ctx).stages.length == 4)
  }

  test("K5: optional JDBC sink appends the result row (embedded Derby)") {
    val url = s"jdbc:derby:${ctx.conf.workRoot}/resultsdb;create=true"
    // FinalResults always re-runs; everything upstream is memo-skipped
    val again = PbEtl.runAll(Ctx(spark, ctx.conf.copy(jdbcUrl = Some(url))))
    assert(again == Seq("FinalResults"))
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "final_results").load()
    assert(back.columns.map(_.toLowerCase).sorted.toSeq == Seq("actual", "expected", "n"))
    val row = back.collect()
    assert(row.length == 1)
  }

  test("M4 strict-compat: onlyHd assembles numeric + single HD indicator only") {
    import org.apache.spark.ml.{Pipeline, PipelineStage}
    import org.apache.spark.ml.attribute.AttributeGroup
    import org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel
    import org.apache.spark.ml.feature.{OneHotEncoderModel, StringIndexer, StringIndexerModel, VectorAssembler}
    import org.apache.spark.ml.linalg.Vector
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import scala.collection.immutable.ListMap
    val data = PbEtl.theNorm(PbEtl.LoadData.read(ctx), PbEtl.NormDenominators.maxMap(ctx))
    val withStrings = PbEtl.withCatStrings(data).na.fill(0.0, Schemas.numCol)
    assert(withStrings.columns.toSeq == data.columns.toSeq ++ Schemas.catCol.map(c => s"${c}_str"))
    def width(onlyHd: Boolean): Int = {
      val out = new Pipeline().setStages(PbEtl.featureStages(onlyHd))
        .fit(withStrings).transform(withStrings)
      AttributeGroup.fromStructField(out.schema("features")).size
    }
    val (intended, strict) = (width(onlyHd = false), width(onlyHd = true))
    // 8 numerics in both; strict mode carries ONLY the HD indicator
    // (fixture HD has 1 distinct value; ±1 slot for the keep/dropLast
    // bucket interplay)
    assert(strict >= Schemas.numCol.length + 1 && strict <= Schemas.numCol.length + 2,
      s"strict width $strict")
    assert(intended > strict) // all 10 categoricals encoded
    // and the fitted salt distinguishes the modes (different model dirs)
    assert(PbEtl.FitModel.salt(ctx.conf) != PbEtl.FitModel.salt(ctx.conf.copy(onlyHd = true)))

    // the one multi-column indexer yields the features of ten
    // single-column ones; a second label per column (sorting before the
    // fixture's) and an unseen one at transform time exercise the
    // alphabetAsc order and the keep bucket
    def relabel(df: DataFrame, prefix: String): DataFrame =
      df.withColumns(ListMap(Schemas.catCol.map(c =>
        s"${c}_str" -> concat(lit(prefix), col(s"${c}_str"))): _*))
    val oneRow = withStrings.filter(col("TRANSACTION_ID") === 109785L)
    val fitOn = withStrings.union(relabel(oneRow, "0"))
    val scoreOn = fitOn.union(relabel(oneRow, "~"))
    def features(stages: Array[PipelineStage]): Seq[(Long, Vector)] =
      new Pipeline().setStages(stages).fit(fitOn).transform(scoreOn)
        .select("TRANSACTION_ID", "features").collect()
        .map(r => (r.getLong(0), r.getAs[Vector](1))).toSeq.sortBy(_.toString)
    for (onlyHd <- Seq(false, true)) {
      val one = PbEtl.featureStages(onlyHd)
      val ten = one.head.asInstanceOf[StringIndexer].getInputCols.map { in =>
        new StringIndexer().setInputCol(in).setOutputCol(in.stripSuffix("_str") + "_idx")
          .setHandleInvalid("keep").setStringOrderType("alphabetAsc")
      } ++ one.tail
      assert(one.length == 3 && ten.length == (if (onlyHd) 1 else 10) + 2)
      assert(features(one) == features(ten), s"onlyHd=$onlyHd")
    }

    // the saved model is one stage per step: indexer, encoder,
    // assembler, MLP
    val saved = PbEtl.FitModel.load(ctx).stages
    assert(saved.length == 4, saved.map(_.getClass.getSimpleName).mkString(","))
    assert(saved(0).isInstanceOf[StringIndexerModel] && saved(1).isInstanceOf[OneHotEncoderModel] &&
      saved(2).isInstanceOf[VectorAssembler] &&
      saved(3).isInstanceOf[MultilayerPerceptronClassificationModel])
    assert(saved(0).asInstanceOf[StringIndexerModel].labelsArray.length == Schemas.catCol.length)
  }

  test("FitModel releases its caches when a step after the first cache throws") {
    // a zero-width hidden layer is rejected by the MLP after the feature
    // fits have materialized the cached training split
    val bad = ctx.copy(conf = ctx.conf.copy(hidden = Seq(0)))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[IllegalArgumentException](Runner.run(bad, PbEtl.FitModel))
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"persistent RDDs left behind: $left")
    assert(!PbEtl.FitModel.complete(bad))
  }

  test("FitModel throws, writes no _SUCCESS and releases its caches when its save fails") {
    // a regular file where the output dir should be: only the save
    // fails, the holdout scoring running beside it never touches the dir
    val bad = ctx.copy(conf = ctx.conf.copy(seed = 7L))
    val dir = new org.apache.hadoop.fs.Path(PbEtl.FitModel.outputDir(bad).get)
    val fs = bad.fs(dir.toString)
    fs.create(dir, true).close()
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      intercept[Exception](Runner.run(bad, PbEtl.FitModel))
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"persistent RDDs left behind: $left")
      assert(!PbEtl.FitModel.complete(bad))
      assert(fs.isFile(dir)) // nothing was written in its place
      intercept[IllegalArgumentException](PbEtl.FitModel.load(bad))
    } finally fs.delete(dir, false)
  }

  test("salt: deterministic, version-sensitive, lineage-sensitive (O3)") {
    val conf = ctx.conf
    val s1 = PbEtl.FitModel.salt(conf)
    assert(s1 == PbEtl.FitModel.salt(conf))
    assert(s1.matches("[0-9a-f]{6}"))
    // changing a significant param relocates the output
    assert(PbEtl.FitModel.salt(conf.copy(epochs = conf.epochs + 1)) != s1)
    // downstream salt shifts with upstream param change (lineage)
    val p1 = PbEtl.Predict.salt(conf)
    assert(PbEtl.Predict.salt(conf.copy(epochs = conf.epochs + 1)) != p1)
    // but a param that no stage declares significant does not
    assert(PbEtl.Predict.salt(conf.copy(dataRoot = "/elsewhere")) == p1)
  }
}
