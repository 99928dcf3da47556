package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Pipeline configuration.
  *
  * @param dataRoot  base URI of the raw CSV inputs (the reference reads
  *                  `s3://…/` by default and redirects to a local dir via
  *                  an env var for tests — pb_etl/tasks.py:100-111; same
  *                  trick here, any Hadoop-FS URI works)
  * @param workRoot  base URI for salted intermediate/output dirs
  * @param epochs    max optimizer iterations (reference trains 2 epochs,
  *                  pb_etl/tasks.py:328)
  * @param hidden    hidden-layer widths of the MLP (reference
  *                  1024/512/256/128/64/32, pb_etl/tasks.py:300-319)
  * @param seed      split + init seed (reference uses sklearn's default
  *                  shuffled split, pb_etl/tasks.py:290)
  * @param jdbcUrl   optional K5 result sink: when set, FinalResults
  *                  appends its 1-row report to `jdbcTable` at this URL
  *                  (the reference persists via the Django ORM,
  *                  pb_etl_app/management/commands/etl.py:33-39)
  * @param jdbcTable target table name for the JDBC sink
  * @param onlyHd    strict-compat mode for the reference's one-hot bug:
  *                  its `indicator_column` sits outside the vocab loop so
  *                  only `HD` is actually encoded (pb_etl/tasks.py:278-286).
  *                  false (default) = intended semantics, all 10
  *                  categoricals encoded (SURVEY.md §7.4.1).
  */
final case class PbConf(
    dataRoot: String,
    workRoot: String,
    epochs: Int = 2,
    hidden: Seq[Int] = Seq(1024, 512, 256, 128, 64, 32),
    seed: Long = 42L,
    jdbcUrl: Option[String] = None,
    jdbcTable: String = "final_results",
    onlyHd: Boolean = false)

final case class Ctx(spark: SparkSession, conf: PbConf) {
  def fs(path: String): org.apache.hadoop.fs.FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}

/** A node of the pipeline DAG with salted-path memoization.
  *
  * Reproduces the reference's orchestration semantics (SURVEY.md §2.8):
  *  - O1 dependency declaration (`deps`, cf. pb_etl/luigi/task.py:7-43)
  *  - O2 target-existence memoization: a stage is skipped when its salted
  *    output dir carries a `_SUCCESS` flag (pb_etl/luigi/dask/target.py:92-114)
  *  - O3 salted outputs: `<workRoot>/<name>-<salt>` where salt covers the
  *    full upstream lineage (pb_etl/luigi/task.py:93-100)
  *  - O5 stages without an output dir always re-run (FinalResults,
  *    pb_etl/tasks.py:428-444)
  *
  * Spark writes the `_SUCCESS` marker natively on job commit, so sink +
  * flag are one atomic-ish operation (the reference writes the flag
  * manually after to_parquet, target.py:15-19).
  */
trait Stage {
  def name: String = getClass.getSimpleName.stripSuffix("$")
  def version: String = "0.0.0"
  def deps: Seq[Stage] = Nil
  def params(conf: PbConf): Seq[(String, String)] = Nil

  final def salt(conf: PbConf): String =
    Salt.of(deps.map(_.salt(conf)), name, version, params(conf))

  /** None => no memo target: the stage re-runs on every invocation. */
  def outputDir(ctx: Ctx): Option[String] =
    Some(s"${ctx.conf.workRoot}/$name-${salt(ctx.conf)}")

  def complete(ctx: Ctx): Boolean = outputDir(ctx).exists { d =>
    ctx.fs(d).exists(new Path(d, "_SUCCESS"))
  }

  def run(ctx: Ctx): Unit

  /** This stage's output dir, after the S4 read gate: refuses an
    * incomplete target — a dir without its `_SUCCESS` flag is a
    * partial/failed write (the reference's read_dask raises the same
    * way, pb_etl/luigi/dask/target.py:139-148). */
  protected def completeDir(ctx: Ctx): String = {
    val d = outputDir(ctx).getOrElse(sys.error(s"stage $name has no output dir"))
    require(complete(ctx),
      s"stage $name output at $d is incomplete (no _SUCCESS flag) — not reading a partial write")
    d
  }

  /** Convenience: this stage's materialized output as a DataFrame,
    * behind the S4 read gate.
    *
    * The schema comes from the parquet footer of the dir's first part
    * file (see [[Stage.footerSchema]]), read on the driver: without it,
    * `spark.read.parquet` runs a schema-inference Spark job on every
    * read, even of a single file. */
  def read(ctx: Ctx): DataFrame = {
    val d = completeDir(ctx)
    ctx.spark.read.schema(Stage.footerSchema(ctx, d)).parquet(d)
  }
}

object Stage {
  /** Footer key under which Spark's parquet writer stores the row
    * schema as JSON. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema stored in the footer of `dir`'s first `part-*`
    * file by path — the file Spark's own inference reads when schemas
    * are not merged, so the result is the schema `spark.read.parquet`
    * would infer. Spark writes every stage dir, so the key is always
    * there; a dir without it is refused, not read another way. */
  private def footerSchema(ctx: Ctx, dir: String): StructType = {
    val fs = ctx.fs(dir)
    val part = Option(fs.globStatus(new Path(dir, "part-*"))).toSeq.flatten
      .map(_.getPath).sortBy(_.toString).headOption
      .getOrElse(sys.error(s"no part-* file under $dir"))
    val in = ParquetFileReader.open(
      HadoopInputFile.fromPath(part, ctx.spark.sparkContext.hadoopConfiguration))
    val json =
      try in.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey)
      finally in.close()
    require(json != null, s"$part under $dir has no Spark schema ($RowMetadataKey) in its footer")
    DataType.fromJson(json).asInstanceOf[StructType]
  }
}

/** An external raw-CSV input (reference ExternalTask, tasks.py:89-149):
  * no `run`, completeness = any `*.csv` file present under the source dir
  * (the reference's `flag=None` glob fallback, target.py:104-114).
  */
abstract class CsvSource(val sub: String) extends Stage {
  override def outputDir(ctx: Ctx): Option[String] =
    Some(s"${ctx.conf.dataRoot}/$sub")
  override def complete(ctx: Ctx): Boolean = {
    val d = outputDir(ctx).get
    val p = new Path(d)
    val fs = ctx.fs(d)
    fs.exists(p) && fs.globStatus(new Path(p, "*.csv")).nonEmpty
  }
  override def run(ctx: Ctx): Unit =
    sys.error(s"external input missing: ${outputDir(ctx).get}/*.csv")
}

/** Depth-first topological executor with memo-skip — the Spark-side
  * equivalent of `luigi.build([task], local_scheduler=True)`
  * (pb_etl/cli.py:13-16). Sequential on purpose: each stage is itself a
  * distributed Spark job; inter-stage parallelism buys nothing here.
  */
object Runner {
  def run(ctx: Ctx, target: Stage): Seq[String] = {
    val executed = scala.collection.mutable.ArrayBuffer.empty[String]
    val done = scala.collection.mutable.Set.empty[String]
    def go(s: Stage): Unit = {
      val key = s.name + s.salt(ctx.conf)
      if (!done.contains(key)) {
        done += key
        s.deps.foreach(go)
        if (!s.complete(ctx)) {
          s.run(ctx)
          executed += s.name
        }
      }
    }
    go(target)
    executed.toSeq
  }
}
