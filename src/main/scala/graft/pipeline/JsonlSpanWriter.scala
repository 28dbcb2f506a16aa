package graft.pipeline

import graft.model.Doc
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Second durable [[Checkpoint.SpanWriter]] implementation: JSON-Lines
  * storage with the writer providing its own per-group atomicity.
  *
  * Where [[Checkpoint.ParquetSpanWriter]] leans on Spark's dynamic
  * partition-overwrite for group atomicity, this writer implements the
  * commit protocol explicitly — the shape an object-store or Iceberg
  * writer uses (write-new, swap-pointer, commit-log):
  *
  *   1. the group's rows are written to a staging directory
  *      (`spans/_staging_grp_<g>` — the `_` prefix keeps every Spark
  *      FileIndex from ever listing it as data; the name deliberately has
  *      no `=`, which would make partition discovery read it as a column);
  *   2. the previous `spans/grp=<g>` directory is deleted and the staging
  *      directory renamed into place (rename = the atomic pointer swap);
  *   3. `commitGroup` appends the group's lineage rows — as with the
  *      parquet writer, the lineage append IS the commit marker.
  *
  * Crash analysis per contract clause: a kill during (1) leaves only an
  * invisible staging dir; during (2) the group's data may be absent but the
  * group is uncommitted, so resume re-runs it wholesale; after (3) but
  * before `commitGroup`, resume re-runs the group and step (1)'s
  * `SaveMode.Overwrite` clears the stale staging first — idempotent
  * replace, never append.
  *
  * Verified against the shared behavioral contract in
  * `SpanWriterContractSpec` and the kill/resume convergence test in
  * `PipelineSpec`.
  */
final class JsonlSpanWriter(spark: SparkSession, outDir: String) extends Checkpoint.SpanWriter {

  private def fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def doneGroups(): Set[Long] = {
    val dir = new Path(Checkpoint.lineageDir(outDir))
    if (!fs.exists(dir)) Set.empty
    else spark.read.schema(Checkpoint.lineageSchema).json(dir.toString)
      .select("grp").distinct().collect().map(_.getLong(0)).toSet
  }

  override def overwriteGroup(grp: Long, spans: DataFrame): Unit = {
    // NB: no '=' in the staging name — Spark partition discovery treats any
    // 'name=value' directory as a partition column even under a '_' prefix.
    val staging = new Path(s"${Checkpoint.spansDir(outDir)}/_staging_grp_$grp")
    val finalDir = new Path(s"${Checkpoint.spansDir(outDir)}/grp=$grp")
    // (1) full group write to staging; Overwrite clears any stale staging
    // left by a previous crashed attempt.
    spans.write.mode(SaveMode.Overwrite).json(staging.toString)
    // (2) pointer swap: drop the old group dir, rename staging into place.
    if (fs.exists(finalDir)) fs.delete(finalDir, true)
    if (!fs.rename(staging, finalDir))
      sys.error(s"rename $staging -> $finalDir failed; group $grp left uncommitted")
  }

  override def commitGroup(grp: Long, lineage: DataFrame): Unit =
    lineage.withColumn("grp", lit(grp))
      .write.mode(SaveMode.Append).json(Checkpoint.lineageDir(outDir))
}

object JsonlSpanWriter {

  /** Read back the spans table (partition column `grp` discovered from the
    * directory names, then dropped — same surface as `Checkpoint.readSpans`).
    */
  def readSpans(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(Encoders.product[Doc].schema.add("grp", LongType))
      .json(Checkpoint.spansDir(outDir)).drop("grp")

  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(Checkpoint.lineageSchema).json(Checkpoint.lineageDir(outDir))
}
