package graft.pipeline

import graft.model.{Doc, Lineage}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable, idempotent extraction runs — Iceberg MERGE-on-doc_id semantics
  * over plain Parquet (the local jars carry no Iceberg runtime; SURVEY.md §4.2).
  *
  * Commit unit = "group" = `pmod(xxhash64(doc_id), numGroups)` — the stand-in
  * for an Iceberg partition commit. For each group:
  *
  *   1. spans written with dynamic partition-overwrite into `out/spans/grp=g`
  *      (job-level atomic; a killed mid-group job leaves nothing visible, a
  *      re-run *overwrites* the group rather than appending → idempotent even
  *      if the previous run died between data commit and lineage commit);
  *   2. lineage rows appended to `out/lineage` (this append IS the group's
  *      commit marker).
  *
  * On resume, groups present in the lineage table are skipped entirely — the
  * observable behavior of `MERGE INTO spans ON doc_id`: reprocessing a doc
  * never duplicates it, because extraction is deterministic and a group is
  * rewritten wholesale.
  *
  * Each group is one routed extraction of its slice
  * (`ExtractJob.extractWithLineage`): normal docs stay in the slice's input
  * partitions, only giants are exchanged, and the kernel runs once, inside
  * the spans write, counting the lineage that the commit then writes from
  * the driver — no persisted stage, no second pass, no aggregation exchange.
  *
  * At cluster scale each group is itself a full distributed job over 1/G of
  * the input, so checkpoint granularity trades straggler re-work (small G)
  * against commit overhead (large G); G≈#(Iceberg partitions touched) in a
  * real deployment. G is PINNED per outDir ([[pinNumGroups]]): a different
  * G rehashes every doc, so the committed groups would no longer be the
  * same docs and some would never be written.
  */
object Checkpoint {

  def spansDir(outDir: String)   = s"$outDir/spans"
  def lineageDir(outDir: String) = s"$outDir/lineage"

  def groupOf(numGroups: Int) = pmod(xxhash64(col("doc_id")), lit(numGroups.toLong))

  /** Declared, not inferred (no schema job): lineage files are our own output. */
  val lineageSchema = Encoders.product[Lineage].schema.add("grp", "bigint")

  /** The writer seam (SURVEY §7.1): Iceberg-style per-group commit. A real
    * Iceberg catalog slots in by implementing `overwriteGroup` as
    * MERGE/overwrite-partition and `commitGroup` as the snapshot commit that
    * appends the group's lineage rows; `doneGroups` reads the lineage table.
    * The contract `runResumable` relies on:
    *  - `overwriteGroup` is idempotent and all-or-nothing per group (a
    *    killed write leaves nothing visible; a re-run replaces, never
    *    appends), and consumes every row of `spans` (lineage counts them);
    *  - `commitGroup` runs strictly AFTER the group's data is durable — its
    *    lineage append IS the commit marker;
    *  - `doneGroups` returns exactly the groups whose `commitGroup` landed.
    */
  trait SpanWriter {
    def doneGroups(): Set[Long]
    def overwriteGroup(grp: Long, spans: DataFrame): Unit
    def commitGroup(grp: Long, lineage: DataFrame): Unit
  }

  /** Default writer: plain parquet (the local jars carry no Iceberg
    * runtime). Dynamic partition-overwrite gives the per-group atomicity;
    * the lineage append is the commit marker.
    */
  final class ParquetSpanWriter(spark: SparkSession, outDir: String) extends SpanWriter {

    override def doneGroups(): Set[Long] = {
      val path = new org.apache.hadoop.fs.Path(lineageDir(outDir))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Set.empty
      else readLineage(spark, outDir)
        .select("grp").distinct().collect().map(_.getLong(0)).toSet
    }

    // Overwrite mode is scoped to THIS write (not session conf): a session-
    // wide dynamic mode would silently change the semantics of every other
    // partitioned overwrite in the same session — e.g. AnnIndex.build's
    // static cells/ overwrite, where leaving stale cell=N partitions from a
    // previous larger index would make probes read vectors assigned under
    // old centroids.
    override def overwriteGroup(grp: Long, spans: DataFrame): Unit =
      spans.withColumn("grp", lit(grp))
        .write.mode(SaveMode.Overwrite).partitionBy("grp")
        .option("partitionOverwriteMode", "dynamic").parquet(spansDir(outDir))

    override def commitGroup(grp: Long, lineage: DataFrame): Unit =
      lineage.withColumn("grp", lit(grp))
        .write.mode(SaveMode.Append).parquet(lineageDir(outDir))
  }

  /** Run (or resume) an extraction against the default parquet writer.
    * Returns the number of groups processed in THIS invocation. `maxGroups`
    * limits work for kill-simulation tests.
    */
  def runResumable(
      docs: Dataset[Doc],
      outDir: String,
      cfg: ExtractJob.Config = ExtractJob.Config(),
      numGroups: Int = 8,
      maxGroups: Int = Int.MaxValue): Int = {
    val writer = new ParquetSpanWriter(docs.sparkSession, outDir)
    pinNumGroups(docs.sparkSession, outDir, numGroups, writer)
    runResumable(docs, writer, cfg, numGroups, maxGroups)
  }

  private def requireGroups(numGroups: Int): Unit =
    require(numGroups >= 1, s"numGroups must be at least 1, got $numGroups")

  /** Enforce the per-outDir `numGroups` pin (`_groups` marker), written
    * before the first group commits. Resuming with a different value would
    * treat the committed groups as done under the NEW hash, and the docs
    * that moved into them would never be written — so a mismatch fails,
    * naming the pinned value. Without a marker (fresh or legacy outDir),
    * a committed group id ≥ `numGroups` already proves the value wrong.
    */
  def pinNumGroups(spark: SparkSession, outDir: String, numGroups: Int,
      writer: SpanWriter): Unit = {
    requireGroups(numGroups)
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/_groups")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.Markers.read(fs, marker).flatMap(_.toIntOption) match {
      case Some(pinned) =>
        require(pinned == numGroups,
          s"outDir $outDir was written with numGroups=$pinned; resuming with " +
            s"$numGroups would skip docs — pass $pinned (or a fresh outDir)")
      case None =>
        val beyond = writer.doneGroups().filter(_ >= numGroups)
        require(beyond.isEmpty, s"outDir $outDir holds committed group ${beyond.max}, " +
          s"beyond numGroups=$numGroups — pass the numGroups it was written with")
        graft.util.Markers.write(fs, marker, numGroups.toString)
    }
  }

  /** Run (or resume) an extraction against an arbitrary [[SpanWriter]]. */
  def runResumable(
      docs: Dataset[Doc],
      writer: SpanWriter,
      cfg: ExtractJob.Config,
      numGroups: Int,
      maxGroups: Int): Int = {
    requireGroups(numGroups)
    val spark = docs.sparkSession
    import spark.implicits._

    val done = writer.doneGroups()
    val todo = (0L until numGroups.toLong).filterNot(done).take(maxGroups)
    val withGrp = docs.toDF().withColumn("grp", groupOf(numGroups))

    for (g <- todo) {
      val slice = withGrp.filter($"grp" === g).select($"doc_id", $"spans").as[Doc]
      val (spans, lineage) = ExtractJob.extractWithLineage(slice, cfg)
      writer.overwriteGroup(g, spans.toDF()) // drains the kernel, counting lineage()
      // The lineage append IS the commit marker, so it must be non-empty even
      // for a zero-doc group: a synthetic partition_id=-1 marker row makes
      // empty groups durably "done" (otherwise every resume re-runs them).
      val rows = lineage() :+ Lineage(-1, 0L, 0L, 0L, "marker")
      writer.commitGroup(g, rows.toDS().coalesce(1).toDF()) // one file per group
    }
    todo.size
  }

  def readSpans(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(spansDir(outDir)).drop("grp")

  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(lineageSchema).parquet(lineageDir(outDir))
}
