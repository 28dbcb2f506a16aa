package graft.pipeline

import graft.kernel.ExtractMode
import graft.sources.DocSynth
import org.apache.spark.sql.SparkSession

/** Production entrypoint (north_rule: "runs via spark-submit"):
  *
  *   spark-submit --class graft.pipeline.ExtractMain \
  *     --conf spark.sql.extensions=graft.GraftExtensions \
  *     target/scala-2.13/ragdocumentparserspark_2.13-0.1.0.jar \
  *     <inputSfDir> <outDir> [chunk|paragraph|semantic] [numGroups] [parquet|jsonl]
  *
  * Reads the docs table, runs the resumable group-committed extraction
  * (Checkpoint: MERGE-on-doc_id-equivalent over parquet), prints the lineage
  * summary. Re-running after a kill resumes from the last committed group.
  */
object ExtractMain {
  private val Usage =
    "usage: ExtractMain <inputSfDir> <outDir> [chunk|paragraph|semantic] [numGroups] [parquet|jsonl]"

  /** Parsed command line; every bad argument fails here, before a Spark
    * session exists. */
  private[pipeline] final case class Args(
      inDir: String, outDir: String, mode: ExtractMode, numGroups: Int, backend: String)

  private[pipeline] def parseArgs(args: Array[String]): Args = {
    require(args.length >= 2 && args.length <= 5, Usage)
    val mode = args.lift(2).getOrElse("chunk") match {
      case "chunk"     => ExtractMode.ChunkMode
      case "paragraph" => ExtractMode.ParagraphMode
      case "semantic"  => ExtractMode.SemanticMode
      case other =>
        throw new IllegalArgumentException(s"unknown mode '$other' — expected chunk, paragraph or semantic")
    }
    val numGroups = args.lift(3).fold(8) { s =>
      s.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(s"numGroups must be an integer >= 1, got '$s'"))
    }
    // Storage backend for the group-committed checkpoint: parquet (dynamic
    // partition-overwrite) or jsonl (explicit staging+rename protocol) —
    // both pass the SpanWriterContractSpec behavioral contract.
    val backend = args.lift(4).getOrElse("parquet")
    require(backend == "parquet" || backend == "jsonl",
      s"unknown writer backend '$backend' — expected parquet or jsonl")
    Args(args(0), args(1), mode, numGroups, backend)
  }

  def main(args: Array[String]): Unit = {
    val Args(inDir, outDir, mode, numGroups, backend) = parseArgs(args)

    // spark-submit provides master/conf; default local[*] for bare runs.
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = DocSynth.docs(spark, inDir)
    // The backend is PINNED per outDir via a `_writer` marker: resuming a
    // parquet run with the jsonl reader (or vice versa) would misparse the
    // lineage and silently mix formats, so a mismatch fails fast instead.
    // numGroups is pinned the same way (Checkpoint.pinNumGroups).
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveBackendPin(fs, outDir, backend)
    val (writer, readLineage) = backend match {
      case "jsonl" =>
        (new JsonlSpanWriter(spark, outDir),
          () => JsonlSpanWriter.readLineage(spark, outDir))
      case _ =>
        (new Checkpoint.ParquetSpanWriter(spark, outDir),
          () => Checkpoint.readLineage(spark, outDir))
    }
    Checkpoint.pinNumGroups(spark, outDir, numGroups, writer)
    runAndReport(spark, docs, writer, readLineage, mode, numGroups)
    spark.stop()
  }

  private def runAndReport(spark: SparkSession, docs: org.apache.spark.sql.Dataset[graft.model.Doc],
      writer: Checkpoint.SpanWriter, readLineage: () => org.apache.spark.sql.DataFrame,
      mode: ExtractMode, numGroups: Int): Unit = {
    val processed = Checkpoint.runResumable(docs, writer,
      ExtractJob.Config(mode = mode), numGroups = numGroups, maxGroups = Int.MaxValue)
    val lineage = readLineage()
    val summary = lineage.groupBy().sum("docs_parsed", "spans_emitted", "parse_failures").collect()(0)
    println(s"[extract] groups processed this run: $processed/$numGroups; " +
      s"totals: docs=${summary.getLong(0)} spans=${summary.getLong(1)} failures=${summary.getLong(2)}")
  }

  /** Enforce the per-outDir backend pin. With a valid `_writer` marker the
    * requested backend must match it. With the marker absent (legacy outDir,
    * or a marker lost to a kill between create and write) but data present,
    * the pin is RE-DERIVED from the checkpoint's own bytes — parquet files
    * open with the `PAR1` magic, our JSON-lines files with `{` — rather than
    * assumed parquet: a marker-less jsonl checkpoint under that assumption
    * would be steered to resume as 'parquet' and then die later on a
    * confusing parquet-footer error over JSON files. The re-derived (or
    * fresh) pin is written back so the next resume takes the fast path.
    */
  private[pipeline] def resolveBackendPin(fs: org.apache.hadoop.fs.FileSystem,
      outDir: String, backend: String): Unit = {
    val writerMarker = new org.apache.hadoop.fs.Path(s"$outDir/_writer")
    // shared helper: a marker left empty by a kill between create and write
    // reads as absent; a garbage value is likewise treated as absent
    graft.util.Markers.read(fs, writerMarker)
      .filter(v => v == "parquet" || v == "jsonl") match {
      case Some(pinned) =>
        require(pinned == backend,
          s"outDir $outDir was written with the '$pinned' backend; resuming with " +
            s"'$backend' would misread its lineage — pass '$pinned' (or a fresh outDir)")
      case None =>
        sniffCheckpointFormat(fs, Checkpoint.lineageDir(outDir))
          .orElse(sniffCheckpointFormat(fs, Checkpoint.spansDir(outDir))) match {
          case Some(actual) =>
            require(actual == backend,
              s"outDir $outDir holds a pre-existing (unpinned) checkpoint whose files " +
                s"sniff as '$actual'; resuming it with '$backend' would mix formats — " +
                s"pass '$actual'")
          case None => // fresh (or data-less) outDir: nothing to contradict the pin
        }
        graft.util.Markers.write(fs, writerMarker, backend)
    }
  }

  /** First committed data file's magic under `dir` (recursive): `PAR1` →
    * parquet, `{` → jsonl, unknown/none → None. Hidden files (`_staging…`
    * dirs, `.crc`, `_SUCCESS`) are skipped — they are not committed data.
    */
  private[pipeline] def sniffCheckpointFormat(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[String] = {
    val p = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    if (!fs.exists(p)) return None
    // only segments BELOW dir count as hidden — the outDir path itself may
    // legitimately contain _-prefixed directories
    def hidden(path: org.apache.hadoop.fs.Path): Boolean = {
      var cur = path
      while (cur != null && cur != p) {
        if (cur.getName.startsWith("_") || cur.getName.startsWith(".")) return true
        cur = cur.getParent
      }
      false
    }
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getLen > 0 && !hidden(st.getPath)) {
        val in = fs.open(st.getPath)
        val buf = new Array[Byte](4)
        // loop to 4 bytes: a single read() may legally return short at a
        // packet/chunk boundary and misclassify a parquet file as unknown
        val n = try {
          var got = 0
          var eof = false
          while (got < 4 && !eof) {
            val r = in.read(buf, got, 4 - got)
            if (r < 0) eof = true else got += r
          }
          got
        } finally in.close()
        if (n >= 4 && java.util.Arrays.equals(buf, "PAR1".getBytes("UTF-8")))
          return Some("parquet")
        if (n >= 1 && buf(0) == '{') return Some("jsonl")
        // unknown magic: keep scanning for a recognizable committed file
      }
    }
    None
  }
}
