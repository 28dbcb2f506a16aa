package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import graft.kernel.{Extract, ExtractMode}
import graft.model.{Doc, Span}
import graft.operators._
import graft.pipeline.{Checkpoint, ExtractJob}
import graft.sources.DocSynth
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a pass (a `runResumable` call, a query): its wall and
  * process CPU seconds. */
final case class OpTime(name: String, wallS: Double, cpuS: Double)

object OpTime {
  def of[T](name: String)(body: => T): (T, OpTime) = {
    val cpu0 = Main.processCpuSeconds
    val t0 = System.nanoTime()
    val r = body
    (r, OpTime(name, (System.nanoTime() - t0) / 1e9, Main.processCpuSeconds - cpu0))
  }
}

/** One measured pass: its operations, and how many were attempted and failed. */
final case class PassResult(ops: Seq[OpTime], attempted: Long, failed: Long)

/** What every workload gives the measuring loop in [[Main]]. */
trait Workload {
  def minPasses: Int
  /** Input generation; counted in setup_s. */
  def inputs(): Unit
  /** Warm-up before the measured passes; counted in setup_s. */
  def warmUp(): Unit
  /** One measured pass. Operations that throw are counted, never dropped. */
  def pass(i: Int): PassResult
  /** Output checks, run outside the timed region after each pass. */
  def checkPass(i: Int): Unit = ()
}

/** Correctness verdicts and failure classes, shared by a run's workload. */
final class Verdict {
  var correct = true
  val problems = mutable.ArrayBuffer.empty[String]
  val failureClasses = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  def fail(problem: String): Unit = { correct = false; problems += problem }
  def thrown(where: String, e: Throwable): Unit = {
    failureClasses(e.getClass.getName) += 1
    fail(s"$where threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}")
  }
}

object Fingerprint {
  private val P = 1000000007L
  /** Row count and an order-insensitive hash of every column. */
  def columns(df: DataFrame): Seq[Column] = {
    val cols = df.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    Seq(count(lit(1)).as("rows"), coalesce(sum(pmod(xxhash64(cols: _*), lit(P))), lit(0L)).as("hash"))
  }
  def of(obs: Observation): (Long, Long) = {
    val r = obs.get
    (r("rows").asInstanceOf[Long], r("hash").asInstanceOf[Long])
  }

  /** Seeded ~1‰ doc sample, the same predicate on input (long ids) and
    * output (string ids) tables. */
  def sampled(seed: Long, docId: Column): Column =
    pmod(xxhash64(docId.cast("string"), lit(seed)), lit(997L)) === 0L

  /** What the kernel must produce for the sampled docs, computed in the
    * Spark driver from the input rows alone. */
  def expectedDocs(spark: SparkSession, tableDir: String, seed: Long): Seq[Doc] =
    spark.read.parquet(s"$tableDir/documents.parquet")
      .where(sampled(seed, col("doc_id")))
      .select(col("doc_id").cast("string"), col("text")).collect().toSeq
      .map(r => Extract.extractDoc(DocSynth.synthDoc(r.getString(0), r.getString(1)),
        ExtractMode.SemanticMode))
}

/** `Checkpoint.runResumable` as `ExtractMain` deploys it: semantic mode,
  * parquet writer into a fresh directory. A pass commits the first half of
  * the groups, then resumes to completion with a second call, as a killed
  * and restarted job would. 2 groups rather than ExtractMain's default 8:
  * each group costs a fixed 6-7 s on 4 cores (200 shuffle partitions, up to
  * 200 files per group), and 8 would not fit the run budget. */
final class ResumableExtract(spark: SparkSession, work: String, seed: Long, trace: Trace,
    v: Verdict, inject: Set[String]) extends Workload {
  val nDocs = 25000L
  val groups = 2
  private val in = s"$work/resumable-in"
  private val cfg = ExtractJob.Config(mode = ExtractMode.SemanticMode)
  private var outBytes, outFiles = 0L
  private val groupSecs = mutable.ArrayBuffer.empty[Double]
  def minPasses = 1

  /** Times the writer seam; each group's latency (into `groupSecs`) runs from
    * the end of the previous commit (or of `doneGroups`) to the end of its
    * own commit. */
  private final class TimingWriter(inner: Checkpoint.SpanWriter) extends Checkpoint.SpanWriter {
    private var mark = System.nanoTime()
    private var group = -1
    def doneGroups(): Set[Long] = {
      val r = trace.span("done_groups")(inner.doneGroups())
      mark = System.nanoTime()
      r
    }
    def overwriteGroup(grp: Long, spans: DataFrame): Unit = {
      group = trace.open("group")
      try trace.span("overwrite")(inner.overwriteGroup(grp, spans))
      catch { case NonFatal(e) => trace.close(group); throw e }
    }
    def commitGroup(grp: Long, lineage: DataFrame): Unit = {
      try trace.span("commit")(inner.commitGroup(grp, lineage)) finally trace.close(group)
      val now = System.nanoTime()
      groupSecs += (now - mark) / 1e9
      mark = now
    }
  }

  /** Test-only fault (`--inject throw_writer`): the first group write throws,
    * as a crash of the first call would; the resume call then commits every
    * group, so only the counted failure can fail the run. */
  private final class ThrowingWriter(inner: Checkpoint.SpanWriter) extends Checkpoint.SpanWriter {
    private var thrown = false
    def doneGroups(): Set[Long] = inner.doneGroups()
    def overwriteGroup(grp: Long, spans: DataFrame): Unit = {
      if (!thrown) { thrown = true; throw new IllegalStateException("injected writer failure") }
      inner.overwriteGroup(grp, spans)
    }
    def commitGroup(grp: Long, lineage: DataFrame): Unit = inner.commitGroup(grp, lineage)
  }

  private def out(i: Int) = s"$work/resumable-out-$i"

  def inputs(): Unit = Inputs.writeDocs(spark, in, seed, nDocs, files = 8)

  /** One untimed kill-and-resume cycle over the same input into a scratch
    * directory. The first cycle in a JVM took 18-20 s and used 60-68 s of
    * CPU, the next 14-15 s and 45-47 s, as the JIT compiled the hot paths at
    * the pass's own data sizes; a warm-up on a small table left most of that
    * in the timed pass. */
  def warmUp(): Unit = for (maxGroups <- Seq(groups / 2, Int.MaxValue))
    Checkpoint.runResumable(DocSynth.docs(spark, in), s"$work/resumable-warm", cfg, groups, maxGroups)

  def pass(i: Int): PassResult = {
    val parquet = new Checkpoint.ParquetSpanWriter(spark, out(i))
    val w = new TimingWriter(if (inject("throw_writer")) new ThrowingWriter(parquet) else parquet)
    val calls = Seq("commit-half" -> groups / 2, "resume" -> Int.MaxValue).map { case (name, maxGroups) =>
      OpTime.of(name) {
        try {
          trace.span("call")(Checkpoint.runResumable(DocSynth.docs(spark, in), w, cfg, groups, maxGroups))
          false
        } catch { case NonFatal(e) => v.thrown(s"runResumable(maxGroups = $maxGroups)", e); true }
      }
    }
    PassResult(calls.map(_._2), calls.size, calls.count(_._1))
  }

  override def checkPass(i: Int): Unit = {
    val dir = out(i)
    val s = Checkpoint.readSpans(spark, dir).agg(count(lit(1)), countDistinct(col("doc_id")),
      sum(size(col("spans"))),
      collect_list(when(Fingerprint.sampled(seed, col("doc_id")), struct(col("doc_id"), col("spans")))))
      .head()
    val l = Checkpoint.readLineage(spark, dir)
      .agg(sum("docs_parsed"), sum("spans_emitted"), sum("parse_failures"), countDistinct("grp")).head()
    if (s.getLong(0) != nDocs || s.getLong(1) != nDocs)
      v.fail(s"resumable: ${s.getLong(0)} span rows for ${s.getLong(1)} distinct of $nDocs input docs")
    if (l.getLong(0) != nDocs || l.getLong(1) != s.getLong(2) || l.getLong(2) != 0L || l.getLong(3) != groups)
      v.fail(s"resumable: lineage docs=${l.get(0)} spans=${l.get(1)} failures=${l.get(2)} " +
        s"groups=${l.get(3)} against $nDocs docs and ${s.get(2)} written spans")
    val got = s.getSeq[Row](3).map { d =>
      d.getString(0) -> Doc(d.getString(0), d.getSeq[Row](1).map(r =>
        Span(r.getAs[String]("kind"), r.getAs[String]("text"), r.getAs[String]("media_ref"),
          r.getAs[Int]("offset"))))
    }.toMap
    val want = Fingerprint.expectedDocs(spark, in, seed)
    if (want.isEmpty || want.exists(d => !got.get(d.doc_id).contains(d)))
      v.fail(s"resumable: ${want.count(d => !got.get(d.doc_id).contains(d))} of ${want.size} " +
        "sampled docs differ from the kernel run locally")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    while (files.hasNext) {
      val f = files.next()
      val n = f.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) { outBytes += f.getLen; outFiles += 1 }
    }
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  /** Per-layer metrics the workload measures itself. */
  def layerMetrics: Map[String, Double] = {
    Map(
      "pipeline.groups" -> groupSecs.size.toDouble,
      "pipeline.group_skew" -> (if (groupSecs.nonEmpty) groupSecs.max / groupSecs.min else 0.0),
      "pipeline.output_bytes" -> outBytes.toDouble,
      "pipeline.output_files" -> outFiles.toDouble,
      "pipeline.output_bytes_per_doc" -> outBytes.toDouble / nDocs)
  }
}

/** A fixed sample of the registry ([[QuerySuite.Sample]]) in a seed-shuffled
  * order, each forced through the noop sink. Each query's row
  * count and order-insensitive hash ride the timed write (`observe`) and are
  * checked against committed values. */
final class QuerySuite(spark: SparkSession, work: String, seed: Long, trace: Trace,
    v: Verdict, inject: Set[String], expectedFile: String,
    totals: Option[TaskTotals]) extends Workload {
  private val dir = s"$work/tables"
  private val byModule: Seq[(String, Seq[Op])] = Seq(
    "ExtractOps" -> ExtractOps.ops, "RetrievalOps" -> RetrievalOps.ops,
    "EvalOps" -> EvalOps.ops, "FeedbackOps" -> FeedbackOps.ops,
    "RelationalOps" -> RelationalOps.ops, "DedupOps" -> DedupOps.ops,
    "SimilarityOps" -> SimilarityOps.ops, "TextAnalysisOps" -> TextAnalysisOps.ops,
    "MultimodalOps" -> MultimodalOps.ops, "CorpusOps" -> CorpusOps.ops)
  val modules: Seq[String] = byModule.map(_._1)
  private val moduleOf: Map[String, String] =
    byModule.flatMap { case (m, ops) => ops.map(_.name -> m) }.toMap
  private val entry = graft.SparkEntry.queries

  private val sample: Seq[(String, (SparkSession, String) => DataFrame)] =
    QuerySuite.Sample.map(n => n -> entry(n)) ++
      (if (inject("throw_query"))
        Seq("q_injected_throw" -> ((_: SparkSession, _: String) =>
          throw new IllegalStateException("injected query failure")))
      else Nil)

  private val expected: Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(expectedFile, "UTF-8")
    val m = try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, hash.toLong)
    }.toMap finally src.close()
    if (inject("bad_fingerprint")) m.updated(QuerySuite.Sample.head, (m(QuerySuite.Sample.head)._1, 0L))
    else m
  }
  val moduleSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val moduleCpu = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def minPasses = 3

  def inputs(): Unit = Inputs.writeQueryTables(spark, dir)

  def warmUp(): Unit = sample.foreach { case (n, fn) => run(n, fn, timed = false) }

  /** Runs one query; returns whether it failed, and its times. */
  private def run(name: String, fn: (SparkSession, String) => DataFrame, timed: Boolean): (Boolean, OpTime) = {
    val cpu0 = totals.map { t => org.apache.spark.BenchBus.drain(spark.sparkContext); t.cpuNs }
    val id = if (timed) trace.open("query") else -1
    val (failed, op) = OpTime.of(name) {
      try {
        val df = if (timed) trace.span("build")(fn(spark, dir)) else fn(spark, dir)
        if (timed && trace.enabled) trace.span("plan")(df.queryExecution.executedPlan)
        val obs = new Observation()
        val fp = Fingerprint.columns(df)
        val write = () => df.observe(obs, fp.head, fp.tail: _*).write.format("noop").mode("overwrite").save()
        if (timed) trace.span("exec")(write()) else write()
        val got = Fingerprint.of(obs)
        if (!expected.get(name).contains(got)) {
          v.fail(s"$name: (rows, hash) = $got, expected ${expected.get(name)}")
          true
        } else false
      } catch { case NonFatal(e) => v.thrown(name, e); true }
      finally trace.close(id)
    }
    if (timed) {
      val m = moduleOf.getOrElse(name, "Injected")
      moduleSeconds(m) += op.wallS
      for (c0 <- cpu0; t <- totals) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        moduleCpu(m) += (t.cpuNs - c0) / 1e9
      }
    }
    (failed, op)
  }

  def pass(i: Int): PassResult = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(sample)
    val runs = order.map { case (n, fn) => run(n, fn, timed = true) }
    PassResult(runs.map(_._2), runs.size, runs.count(_._1))
  }
}

object QuerySuite {
  /** Twelve of the 89 queries, chosen from a warm timing of all 89 (see
    * perfbench/README.md): three from each quartile of the queries ranked by
    * warm latency, whose mean latency is within 5% of their quartile's, and
    * together one or more from every registry module. So each quartile's
    * share of a pass (49%, 24%, 16%, 11%) is its share of the whole suite:
    * a few heavy dedup, tokenize and graph queries carry half of the time,
    * and most sit on the per-query floor. */
  val Sample: Seq[String] = Seq(
    "q_bpe_vocab", "q_pagerank", "q_minhash_lsh_pairs",
    "q_incremental_dedup", "q_rerank_remap", "q_caption_pairs",
    "q_context_budget", "q_ingest_metrics", "q_percentiles",
    "q_meta_flatten", "q_feedback_jsonl", "q_ann_cosine_topk")
}
