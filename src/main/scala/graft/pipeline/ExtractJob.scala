package graft.pipeline

import graft.kernel.{Extract, ExtractMode}
import graft.model.{Doc, Lineage}
import graft.sources.DocSynth
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

/** The main extraction pipeline (SURVEY.md §3.1's Spark lifecycle):
  *
  *   read docs → route by size → mapPartitions(kernel)
  *   → spans table (+ per-partition lineage metrics)
  *
  * Scale design notes (100 TB / 1000 executors):
  *  - Every entry point shares ONE routing rule ([[routeBySize]]): rows of
  *    normal size ride their input partitions, and only the giant rows (the
  *    north_rule skew case, ~1% of bytes) get a hash exchange on doc_id, so
  *    no task serializes a run of giants and normal rows are never shuffled.
  *  - No collect(), no driver-side loops; lineage is one summary row per
  *    partition, counted by the kernel task itself, and only those rows
  *    reach the driver (as accumulator updates of the same job).
  *  - Determinism: output spans are a pure function of the input row, so
  *    task retries and job re-runs emit identical bytes — the precondition
  *    for MERGE-on-doc_id resume (Checkpoint).
  */
object ExtractJob {

  final case class Config(
      mode: ExtractMode = ExtractMode.ChunkMode,
      numPartitions: Int = 0,     // exchange width; 0 => defaultParallelism
      giantMinChars: Long = 1024) // rows above this size get their own exchange

  /** Width of the exchanges this job adds. Explicit on purpose: left to AQE
    * (`repartition(col)`), the giants exchange under a persisted stage ran
    * at the session's full `spark.sql.shuffle.partitions` (200 under
    * ExtractMain) — one task and one output file per mostly-empty partition.
    */
  private def width(spark: SparkSession, cfg: Config): Int =
    if (cfg.numPartitions > 0) cfg.numPartitions else spark.sparkContext.defaultParallelism

  /** The routing rule every entry point shares. Rows whose `size` is at
    * most `cfg.giantMinChars` stay in their input partitions; larger rows
    * get a hash exchange on doc_id across [[width]] tasks (distinct ids
    * spread evenly). The result is the union, so its partitions are the
    * input's followed by the exchange's.
    *
    * A NULL size routes the row to the normals (`size <= T OR size IS
    * NULL` — pushable to a parquet scan, null-keeping) instead of silently
    * dropping it (both predicates NULL). Misrouting is only ever a
    * performance matter, not correctness: both branches feed the same
    * kernel.
    */
  private def routeBySize(rows: DataFrame, size: Column, cfg: Config): DataFrame = {
    val normals = rows.where(size <= cfg.giantMinChars || size.isNull)
    val giants = rows.where(size > cfg.giantMinChars)
      .repartition(width(rows.sparkSession, cfg), col("doc_id"))
    normals.union(giants)
  }

  /** [[routeBySize]] for synthesized docs: size is the total span chars
    * (NULL when a span's text is NULL). */
  private def routeDocs(docs: Dataset[Doc], cfg: Config): DataFrame =
    routeBySize(docs.toDF(),
      aggregate(col("spans"), lit(0L), (acc, s) => acc + length(s.getField("text"))), cfg)

  /** Routed kernel stage over synthesized docs. The normals' parallelism is
    * the input's partitioning: a caller holding one big split spreads it
    * first, as `DocSynth.docs` does.
    */
  def extract(docs: Dataset[Doc], cfg: Config = Config()): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    val mode = cfg.mode
    routeDocs(docs, cfg).as[Doc].mapPartitions(_.map(Extract.extractDoc(_, mode)))
  }

  /** Fused raw→spans pipeline: the lightweight raw rows (~text bytes only)
    * are routed, and synthesis + extraction run map-side AFTER the giants
    * exchange. Shuffling synthesized `Dataset[Doc]` instead moves the full
    * span structs — measured ~2x slower wall-clock at 1M docs. At 100 TB
    * the same rule holds: shuffle the smallest representation, do the heavy
    * work after the exchange.
    */
  def extractFromRaw(
      spark: SparkSession,
      sfDir: String,
      replicate: Int = 1,
      cfg: Config = Config(),
      inflate: Int = 1): Dataset[Doc] = {
    // The testdata is one small parquet split; spread the *base* rows first
    // (a few MB) so the replicate-explode + estimate map run on all cores
    // instead of the single scan task. On a real multi-file table this
    // exchange disappears (scan splits already parallelize).
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .repartition(width(spark, cfg))
    val repl0 =
      if (replicate <= 1) base
      else base
        .withColumn("rep", explode(sequence(lit(0), lit(replicate - 1))))
        .select(concat_ws("#", col("doc_id"), col("rep")).as("doc_id"), col("text"))
    // `inflate` grows each doc to a realistic web-page size (testdata docs are
    // ~300 chars; real pages are KBs) — kernel compute per doc scales with it.
    val repl =
      if (inflate <= 1) repl0
      else repl0.select(col("doc_id"),
        concat_ws(" ", (0 until inflate).map(_ => col("text")): _*).as("text"))
    // The synthesizer predicting its own output size, as a pure Catalyst
    // column: DocSynth.giantOf IS pmod(xxhash64(doc_id), 97) == 0 and its
    // inflation adds exactly 40·len + 190 chars. On a real table this
    // whole projection collapses to the table's own length/n_chars column
    // — the routing never consults the synthetic rule.
    val est = repl.withColumn("n_chars",
      when(pmod(xxhash64(col("doc_id")), lit(97L)) === 0L,
        length(col("text")).cast("long") * 40L + 190L)
        .otherwise(length(col("text")).cast("long")))
    // inflate multiplies every doc, giants included — scale the routing
    // threshold with it so the giant/normal split point stays between the
    // two populations
    extractRaw(est, cfg.copy(giantMinChars = cfg.giantMinChars * math.max(inflate, 1)))
  }

  /** Skew-targeted extraction over an observable raw table
    * `(doc_id, text, n_chars)` — the shape a real 100 TB deployment feeds
    * in, where `n_chars` is just `length(text)` (or the table's own size
    * column), routed by [[routeBySize]] on `n_chars`. NULL text becomes the
    * empty document.
    *
    * ONE scan of the input, not two, despite the two branches:
    *  - when the raw rows arrive through any shared Exchange — the fused
    *    `extractFromRaw` path, or any caller that repartitioned — the two
    *    branches reference the SAME canonical exchange, so both static
    *    `ReuseExchange` (AQE off) and AQE's runtime stage reuse execute the
    *    scan + exchange once and feed the second branch a `ReusedExchange`
    *    (plan-gated in `PlanQualitySpec`);
    *  - when the raw rows come straight off a physical table with a real
    *    size column, both branch predicates sit directly on that column, so
    *    they PUSH DOWN to the parquet scans and row-group/page statistics
    *    prune each branch to its own rows: total input I/O ≈ 101% of one
    *    scan, with no persisted staging copy. Also plan-gated.
    *
    * The one remaining two-scan case is synthetic-only: `extractFromRaw`
    * at replicate=1, where the size rule is a COMPUTED column (so nothing
    * pushes to parquet) and there is no Generate barrier (so the routing
    * filter legally sinks below the base exchange, splitting it). It
    * double-scans the 5k-row testdata base and exists nowhere at
    * deployment, where the size is a real column.
    */
  def extractRaw(raw: DataFrame, cfg: Config = Config()): Dataset[Doc] = {
    import raw.sparkSession.implicits._
    val mode = cfg.mode
    routeBySize(raw, col("n_chars"), cfg)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(String, String)]
      .mapPartitions(_.map { case (id, t) => Extract.extractDoc(DocSynth.synthDoc(id, t), mode) })
  }

  /** Extraction that counts per-partition lineage in the same pass: after
    * an action over `spans`, `lineage()` holds one row per partition that
    * the action drained (a partition read only in part, as under `limit`,
    * reports nothing). Kernel failures are counted, not thrown: a single
    * malformed doc must not abort a 10^12-doc job; reference aborts on
    * first error at ingest_documents.py:94, the weakness the north_rule fixes.
    *
    * Rows reach the driver through an accumulator made per call, keyed by
    * the partition id tagged right after the routed union, so the normals'
    * and giants' ids never collide and no coalescing by a consumer can
    * change them; a second action replaces the rows instead of doubling
    * them. The kernel sits in the action's result stage, above both
    * exchanges (plan-gated in `PlanQualitySpec`), where Spark applies each
    * partition's update once.
    */
  def extractWithLineage(docs: Dataset[Doc], cfg: Config = Config())
      : (Dataset[Doc], () => Seq[Lineage]) = {
    import docs.sparkSession.implicits._
    val mode = cfg.mode
    val rows = new LineageRows
    docs.sparkSession.sparkContext.register(rows)
    val spans = routeDocs(docs, cfg)
      .select(struct(col("doc_id"), col("spans")), spark_partition_id())
      .as[(Doc, Int)]
      .mapPartitions { in =>
        var pid = -1
        var parsed, emitted, failures = 0L
        in.map { case (d, p) =>
          pid = p; parsed += 1
          // a failing doc yields an empty doc and counts as a failure
          val out =
            try Extract.extractDoc(d, mode)
            catch { case scala.util.control.NonFatal(_) => failures += 1; Doc(d.doc_id, Nil) }
          emitted += out.spans.size
          out
        } ++ { // `++` is lazy: this runs once, when the input is exhausted
          if (parsed > 0) rows.add(Lineage(pid, parsed, emitted, failures, "complete"))
          Iterator.empty
        }
      }
    (spans, () => rows.value)
  }

  /** Lineage rows keyed by partition_id; a merged row replaces the held one. */
  private final class LineageRows extends AccumulatorV2[Lineage, Seq[Lineage]] {
    private val byPart = scala.collection.mutable.Map.empty[Int, Lineage]
    def isZero: Boolean = synchronized(byPart.isEmpty)
    def copy(): LineageRows = synchronized { val c = new LineageRows; c.byPart ++= byPart; c }
    def reset(): Unit = synchronized(byPart.clear())
    def add(l: Lineage): Unit = synchronized(byPart(l.partition_id) = l)
    def merge(other: AccumulatorV2[Lineage, Seq[Lineage]]): Unit = other.value.foreach(add)
    def value: Seq[Lineage] = synchronized(byPart.values.toSeq.sortBy(_.partition_id))
  }
}
