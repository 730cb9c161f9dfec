package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The COMPOSED streaming ingest edge — q190's cleaning funnel run at
  * stream time as ONE foreachBatch pipeline with ONE checkpoint, instead
  * of eight standalone twins each with their own query:
  *
  *   quality score (frozen q163 weights) → quality floor
  *     → intra-doc repetition cut (q184, per-doc)
  *     → cross-corpus span profile (q171, vs the at-rest gram set)
  *     → near-dedup (q145, vs the at-rest signature table)
  *     → BM25 postings/doclen append (q178) for the survivors
  *     → one exact-integer funnel row per micro-batch (q190's readout)
  *
  * Every stage consumes its parent stage's LANDED output (the cut text
  * is what gets signed; only near-dup survivors are indexed) — the
  * staging q190's batch funnel prescribes. Each stage lands under
  * `<out>/<stage>/batch_run=N` with idempotent overwrite and is read back
  * from there with the stage's own schema (no Parquet footer-inference
  * job), so a stage's plan is one stage over a small parquet scan, never
  * the whole chain re-derived from the stream's input. The funnel row is
  * one aggregate over all stages, not one aggregate per stage.
  *
  * The seven stages form four dependency levels, and each level lands
  * as one wave through [[BatchSink.landAll]], its stages written at the
  * same time:
  *
  *   {scores} → {clean} → {spans, neardup} → {postings, doclen, funnel}
  *
  * Overlapping a wave is safe because no stage of a wave reads another
  * stage of the same wave: every stage still reads only its parents'
  * landed output, and a wave is built only after the previous wave has
  * landed and been read back. A checkpoint-replayed batch still
  * overwrites every `batch_run=N` before any later wave reads it.
  *
  * A micro-batch of 10 documents runs 17 Spark jobs: the empty-batch
  * check 1, scores 1, clean 2, spans 3, neardup 2, postings 3, doclen 2
  * and funnel 3 (perfbench's stream workload, jobs grouped by SQL
  * execution id). The waves' longest path is scores → clean → spans
  * → postings or funnel. Three rules keep the counts there: a stage
  * frame is not sorted (under AQE a sort costs a sampling job and a
  * shuffle job), the intra-doc cut is a per-row kernel with no shuffle,
  * and a probe of frozen state broadcasts the BATCH side (the near-dup
  * bands, the span grams) and streams the stored rows through it, so
  * no corpus frame is collected to the driver and the near-dup probe
  * does not shuffle.
  *
  * The funnel counts by identity, under one precondition: `doc_id` is
  * unique within a micro-batch. Then `scores` (one row per doc) gives
  * n_raw and n_quality, and, since the hits are signed from `clean`
  * (hits ⊆ clean), n_near_dup = |clean| − |survivors|.
  *
  * Every stage touches O(batch) text plus frozen at-rest state. The
  * driver handles O(batch) rows per micro-batch whatever the corpus
  * size, but executors still scan the frozen gram and signature frames
  * in full on every batch, so executor work grows with the corpus. A
  * layout that prunes those scans to the keys a batch touches
  * (hash-sharded, or a Bloom pre-filter) is future work. Per-doc
  * outputs depend only on the doc and frozen state, so the pipeline is
  * batch-split-invariant by construction, and a checkpoint-replayed
  * batch REPLACES its own partitions before reading them back
  * ([[BatchSink]]'s exactly-once discipline, applied to a seven-sink
  * DAG). StreamingAnalyticsSpec proves a two-micro-batch run (with a
  * mid-run restart replay) equals the one-shot batch chain.
  */
object IngestPipeline {

  /** Frozen per-pipeline parameters: the trained classifier weights and
    * floor, and the near-dedup banding. All trained/chosen BEFORE the
    * stream starts; nothing shifts mid-stream (the q151 frozen-codebook
    * discipline). */
  case class Config(weights: Array[Double], scoreFloor: Double,
                    shingleN: Int, numHashes: Int, bands: Int, tau: Double)

  /** The funnel row's columns, in order. */
  private val FunnelCols = Seq("n_raw", "n_quality", "tokens_raw",
    "tokens_after_cut", "corpus_dup_tokens", "n_near_dup", "n_indexed")

  /** The stage outputs for one batch of arriving docs. */
  case class Stages(scores: DataFrame, clean: DataFrame, spans: DataFrame,
                    hits: DataFrame, postings: DataFrame, doclen: DataFrame,
                    funnel: DataFrame)

  /** Run one batch of (doc_id, text, lang, n_chars) docs through the
    * whole chain against frozen at-rest state, each stage persisted.
    * The SAME stage code serves the streaming writer and the batch
    * comparand — the spec's equality is between two call sites of this
    * code, not two implementations. */
  def chainOf(batch: DataFrame, corpusGrams: DataFrame,
              corpusSig: DataFrame, cfg: Config): Stages =
    stagesOf(batch, corpusGrams, corpusSig, cfg)(
      _.map { case (df, _) => graft.core.EngineCache.persisted(df) })

  /** The chain, built wave by wave: `barrier(wave)` takes one dependency
    * level's (frame, stage) pairs, in landing order, and returns one
    * frame per pair, in the same order. Each later wave is built from
    * the barrier's return values, so a durable barrier cuts the lineage.
    * The waves are {scores}, {clean}, {spans, neardup} and
    * {postings, doclen, funnel}: no frame reads a sibling of its wave.
    * Precondition: `doc_id` is unique within `batch`. The funnel counts
    * by identity on it (one `scores` row per doc; hits ⊆ clean, as the
    * hits are signed from `clean`). */
  private def stagesOf(batch: DataFrame, corpusGrams: DataFrame,
                       corpusSig: DataFrame, cfg: Config)(
      barrier: Seq[(DataFrame, String)] => Seq[DataFrame]): Stages = {
    val Seq(scores) = barrier(Seq(
      graft.operators.StatsOps.scoreWithWeights(batch, cfg.weights) -> "scores"))
    val kept = batch.join(
      scores.filter(col("score") >= cfg.scoreFloor).select("doc_id"),
      "doc_id")
    val Seq(clean) = barrier(Seq(graft.operators.LlmQueries
      .intradocDedupOf(kept.select("doc_id", "text")) -> "clean"))
    val cleanDocs = clean
      .select(col("doc_id"), col("clean_text").as("text"))
    val Seq(spans, hits) = barrier(Seq(
      graft.operators.LlmQueries.spanIncrementOf(cleanDocs, corpusGrams) -> "spans",
      graft.llm.Dedup.incrementalLshPairs(
        corpusSig,
        graft.llm.Dedup.signatureFrame(
          cleanDocs, "doc_id", "text", cfg.shingleN, cfg.numHashes),
        cfg.numHashes, cfg.bands, cfg.tau) -> "neardup"))
    // a left-anti join ignores duplicate keys: no distinct (one shuffle)
    val survivors = cleanDocs.join(
      hits.select(col("batch_id").as("doc_id")), Seq("doc_id"), "left_anti")
    // q190's per-batch funnel row: every count an exact integer, every
    // stage monotone vs the previous one. ONE aggregate over a union of
    // per-stage projections: each branch puts 1 (a count) or the summed
    // column into its own funnel column and null into the others.
    // Counts are by identity (the precondition above).
    def counted(df: DataFrame, cols: (String, Column)*): DataFrame = {
      val own = cols.toMap
      df.select(FunnelCols.map(c =>
        own.getOrElse(c, lit(null)).cast("long").as(c)): _*)
    }
    val sums = FunnelCols.map(c => coalesce(sum(c), lit(0L)).as(c))
    val Seq(postings, doclen, funnel) = barrier(Seq(
      graft.operators.CorpusOps.bm25PostingsOf(survivors) -> "postings",
      graft.operators.CorpusOps.bm25DoclenOf(survivors) -> "doclen",
      Seq(
        counted(scores, "n_raw" -> lit(1L),
          "n_quality" -> when(col("score") >= cfg.scoreFloor, 1L).otherwise(0L)),
        counted(clean, "tokens_raw" -> col("n_tokens"),
          "tokens_after_cut" -> col("kept_tokens"), "n_near_dup" -> lit(1L)),
        counted(spans, "corpus_dup_tokens" -> col("dup_tokens")),
        counted(survivors, "n_near_dup" -> lit(-1L), "n_indexed" -> lit(1L))
      ).reduce(_ unionByName _).agg(sums.head, sums.tail: _*) -> "funnel"))
    Stages(scores, clean, spans, hits, postings, doclen, funnel)
  }

  /** Start the composed pipeline: one stream, one checkpoint, seven
    * batch_run-partitioned sinks landed in four waves, each stage read
    * back from its own landed directory. */
  def start(docStream: DataFrame, corpusGrams: DataFrame,
            corpusSig: DataFrame, cfg: Config, outPath: String,
            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      stagesOf(batch, corpusGrams, corpusSig, cfg) { wave =>
        val dirs = wave.map { case (df, stage) => df -> s"$outPath/$stage" }
        BatchSink.landAll(batchId)(dirs)
        // the stage's own schema: no footer-inference job per read-back
        dirs.map { case (df, dir) =>
          batch.sparkSession.read.schema(df.schema)
            .parquet(s"$dir/batch_run=$batchId")
        }
      }
    }
}
