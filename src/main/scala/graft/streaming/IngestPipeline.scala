package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.EngineCache
import graft.llm.Dedup
import graft.operators.{CorpusOps, LlmQueries, StatsOps}

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
  * Each stage lands under `<out>/<stage>/batch_run=N` with idempotent
  * overwrite. The seven stages land in two waves, each one
  * [[BatchSink.landAll]] whose stages are written at the same time:
  *
  *   A {scores, clean, spans, neardup} → B {postings, doclen, funnel}
  *
  * The rule: a landed barrier at every non-per-row boundary; per-row
  * stages fuse. The score, the quality floor and the intra-doc cut are
  * per-row maps of the micro-batch, so wave A builds all four stages
  * from the batch itself: scores and clean apply the per-row score
  * ([[graft.operators.StatsOps.qualityScore]]), and spans and neardup
  * probe frozen state with the un-landed cut of the same rows. Only the
  * survivor set needs another stage's complete output (the near-dup
  * hits), so wave B reads `clean` back from its landed directory, with
  * the stage's own schema (no Parquet footer-inference job), and drops
  * the hit ids. A replayed batch overwrites every wave-A directory
  * before wave B reads any of them.
  *
  * The funnel and the hit ids ride on wave A's writes: each wave-A frame
  * carries an `Observation` of its scalars, read off the same job that
  * writes it — scores (count, n_quality), clean (count, Σ n_tokens,
  * Σ kept_tokens), spans (Σ dup_tokens), neardup (the set of hit
  * `batch_id`s). The funnel row is a one-row local frame of those
  * values, and the survivors are landed clean minus the observed hit
  * ids, a per-row filter with no join. Counts are by identity, under
  * one precondition: `doc_id` is unique within a micro-batch. Then the
  * scores count is n_raw, and, since the hits are signed from the cut
  * (hits ⊆ clean), n_near_dup = |hit ids| and
  * n_indexed = |clean| − |hit ids|.
  *
  * A micro-batch of 10 documents runs 12 Spark jobs: the empty-batch
  * check 1, scores 1, clean 1, spans 3, neardup 2, postings 2, doclen 1
  * and funnel 1 (perfbench's stream workload, jobs in the query's job
  * group). Three more rules keep the counts there: a stage frame is
  * not sorted (under AQE a sort costs a sampling job and a shuffle job),
  * the intra-doc cut is a per-row kernel with no shuffle, and a probe of
  * frozen state broadcasts the BATCH side (the near-dup bands, the span
  * grams) and streams the stored rows through it, so no corpus frame is
  * collected to the driver and the near-dup probe does not shuffle. The
  * micro-batch's own input is read by the empty-batch check and by each
  * wave-A stage: five O(batch) scans.
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

  /** One wave: (frame, stage, the scalars to observe on its write). */
  private type Wave = Seq[(DataFrame, String, Seq[Column])]

  /** Run one batch of (doc_id, text, lang, n_chars) docs through the
    * whole chain against frozen at-rest state, each stage cut with its
    * scalars observed ([[EngineCache.cut]]). The SAME stage code serves
    * the streaming writer and the batch comparand — the spec's equality
    * is between two call sites of this code, not two implementations. */
  def chainOf(batch: DataFrame, corpusGrams: DataFrame,
              corpusSig: DataFrame, cfg: Config): Stages =
    stagesOf(batch, corpusGrams, corpusSig, cfg)(
      _.map { case (df, _, metrics) => EngineCache.cut(df, metrics: _*) })

  /** The chain, built wave by wave: `barrier(wave)` materializes one
    * wave's frames, in landing order, and returns per frame the frame to
    * build on and the row of its observed scalars. Wave B is built from
    * wave A's return values, so a durable barrier cuts the lineage.
    * Precondition: `doc_id` is unique within `batch` (the funnel counts
    * by identity on it). */
  private def stagesOf(batch: DataFrame, corpusGrams: DataFrame,
                       corpusSig: DataFrame, cfg: Config)(
      barrier: Wave => Seq[(DataFrame, Row)]): Stages = {
    def total(c: String): Column = coalesce(sum(c), lit(0L))
    // the cut of the docs at or above the floor, a per-row map of the
    // batch: landed as clean, and what spans and neardup probe with
    val cut = LlmQueries.intradocDedupOf(batch
      .filter(StatsOps.qualityScore(cfg.weights) >= cfg.scoreFloor)
      .select("doc_id", "text"))
    val cutDocs = cut.select(col("doc_id"), col("clean_text").as("text"))
    val Seq((scores, sc), (clean, cl), (spans, sp), (hits, hi)) = barrier(Seq(
      (StatsOps.scoreWithWeights(batch, cfg.weights), "scores",
        Seq(count(lit(1)), count_if(col("score") >= cfg.scoreFloor))),
      (cut, "clean",
        Seq(count(lit(1)), total("n_tokens"), total("kept_tokens"))),
      (LlmQueries.spanIncrementOf(cutDocs, corpusGrams), "spans",
        Seq(total("dup_tokens"))),
      (Dedup.incrementalLshPairs(corpusSig,
          Dedup.signatureFrame(cutDocs, "doc_id", "text", cfg.shingleN,
            cfg.numHashes),
          cfg.numHashes, cfg.bands, cfg.tau), "neardup",
        Seq(collect_set(col("batch_id"))))))
    val hitIds = hi.getSeq[Long](0)
    val survivors = clean
      .select(col("doc_id"), col("clean_text").as("text"))
      .filter(!col("doc_id").isin(hitIds: _*))
    // q190's per-batch funnel row: every count an exact integer, every
    // stage monotone vs the previous one
    val funnelRow = Row(sc.getLong(0), sc.getLong(1), cl.getLong(1),
      cl.getLong(2), sp.getLong(0), hitIds.size.toLong,
      cl.getLong(0) - hitIds.size)
    val funnel = batch.sparkSession.createDataFrame(
      java.util.List.of(funnelRow),
      StructType(FunnelCols.map(StructField(_, LongType, nullable = false))))
    val Seq((postings, _), (doclen, _), (funnelOut, _)) = barrier(Seq(
      (CorpusOps.bm25PostingsOf(survivors), "postings", Nil),
      (CorpusOps.bm25DoclenOf(survivors), "doclen", Nil),
      (funnel, "funnel", Nil)))
    Stages(scores, clean, spans, hits, postings, doclen, funnelOut)
  }

  /** Start the composed pipeline: one stream, one checkpoint, seven
    * batch_run-partitioned sinks landed in two waves, each stage read
    * back from its own landed directory. */
  def start(docStream: DataFrame, corpusGrams: DataFrame,
            corpusSig: DataFrame, cfg: Config, outPath: String,
            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      stagesOf(batch, corpusGrams, corpusSig, cfg) { wave =>
        val landing = wave.map { case (df, stage, metrics) =>
          EngineCache.observed(df, metrics: _*) -> s"$outPath/$stage"
        }
        BatchSink.landAll(batchId)(
          landing.map { case ((df, _), dir) => df -> dir })
        // the stage's own schema: no footer-inference job per read-back
        landing.map { case ((df, read), dir) =>
          batch.sparkSession.read.schema(df.schema)
            .parquet(s"$dir/batch_run=$batchId") -> read()
        }
      }
    }
}
