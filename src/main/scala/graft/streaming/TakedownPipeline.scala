package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMPOSED streaming TAKEDOWN edge — [[IngestPipeline]]'s mirror
  * image: one deletion feed (tombstoned documents arriving in
  * micro-batches — a GDPR erasure queue, a licensing takedown list, a
  * contamination blocklist) drives ONE foreachBatch pipeline with ONE
  * checkpoint that produces, per batch, every delete artifact the
  * at-rest stores need:
  *
  *   - `ids/batch_run=N`       — the tombstone id set: the anti-join
  *     feed for every doc-keyed store (LSH pair table q233, winnowing
  *     fps q237, component labels q235, BM25 doclen/postings q218);
  *   - `gramdec/batch_run=N`   — (ghash, dec) refcount decrements for
  *     the q234 gram set (counts are an additive monoid);
  *   - `cbloomdec/batch_run=N` — the counting-bloom decrement SKETCH
  *     for the q239 membership filter (a linear sketch, so merged
  *     decrements subtract byte-exactly);
  *   - `cmsdec/batch_run=N`    — the count-min decrement sketch over
  *     the batch's TOKEN OCCURRENCES for the corpus token-frequency
  *     store (the q247 linear-subtraction discipline: CMS counters
  *     are a linear map of the inserted multiset, so the merged
  *     decrements `cms_diff` out byte-exactly);
  *   - `ddqdec/batch_run=N`    — the DDSketch decrement over the
  *     batch docs' text lengths for the corpus length-quantile store
  *     (q248's discipline — same linearity, same byte-exact
  *     subtraction);
  *   - `report/batch_run=N`    — the per-batch erasure accounting row
  *     (doc and gram-incidence counts, exact integers) an audit trail
  *     requires.
  *
  * The deleted rows' OWN text is the only text read — each artifact
  * derives from the batch alone, so a takedown batch costs O(batch)
  * whether the stores behind it hold 1 GB or 100 TB. Every artifact is
  * a commutative monoid under its serve-side merge (set union, count
  * sum, counter sum), and a document is an atomic row, so the pipeline
  * is batch-split-invariant by construction; [[BatchSink]] makes it
  * exactly-once across all six sinks with a single checkpoint
  * directory. StreamingAnalyticsSpec proves a two-batch run
  * (with a mid-run restart replay) serves every store rebuild-equal:
  * the pair table by anti-join, the gram set by decrement fold, the
  * counting bloom / CMS / DDSketch by byte-equal linear subtraction,
  * and the component-label table by q235's bounded recompute driven
  * off the `ids` artifact — one feed, every store.
  *
  * What deliberately is NOT here: stores whose delete is impossible
  * (monotone sketches — q224's profile flags staleness instead) and
  * stores whose maintenance needs graph context beyond the batch
  * (component splits, q235 — the serve side runs its bounded recompute
  * from the `ids` feed). The pipeline ships what stream time can
  * honestly compute; everything else consumes its outputs.
  */
object TakedownPipeline {

  /** The per-batch delete artifacts. */
  case class Artifacts(ids: DataFrame, gramDec: DataFrame,
                       cbloomDec: DataFrame, cmsDec: DataFrame,
                       ddqDec: DataFrame, report: DataFrame)

  /** Derive every artifact from one batch of tombstoned (doc_id, text)
    * rows. The SAME function serves the streaming writer and the
    * one-shot comparand — the spec's equality is between two call
    * sites of this code. */
  def artifactsOf(batch: DataFrame): Artifacts = {
    val ids = batch.select(col("doc_id"))
    val gramDec = graft.operators.LlmQueries.gramDecrementsOf(batch)
      .transform(graft.core.EngineCache.persisted) // read twice: land + report
    val cbloomDec = batch
      .select(graft.functions.TextFunctions.bagFingerprint("text").as("fp"))
      .agg(expr("cbloom_build(fp)").as("dsk"))
    // every token OCCURRENCE (not the distinct set — CMS counts the
    // multiset), hashed exactly as the corpus-side store hashes it
    val cmsDec = batch
      .select(explode(expr(
        graft.functions.TextFunctions.wordsExpr("text"))).as("tok"))
      .select(expr(graft.core.Determinism.xhashExpr("tok")).as("tfp"))
      .agg(expr("cms_build(tfp)").as("dsk"))
    // one length value per tombstoned doc for the length-quantile store
    val ddqDec = batch
      .select(expr("CAST(length(text) AS BIGINT)").as("len"))
      .agg(expr("ddq_build(len)").as("dsk"))
    val report = batch.agg(count(lit(1)).as("n_docs"))
      .crossJoin(gramDec.agg(
        count(lit(1)).as("n_grams_touched"),
        coalesce(sum(col("dec")), lit(0L)).as("gram_incidences")))
    Artifacts(ids, gramDec, cbloomDec, cmsDec, ddqDec, report)
  }

  /** Start the composed takedown: one stream, one checkpoint, six
    * batch_run-partitioned sinks, landed together (the artifacts are
    * independent of each other). */
  def start(docStream: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      val a = artifactsOf(batch)
      BatchSink.landAll(batchId)(
        Seq("ids" -> a.ids, "gramdec" -> a.gramDec, "cbloomdec" -> a.cbloomDec,
          "cmsdec" -> a.cmsDec, "ddqdec" -> a.ddqDec, "report" -> a.report)
          .map { case (stage, df) => df -> s"$outPath/$stage" })
    }
}
